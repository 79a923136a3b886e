package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline extensions (SURVEY §7.6): dedup, similarity
  * search, text analysis, multimodal metadata — each with a DuckDB oracle
  * built from engine-portable primitives (md5, regex, list ops) so the
  * results are bit-comparable across engines.
  */
object ExtQueries {

  /** Tokenizer shared by the text queries: lowercase, split on non-alnum,
    * drop empties. Mirrored exactly in the DuckDB oracles. */
  private def tokens(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  private[queries] val duckTokens =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0)"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is",
    "on", "for", "with")

  /** DuckDB replica of [[graft.similarity.Similarity.trainCells]]: the
    * Lloyd loop unrolled into CTEs (`c0 → a1 → c1 → … → c$iters`), ending
    * with every vector assigned to its final centroid as CTE `afin`.
    * Training is deterministic given the round-6 contract (seeds ranked by
    * md5(id); assignment = round-6 cosine argmax with min-cell tiebreak;
    * centroid = per-dim avg rounded to 6), so both engines walk identical
    * centroid sequences. */
  private[queries] def ivfTrainCtes(k: Int, iters: Int, dim: Int,
      probes: Option[Int] = None, assignProbes: Option[Int] = None,
      embCte: String = "emb AS (SELECT vec_id, " +
        "CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"): String = {
    val avgVec = (1 to dim).map(i => s"round(avg(e[$i]), 6)")
      .mkString("[", ", ", "]")
    def assign(name: String, cents: String, rkLim: Int) =
      s"""$name AS (
         |  SELECT vec_id, e, cell, cell_sim FROM (
         |    SELECT emb.vec_id, emb.e, $cents.cell,
         |      round(list_cosine_similarity(emb.e, $cents.c), 6) AS cell_sim,
         |      row_number() OVER (PARTITION BY emb.vec_id
         |        ORDER BY round(list_cosine_similarity(emb.e, $cents.c), 6) DESC,
         |          $cents.cell) AS rk
         |    FROM emb CROSS JOIN $cents) t WHERE rk <= $rkLim)""".stripMargin
    val steps = (1 to iters).flatMap { it =>
      Seq(assign(s"a$it", s"c${it - 1}", 1),
        s"c$it AS (SELECT cell, $avgVec AS c FROM a$it GROUP BY cell)")
    } ++ (assign("afin", s"c$iters", 1) +:
      (probes.map(p => assign("aprobe", s"c$iters", p)).toSeq ++
        assignProbes.map(a => assign("aidx", s"c$iters", a)).toSeq))
    (Seq(
      embCte,
      s"""c0 AS (
         |  SELECT rn - 1 AS cell, e AS c FROM (
         |    SELECT e, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM emb) t WHERE rn <= $k)""".stripMargin) ++ steps)
      .mkString("WITH ", ",\n", "")
  }

  /** DuckDB replica of [[graft.similarity.Similarity.trainPq]] +
    * [[graft.similarity.Similarity.pqCodes]], as CTE fragments to append
    * after an `emb` CTE (q103) or after [[ivfTrainCtes]] (q104): the
    * per-subspace Lloyd loop unrolled (`p0 → pa1 → p1 → …`), codes
    * dense-renumbered into `pqc`, every (vector, subspace) encoded in
    * `pcode`. With `adc = true` also emits the nested codebook/code lists
    * and the per-query ADC lookup-table CTEs (`pqlut`/`pcodes`/`plut`).
    * Determinism: the same round-6 contract as the coarse quantizer, in
    * the L2 metric — squared distances fold sequentially over dims, so
    * both engines see bit-identical values pre-round. */
  private def pqCtes(m: Int, ksub: Int, iters: Int, sd: Int,
      adc: Boolean = false): String = {
    val avgSub = (1 to sd).map(i => s"round(avg(sv[$i]), 6)")
      .mkString("[", ", ", "]")
    val l2 = s"""round(list_aggregate(list_transform(generate_series(1, $sd),
       |            i -> (ps.sv[i] - cc.c[i]) * (ps.sv[i] - cc.c[i])),
       |            'sum'), 6)""".stripMargin
    def assign(name: String, cents: String) =
      s"""$name AS (SELECT vec_id, sub, sv, code FROM (
         |    SELECT ps.vec_id, ps.sub, ps.sv, cc.code,
         |      row_number() OVER (PARTITION BY ps.vec_id, ps.sub
         |        ORDER BY $l2, cc.code) AS rk
         |    FROM ps JOIN $cents cc ON ps.sub = cc.sub) t WHERE rk = 1)"""
        .stripMargin
    val steps = (1 to iters).flatMap { it =>
      Seq(assign(s"pa$it", s"p${it - 1}"),
        s"p$it AS (SELECT sub, code, $avgSub AS c FROM pa$it GROUP BY sub, code)")
    }
    val base = Seq(
      s"subs AS (SELECT CAST(unnest(generate_series(0, ${m - 1})) AS INT) AS sub)",
      s"""ps AS (SELECT vec_id, sub,
         |    e[(sub*$sd + 1):(sub*$sd + $sd)] AS sv
         |  FROM emb CROSS JOIN subs)""".stripMargin,
      s"""pseed AS (SELECT rn - 1 AS code, e FROM (
         |    SELECT e, row_number() OVER (
         |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |    FROM emb) t WHERE rn <= $ksub)""".stripMargin,
      s"""p0 AS (SELECT sub, code, e[(sub*$sd + 1):(sub*$sd + $sd)] AS c
         |  FROM pseed CROSS JOIN subs)""".stripMargin) ++ steps ++ Seq(
      s"""pqc AS (SELECT sub, CAST(row_number() OVER (PARTITION BY sub
         |    ORDER BY code) - 1 AS INT) AS code, c FROM p$iters)""".stripMargin,
      assign("pcode", "pqc"))
    val adcCtes = if (!adc) Nil else Seq(
      s"""pqlut AS (SELECT list(cl ORDER BY sub) AS cents FROM (
         |    SELECT sub, list(c ORDER BY code) AS cl FROM pqc GROUP BY sub) x)"""
        .stripMargin,
      s"""pcodes AS (SELECT vec_id, codes,
         |    sqrt(greatest(list_aggregate(list_transform(
         |      generate_series(1, $m),
         |      s -> round(list_aggregate(list_transform(
         |             generate_series(1, $sd),
         |             i -> cents[s][codes[s] + 1][i]
         |                  * cents[s][codes[s] + 1][i]), 'sum'), 6)),
         |      'sum'), 1e-300)) AS cnrm
         |  FROM (SELECT vec_id, list(code ORDER BY sub) AS codes
         |        FROM pcode GROUP BY vec_id) CROSS JOIN pqlut)""".stripMargin,
      s"""plut AS (SELECT emb.vec_id, list_transform(generate_series(1, $m),
         |      s -> list_transform(generate_series(1, len(cents[s])),
         |        j -> round(list_aggregate(list_transform(
         |               generate_series(1, $sd),
         |               i -> emb.e[(s-1)*$sd + i] * cents[s][j][i]),
         |             'sum'), 6))) AS lut
         |  FROM emb CROSS JOIN pqlut)""".stripMargin)
    (base ++ adcCtes).mkString(",\n")
  }

  /** Per-document quality stats (q21's frame, text column dropped),
    * cached once per (session, dir): q21 presents it, q78 samples by it,
    * q86 and q59 aggregate it — one regex pass over the corpus instead of
    * four. Scalar columns only (one row per doc), so the cache is
    * corpus-count-sized, not corpus-byte-sized. */
  private[queries] def qualityFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Caches.frame(s, dir, "quality") {
      graft.text.TextStats
        .quality(Tables.sharded(s, dir, "documents", "doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("avg_token_len"), col("stop_ratio"), col("n_punct"),
          col("text_len"), col("quality"))
    }

  /** Per-document language-ID frame (q22's), cached once per (session,
    * dir) — q22 presents it, q59's language gate filters on it. */
  private[queries] def langidFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Caches.frame(s, dir, "langid") {
      graft.text.TextStats
        .langId(Tables.sharded(s, dir, "documents", "doc_id"))
        .select(col("doc_id"), col("c_en"), col("c_de"), col("c_fr"),
          col("c_es"), col("predicted_lang"))
    }

  /** Embedding table as `(vec_id, e: array<double>)`, sharded + cached —
    * shared scan of the trained-IVF family (q65/q66/q67 and the Lloyd
    * iterations inside training). */
  private[queries] def embFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    // eager: q92's single action consumes this frame FOUR times (probe,
    // candidate, and both exact-gather sides) — materializing lazily lets
    // those branches race to fill the cache concurrently on a cold
    // driver run (BENCH_r09 recorded q92 at 4x its warm min); one count
    // up front pins the cost where it belongs, on the first toucher
    Caches.frame(s, dir, "emb", eager = true) {
      Tables.sharded(s, dir, "embeddings", "vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    }

  /** The shared k=8 / 2-iteration quantizer: trained once per (session,
    * dir) and reused by every trained-IVF query. */
  private[queries] def trainedCells(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Caches.memo[Array[(Int, Array[Double])]](s, dir, "cells/k8_i2") {
      graft.similarity.Similarity.trainCells(embFrame(s, dir), k = 8, iters = 2)
    }

  /** The shared m=8 / ksub=16 / 2-iteration PQ codebooks: trained once
    * per (session, dir) and reused by q103/q104. */
  private def trainedPq(s: org.apache.spark.sql.SparkSession, dir: String) =
    Caches.memo[Array[(Int, Int, Array[Double])]](s, dir, "pq/m8_k16_i2") {
      graft.similarity.Similarity
        .trainPq(embFrame(s, dir), m = 8, ksub = 16, iters = 2)
    }

  /** The embedding table in the OPQ-lite permuted space (variance-balanced
    * snake-dealt coordinate permutation, [[graft.similarity.Similarity
    * .varianceBalancedPerm]]), cached like [[embFrame]] — q117 trains and
    * encodes here; cosine/L2 between permuted vectors equal the originals
    * (a permutation is orthonormal), only the subspace split differs. */
  private def opqFrame(s: org.apache.spark.sql.SparkSession, dir: String) =
    Caches.frame(s, dir, "opqemb") {
      val emb = embFrame(s, dir)
      val perm = graft.similarity.Similarity
        .varianceBalancedPerm(emb, m = 8, dim = 64)
      emb.select(col("vec_id"),
        graft.similarity.Similarity.permuteVec(col("e"), perm).as("e"))
    }

  private def trainedOpqPq(s: org.apache.spark.sql.SparkSession, dir: String) =
    Caches.memo[Array[(Int, Int, Array[Double])]](s, dir, "pq/opq_m8_k16_i2") {
      graft.similarity.Similarity
        .trainPq(opqFrame(s, dir), m = 8, ksub = 16, iters = 2)
    }

  /** The 1-BYTE-CODE codebooks (m=8, ksub=256): the same 8-byte-per-vector
    * index budget as the m8/k16 config, but spending the full byte per
    * code — measured at sf0.1 this closes the entire quantized-ranking
    * recall gap (0.8825 → 0.9363 = the exact-scoring ceiling at p=4/a=2,
    * s=384; PLANS.md table). q118 oracle-gates this production config. */
  private def trainedPq256(s: org.apache.spark.sql.SparkSession, dir: String) =
    Caches.memo[Array[(Int, Int, Array[Double])]](s, dir, "pq/m8_k256_i2") {
      graft.similarity.Similarity
        .trainPq(embFrame(s, dir), m = 8, ksub = 256, iters = 2)
    }

  /** Synthetic PPM payload for the perceptual-hash family (q151/q158):
    * closed-form gradient raster; `pert` plants a visible corner dot
    * (raster byte 0 → (d·31+128)%256) — the small edit dHash should
    * survive. */
  private def dhashPayload(d: Long, pert: Boolean): Array[Byte] = {
    val w = (4 + d % 5).toInt
    val h = (3 + d % 4).toInt
    val raster = Array.tabulate(w * h * 3)(i =>
      ((d * 31 + (if (pert && i == 0) 128L else i.toLong)) % 256).toByte)
    graft.ext.Multimodal.encodePpm(w, h, raster)
  }

  /** (img_id, fingerprint): 56-char dHash bit strings of the base corpus
    * plus a perturbed re-ingest of every 3rd doc — shared by the image
    * dedup family (q158 pairs, q161 clusters), cached: both queries band
    * and join it. */
  private def imageHashFrame(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Caches.frame(s, dir, "image_dhashes") {
      import s.implicits._
      Tables.sharded(s, dir, "documents", "doc_id")
        .select(col("doc_id")).as[Long]
        .flatMap { d =>
          val base = (d,
            graft.ext.Multimodal.dhashFromPpm(dhashPayload(d, false)))
          if (d % 3 == 0)
            Seq(base, (d + 100000,
              graft.ext.Multimodal.dhashFromPpm(dhashPayload(d, true))))
          else Seq(base)
        }
        .toDF("img_id", "h")
        .select(col("img_id"),
          lpad(bin(col("h")), 56, "0").as("fingerprint"))
    }

  /** Oracle body of the probed IVF top-3 over [[ivfTrainCtes]] with
    * `probes`: every vector's probed cells `aprobe` joined to the assigned
    * corpus `afin`, ranked by rounded cosine then neighbor id (q67, q214). */
  private lazy val duckProbedRank: String =
    """
      |SELECT vec_id, neighbor_id, cos_sim FROM (
      |  SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.e, b.e), 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC,
      |        b.vec_id) AS rk
      |  FROM aprobe q JOIN afin b ON q.cell = b.cell AND q.vec_id <> b.vec_id""".stripMargin

  /** q214's oracle: the 2-probe top-3 over the k=8 quantizer with the
    * vec_id % 10 == 3 takedown slice excluded on both sides — the ground
    * truth of q214 and q221. */
  private[queries] lazy val duckIvfRetract: String =
    ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(2)) +
      duckProbedRank + """
      |  WHERE q.vec_id % 10 <> 3 AND b.vec_id % 10 <> 3
      |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin

  /** Oracle prefix of q222/q223: the 3-probe ranking over a quantizer
    * trained on the drifted embeddings (vec_id % 10 == 7 scaled by 3 and
    * shifted by 0.5), epoch 1, up to the join of `aprobe` and `afin`. */
  private lazy val duckDriftedRank: String =
    ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(3),
      embCte = """emb AS (SELECT vec_id, CASE WHEN vec_id % 10 = 7
        |  THEN list_transform(CAST(embedding AS DOUBLE[]),
        |       x -> x * 3.0 + 0.5)
        |  ELSE CAST(embedding AS DOUBLE[]) END AS e FROM embeddings)"""
        .stripMargin) + """
      |SELECT vec_id, neighbor_id, cos_sim, CAST(1 AS BIGINT) AS epoch
      |FROM (
      |  SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.e, b.e), 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC,
      |        b.vec_id) AS rk
      |  FROM aprobe q JOIN afin b ON q.cell = b.cell AND q.vec_id <> b.vec_id""".stripMargin

  /** Oracle tail of the PQ-ADC searches (q104, q109, q118, q119): the ADC
    * shortlist `pshort(vec_id, neighbor_id)` re-ranked by exact cosine over
    * `emb`, top 3 per query. */
  private lazy val duckPqRerank: String =
    """SELECT vec_id, neighbor_id, cos_sim FROM (
      |  SELECT sh.vec_id, sh.neighbor_id,
      |    round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim,
      |    row_number() OVER (PARTITION BY sh.vec_id
      |      ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
      |        sh.neighbor_id) AS rk
      |  FROM pshort sh JOIN emb a ON a.vec_id = sh.vec_id
      |  JOIN emb b ON b.vec_id = sh.neighbor_id) t
      |WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin

  /** Oracle tail of the single-probe PQ-ADC searches (q104, q118): the
    * ADC score of every same-cell pair as `padc`, the top-20 shortlist
    * `pshort` and its exact re-rank [[duckPqRerank]]. */
  private lazy val duckPqCellSearch: String =
    s""",
       |padc AS (SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
       |    round(list_aggregate(list_transform(generate_series(1, 8),
       |      s -> l.lut[s][c.codes[s] + 1]), 'sum') / c.cnrm, 6) AS adc
       |  FROM afin q JOIN afin b ON q.cell = b.cell
       |    AND q.vec_id <> b.vec_id
       |  JOIN plut l ON l.vec_id = q.vec_id
       |  JOIN pcodes c ON c.vec_id = b.vec_id),
       |pshort AS (SELECT vec_id, neighbor_id FROM (
       |    SELECT vec_id, neighbor_id, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rk
       |    FROM padc) t WHERE rk <= 20)
       |$duckPqRerank""".stripMargin

  /** Oracle prefix of q76's BM25 (k1 = 1.5, b = 0.75) over the query terms
    * 'join', 'vector' and 'dup': one CTE `s(doc_id, s)` per (document,
    * matched term) — the ground truth of q76 and q172's BM25 list. */
  private[queries] lazy val duckBm25: String =
    """WITH dl AS (SELECT doc_id,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
      |  FROM documents),
      |c AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
      |tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split_regex(lower(text), '[^a-z0-9]+'),
      |      t -> len(t) > 0)) AS tok
      |    FROM documents)
      |  WHERE tok IN ('join', 'vector', 'dup') GROUP BY 1, 2),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |s AS (SELECT tf.doc_id,
      |    ln(CAST(1.0 AS DOUBLE)
      |       + (c.n - df.df + CAST(0.5 AS DOUBLE))
      |         / (df.df + CAST(0.5 AS DOUBLE)))
      |    * (tf.tf * CAST(2.5 AS DOUBLE))
      |      / (tf.tf + CAST(1.5 AS DOUBLE)
      |         * (CAST(0.25 AS DOUBLE)
      |            + CAST(0.75 AS DOUBLE) * dl.dl / c.avgdl)) AS s
      |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN c)""".stripMargin

  /** Oracle CTEs of the bigram counts over `d(doc_id, toks)`: per-document
    * bigram counts `bgc(doc_id, w1, w2, c)` and corpus counts
    * `cb(w1, w2, c2)` (q87, q182). */
  private lazy val duckBigramCounts: String =
    """bg AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 1),
      |      i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
      |  FROM d WHERE len(toks) >= 2),
      |bgc AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2, count(*) AS c
      |  FROM bg GROUP BY 1, 2, 3),
      |cb AS (SELECT w1, w2, sum(c) AS c2 FROM bgc GROUP BY 1, 2)""".stripMargin

  /** q115's oracle: per-channel pixel sums of the synthetic BMP rasters —
    * the ground truth of q115 and of q156's BMP → PNG transcode. */
  private lazy val duckBmpPixels: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(3 + doc_id % 5 AS INT) AS width,
      |    CAST(2 + doc_id % 4 AS INT) AS height
      |  FROM documents),
      |px AS (SELECT doc_id, width, height,
      |    unnest(generate_series(0, width * height * 3 - 1)) AS i
      |  FROM d)
      |SELECT doc_id, width, height,
      |  CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id * 37 + i) % 256 END)
      |    AS BIGINT) AS sum_r,
      |  CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id * 37 + i) % 256 END)
      |    AS BIGINT) AS sum_g,
      |  CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id * 37 + i) % 256 END)
      |    AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin

  /** Oracle tail of q181/q204: every pair of `fp(doc_id, fingerprint)`
    * 32-bit fingerprints within Hamming distance 3. */
  private lazy val duckFingerprintPairs: String =
    """pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
      |    CAST(len(list_filter(range(1, 33), i ->
      |      substr(x.fingerprint, CAST(i AS INT), 1)
      |        <> substr(y.fingerprint, CAST(i AS INT), 1)))
      |      AS INT) AS hamming
      |  FROM fp x JOIN fp y ON x.doc_id < y.doc_id)
      |SELECT id_a, id_b, hamming FROM pairs
      |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  /** The media columns of q146's oracle: each document's synthetic media
    * kind and the width, height and frame count its decoder must report. */
  private lazy val duckMediaCols: String =
    """SELECT doc_id,
      |  CASE doc_id % 9 WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'image/bmp'
      |    WHEN 2 THEN 'image/png' WHEN 3 THEN 'audio/wav'
      |    WHEN 4 THEN 'video/y4m' WHEN 5 THEN 'image/gif'
      |    WHEN 6 THEN 'image/jpeg' WHEN 7 THEN 'audio/mp3'
      |    ELSE 'video/h264' END AS kind,
      |  CAST(CASE doc_id % 9
      |    WHEN 0 THEN 4 + doc_id % 5 WHEN 1 THEN 3 + doc_id % 5
      |    WHEN 2 THEN 3 + doc_id % 5
      |    WHEN 3 THEN 1 + doc_id % 2
      |    WHEN 4 THEN 3 + doc_id % 3
      |    WHEN 5 THEN 3 + doc_id % 5
      |    WHEN 6 THEN 10 + doc_id % 23
      |    WHEN 7 THEN CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END
      |    ELSE 16 * (2 + doc_id % 6)
      |      - CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END
      |    END AS INT) AS width,
      |  CAST(CASE doc_id % 9
      |    WHEN 0 THEN 3 + doc_id % 4 WHEN 1 THEN 2 + doc_id % 4
      |    WHEN 2 THEN 5 + doc_id % 4
      |    WHEN 3 THEN 8000 + (doc_id % 3) * 4000
      |    WHEN 4 THEN 2 + doc_id % 3
      |    WHEN 5 THEN 4 + doc_id % 4
      |    WHEN 6 THEN 10 + doc_id % 17
      |    WHEN 7 THEN CASE doc_id % 3 WHEN 0 THEN 44100
      |      WHEN 1 THEN 48000 ELSE 32000 END
      |    ELSE 16 * (2 + doc_id % 4)
      |      - CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END
      |    END AS INT) AS height,
      |  CAST(CASE doc_id % 9
      |    WHEN 3 THEN 20 + doc_id % 7
      |    WHEN 4 THEN 3 + doc_id % 4
      |    WHEN 7 THEN 8 + doc_id % 5
      |    WHEN 8 THEN (2 + doc_id % 3) * (2 + doc_id % 4)
      |    ELSE 1 END AS INT) AS n_frames""".stripMargin

  /** q146's oracle: [[duckMediaCols]] per document — the ground truth of
    * q146 and of q152's streamed decode. */
  private[queries] lazy val duckMedia: String =
    duckMediaCols + "\nFROM documents ORDER BY doc_id"

  /** Oracle prefix of the image dedup family (q158, q161): the base
    * corpus plus a perturbed re-ingest of every 3rd doc as `imgs`, their
    * 56-bit dHash as `hs(img_id, hash)` and one representative image per
    * hash as `reps(hash, rep)`. */
  private lazy val duckImageReps: String =
    """WITH imgs AS (
      |  SELECT doc_id AS img_id, doc_id, 0 AS pert FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, doc_id, 1 FROM documents
      |  WHERE doc_id % 3 = 0),
      |dims AS (SELECT img_id, doc_id, pert,
      |    CAST(4 + doc_id % 5 AS INT) AS w,
      |    CAST(3 + doc_id % 4 AS INT) AS h
      |  FROM imgs),
      |ys AS (SELECT unnest(generate_series(0, 7)) AS y),
      |xs AS (SELECT unnest(generate_series(0, 7)) AS x),
      |cell AS (SELECT img_id, doc_id, pert, y, x,
      |    ((y * h // 8) * w + (x * w // 8)) * 3 AS i0
      |  FROM dims CROSS JOIN ys CROSS JOIN xs),
      |g AS (SELECT img_id, y, x,
      |    ((CASE WHEN pert = 1 AND i0 = 0 THEN (doc_id * 31 + 128) % 256
      |           ELSE (doc_id * 31 + i0) % 256 END)
      |      + (doc_id * 31 + i0 + 1) % 256
      |      + (doc_id * 31 + i0 + 2) % 256) // 3 AS gv
      |  FROM cell),
      |bits AS (SELECT a.img_id, a.y, a.x,
      |    CASE WHEN b.gv > a.gv THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b ON a.img_id = b.img_id AND a.y = b.y
      |    AND b.x = a.x + 1
      |  WHERE a.x < 7),
      |hs AS (SELECT img_id,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 7 + x)))
      |      AS BIGINT) AS hash
      |  FROM bits GROUP BY img_id),
      |reps AS (SELECT hash, min(img_id) AS rep FROM hs GROUP BY hash)""".stripMargin

  /** Oracle CTEs `d$n`/`a$n` of integer Lloyd step `n` over the points
    * `pts(vec_id, d, v)`: squared-L2 distance to every centroid of
    * `c{n-1}` and the packed argmin `comb = dist * 2^20 + cid`. */
  private def duckLloydAssign(pts: String, n: Int): String =
    s"""d$n AS (SELECT $pts.vec_id AS vec_id, c.cid AS cid,
       |    sum(($pts.v - c.v) * ($pts.v - c.v)) AS dist
       |  FROM $pts JOIN c${n - 1} c ON $pts.d = c.d GROUP BY 1, 2),
       |a$n AS (SELECT vec_id, min(dist * 1048576 + cid) AS comb
       |  FROM d$n GROUP BY 1)""".stripMargin

  /** One integer Lloyd step over `pts(vec_id, d, v)`: [[duckLloydAssign]]
    * plus the floor-mean centroid update `c$n` — the DuckDB ground truth
    * of [[graft.similarity.Clustering.lloydCentroids]] (q144, q147, q163,
    * q164, q203, q205). */
  private def duckLloydStep(pts: String, n: Int): String =
    s"""${duckLloydAssign(pts, n)},
       |m$n AS (SELECT vec_id, comb % 1048576 AS cid FROM a$n),
       |c$n AS (SELECT m.cid AS cid, $pts.d AS d,
       |    CAST(floor(CAST(sum($pts.v) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS v
       |  FROM $pts JOIN m$n m USING (vec_id) GROUP BY 1, 2)""".stripMargin

  /** Oracle prefix of q144/q164: the embeddings quantized to integer
    * milli-units as `qd(vec_id, d, v)` and the 4 lowest ids as the seed
    * centroids `c0`. */
  private lazy val duckLloydSeeds: String =
    """WITH q AS (SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> {'d': i,
      |      'v': CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)})) AS e
      |  FROM embeddings),
      |qd AS (SELECT vec_id, e.d AS d, e.v AS v FROM q),
      |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4),
      |c0 AS (SELECT qd.vec_id AS cid, d, v
      |  FROM qd JOIN seeds USING (vec_id))""".stripMargin

  /** Oracle prefix of q147/q163: the SemDeDup corpus (embeddings plus a
    * perturbed copy of every 50th vector) quantized as `qd(vec_id, d, v)`,
    * with the 4 lowest ids as the seed centroids `c0`. */
  private lazy val duckSemdedupSeeds: String =
    """WITH corpus AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(embedding,
      |    (x, i) -> CASE WHEN i = 1 THEN CAST(x AS DOUBLE) + 0.5
      |                   ELSE CAST(x AS DOUBLE) END)
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |q AS (SELECT vec_id,
      |    unnest(list_transform(embedding, (x, i) -> {'d': i,
      |      'v': CAST(floor(x * 1000) AS BIGINT)})) AS e
      |  FROM corpus),
      |qd AS (SELECT vec_id, e.d AS d, e.v AS v FROM q),
      |seeds AS (SELECT vec_id FROM corpus ORDER BY vec_id LIMIT 4),
      |c0 AS (SELECT qd.vec_id AS cid, d, v
      |  FROM qd JOIN seeds USING (vec_id))""".stripMargin

  /** Oracle prefix of q203/q205: k=4 centroids trained by two integer
    * Lloyd steps over the history `h` (vec_id % 10 != 7) as `c2`, with the
    * whole quantized table as `qd(vec_id, d, v)`. */
  private[queries] lazy val duckHistCentroids: String =
    s"""WITH q AS (SELECT vec_id,
       |    unnest(list_transform(embedding, (x, i) -> {'d': i,
       |      'v': CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)})) AS e
       |  FROM embeddings),
       |qd AS (SELECT vec_id, e.d AS d, e.v AS v FROM q),
       |h AS (SELECT * FROM qd WHERE vec_id % 10 != 7),
       |seeds AS (SELECT vec_id FROM embeddings WHERE vec_id % 10 != 7
       |  ORDER BY vec_id LIMIT 4),
       |c0 AS (SELECT h.vec_id AS cid, d, v
       |  FROM h JOIN seeds USING (vec_id)),
       |${duckLloydStep("h", 1)},
       |${duckLloydStep("h", 2)}""".stripMargin

  val all: Seq[Q] = Seq(
    // ---- Deduplication -------------------------------------------------
    // Exact dedup: hash-groupBy on content digest; canonical id = min doc_id.
    // At 100 TB this is the standard exact-dedup shuffle: group by digest,
    // never by the full text bytes.
    Q("q20_dedup_exact",
      (s, dir) =>
        Tables(s, dir, "documents")
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("text_hash")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
             |  count(*) AS n_copies
             |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin)),

    // ---- Text analysis -------------------------------------------------
    // Token counting + quality scoring (length/stopword/punctuation ratios).
    // All counts via codegen'd regexp primitives, NOT per-token lambda HOFs:
    // a token is exactly an [a-z0-9]+ run, so token count = run count, token
    // length sum = alnum char count, and stopword hits = \b-bounded matches
    // (identical on alnum tokenization). ~10× cheaper per row than the HOF
    // formulation — this is the hot shape for 100 TB document scoring.
    Q("q21_text_stats",
      (s, dir) =>
        qualityFrame(s, dir)
          .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
            col("stop_ratio"), col("n_punct"), col("text_len"), col("quality"))
          .orderBy(col("doc_id")),
      Some(
        s"""WITH s AS (
           |  SELECT doc_id,
           |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
           |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS alnum_len,
           |    len(regexp_extract_all(lower(text), '\\b(?:${stopwords.mkString("|")})\\b')) AS n_stop,
           |    len(string_split_regex(text, '[.,;:!?]')) - 1 AS n_punct,
           |    len(text) AS text_len
           |  FROM documents)
           |SELECT doc_id, n_tokens,
           |  CAST(alnum_len AS DOUBLE) / nullif(n_tokens, 0) AS avg_token_len,
           |  CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0) AS stop_ratio,
           |  n_punct, text_len,
           |  0.5 * least(1.0, n_tokens / 100.0)
           |    + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
           |    + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE) / nullif(n_tokens, 0) / 8.0) AS quality
           |FROM s ORDER BY doc_id""".stripMargin)),

    // Language-ID n-gram/stopword heuristic with a deterministic argmax.
    Q("q22_langid",
      (s, dir) =>
        langidFrame(s, dir).orderBy(col("doc_id")),
      Some(
        """WITH c AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|that)\b')) AS c_en,
          |    len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ist|nicht)\b')) AS c_de,
          |    len(regexp_extract_all(lower(text), '\b(?:le|les|et|des|une|est)\b')) AS c_fr,
          |    len(regexp_extract_all(lower(text), '\b(?:el|los|y|que|una|como)\b')) AS c_es
          |  FROM documents)
          |SELECT doc_id, c_en, c_de, c_fr, c_es,
          |  CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
          |       WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
          |       WHEN c_fr >= c_es THEN 'fr'
          |       ELSE 'es' END AS predicted_lang
          |FROM c ORDER BY doc_id""".stripMargin)),

    // Document fingerprint: digest of the normalized text (whitespace/case/
    // punctuation-insensitive near-exact dedup key).
    Q("q23_fingerprint",
      (s, dir) =>
        Tables.sharded(s, dir, "documents", "doc_id").select(
          col("doc_id"),
          graft.text.TextStats.fingerprint(col("text")).as("fingerprint"),
          length(col("text")).as("text_len"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
             |  len(text) AS text_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- Similarity search --------------------------------------------
    // Brute-force cosine top-5: queries (vec_id<10) broadcast against all
    // candidates — the exact baseline every ANN variant is judged against.
    // Ranking key is round(cos, 6) with vec_id tiebreak so both engines
    // select identical rows.
    Q("q24_ann_cosine_topk",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val qs = emb.where(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("e").as("qe"))
        graft.similarity.Similarity
          .bruteForceTopK(qs, emb.where(col("vec_id") >= 10), k = 5)
          .select(col("query_id"), col("vec_id"), col("cos_sim"))
          .orderBy(col("query_id"), col("vec_id"))
      },
      Some(
        """SELECT query_id, vec_id, cos_sim FROM (
          |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
          |    round(list_cosine_similarity(q.e, c.e), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.e, c.e), 6) DESC, c.vec_id) AS rk
          |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          |        FROM embeddings WHERE vec_id < 10) q
          |  CROSS JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          |              FROM embeddings WHERE vec_id >= 10) c
          |) t WHERE rk <= 5 ORDER BY query_id, vec_id""".stripMargin)),

    // PEDAGOGICAL BASELINE — excluded from the bench headline (bench =
    // false): `label` is the dataset's PLANTED pseudo-cell, not a trained
    // quantizer, so its recall on this synthetic set is honestly poor
    // (0.088, AnnQualitySpec). It stays registered because it isolates the
    // IVF *mechanism* — a co-partitioned within-cell join that prunes
    // (cells−1)/cells of all comparisons — in its simplest form. The
    // production-shaped variants are q66/q67 (trained cells), q92 (int8
    // refine) and q104/q109 (PQ ADC): same join skeleton, real recall.
    Q("q25_ann_ivf",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("e"))
        graft.similarity.Similarity.ivfTopK(emb, k = 3)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(
        """SELECT vec_id, neighbor_id, cos_sim FROM (
          |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC, b.vec_id) AS rk
          |  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) a
          |  JOIN (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings) b
          |    ON a.label = b.label AND a.vec_id <> b.vec_id
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin),
      bench = false),

    // IVF with the coarse quantizer TRAINED IN-ENGINE (no pre-existing
    // label): spherical k-means (k=8, 2 Lloyd iterations), then every
    // vector labeled with its final cell + round-6 cosine to the centroid.
    // The DuckDB oracle replays the identical training trajectory (unrolled
    // CTEs), pinning init ranking, argmax tiebreaks, and centroid rounding.
    Q("q65_ivf_train_assign",
      (s, dir) => {
        val emb = embFrame(s, dir)
        graft.similarity.Similarity.assignCells(emb, trainedCells(s, dir))
          .select(col("vec_id"), col("cell"), col("cell_sim"))
          .orderBy(col("vec_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64) +
        "\nSELECT vec_id, cell, cell_sim FROM afin ORDER BY vec_id")),

    // ANN search inside the TRAINED cells — q25's shape with the quantizer
    // built by q65's training instead of the dataset's planted label. The
    // cell is still the shuffle key; search cost tracks cell occupancy.
    Q("q66_ann_ivf_trained",
      (s, dir) => {
        val emb = embFrame(s, dir)
        val assigned = graft.similarity.Similarity
          .assignCells(emb, trainedCells(s, dir))
          .select(col("vec_id"), col("cell"), col("e"))
        graft.similarity.Similarity.ivfTopK(assigned, k = 3, labelCol = "cell")
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64) +
        """
          |SELECT vec_id, neighbor_id, cos_sim FROM (
          |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC,
          |        b.vec_id) AS rk
          |  FROM afin a JOIN afin b ON a.cell = b.cell AND a.vec_id <> b.vec_id
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // Multi-probe trained IVF — the RECOMMENDED ANN configuration: each
    // query vector searches its 3 nearest trained cells instead of 1,
    // trading ~3× the (still cell-pruned) join for recall@3 0.35 → ~0.7
    // (AnnQualitySpec measures the curve; PLANS.md tabulates it). Probing
    // is the same shuffle-free ranked-cells map stage as assignment with
    // `rk <= p` instead of argmax; candidates stay single-cell, so the
    // per-query candidate lists are disjoint and need no dedup, and the
    // cell remains the shuffle key. The oracle replays training (unrolled
    // Lloyd CTEs) plus the rk<=3 probe assignment.
    Q("q67_ann_ivf_multiprobe",
      (s, dir) => {
        val emb = embFrame(s, dir)
        graft.similarity.Similarity
          .ivfMultiProbeTopK(emb, trainedCells(s, dir), k = 3, probes = 3)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(3)) +
        duckProbedRank + """
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // ANN index DELETION (Similarity.ivfTombstoneTopK) — the
    // takedown/GDPR path for the trained-IVF family (r14 verdict gap #1,
    // ANN leg; q203/q205's maintenance only ever ADDS vectors): the
    // vec_id % 10 == 3 slice is taken down with the quantizer FROZEN and
    // the standing posting table unrebuilt — a broadcast tombstone
    // anti-join drops deleted candidates at serve time and deleted ids
    // are not served as queries. Cell assignment is per-vector, so the
    // filter commutes with assignment: results are row-equal to an index
    // rebuilt over the retained corpus under the same centroids, which
    // is exactly what the oracle computes (full-corpus Lloyd training
    // CTEs — training is NOT redone on deletion — then both join sides
    // filtered to retained). IvfRetractSpec pins tombstone-serving ==
    // compacted-postings == retained-rebuild.
    Q("q214_ann_retract",
      (s, dir) => {
        val emb = embFrame(s, dir)
        val postings = graft.similarity.Similarity
          .assignCells(emb, trainedCells(s, dir))
          .select(col("vec_id"), col("cell"), col("e"))
        val tomb = emb.where(col("vec_id") % 10 === 3).select(col("vec_id"))
        graft.similarity.Similarity
          .ivfTombstoneTopK(postings, trainedCells(s, dir), tomb,
            k = 3, probes = 2)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(duckIvfRetract)),

    // The full recommended ANN configuration (round-6): query side probes
    // its p=4 nearest trained cells, the candidate INDEX holds each vector
    // under its a=2 nearest cells (recall@3 0.76 → 0.94 at sf0.1 for a 2×
    // index), and the engine runs the two-stage IVF-flat refine — stage 1
    // scores candidates against the int8 scalar-quantized index
    // (asymmetric ADC), stage 2 re-ranks a per-query shortlist (s=4k)
    // with the exact cosine. The ORACLE computes the exact-rank
    // multi-assign multi-probe answer directly, so the hash match proves
    // the quantized shortlist loses nothing — the refine contract itself
    // (AnnQualitySpec pins the same agreement per query at both scales).
    Q("q92_ann_refine",
      (s, dir) => {
        val emb = embFrame(s, dir)
        graft.similarity.Similarity
          .ivfRefineTopK(emb, trainedCells(s, dir), k = 3, probes = 4,
            shortlist = 12, assignProbes = 2)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(4),
        assignProbes = Some(2)) +
        """
          |SELECT vec_id, neighbor_id, cos_sim FROM (
          |  SELECT vec_id, neighbor_id, cos_sim,
          |    row_number() OVER (PARTITION BY vec_id
          |      ORDER BY cos_sim DESC, neighbor_id) AS rk
          |  FROM (
          |    SELECT DISTINCT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
          |      round(list_cosine_similarity(q.e, b.e), 6) AS cos_sim
          |    FROM aprobe q JOIN aidx b ON q.cell = b.cell
          |      AND q.vec_id <> b.vec_id) p
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // Product-quantization codebooks trained in-engine + every vector
    // encoded to its m=8 sub-codes (PQ, Jégou et al. 2011) — the MEMORY
    // axis of the ANN family: at 100 TB the candidate index carries m
    // bytes per vector instead of 8·dim, and this query gates the whole
    // compression (training trajectory, dense renumbering, encode argmin)
    // against the oracle's replayed Lloyd CTEs. Training is one job per
    // iteration for ALL subspaces (the exploded (sub, subvector) long
    // table); encoding is a shuffle-free map stage against the nested
    // codebook literal.
    Q("q103_pq_codes",
      (s, dir) =>
        graft.similarity.Similarity
          .pqCodes(embFrame(s, dir), trainedPq(s, dir), m = 8)
          .orderBy(col("vec_id"), col("sub")),
      Some("WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e" +
        " FROM embeddings),\n" +
        pqCtes(m = 8, ksub = 16, iters = 2, sd = 8) +
        "\nSELECT vec_id, sub, code FROM pcode ORDER BY vec_id, sub")),

    // PQ in the OPQ-lite PERMUTED space (the eigenvalue-allocation half of
    // Ge et al. 2014): per-dim round-6 variances rank the 64 dims, a
    // snake deal balances them across the 8 subspaces, and the whole PQ
    // stack (training, encoding) runs on the reindexed vectors. The
    // permutation is a data-DERIVED but engine-reproducible artifact —
    // the oracle recomputes the identical variances, ranking, deal, and
    // permutation in SQL, then replays training in the permuted space, so
    // the hash match pins the permutation derivation itself, not just the
    // codes. On THIS corpus the variance profile is nearly flat (PLANS.md
    // measures it) and recall matches the unpermuted baseline; the
    // operator's value appears on anisotropic embeddings.
    Q("q117_opq_codes",
      (s, dir) =>
        graft.similarity.Similarity
          .pqCodes(opqFrame(s, dir), trainedOpqPq(s, dir), m = 8)
          .orderBy(col("vec_id"), col("sub")),
      Some(
        """WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          |  FROM embeddings),
          |dv AS (SELECT i, round(avg(x * x) - avg(x) * avg(x), 6) AS v
          |  FROM (SELECT g.i AS i, r.e[g.i] AS x FROM raw r CROSS JOIN
          |        (SELECT unnest(generate_series(1, 64)) AS i) g)
          |  GROUP BY i),
          |rkd AS (SELECT i, row_number() OVER (ORDER BY v DESC, i) - 1 AS r
          |  FROM dv),
          |bkt AS (SELECT i, r, CASE WHEN (r // 8) % 2 = 0 THEN r % 8
          |                          ELSE 7 - (r % 8) END AS b FROM rkd),
          |prm AS (SELECT flatten(list(bl ORDER BY b)) AS p FROM
          |  (SELECT b, list(i ORDER BY r) AS bl FROM bkt GROUP BY b) t),
          |emb AS (SELECT vec_id, list_transform(generate_series(1, 64),
          |  j -> e[p[j]]) AS e FROM raw CROSS JOIN prm),
          |""".stripMargin +
        pqCtes(m = 8, ksub = 16, iters = 2, sd = 8)
          .replaceFirst("^WITH ", "") +
        "\nSELECT vec_id, sub, code FROM pcode ORDER BY vec_id, sub")),

    // IVF-PQ search with exact refine — the full 100 TB ANN memory story:
    // coarse-cell pruning (q65's trained quantizer), candidates scored
    // ASYMMETRICALLY from their 8 PQ codes via a per-query lookup table
    // (lut[s][j] = round-6 ⟨q_s, centroid(s,j)⟩, normalized by the
    // candidate's code-reconstructed norm so the shortlist ranks by
    // quantized COSINE — scoring a candidate is 8 positional lookups + a
    // sequential sum, no per-pair vector arithmetic), a per-query
    // shortlist of 20 survives, and only shortlist×queries full vectors
    // are gathered for the exact round-6 cosine re-rank. PqSpec measures
    // the shortlist-truncation risk curve on this (worst-case: near-random
    // synthetic) corpus — 0.85@20, 0.96@32, identical to exact-in-cell
    // once the shortlist covers the cell. The oracle replays coarse
    // training, PQ training, encoding, the lut, the ADC shortlist, and
    // the refine — the hash match pins the two-quantizer pipeline end to
    // end.
    Q("q104_pq_adc",
      (s, dir) =>
        graft.similarity.Similarity
          .pqAdcRefineTopK(embFrame(s, dir), trainedCells(s, dir),
            trainedPq(s, dir), m = 8, k = 3, shortlist = 20)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id")),
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64) + ",\n" +
        pqCtes(m = 8, ksub = 16, iters = 2, sd = 8, adc = true) +
        duckPqCellSearch)),

    // Multi-probe IVF-PQ (round 7): q104's two-quantizer search with the
    // query probing its 2 nearest cells — the recall knob composed with
    // the memory axis (single-probe recall is cell-coverage-bounded;
    // AnnQualitySpec measures the full curve). At a=1 a (query,
    // candidate) pair arises through at most one shared cell, so the
    // engine's defensive distinct() is a semantic no-op and the oracle
    // needs none; the shortlist doubles with the doubled candidate pool
    // (the sizing rule PLANS documents). Oracle = q104's replayed
    // pipeline with the probed assignment CTE (aprobe, rk <= 2) as the
    // query side.
    Q("q109_pq_adc_probed",
      (s, dir) =>
        graft.similarity.Similarity
          .pqAdcRefineTopK(embFrame(s, dir), trainedCells(s, dir),
            trainedPq(s, dir), m = 8, k = 3, shortlist = 40, probes = 2)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id")),
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(2)) +
        ",\n" +
        pqCtes(m = 8, ksub = 16, iters = 2, sd = 8, adc = true) + s""",
          |padc AS (SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
          |    round(list_aggregate(list_transform(generate_series(1, 8),
          |      s -> l.lut[s][c.codes[s] + 1]), 'sum') / c.cnrm, 6) AS adc
          |  FROM aprobe q JOIN afin b ON q.cell = b.cell
          |    AND q.vec_id <> b.vec_id
          |  JOIN plut l ON l.vec_id = q.vec_id
          |  JOIN pcodes c ON c.vec_id = b.vec_id),
          |pshort AS (SELECT vec_id, neighbor_id FROM (
          |    SELECT vec_id, neighbor_id, row_number() OVER (
          |      PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rk
          |    FROM padc) t WHERE rk <= 40)
          |$duckPqRerank""".stripMargin)),

    // IVF-PQ at the 1-BYTE-CODE operating point (m=8, ksub=256): the SAME
    // 8-byte-per-vector index budget as q104's m8/k16, spending the full
    // byte per code instead of 4 bits — and the lever that actually
    // closes the documented quantized-ranking recall gap on this corpus
    // (0.8825 → 0.9363 at p=4/a=2/s=384 = the exact-scoring ceiling;
    // PLANS.md, measured by OpqTuning — where the OPQ permutation
    // honestly bought ~0.003 because the variance profile is flat).
    // Assignment/encode stay O(ksub) map stages after the argmin switch
    // to array_min (bestCode); excluded from the bench headline because
    // the 2048-centroid literal makes codegen, not execution, the
    // dominant local cost — the correctness gate still runs it.
    Q("q118_pq_adc_8bit",
      (s, dir) =>
        graft.similarity.Similarity
          .pqAdcRefineTopK(embFrame(s, dir), trainedCells(s, dir),
            trainedPq256(s, dir), m = 8, k = 3, shortlist = 20)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id")),
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64) + ",\n" +
        pqCtes(m = 8, ksub = 256, iters = 2, sd = 8, adc = true) +
        duckPqCellSearch),
      bench = false),

    // The TWO-TABLE IVF-PQ search (Similarity.pqAdcSearchTopK) — the
    // SERVING shape every prior ANN query lacked: a query batch
    // (vec_id < 100) searched against a separately-held candidate index
    // (vec_id >= 100) with the quantizers trained on the full corpus.
    // The candidate side alone contributes cells/codes/norms; queries
    // contribute only per-query lookup tables — so a consumer encodes
    // the corpus once and streams query batches against it. p=2 probes
    // with single-assignment candidates: a candidate lives in exactly
    // ONE cell, so no (query, candidate) pair can arise twice and the
    // oracle needs no DISTINCT (q109's argument). No self-pairs exist
    // by construction (disjoint id ranges), exercising excludeSelf=off.
    Q("q119_pq_search_2table",
      (s, dir) => {
        val emb = embFrame(s, dir)
        graft.similarity.Similarity
          .pqAdcSearchTopK(emb.where(col("vec_id") < 100),
            emb.where(col("vec_id") >= 100), trainedCells(s, dir),
            trainedPq(s, dir), m = 8, k = 3, shortlist = 20, probes = 2)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64, probes = Some(2)) +
        ",\n" +
        pqCtes(m = 8, ksub = 16, iters = 2, sd = 8, adc = true) + s""",
          |padc AS (SELECT q.vec_id AS vec_id, b.vec_id AS neighbor_id,
          |    round(list_aggregate(list_transform(generate_series(1, 8),
          |      s -> l.lut[s][c.codes[s] + 1]), 'sum') / c.cnrm, 6) AS adc
          |  FROM aprobe q JOIN afin b ON q.cell = b.cell
          |    AND q.vec_id < 100 AND b.vec_id >= 100
          |  JOIN plut l ON l.vec_id = q.vec_id
          |  JOIN pcodes c ON c.vec_id = b.vec_id),
          |pshort AS (SELECT vec_id, neighbor_id FROM (
          |    SELECT vec_id, neighbor_id, row_number() OVER (
          |      PARTITION BY vec_id ORDER BY adc DESC, neighbor_id) AS rk
          |    FROM padc) t WHERE rk <= 20)
          |$duckPqRerank""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): semantic dedup composed from the
    // trained-IVF pieces. Round-6: the pair stage runs on the p=2
    // MULTI-PROBE assignment (each vector under its 2 nearest cells), so
    // duplicate pairs split by a quantizer boundary are recovered whenever
    // the probed cell sets overlap — the cross-cell recall recovery,
    // ≤4× the single-assignment Σ cell² pair cost, still keyed by cell.
    // Within shared cells, round-6 cosine >= 0.45 marks duplicates, each
    // pointing at its min-id representative; the reported cell is the
    // primary assignment. The oracle replays the identical Lloyd
    // trajectory plus the rk<=2 probe assignment and the same min-id rule
    // (GROUP BY the vector, so overlapping cells never duplicate rows).
    Q("q75_semdedup",
      (s, dir) => {
        graft.similarity.Similarity.semanticDupesMultiProbe(
          embFrame(s, dir), trainedCells(s, dir), threshold = 0.45,
          probes = 2)
          .orderBy(col("vec_id"))
      },
      Some(ivfTrainCtes(k = 8, iters = 2, dim = 64,
        assignProbes = Some(2)) +
        """,
          |sem AS (SELECT a.vec_id, min(b.vec_id) AS dup_of
          |        FROM aidx a JOIN aidx b ON a.cell = b.cell
          |          AND b.vec_id < a.vec_id
          |          AND round(list_cosine_similarity(a.e, b.e), 6) >= 0.45
          |        GROUP BY 1)
          |SELECT f.vec_id, f.cell, s.dup_of, s.dup_of IS NOT NULL AS is_dup
          |FROM afin f LEFT JOIN sem s ON f.vec_id = s.vec_id
          |ORDER BY f.vec_id""".stripMargin)),

    // BM25 ranking (Robertson/Lucene form) against a 3-token query mixing
    // common (join, vector: df ~0.8N) and rare (dup: df ~0.025N) terms —
    // the inverted-index scoring shape. The token explode filters to the
    // query set BEFORE any exchange, so only query-token occurrences
    // shuffle; df and (N, avgdl) are broadcast; the top-20 is
    // TakeOrderedAndProject on the round-6 score. Constants (k1=1.5,
    // b=0.75) are exactly double-representable, so both engines compute
    // identical IEEE arithmetic.
    Q("q76_bm25_rank",
      (s, dir) =>
        graft.text.TextStats
          .bm25(Tables.sharded(s, dir, "documents", "doc_id"),
            queryTokens = Seq("join", "vector", "dup"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20),
      Some(duckBm25 + """
          |SELECT doc_id, count(*) AS n_hit, round(sum(s), 6) AS score
          |FROM s GROUP BY doc_id
          |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),

    // Perplexity-style quality filtering, tokenizer-free: an add-one-
    // smoothed bigram LM trained on the corpus itself in one pass scores
    // every document by average bigram log-probability
    // (graft.text.TextStats.bigramLmScore). The model is two partial-
    // aggregated count tables (unigrams = vocabulary-sized, bigrams =
    // corpus-bounded) joined back by their own keys — never collected —
    // and the only global state is the broadcast 1-row vocabulary size.
    // The oracle replays the same counts and ln arithmetic; round-6 before
    // compare.
    Q("q87_bigram_lm_score",
      (s, dir) =>
        graft.text.TextStats
          .bigramLmScore(Tables.sharded(s, dir, "documents", "doc_id"))
          .orderBy(col("doc_id")),
      Some(
        s"""WITH d AS (SELECT doc_id, $duckTokens AS toks FROM documents),
          |tok AS (SELECT unnest(toks) AS w1 FROM d),
          |uni AS (SELECT w1, count(*) AS c1 FROM tok GROUP BY 1),
          |v AS (SELECT count(DISTINCT w1) AS v FROM tok),
          |$duckBigramCounts,
          |sc AS (SELECT g.doc_id, g.c,
          |    ln((cb.c2 + CAST(1.0 AS DOUBLE)) / (uni.c1 + v.v)) AS lp
          |  FROM bgc g JOIN cb USING (w1, w2) JOIN uni USING (w1)
          |  CROSS JOIN v)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  round(sum(c * lp) / sum(c), 6) AS avg_logp
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Kneser–Ney–smoothed bigram scoring (TextStats.knBigramScore) —
    // q87's add-one scorer upgraded to the smoothing real perplexity
    // filters use: absolute discount D=0.75 plus a CONTINUATION-count
    // backoff (how many distinct contexts a word completes, not how
    // often it occurs — the "San Francisco" correction). Same one-
    // tokenizer-stage scale shape as q87; the model adds two bigram-
    // type-bounded aggregates and a broadcast 1-row type count. Every
    // model quantity is an integer count, so the oracle replays p
    // exactly, op-for-op.
    Q("q182_kn_bigram_score",
      (s, dir) =>
        graft.text.TextStats
          .knBigramScore(Tables.sharded(s, dir, "documents", "doc_id"))
          .orderBy(col("doc_id")),
      Some(
        s"""WITH d AS (SELECT doc_id, $duckTokens AS toks FROM documents),
          |$duckBigramCounts,
          |ls AS (SELECT w1, sum(c2) AS cw1, count(*) AS n1f
          |  FROM cb GROUP BY 1),
          |rc AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY 1),
          |t AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM cb),
          |sc AS (SELECT g.doc_id, g.c,
          |    ln(greatest(cb.c2 - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
          |         / ls.cw1
          |       + (CAST(0.75 AS DOUBLE) * ls.n1f / ls.cw1)
          |         * (rc.n1b / t.t)) AS lp
          |  FROM bgc g JOIN cb USING (w1, w2) JOIN ls USING (w1)
          |  JOIN rc USING (w2) CROSS JOIN t)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  round(sum(c * lp) / sum(c), 6) AS avg_logp
          |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- Multimodal metadata ------------------------------------------
    // Opaque-binary pipeline shape: payload as bytes + typed metadata; the
    // "decode" is a deterministic md5-derived stub (no media libs in this
    // environment — see graft.ext.Multimodal for the typed mapPartitions
    // plumbing). Expressed portably so DuckDB verifies the same math.
    Q("q29_multimodal_meta",
      (s, dir) =>
        Tables.sharded(s, dir, "documents", "doc_id").selectExpr(
          "doc_id",
          "octet_length(cast(text AS BINARY)) AS byte_len",
          "ascii(substr(md5(text), 1, 1)) * 8 + ascii(substr(md5(text), 2, 1)) AS fake_width",
          "ascii(substr(md5(text), 3, 1)) * 8 + ascii(substr(md5(text), 4, 1)) AS fake_height",
          "cast(floor(n_chars / 100) AS BIGINT) + 1 AS n_frames")
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  octet_length(CAST(text AS BLOB)) AS byte_len,
             |  ascii(substr(md5(text), 1, 1)) * 8 + ascii(substr(md5(text), 2, 1)) AS fake_width,
             |  ascii(substr(md5(text), 3, 1)) * 8 + ascii(substr(md5(text), 4, 1)) AS fake_height,
             |  n_chars // 100 + 1 AS n_frames
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // The REAL multimodal decode path (graft.ext.Multimodal.decodePpm):
    // each document becomes an actual binary PPM (P6) byte stream —
    // ASCII header with a comment line, raw RGB raster — built by
    // syntheticPpm with closed-form pixel arithmetic, then genuinely
    // PARSED back (magic/comments/dims/maxval/raster) and reduced to
    // integer-exact per-channel sums. The oracle predicts the sums from
    // the construction formula without any decoder, so a parse bug
    // anywhere (header offset, channel interleave, sign of a byte)
    // breaks the hash. Decode runs per partition via the same factory
    // contract a native codec would use; other formats keep the labeled
    // stub (no media libraries in this container).
    Q("q106_ppm_pixel_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/ppm",
            graft.ext.Multimodal.syntheticPpm(d)))
        graft.ext.Multimodal.ppmPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(4 + doc_id % 5 AS INT) AS width,
          |    CAST(3 + doc_id % 4 AS INT) AS height
          |  FROM documents),
          |px AS (SELECT doc_id, width, height,
          |    unnest(generate_series(0, width * height * 3 - 1)) AS i
          |  FROM d)
          |SELECT doc_id, width, height,
          |  CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id * 31 + i) % 256 END)
          |    AS BIGINT) AS sum_r,
          |  CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id * 31 + i) % 256 END)
          |    AS BIGINT) AS sum_g,
          |  CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id * 31 + i) % 256 END)
          |    AS BIGINT) AS sum_b
          |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin)),

    // q106's BMP twin: the SECOND real decode format. Each document
    // becomes a genuine uncompressed 24-bit BMP (little-endian binary
    // headers, bottom-up BGR rows, 4-byte padding — widths 3..7 so
    // padding is actually exercised) whose DECODED top-down RGB raster
    // follows closed-form arithmetic, then parsed back and reduced to
    // integer-exact channel sums. The oracle predicts the sums from the
    // construction formula with no decoder: any layout bug (row flip,
    // BGR swap, padding offset, endianness) shifts a sum and breaks the
    // hash.
    Q("q115_bmp_pixel_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/bmp",
            graft.ext.Multimodal.syntheticBmp(d)))
        graft.ext.Multimodal.bmpPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(duckBmpPixels)),

    // The THIRD real decode format, and the first AUDIO one: each
    // document becomes a genuine PCM WAV byte stream (RIFF chunk
    // structure, little-endian signed 16-bit samples, 1- or 2-channel
    // interleaving; even docs carry a LIST chunk between fmt and data so
    // chunk WALKING is exercised — a decoder assuming data at a fixed
    // offset breaks the hash). Decoded per-channel sample sums are
    // integer-exact and predicted by the oracle from the closed-form
    // construction arithmetic with no decoder.
    Q("q128_wav_sample_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "audio/wav",
            graft.ext.Multimodal.syntheticWav(d)))
        graft.ext.Multimodal.wavSampleStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(1 + doc_id % 2 AS INT) AS n_channels,
          |    CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
          |    CAST(20 + doc_id % 7 AS INT) AS n_frames
          |  FROM documents),
          |s AS (SELECT doc_id, n_channels, sample_rate, n_frames,
          |    unnest(generate_series(0, n_frames * n_channels - 1)) AS k
          |  FROM d)
          |SELECT doc_id, n_channels, sample_rate, n_frames,
          |  CAST(sum(CASE WHEN k % n_channels = 0
          |    THEN (doc_id * 13 + k) % 65536 - 32768 END) AS BIGINT)
          |    AS sum_ch0,
          |  CAST(coalesce(sum(CASE WHEN k % n_channels = 1
          |    THEN (doc_id * 13 + k) % 65536 - 32768 END), 0) AS BIGINT)
          |    AS sum_ch1
          |FROM s GROUP BY doc_id, n_channels, sample_rate, n_frames
          |ORDER BY doc_id""".stripMargin)),

    // AUDIO near-dup detection — the modality matrix's last axis: text
    // has MinHash (q28), embeddings cosine (q30), images dHash (q158);
    // audio gets a frame-energy-derivative fingerprint
    // (Multimodal.wavFingerprints) over a corpus with PLANTED near-dup
    // families (syntheticWavFamily: siblings share a pseudo-random base
    // signal, each doc adds ±64 jitter — sign bits flip only when a
    // sibling energy gap lands within the jitter, so families are
    // genuine near-dups and non-siblings genuinely far). Candidate
    // generation is the SAME banded pigeonhole machinery as SimHash/
    // dHash (simhashPairs, hamming ≤ 3 complete under 4 blocks); the
    // oracle replays samples, energies, sign bits, and all-pairs
    // hamming (affordable at oracle scale — the banding only changes
    // the plan, never the result, RangeJoinSpec's bucket-invariance
    // argument applied to blocks).
    Q("q181_audio_neardup",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .where(col("doc_id") % 9 === 3)
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "audio/wav",
            graft.ext.Multimodal.syntheticWavFamily(d)))
        val fps = graft.ext.Multimodal.wavFingerprints(files).toDF()
        graft.dedup.Dedup.simhashPairs(fps, fpCol = "fingerprint",
            nBlocks = 4, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        s"""WITH d AS (SELECT doc_id, doc_id % 63 AS fam FROM documents
          |  WHERE doc_id % 9 = 3),
          |f AS (SELECT doc_id, fam,
          |    unnest(generate_series(0, 32)) AS k FROM d),
          |e AS (SELECT doc_id, k,
          |    abs(((fam * 2654435761 + k * k * 2246822519
          |          + k * 40503) % 32768 - 16384)
          |        + ((doc_id * 13 + k * 7) % 129 - 64)) AS en
          |  FROM f),
          |fp AS (SELECT a.doc_id,
          |    string_agg(CASE WHEN b.en > a.en THEN '1' ELSE '0' END, ''
          |      ORDER BY a.k) AS fingerprint
          |  FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.k = a.k + 1
          |  GROUP BY a.doc_id),
          |$duckFingerprintPairs""".stripMargin)),

    // VIDEO near-dup fingerprinting (Multimodal.y4mFingerprints): the
    // last modality joins the shared near-dup machinery — frame-luma-sum
    // derivative sign bits (y4mSceneCuts' temporal-delta signal
    // coarsened to a fixed 32-bit signature, integer-exact → oracle-
    // replayable), paired through the SAME banded pigeonhole
    // (simhashPairs) as SimHash text, dHash images, and WAV-energy
    // audio. syntheticY4mFamily plants genuine near-dup families
    // (shared per-frame luma pattern per d%63 + a 0–4 single-pixel
    // jitter that cannot wrap the byte); the oracle replays pixel
    // arithmetic, frame sums, sign bits, and all-pairs hamming.
    Q("q204_video_neardup",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .where(col("doc_id") % 9 === 4)
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "video/y4m",
            graft.ext.Multimodal.syntheticY4mFamily(d)))
        val fps = graft.ext.Multimodal.y4mFingerprints(files).toDF()
        graft.dedup.Dedup.simhashPairs(fps, fpCol = "fingerprint",
            nBlocks = 4, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        s"""WITH d AS (SELECT doc_id, doc_id % 63 AS fam FROM documents
          |  WHERE doc_id % 9 = 4),
          |f AS (SELECT doc_id, fam,
          |    unnest(generate_series(0, 32)) AS f FROM d),
          |p AS (SELECT doc_id, fam, f,
          |    unnest(generate_series(0, 11)) AS j FROM f),
          |v AS (SELECT doc_id, f,
          |    CASE WHEN j = 0 THEN
          |      (fam * 2654435761 + f * f * 2246822519 + f * 40503) % 250
          |        + (doc_id * 13 + f * 7) % 5
          |    ELSE (fam * 2654435761 + f * f * 2246822519 + f * 40503
          |        + j * 97) % 256 END AS val
          |  FROM p),
          |s AS (SELECT doc_id, f, sum(val) AS sy FROM v GROUP BY 1, 2),
          |fp AS (SELECT a.doc_id,
          |    string_agg(CASE WHEN b.sy > a.sy THEN '1' ELSE '0' END, ''
          |      ORDER BY a.f) AS fingerprint
          |  FROM s a JOIN s b ON a.doc_id = b.doc_id AND b.f = a.f + 1
          |  GROUP BY a.doc_id),
          |$duckFingerprintPairs""".stripMargin)),

    // Semi-structured property extraction: the events stream carries a
    // JSON `props` string; pull a typed field out (get_json_object — a
    // codegen'd path evaluation, no UDF, no full from_json materialize
    // for a single field) and aggregate per event type. The partial
    // aggregation means only (n_types × state) rows reach the exchange —
    // the JSON parsing itself stays embarrassingly parallel at 100 TB.
    Q("q101_json_props",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            count(col("k")).as("n_with_k"),
            round(avg(col("k")), 6).as("avg_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            sum(when(col("k") >= 50, 1L).otherwise(0L)).as("n_high"))
          .orderBy(col("event_type")),
      Some(
        """WITH e AS (SELECT event_type,
          |    CAST(json_extract(props, '$.k') AS BIGINT) AS k
          |  FROM events)
          |SELECT event_type, count(*) AS n,
          |  count(k) AS n_with_k,
          |  round(avg(k), 6) AS avg_k,
          |  min(k) AS min_k, max(k) AS max_k,
          |  CAST(count(*) FILTER (WHERE k >= 50) AS BIGINT) AS n_high
          |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Domain-similarity map for mixture design: per-label (≈ per-domain)
    // embedding centroids, then pairwise centroid cosine — the "how close
    // are my sources in embedding space" table that informs data-mix
    // weights (near-duplicate domains shouldn't both get full budget).
    // Scale shape: posexplode → (label, dim) mean with map-side partial
    // agg (labels×dims rows through the exchange, corpus-independent);
    // the pairwise stage runs on the tiny centroid table (labels² rows).
    // Cosine rounds to 6 at the end only; both engines share the same
    // explode/avg/dot arithmetic.
    Q("q135_label_centroid_sim",
      (s, dir) => {
        val e = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("label"),
            posexplode(col("embedding").cast("array<double>"))
              .as(Seq("d", "v")))
        val cen = e.groupBy(col("label"), col("d"))
          .agg(avg(col("v")).as("c"))
        val nrm = cen.groupBy(col("label"))
          .agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
        val dots = cen.alias("a")
          .join(cen.alias("b"),
            col("a.d") === col("b.d") && col("a.label") < col("b.label"))
          .groupBy(col("a.label").as("label_a"),
            col("b.label").as("label_b"))
          .agg(sum(col("a.c") * col("b.c")).as("dot"))
        dots
          .join(nrm.select(col("label").as("label_a"),
            col("nrm").as("na")), "label_a")
          .join(nrm.select(col("label").as("label_b"),
            col("nrm").as("nb")), "label_b")
          .select(col("label_a"), col("label_b"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cos_sim"))
          .orderBy(col("label_a"), col("label_b"))
      },
      Some(
        """WITH emb AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e
          |  FROM embeddings),
          |ex AS (SELECT label, d, e[d] AS v FROM emb
          |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)),
          |cen AS (SELECT label, d, avg(v) AS c FROM ex GROUP BY 1, 2),
          |nrm AS (SELECT label, sqrt(sum(c * c)) AS nrm
          |  FROM cen GROUP BY 1),
          |dots AS (SELECT a.label AS label_a, b.label AS label_b,
          |    sum(a.c * b.c) AS dot
          |  FROM cen a JOIN cen b ON a.d = b.d AND a.label < b.label
          |  GROUP BY 1, 2)
          |SELECT label_a, label_b,
          |  round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
          |FROM dots
          |JOIN nrm na ON label_a = na.label
          |JOIN nrm nb ON label_b = nb.label
          |ORDER BY label_a, label_b""".stripMargin)),

    // Spectral diagnosis of the embedding corpus (graft.similarity
    // .Spectral): top principal component by 4 fixed power-iteration
    // steps over the mean-centered Gram matrix — the PCA-shaped
    // anisotropy check run before ANN index tuning ("is one direction
    // eating the variance"). The ONLY corpus-sized stage is the Gram
    // accumulation (d²=4096 cells, map-side partials); every iteration
    // then runs on d²/d-sized frames. Fixed iteration count from the
    // uniform start makes the result a pure function of the data; sign
    // canonicalizes on the largest-|loading| coordinate. The oracle
    // replays the same 4 unrolled iterations in CTEs; dims align by
    // construction (posexplode 0-based ⟷ generate_series 1-based,
    // shifted at the end).
    Q("q139_embedding_pca",
      (s, dir) => {
        val gram = Caches.frame(s, dir, "gram", eager = true) {
          graft.similarity.Spectral.gramMatrix(embFrame(s, dir))
        }
        graft.similarity.Spectral.topEigen(gram, dim = 64, iters = 4)
          .select(col("i"), round(col("v"), 6).as("loading"),
            round(col("ev"), 6).as("ev"),
            round(col("explained"), 6).as("explained"))
          .orderBy(col("i"))
      },
      Some {
        def iter(k: Int): String = {
          val prev = if (k == 1) "v0" else s"v${k - 1}"
          s"""w$k AS (SELECT g.i, sum(g.g * v.v) AS w
             |  FROM gram g JOIN $prev v ON g.j = v.j GROUP BY 1),
             |n$k AS (SELECT sqrt(sum(w * w)) AS nrm FROM w$k),
             |v$k AS (SELECT i AS j, w / n$k.nrm AS v
             |  FROM w$k CROSS JOIN n$k)""".stripMargin
        }
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           |  FROM embeddings),
           |ex AS (SELECT vec_id, d, e[d] AS x FROM emb
           |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS d)),
           |mu AS (SELECT d, avg(x) AS mu FROM ex GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM emb),
           |cent AS (SELECT vec_id, d, x - mu AS c FROM ex JOIN mu USING (d)),
           |gs AS (SELECT a.d AS i, b.d AS j, sum(a.c * b.c) AS s
           |  FROM cent a JOIN cent b ON a.vec_id = b.vec_id GROUP BY 1, 2),
           |gram AS (SELECT i, j, s / nn.n AS g FROM gs CROSS JOIN nn),
           |v0 AS (SELECT d AS j, CAST(1.0 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE)) AS v
           |  FROM (SELECT unnest(generate_series(1, 64)) AS d)),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)},
           |${iter(4)},
           |vec AS (SELECT j AS i, v FROM v4),
           |gv AS (SELECT g.i, sum(g.g * v.v) AS w
           |  FROM gram g JOIN (SELECT i AS j, v FROM vec) v ON g.j = v.j
           |  GROUP BY 1),
           |lam AS (SELECT sum(gv.w * vec.v) AS ev
           |  FROM gv JOIN vec ON gv.i = vec.i),
           |tr AS (SELECT sum(g) AS tr FROM gram WHERE i = j),
           |mx AS (SELECT max(abs(v)) AS mx FROM vec),
           |sg AS (SELECT arg_min(sign(v), i) AS s
           |  FROM vec CROSS JOIN mx WHERE abs(v) = mx.mx)
           |SELECT CAST(vec.i - 1 AS BIGINT) AS i,
           |  round(vec.v * sg.s, 6) AS loading,
           |  round(lam.ev, 6) AS ev,
           |  round(lam.ev / tr.tr, 6) AS explained
           |FROM vec CROSS JOIN sg CROSS JOIN lam CROSS JOIN tr
           |ORDER BY i""".stripMargin
      }),

    // The FOURTH real decode format — and the first COMPRESSED one. Each
    // document becomes a genuine PNG byte stream (signature, CRC32'd
    // chunks, DEFLATE'd rows via the JDK's Inflater — no media library)
    // whose DECODED raster follows closed-form arithmetic. Heights ≥ 5
    // guarantee every payload cycles through ALL FIVE row filters
    // (None/Sub/Up/Average/Paeth, row r filtered with r % 5), so the
    // oracle hash breaks on any bug in chunk walking, CRC math, DEFLATE
    // inflation, or any single filter inversion. Same integer-exact
    // channel-sum shape as the PPM/BMP twins (q106/q115).
    Q("q140_png_pixel_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/png",
            graft.ext.Multimodal.syntheticPng(d)))
        graft.ext.Multimodal.pngPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(3 + doc_id % 5 AS INT) AS width,
          |    CAST(5 + doc_id % 4 AS INT) AS height
          |  FROM documents),
          |px AS (SELECT doc_id, width, height,
          |    unnest(generate_series(0, width * height * 3 - 1)) AS i
          |  FROM d)
          |SELECT doc_id, width, height,
          |  CAST(sum(CASE WHEN i % 3 = 0 THEN (doc_id * 41 + i) % 256 END)
          |    AS BIGINT) AS sum_r,
          |  CAST(sum(CASE WHEN i % 3 = 1 THEN (doc_id * 41 + i) % 256 END)
          |    AS BIGINT) AS sum_g,
          |  CAST(sum(CASE WHEN i % 3 = 2 THEN (doc_id * 41 + i) % 256 END)
          |    AS BIGINT) AS sum_b
          |FROM px GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin)),

    // REAL resize: decode PPM → nearest-neighbor resample → re-encode →
    // decode again. The kernel is integer-exact (src = ⌊dst·s/d⌋, no
    // blending), so the oracle replays the resample arithmetic on the
    // closed-form source raster directly — any off-by-one in the index
    // mapping, or any corruption introduced by the re-encode leg, shifts
    // a channel sum and breaks the hash. The chain exercises the resize
    // contract end-to-end: resize OUTPUT is a real payload the standard
    // decode path consumes, not a digest.
    Q("q141_ppm_resize_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/ppm",
            graft.ext.Multimodal.syntheticPpm(d)))
        val resized = graft.ext.Multimodal.resizePpmNearest(files, 3, 2)
        graft.ext.Multimodal.ppmPixelStats(resized).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(4 + doc_id % 5 AS INT) AS sw,
          |    CAST(3 + doc_id % 4 AS INT) AS sh
          |  FROM documents),
          |px AS (SELECT doc_id, sw, sh,
          |    unnest(generate_series(0, 2 * 3 * 3 - 1)) AS j
          |  FROM d),
          |m AS (SELECT doc_id, sw, sh, j % 3 AS c,
          |    ((j // 9) * sh // 2) AS sy, (((j % 9) // 3) * sw // 3) AS sx
          |  FROM px),
          |v AS (SELECT doc_id, c,
          |    (doc_id * 31 + (sy * sw + sx) * 3 + c) % 256 AS val
          |  FROM m)
          |SELECT doc_id, 3 AS width, 2 AS height,
          |  CAST(sum(CASE WHEN c = 0 THEN val END) AS BIGINT) AS sum_r,
          |  CAST(sum(CASE WHEN c = 1 THEN val END) AS BIGINT) AS sum_g,
          |  CAST(sum(CASE WHEN c = 2 THEN val END) AS BIGINT) AS sum_b
          |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // REAL video decode (YUV4MPEG2) + stride frame sampling: each
    // document becomes a genuine multi-frame Y4M stream (ASCII stream
    // header, per-frame FRAME markers, planar C444 YUV) built from
    // closed-form plane arithmetic, then walked and sampled every 2nd
    // frame into per-plane sums — one row per KEPT frame (the 1:N
    // decode shape). The oracle predicts every sampled frame's plane
    // sums from the construction formula with no decoder: a marker-walk
    // bug, a plane-boundary off-by-one, or sampling the wrong frames
    // all break the hash.
    Q("q142_y4m_frame_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "video/y4m",
            graft.ext.Multimodal.syntheticY4m(d)))
        graft.ext.Multimodal.y4mFrameStats(files, every = 2).toDF()
          .orderBy(col("doc_id"), col("frame_idx"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(3 + doc_id % 3 AS INT) AS width,
          |    CAST(2 + doc_id % 3 AS INT) AS height,
          |    CAST(3 + doc_id % 4 AS INT) AS n_frames
          |  FROM documents),
          |f AS (SELECT doc_id, width, height,
          |    unnest(generate_series(0, n_frames - 1)) AS frame_idx
          |  FROM d),
          |kept AS (SELECT * FROM f WHERE frame_idx % 2 = 0),
          |b AS (SELECT doc_id, width, height, frame_idx,
          |    unnest(generate_series(0, 3 * width * height - 1)) AS j
          |  FROM kept),
          |v AS (SELECT doc_id, width, height, frame_idx,
          |    j // (width * height) AS plane,
          |    (doc_id * 23 + frame_idx * 5 + j) % 256 AS val
          |  FROM b)
          |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, width, height,
          |  CAST(sum(CASE WHEN plane = 0 THEN val END) AS BIGINT) AS sum_y,
          |  CAST(sum(CASE WHEN plane = 1 THEN val END) AS BIGINT) AS sum_u,
          |  CAST(sum(CASE WHEN plane = 2 THEN val END) AS BIGINT) AS sum_v
          |FROM v GROUP BY doc_id, frame_idx, width, height
          |ORDER BY doc_id, frame_idx""".stripMargin)),

    // Full-corpus Lloyd k-means (graft.similarity.Clustering.lloyd): the
    // general clustering operator beside the sample-trained IVF/PQ
    // quantizers — 3 assignment rounds, k=4, seeds = the 4 smallest
    // vec_ids labeled by their own id. Everything is INTEGER-exact
    // (vectors quantized to ⌊x·1000⌋ up front; argmin over the encoded
    // dist·2²⁰+cid long; centroid update = floored integer division), so
    // the oracle unrolls the identical 3 rounds in CTEs and the hash
    // pins every assignment AND every intermediate centroid bit-for-bit
    // — float k-means could never cross-engine-hash like this. Scale
    // shape per round: assignment is a pure map against the k×d centroid
    // literal; the update exchanges exactly k·d rows.
    Q("q144_kmeans_lloyd",
      (s, dir) =>
        graft.similarity.Clustering.lloyd(
            Tables.sharded(s, dir, "embeddings", "vec_id"),
            k = 4, rounds = 3, scale = 1000)
          .orderBy(col("vec_id")),
      Some {
        s"""$duckLloydSeeds,
           |${duckLloydStep("qd", 1)},
           |${duckLloydStep("qd", 2)},
           |${duckLloydAssign("qd", 3)}
           |SELECT vec_id, CAST(comb % 1048576 AS BIGINT) AS cluster,
           |  CAST(comb // 1048576 AS BIGINT) AS dist2
           |FROM a3 ORDER BY vec_id""".stripMargin
      }),

    // The HETEROGENEOUS multimodal pipeline: one corpus, one scan, NINE
    // real formats (PPM/BMP/PNG/GIF/JPEG images, WAV + MP3 audio,
    // Y4M + H.264 video) routed to their parsers per row by the `kind`
    // column — each partition instantiates every decoder once (the
    // per-format per-task codec lifecycle), and an unknown kind fails
    // loudly. The oracle predicts each format's decoded envelope (dims /
    // channels+rate / frame count) from the synthetic construction
    // arithmetic, so a routing bug that sent a payload to the wrong codec
    // would either throw (strict parsers) or break the hash.
    Q("q146_media_dispatch",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(graft.ext.Multimodal.syntheticMedia)
        graft.ext.Multimodal.decodeMetaByKind(files).toDF()
          .select(col("docId").as("doc_id"), col("kind"),
            col("width"), col("height"), col("nFrames").as("n_frames"))
          .orderBy(col("doc_id"))
      },
      Some(duckMedia)),

    // SemDeDup COMPOSED end-to-end from the in-engine operators: Lloyd
    // k-means clusters the corpus (q144's operator, 2 rounds), then the
    // prune step drops any vector whose cosine with a smaller-id
    // cluster-mate reaches 0.8 — keep-min-id, one representative per
    // semantic-dup relation. Planted near-dups (every 50th vector
    // re-ingested with +0.5 on dim 0, cosine ≈ 0.98 vs its source against
    // a ≈ N(0, 0.12) background) guarantee both decision classes at any
    // sf. The cosine test is integer-exact over the same quantization as
    // the clustering (tauDen²·dot² vs tauNum²·|a|²·|b|², no square
    // roots), so the oracle replays clustering AND pruning bit-for-bit.
    // The pair join is cluster-keyed — bounded by the largest cluster,
    // never corpus²; production scales k to bound cluster size.
    Q("q147_semdedup_kmeans",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
        val corpus = emb.unionAll(
          emb.where(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                when(i === 0, x + lit(0.5)).otherwise(x)).as("embedding")))
        // cached: clusterPrune references the assignment from BOTH pair
        // sides and the final membership join — without the barrier the
        // whole lloyd lineage (2 rounds incl. a k·d update aggregate)
        // re-executes 3×. n rows × 2 longs: cheap to pin, q133's lesson.
        val assign = Caches.frame(s, dir, "semdedup_lloyd_assign",
          eager = true) {
          graft.similarity.Clustering.lloyd(corpus, k = 4, rounds = 2)
        }
        graft.similarity.Clustering.clusterPrune(corpus, assign)
          .orderBy(col("vec_id"))
      },
      Some {
        s"""$duckSemdedupSeeds,
           |${duckLloydStep("qd", 1)},
           |${duckLloydAssign("qd", 2)},
           |asg AS (SELECT vec_id, comb % 1048576 AS cluster FROM a2),
           |n2 AS (SELECT vec_id, sum(v * v) AS n2 FROM qd GROUP BY 1),
           |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    sum(a.v * b.v) AS dot
           |  FROM qd a JOIN qd b ON a.d = b.d
           |  JOIN asg ca ON ca.vec_id = a.vec_id
           |  JOIN asg cb ON cb.vec_id = b.vec_id AND cb.cluster = ca.cluster
           |  WHERE a.vec_id < b.vec_id
           |  GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT d.id_b AS vec_id
           |  FROM dots d JOIN n2 na ON na.vec_id = d.id_a
           |  JOIN n2 nb ON nb.vec_id = d.id_b
           |  WHERE d.dot > 0 AND 25 * d.dot * d.dot >= 16 * na.n2 * nb.n2)
           |SELECT asg.vec_id, CAST(asg.cluster AS BIGINT) AS cluster,
           |  dup.vec_id IS NULL AS keep
           |FROM asg LEFT JOIN dup USING (vec_id) ORDER BY vec_id""".stripMargin
      }),

    // MMR diverse selection (Carbonell & Goldstein 1998): top-4 vectors
    // RELEVANT to a query (vector 0) but DIVERSE — each greedy round
    // maximizes round(0.7·rel − 0.3·max-cos-to-selected, 6), min-id
    // tie-break, so the oracle replays the full trajectory. Per round
    // the engine runs ONE distributed argmax (TakeOrderedAndProject)
    // over a pure map stage — the selected set rides as ≤ k·d literal
    // doubles, no join touches the corpus. Round-6 on every pairwise
    // cosine absorbs summation-order ULP noise (the engine-wide float
    // determinism convention).
    Q("q148_mmr_select",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
        val v0 = emb.where(col("vec_id") === 0)
          .select(col("embedding")).collect().head.getSeq[Double](0).toArray
        val n0 = math.sqrt(v0.map(x => x * x).sum)
        val dot = aggregate(zip_with(col("embedding"), typedLit(v0),
          (a, b) => a * b), lit(0d), (a, x) => a + x)
        val nrm = sqrt(aggregate(
          transform(col("embedding"), x => x * x), lit(0d), (a, x) => a + x))
        val cands = emb.where(col("vec_id") > 0)
          .withColumn("rel", round(dot / (nrm * lit(n0)), 6))
        graft.similarity.Mmr.select(cands, "rel").orderBy(col("rank"))
      },
      Some {
        // cos{r}: round-6 cosine of every candidate to round r's pick
        def cosCte(r: Int): String =
          s"""c$r AS (SELECT a.vec_id,
             |    round(sum(a.x * b.x) / (max(na.nrm) * max(nb.nrm)), 6) AS c
             |  FROM xd a JOIN xd b ON a.d = b.d
             |    AND b.vec_id = (SELECT vec_id FROM s$r)
             |  JOIN nr na ON na.vec_id = a.vec_id
             |  JOIN nr nb ON nb.vec_id = b.vec_id
             |  WHERE a.vec_id > 0 GROUP BY a.vec_id)""".stripMargin
        s"""WITH e AS (SELECT vec_id,
           |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings),
           |ex AS (SELECT vec_id,
           |    unnest(list_transform(v, (x, i) -> {'d': i, 'x': x})) AS p
           |  FROM e),
           |xd AS (SELECT vec_id, p.d AS d, p.x AS x FROM ex),
           |nr AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM xd GROUP BY 1),
           |rel AS (SELECT a.vec_id,
           |    round(sum(a.x * q.x) /
           |      (max(na.nrm) * max(n0.nrm)), 6) AS rel
           |  FROM xd a
           |  JOIN (SELECT d, x FROM xd WHERE vec_id = 0) q ON a.d = q.d
           |  JOIN nr na ON na.vec_id = a.vec_id
           |  CROSS JOIN (SELECT nrm FROM nr WHERE vec_id = 0) n0
           |  WHERE a.vec_id > 0 GROUP BY a.vec_id),
           |s1 AS (SELECT vec_id, rel AS mmr FROM rel
           |  ORDER BY rel DESC, vec_id LIMIT 1),
           |${cosCte(1)},
           |m2 AS (SELECT r.vec_id,
           |    round(CAST(0.7 AS DOUBLE) * r.rel -
           |      CAST(0.3 AS DOUBLE) * c1.c, 6) AS mmr
           |  FROM rel r JOIN c1 ON c1.vec_id = r.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1)),
           |s2 AS (SELECT vec_id, mmr FROM m2
           |  ORDER BY mmr DESC, vec_id LIMIT 1),
           |${cosCte(2)},
           |m3 AS (SELECT r.vec_id,
           |    round(CAST(0.7 AS DOUBLE) * r.rel -
           |      CAST(0.3 AS DOUBLE) * greatest(c1.c, c2.c), 6) AS mmr
           |  FROM rel r JOIN c1 ON c1.vec_id = r.vec_id
           |  JOIN c2 ON c2.vec_id = r.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
           |    UNION ALL SELECT vec_id FROM s2)),
           |s3 AS (SELECT vec_id, mmr FROM m3
           |  ORDER BY mmr DESC, vec_id LIMIT 1),
           |${cosCte(3)},
           |m4 AS (SELECT r.vec_id,
           |    round(CAST(0.7 AS DOUBLE) * r.rel -
           |      CAST(0.3 AS DOUBLE) * greatest(c1.c, c2.c, c3.c), 6) AS mmr
           |  FROM rel r JOIN c1 ON c1.vec_id = r.vec_id
           |  JOIN c2 ON c2.vec_id = r.vec_id
           |  JOIN c3 ON c3.vec_id = r.vec_id
           |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
           |    UNION ALL SELECT vec_id FROM s2
           |    UNION ALL SELECT vec_id FROM s3)),
           |s4 AS (SELECT vec_id, mmr FROM m4
           |  ORDER BY mmr DESC, vec_id LIMIT 1)
           |SELECT CAST(1 AS BIGINT) AS rank, vec_id, mmr FROM s1
           |UNION ALL SELECT 2, vec_id, mmr FROM s2
           |UNION ALL SELECT 3, vec_id, mmr FROM s3
           |UNION ALL SELECT 4, vec_id, mmr FROM s4
           |ORDER BY rank""".stripMargin
      }),

    // The FIFTH real decode format and SECOND compressed one — GIF, whose
    // entropy coder (variable-width LSB-first LZW) is implemented from
    // scratch (the JDK ships DEFLATE for PNG but no LZW): dictionary
    // growth one code behind the encoder, width bumps at powers of two,
    // the 4096-entry clear/reset, the KwKwK case. Payload indices follow
    // closed-form arithmetic and the 256-entry palette maps v to
    // ((3v)%256, (5v)%256, (7v)%256), so the oracle predicts the decoded
    // channel sums straight through the compression round-trip — a
    // one-bit width desync anywhere garbles every code after the first
    // 512 dictionary entries and breaks the hash.
    Q("q149_gif_pixel_stats",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/gif",
            graft.ext.Gif.syntheticGif(d)))
        graft.ext.Multimodal.gifPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(3 + doc_id % 5 AS INT) AS width,
          |    CAST(4 + doc_id % 4 AS INT) AS height
          |  FROM documents),
          |px AS (SELECT doc_id, width, height,
          |    unnest(generate_series(0, width * height - 1)) AS i
          |  FROM d),
          |v AS (SELECT doc_id, width, height,
          |    (doc_id * 43 + i) % 256 AS idx
          |  FROM px)
          |SELECT doc_id, width, height,
          |  CAST(sum((idx * 3) % 256) AS BIGINT) AS sum_r,
          |  CAST(sum((idx * 5) % 256) AS BIGINT) AS sum_g,
          |  CAST(sum((idx * 7) % 256) AS BIGINT) AS sum_b
          |FROM v GROUP BY doc_id, width, height ORDER BY doc_id""".stripMargin)),

    // Audio FEATURE extraction past the decode: per-channel zero-crossing
    // count (the voiced/unvoiced + noisiness cue) and signal energy (the
    // loudness/silence cue) over the same synthetic WAV payloads as q128
    // — both integer-exact, one pass over the samples, one row per
    // (doc, channel). The oracle replays both features from the
    // construction arithmetic (the zcr needs the PREVIOUS in-channel
    // sample: an interleave bug that compared across channels would
    // shift every crossing count).
    Q("q150_wav_features",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "audio/wav",
            graft.ext.Multimodal.syntheticWav(d)))
        graft.ext.Multimodal.wavChannelFeatures(files).toDF()
          .orderBy(col("doc_id"), col("ch"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(1 + doc_id % 2 AS INT) AS n_channels,
          |    CAST(20 + doc_id % 7 AS INT) AS n_frames
          |  FROM documents),
          |chs AS (SELECT doc_id, n_channels, n_frames,
          |    unnest(generate_series(0, n_channels - 1)) AS ch
          |  FROM d),
          |fr AS (SELECT doc_id, n_channels, n_frames, ch,
          |    unnest(generate_series(0, n_frames - 1)) AS f
          |  FROM chs),
          |v AS (SELECT doc_id, ch, n_frames,
          |    (doc_id * 13 + f * n_channels + ch) % 65536 - 32768 AS s,
          |    CASE WHEN f > 0 THEN
          |      (doc_id * 13 + (f - 1) * n_channels + ch) % 65536 - 32768
          |    END AS sp
          |  FROM fr)
          |SELECT doc_id, CAST(ch AS INT) AS ch,
          |  CAST(n_frames AS INT) AS n_frames,
          |  CAST(count(*) FILTER (WHERE sp * s < 0) AS BIGINT) AS zcr,
          |  CAST(sum(s * s) AS BIGINT) AS energy
          |FROM v GROUP BY doc_id, ch, n_frames
          |ORDER BY doc_id, ch""".stripMargin)),

    // IMAGE near-dup via perceptual hash: 56-bit dHash (grayscale → 8×8
    // nearest resample → horizontal gradient signs) of each synthetic
    // image AND a perturbed re-encode (raster byte 0 bumped to value
    // (d·31+128)%256 — a visible dot in one corner), compared by Hamming
    // distance — the image twin of SimHash-over-text: gradient signs
    // survive small edits byte-exact hashing can't. Everything is
    // integer-exact (gray = ⌊(r+g+b)/3⌋, exact resample indices, bits
    // summed as shifted longs), so the oracle replays BOTH hashes and
    // the Hamming distance bit-for-bit; both payloads run the real
    // encode → decode path. Most perturbed copies stay within Hamming 2
    // (near dup); docs whose corner lands on a resample cell boundary
    // drift farther — both classes appear at any sf.
    Q("q151_image_dhash",
      (s, dir) => {
        import s.implicits._
        def payload(d: Long, pert: Boolean): Array[Byte] =
          dhashPayload(d, pert)
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map { d =>
            val a = graft.ext.Multimodal.dhashFromPpm(payload(d, false))
            val b = graft.ext.Multimodal.dhashFromPpm(payload(d, true))
            val ham = java.lang.Long.bitCount(a ^ b).toLong
            (d, a, b, ham, ham <= 2)
          }
          .toDF("doc_id", "dhash", "dhash_pert", "hamming", "near")
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(4 + doc_id % 5 AS INT) AS w,
          |    CAST(3 + doc_id % 4 AS INT) AS h
          |  FROM documents),
          |ys AS (SELECT unnest(generate_series(0, 7)) AS y),
          |xs AS (SELECT unnest(generate_series(0, 7)) AS x),
          |cell AS (SELECT doc_id, y, x,
          |    ((y * h // 8) * w + (x * w // 8)) * 3 AS i0
          |  FROM d CROSS JOIN ys CROSS JOIN xs),
          |g AS (SELECT doc_id, y, x,
          |    ((doc_id * 31 + i0) % 256 + (doc_id * 31 + i0 + 1) % 256
          |      + (doc_id * 31 + i0 + 2) % 256) // 3 AS gb,
          |    ((CASE WHEN i0 = 0 THEN (doc_id * 31 + 128) % 256
          |           ELSE (doc_id * 31 + i0) % 256 END)
          |      + (doc_id * 31 + i0 + 1) % 256
          |      + (doc_id * 31 + i0 + 2) % 256) // 3 AS gp
          |  FROM cell),
          |bits AS (SELECT a.doc_id, a.y, a.x,
          |    CASE WHEN b.gb > a.gb THEN 1 ELSE 0 END AS bb,
          |    CASE WHEN b.gp > a.gp THEN 1 ELSE 0 END AS bp
          |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.y = b.y
          |    AND b.x = a.x + 1
          |  WHERE a.x < 7),
          |hs AS (SELECT doc_id,
          |    CAST(sum(bb * (CAST(1 AS BIGINT) << (y * 7 + x)))
          |      AS BIGINT) AS dhash,
          |    CAST(sum(bp * (CAST(1 AS BIGINT) << (y * 7 + x)))
          |      AS BIGINT) AS dhash_pert
          |  FROM bits GROUP BY doc_id)
          |SELECT doc_id, dhash, dhash_pert,
          |  CAST(bit_count(xor(dhash, dhash_pert)) AS BIGINT) AS hamming,
          |  bit_count(xor(dhash, dhash_pert)) <= 2 AS near
          |FROM hs ORDER BY doc_id""".stripMargin)),

    // Character-level Shannon entropy per document
    // (TextStats.charEntropy): the gibberish/junk detector the regex
    // gates can't see — base64 and compressed garbage score near the
    // alphabet ceiling, natural text ~3 nats, repeated-char spam near 0.
    // One explode → (doc, char) keyed aggregate (map-side partials keep
    // the exchange at distinct-chars-per-doc, not corpus×len) + a
    // doc-keyed total join; round-6 absorbs entropy-term order.
    Q("q155_char_entropy",
      (s, dir) =>
        graft.text.TextStats.charEntropy(
            Tables.sharded(s, dir, "documents", "doc_id"))
          .orderBy(col("doc_id")),
      Some(
        """WITH ch AS (SELECT doc_id,
          |    unnest(string_split(lower(text), '')) AS c
          |  FROM documents),
          |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch
          |  WHERE len(c) > 0 GROUP BY doc_id, c),
          |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_total,
          |    count(*) AS n_distinct
          |  FROM cnt GROUP BY doc_id)
          |SELECT cnt.doc_id, tot.n_chars_total,
          |  CAST(tot.n_distinct AS BIGINT) AS n_distinct,
          |  round(-sum((CAST(cnt.n AS DOUBLE) / tot.n_chars_total) *
          |    ln(CAST(cnt.n AS DOUBLE) / tot.n_chars_total)), 6) AS entropy
          |FROM cnt JOIN tot USING (doc_id)
          |GROUP BY cnt.doc_id, tot.n_chars_total, tot.n_distinct
          |ORDER BY cnt.doc_id""".stripMargin)),

    // Cross-format TRANSCODE: decode BMP → encode PNG → decode PNG —
    // the format-conversion pipeline shape (normalize a mixed crawl to
    // one storage format), asserting LOSSLESSNESS end to end: the final
    // channel sums must equal q115's closed-form BMP oracle VERBATIM,
    // so any byte lost or shifted crossing the codec boundary (layout
    // transforms on the BMP side, filters + DEFLATE on the PNG side)
    // breaks the hash. Per-partition: one decode, one encode, one
    // decode, all streaming through the iterator.
    Q("q156_transcode_bmp_png",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map { d =>
            val (w, h, rgb) = graft.ext.Multimodal.decodeBmp(
              graft.ext.Multimodal.syntheticBmp(d))
            graft.ext.MediaFile(d, "image/png",
              graft.ext.Multimodal.encodePng(w, h, rgb))
          }
        graft.ext.Multimodal.pngPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      Some(duckBmpPixels)),

    // Video SCENE-CUT detection (Multimodal.y4mSceneCuts): temporal
    // segmentation by luma-sum delta — the per-shot sampling primitive
    // (one frame per shot beats one frame per stride for training-data
    // diversity). Integer-exact end to end, so the oracle replays every
    // cut decision via a lag window over the closed-form per-frame sums;
    // the digest pins the exact cut SET. Threshold 200 splits the
    // synthetic corpus into both classes (55 docs with cuts / 445
    // without at sf0.01 — byte wrap-around makes deltas vary per frame).
    Q("q157_scene_cuts",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "video/y4m",
            graft.ext.Multimodal.syntheticY4m(d)))
        graft.ext.Multimodal.y4mSceneCuts(files, threshold = 200).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(3 + doc_id % 3 AS INT) AS w,
          |    CAST(2 + doc_id % 3 AS INT) AS h,
          |    CAST(3 + doc_id % 4 AS INT) AS n_frames
          |  FROM documents),
          |f AS (SELECT doc_id, w, h, n_frames,
          |    unnest(generate_series(0, n_frames - 1)) AS fr
          |  FROM d),
          |jj AS (SELECT doc_id, n_frames, fr,
          |    unnest(generate_series(0, w * h - 1)) AS j
          |  FROM f),
          |sums AS (SELECT doc_id, n_frames, fr,
          |    sum((doc_id * 23 + fr * 5 + j) % 256) AS sy
          |  FROM jj GROUP BY doc_id, n_frames, fr),
          |dl AS (SELECT doc_id, fr, sy,
          |    lag(sy) OVER (PARTITION BY doc_id ORDER BY fr) AS ps
          |  FROM sums),
          |cuts AS (SELECT doc_id, fr FROM dl
          |  WHERE ps IS NOT NULL AND abs(sy - ps) > 200),
          |agg AS (SELECT doc_id, count(*) AS n,
          |    md5(array_to_string(list_sort(list(fr)), ',')) AS dg
          |  FROM cuts GROUP BY doc_id)
          |SELECT d.doc_id, CAST(d.n_frames AS INT) AS n_frames,
          |  CAST(coalesce(agg.n, 0) AS INT) AS n_cuts,
          |  coalesce(agg.dg, md5('')) AS cuts_digest
          |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // IMAGE near-dup PAIRS — the dedup-matrix row at image grain,
    // end-to-end: dHash each image (base corpus + a perturbed re-ingest
    // of every 3rd doc), collapse EXACT hash duplicates to a min-id
    // representative (q20's move at hash grain — on this gradient-heavy
    // synthetic corpus exact groups are large, and banding distinct
    // fingerprints instead of all images is what keeps the candidate
    // join at 23k pairs instead of 14M at sf0.1), then the SAME banded
    // Hamming machinery as text SimHash (Dedup.simhashPairs, 4 blocks,
    // pigeonhole-complete for Hamming ≤ 3) over the 56-char bit strings.
    // The oracle re-derives every hash, bands by integer shifts
    // ((hash >> 42-14b) & 16383 = the MSB-first substring the engine
    // bands), and verifies with bit_count(xor).
    Q("q158_image_neardup_pairs",
      (s, dir) => {
        val hashes = imageHashFrame(s, dir)
        val reps = hashes.groupBy(col("fingerprint"))
          .agg(min(col("img_id")).as("img_id"))
        graft.dedup.Dedup.simhashPairs(reps, idCol = "img_id",
          nBlocks = 4, maxHamming = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(duckImageReps + """,
          |bands AS (SELECT rep, hash, b,
          |    (hash >> (42 - 14 * b)) & 16383 AS bv
          |  FROM reps CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
          |cand AS (SELECT DISTINCT a.rep AS id_a, b.rep AS id_b,
          |    a.hash AS ha, b.hash AS hb
          |  FROM bands a JOIN bands b
          |    ON a.b = b.b AND a.bv = b.bv AND a.rep < b.rep)
          |SELECT id_a, id_b,
          |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
          |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    // Audio SILENCE-TRIM boundaries (Multimodal.wavTrimBounds): first and
    // last frame where ANY channel reaches |sample| ≥ 30000 — the dead-air
    // cut run before duration budgeting. Integer-exact one-pass decode;
    // the oracle replays the per-frame any-channel max from the synthetic
    // construction arithmetic; all-silent payloads report −1/−1 (≈7% of
    // docs at this threshold, so both classes appear at any sf).
    Q("q159_wav_trim",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "audio/wav",
            graft.ext.Multimodal.syntheticWav(d)))
        graft.ext.Multimodal.wavTrimBounds(files, threshold = 30000).toDF()
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |    CAST(1 + doc_id % 2 AS INT) AS nch,
          |    CAST(20 + doc_id % 7 AS INT) AS nf
          |  FROM documents),
          |fr AS (SELECT doc_id, nch, nf,
          |    unnest(generate_series(0, nf - 1)) AS f
          |  FROM d),
          |chs AS (SELECT doc_id, nch, nf, f,
          |    unnest(generate_series(0, nch - 1)) AS c
          |  FROM fr),
          |s AS (SELECT doc_id, nf, f,
          |    abs((doc_id * 13 + f * nch + c) % 65536 - 32768) AS a
          |  FROM chs),
          |loud AS (SELECT doc_id, f FROM s
          |  GROUP BY doc_id, f HAVING max(a) >= 30000),
          |agg AS (SELECT doc_id, min(f) AS fi, max(f) AS la FROM loud
          |  GROUP BY doc_id)
          |SELECT d.doc_id, CAST(d.nf AS INT) AS n_frames,
          |  CAST(coalesce(agg.fi, -1) AS INT) AS first_loud,
          |  CAST(coalesce(agg.la, -1) AS INT) AS last_loud,
          |  CAST(CASE WHEN agg.fi IS NULL THEN 0
          |       ELSE agg.la - agg.fi + 1 END AS INT) AS n_kept
          |FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""".stripMargin)),

    // IMAGE geometry gate — the LAION-style pre-filter every image-corpus
    // pipeline runs before anything expensive: drop images below a
    // minimum pixel count and outside an aspect-ratio band. Dimensions
    // come from the REAL decoders (the three image formats of the mixed
    // corpus, routed by kind), and both gates are integer-exact — the
    // aspect test is cross-multiplied (3·min(w,h) ≥ 2·max(w,h) ⇔ ratio
    // ≤ 1.5), never a float division — so the oracle replays every
    // decision; the synthetic dims land on both sides of both gates,
    // including exact boundaries (4×6 hits aspect equality).
    Q("q160_image_geometry_gate",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          // the five image kinds (3/4 = wav/y4m, 7/8 = mp3/h264)
          .where(!col("doc_id").%(9).isin(3, 4, 7, 8))
          .select(col("doc_id")).as[Long]
          .map(graft.ext.Multimodal.syntheticMedia)
        graft.ext.Multimodal.decodeMetaByKind(files).toDF()
          .select(col("docId").as("doc_id"), col("kind"),
            col("width"), col("height"),
            (col("width") * col("height") >= 20).as("pass_pixels"),
            (least(col("width"), col("height")) * 3 >=
              greatest(col("width"), col("height")) * 2).as("pass_aspect"))
          .withColumn("keep", col("pass_pixels") && col("pass_aspect"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH m AS (SELECT doc_id,
          |  CASE doc_id % 9 WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'image/bmp'
          |    WHEN 2 THEN 'image/png' WHEN 5 THEN 'image/gif'
          |    ELSE 'image/jpeg' END AS kind,
          |  CAST(CASE doc_id % 9 WHEN 0 THEN 4 + doc_id % 5
          |    WHEN 1 THEN 3 + doc_id % 5
          |    WHEN 2 THEN 3 + doc_id % 5 WHEN 5 THEN 3 + doc_id % 5
          |    ELSE 10 + doc_id % 23 END AS INT) AS width,
          |  CAST(CASE doc_id % 9 WHEN 0 THEN 3 + doc_id % 4
          |    WHEN 1 THEN 2 + doc_id % 4
          |    WHEN 2 THEN 5 + doc_id % 4
          |    WHEN 5 THEN 4 + doc_id % 4
          |    ELSE 10 + doc_id % 17 END AS INT) AS height
          |  FROM documents WHERE doc_id % 9 NOT IN (3, 4, 7, 8))
          |SELECT doc_id, kind, width, height,
          |  width * height >= 20 AS pass_pixels,
          |  least(width, height) * 3 >= greatest(width, height) * 2
          |    AS pass_aspect,
          |  (width * height >= 20) AND
          |    (least(width, height) * 3 >= greatest(width, height) * 2)
          |    AS keep
          |FROM m ORDER BY doc_id""".stripMargin)),

    // IMAGE dedup CLUSTERS — the full image-dedup chain composed:
    // dHash → exact-hash groups (member→representative edges) →
    // banded-Hamming near-dup pairs between representatives (q158) →
    // connected components (Dedup.clusters' min-label propagation, the
    // Pregel shape) → every image labeled with its component's minimum
    // id; canonical selection = keep img_id == cluster_id. The edge set
    // mirrors the two-level candidate structure, so components span
    // exact copies AND near-dups transitively. The oracle replays the
    // whole chain and closes the graph with a recursive CTE (q55's
    // pattern at image grain).
    Q("q161_image_dedup_clusters",
      (s, dir) => {
        val hashes = imageHashFrame(s, dir)
        // the rep table sits under the exact-edge join AND both sides of
        // the banded near-dup self-join — materialized once so the
        // fingerprint aggregate doesn't re-execute per consumer (the
        // triangleCounts lesson); freed after the CC rounds (clusters()
        // is eager) hold the labels as a flat checkpoint
        val reps = graft.analytics.Graphs.flatCheckpoint(
          hashes.groupBy(col("fingerprint"))
            .agg(min(col("img_id")).as("rep")))
        val exactEdges = hashes.join(reps, "fingerprint")
          .where(col("img_id") =!= col("rep"))
          .select(col("img_id").as("id_a"), col("rep").as("id_b"))
        val nearEdges = graft.dedup.Dedup.simhashPairs(
            reps.withColumnRenamed("rep", "img_id"), idCol = "img_id",
            nBlocks = 4, maxHamming = 3)
          .select(col("id_a"), col("id_b"))
        val labels = graft.dedup.Dedup.clusters(
          hashes.select(col("img_id")),
          exactEdges.unionAll(nearEdges), idCol = "img_id")
        graft.analytics.Graphs.freeLocalCheckpoint(reps)
        labels.orderBy(col("img_id"))
      },
      Some(duckImageReps.replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
          |exact AS (SELECT hs.img_id AS s, r.rep AS t
          |  FROM hs JOIN reps r ON hs.hash = r.hash
          |  WHERE hs.img_id <> r.rep),
          |bands AS (SELECT rep, hash, b,
          |    (hash >> (42 - 14 * b)) & 16383 AS bv
          |  FROM reps CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b)),
          |near AS (SELECT DISTINCT a.rep AS s, b.rep AS t
          |  FROM bands a JOIN bands b
          |    ON a.b = b.b AND a.bv = b.bv AND a.rep < b.rep
          |  WHERE bit_count(xor(a.hash, b.hash)) <= 3),
          |und AS (SELECT s, t FROM exact UNION ALL SELECT t, s FROM exact
          |  UNION ALL SELECT s, t FROM near UNION ALL SELECT t, s FROM near),
          |${DedupQueries.duckReach}
          |SELECT i.img_id,
          |  least(i.img_id, coalesce(min(r.t), i.img_id)) AS cluster_id
          |FROM imgs i LEFT JOIN reach r ON i.img_id = r.s
          |GROUP BY i.img_id ORDER BY i.img_id""".stripMargin)),

    // The multimodal DATASET CARD: per-kind manifest rollup over the
    // nine-format corpus — the summary every corpus release ships
    // (counts, dimension spread, total frames per modality). Decoded
    // envelopes (real parsers, kind-routed) feed one keyed aggregate
    // with map-side partials; the kinds×stats result is scale-free.
    // Sums are over decoded dims/frames (closed-form), never payload
    // byte lengths (DEFLATE/LZW output sizes are codec-version
    // artifacts no cross-engine oracle should pin).
    Q("q162_media_manifest",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(graft.ext.Multimodal.syntheticMedia)
        graft.ext.Multimodal.decodeMetaByKind(files).toDF()
          .groupBy(col("kind"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("width"), col("height")).as("n_dims"),
            sum(col("width")).as("sum_width"),
            sum(col("height")).as("sum_height"),
            sum(col("nFrames")).as("sum_frames"))
          .orderBy(col("kind"))
      },
      Some(
        s"""WITH m AS ($duckMediaCols
          |  FROM documents)
          |SELECT kind, count(*) AS n,
          |  CAST(count(DISTINCT (width, height)) AS BIGINT) AS n_dims,
          |  CAST(sum(width) AS BIGINT) AS sum_width,
          |  CAST(sum(height) AS BIGINT) AS sum_height,
          |  CAST(sum(n_frames) AS BIGINT) AS sum_frames
          |FROM m GROUP BY kind ORDER BY kind""".stripMargin)),

    // MULTI-PROBE SemDeDup — retiring q147's documented failure mode:
    // a near-dup pair split across a cluster boundary is invisible to
    // single-assignment pruning (2 of 10 planted pairs escaped). With
    // each vector assigned to its TOP-2 clusters (q75's multi-probe idea
    // on the k-means index; rank order deterministic via the sorted
    // encoded-long argmin), boundary pairs share a cluster again and the
    // SAME integer-exact prune catches them — all 10 planted copies drop
    // at sf0.01. Candidate cost multiplies by ≤ m², never corpus². The
    // oracle replays centroid training, rank-2 assignment (row_number
    // over the encoded longs — tie-free since cid rides the low bits),
    // and the pruning decisions bit-for-bit.
    Q("q163_semdedup_multiprobe",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
        val corpus = emb.unionAll(
          emb.where(col("vec_id") % 50 === 0)
            .select((col("vec_id") + 100000).as("vec_id"),
              transform(col("embedding"), (x, i) =>
                when(i === 0, x + lit(0.5)).otherwise(x)).as("embedding")))
        // deterministic training shared per (session, dir) — the
        // trainedCells lifecycle; the gated surface here is the top-2
        // assignment + prune, which stay per-run
        val cents = Caches.memo[Seq[(Long, Array[Long])]](
            s, dir, "semdedup_cents_k4_u1") {
          graft.similarity.Clustering.lloydCentroids(corpus, k = 4,
            updates = 1)
        }
        val a2 = Caches.frame(s, dir, "semdedup_topm_assign",
          eager = true) {
          graft.similarity.Clustering.assignTopM(corpus, cents, m = 2)
        }
        val pruned = graft.similarity.Clustering
          .clusterPrune(corpus, a2)
          .select(col("vec_id"), col("keep")).distinct()
        a2.groupBy(col("vec_id"))
          .agg(max(when(col("rank") === 1, col("cluster"))).as("c1"),
            max(when(col("rank") === 2, col("cluster"))).as("c2"))
          .join(pruned, "vec_id")
          .orderBy(col("vec_id"))
      },
      Some {
        s"""$duckSemdedupSeeds,
           |${duckLloydStep("qd", 1)},
           |d2 AS (SELECT qd.vec_id AS vec_id, c.cid AS cid,
           |    sum((qd.v - c.v) * (qd.v - c.v)) AS dist
           |  FROM qd JOIN c1 c ON qd.d = c.d GROUP BY 1, 2),
           |rk AS (SELECT vec_id, cid, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dist * 1048576 + cid) AS rnk
           |  FROM d2),
           |m AS (SELECT vec_id, cid, rnk FROM rk WHERE rnk <= 2),
           |n2 AS (SELECT vec_id, sum(v * v) AS n2 FROM qd GROUP BY 1),
           |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id),
           |dots AS (SELECT c.id_a, c.id_b, sum(qa.v * qb.v) AS dot
           |  FROM cand c
           |  JOIN qd qa ON qa.vec_id = c.id_a
           |  JOIN qd qb ON qb.vec_id = c.id_b AND qa.d = qb.d
           |  GROUP BY 1, 2),
           |dup AS (SELECT DISTINCT d.id_b AS vec_id
           |  FROM dots d JOIN n2 na ON na.vec_id = d.id_a
           |  JOIN n2 nb ON nb.vec_id = d.id_b
           |  WHERE d.dot > 0 AND 25 * d.dot * d.dot >= 16 * na.n2 * nb.n2),
           |wide AS (SELECT vec_id,
           |    CAST(max(CASE WHEN rnk = 1 THEN cid END) AS BIGINT) AS c1,
           |    CAST(max(CASE WHEN rnk = 2 THEN cid END) AS BIGINT) AS c2
           |  FROM m GROUP BY vec_id)
           |SELECT w.vec_id, w.c1, w.c2, dup.vec_id IS NULL AS keep
           |FROM wide w LEFT JOIN dup USING (vec_id)
           |ORDER BY w.vec_id""".stripMargin
      }),

    // Clustering DIAGNOSTICS: per-cluster size, inertia (Σ dist², the
    // elbow-method input), and worst-member distance over q144's Lloyd
    // assignment — the model-QA rollup run before committing to a k.
    // Integer-exact (the assignment's dist2 is already integer), one
    // keyed aggregate over the assignment frame; the oracle extends
    // q144's unrolled CTEs with the same rollup.
    Q("q164_kmeans_diagnostics",
      (s, dir) =>
        graft.similarity.Clustering.lloyd(
            Tables.sharded(s, dir, "embeddings", "vec_id"),
            k = 4, rounds = 3, scale = 1000)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n"),
            sum(col("dist2")).as("inertia"),
            max(col("dist2")).as("worst_dist2"))
          .orderBy(col("cluster")),
      Some {
        s"""$duckLloydSeeds,
           |${duckLloydStep("qd", 1)},
           |${duckLloydStep("qd", 2)},
           |${duckLloydAssign("qd", 3)}
           |SELECT CAST(comb % 1048576 AS BIGINT) AS cluster,
           |  count(*) AS n,
           |  CAST(sum(comb // 1048576) AS BIGINT) AS inertia,
           |  CAST(max(comb // 1048576) AS BIGINT) AS worst_dist2
           |FROM a3 GROUP BY 1 ORDER BY cluster""".stripMargin
      }),

    // Baseline JPEG (ITU-T T.81, written from the spec — graft.ext.Jpeg)
    // through the distributed decode pipeline: per-channel pixel sums
    // over synthetic lossy-compressed payloads. Unlike the PNG/GIF
    // rows, JPEG quantization has no closed-form SQL oracle, so this is
    // rows-gated (the sketch-family precedent) and the cross-engine
    // check lives in JpegSpec: both-direction pixel agreement with the
    // JDK's independent ImageIO codec, restart-marker streams included.
    Q("q165_jpeg_decode",
      (s, dir) => {
        import s.implicits._
        val files = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map(d => graft.ext.MediaFile(d, "image/jpeg",
            graft.ext.Jpeg.syntheticJpeg(d)))
        graft.ext.Multimodal.jpegPixelStats(files).toDF()
          .orderBy(col("doc_id"))
      },
      None),

    // MP3 manifest extraction (graft.ext.Mp3 — MPEG-1 Layer III frame
    // walker from the public ISO 11172-3 frame grammar): the audio half
    // of metadata-grade curation over compressed formats — duration,
    // sample rate, channel count, VBR bitrate profile, ID3 tag census —
    // without PCM synthesis. Every header field of the synthetic stream
    // follows closed-form arithmetic in doc_id (Mp3Props proves ALL 840
    // envelope residues), so the oracle replays the full per-frame VBR
    // walk in SQL: a 12-row frame-index spine joined under i < n_frames,
    // the bitrate table as a CASE, and the exact integer frame-length
    // rule 144000·kbps/rate + padding.
    Q("q168_mp3_manifest",
      (s, dir) => {
        import s.implicits._
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map { d =>
            val m = graft.ext.Mp3.decodeMp3Meta(graft.ext.Mp3.syntheticMp3(d))
            (d, m.nFrames, m.sampleRate, m.channels, m.bitrateSumKbps,
              m.durationMs, if (m.hasId3v2) 1 else 0,
              if (m.hasId3v1) 1 else 0, m.byteLen)
          }
          .toDF("doc_id", "n_frames", "sample_rate", "channels",
            "bitrate_sum_kbps", "duration_ms", "has_id3v2", "has_id3v1",
            "byte_len")
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH f AS (SELECT d.doc_id, i.i FROM documents d
          |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),
          |    (10),(11)) AS i(i)
          |  WHERE i.i < 8 + d.doc_id % 5),
          |fr AS (SELECT doc_id, i,
          |  CASE 1 + (doc_id + i) % 14
          |    WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 WHEN 4 THEN 56
          |    WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
          |    WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
          |    WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps,
          |  CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
          |    ELSE 32000 END AS rate,
          |  (doc_id + i) % 2 AS pad FROM f)
          |SELECT doc_id,
          |  CAST(8 + doc_id % 5 AS INT) AS n_frames,
          |  CAST(max(rate) AS INT) AS sample_rate,
          |  CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS INT)
          |    AS channels,
          |  CAST(sum(kbps) AS BIGINT) AS bitrate_sum_kbps,
          |  CAST((8 + doc_id % 5) * 1152 * 1000 // max(rate) AS BIGINT)
          |    AS duration_ms,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS has_id3v2,
          |  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS has_id3v1,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 42 + doc_id % 64 ELSE 0 END
          |    + sum(144000 * kbps // rate + pad)
          |    + CASE WHEN doc_id % 3 = 0 THEN 128 ELSE 0 END AS INT)
          |    AS byte_len
          |FROM fr GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // MP3 SIDE-INFORMATION extraction (graft.ext.Mp3.decodeSideInfos —
    // the ISO 11172-3 §2.4.1.7 bit-packed control block behind each
    // frame header): the layer between q168's frame manifest and full
    // PCM synthesis, and the one that yields real audio-curation
    // signals with no psychoacoustic tables — bit-reservoir usage
    // (main_data_begin), per-granule audio bit budget (part2_3_length),
    // SHORT-BLOCK density (transient content), gain profile. Payloads
    // come from Mp3.syntheticMp3SideInfo, whose every side-info field
    // is closed-form in (doc_id, frame, granule, channel) — the oracle
    // replays the formulas over a doc × frame × granule × channel
    // spine, so a single-bit parser offset error anywhere in the
    // 136/256-bit layout scrambles the aggregates and breaks the hash.
    // (Full PCM synthesis is formally out of scope — no independent
    // in-container codec exists to pin it against; see Mp3's scaladoc.)
    Q("q202_mp3_sideinfo",
      (s, dir) => {
        import s.implicits._
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map { d =>
            val sis = graft.ext.Mp3.decodeSideInfos(
              graft.ext.Mp3.syntheticMp3SideInfo(d))
            val grs = sis.flatMap(_.granules)
            (d, sis.length, grs.length,
              grs.map(_.part23Length.toLong).sum,
              grs.map(_.bigValues.toLong).sum,
              grs.map(_.globalGain.toLong).sum,
              grs.count(_.windowSwitching).toLong,
              grs.count(gc => gc.windowSwitching && gc.blockType == 2).toLong,
              sis.count(si => si.frame > 0 && si.mainDataBegin > 0).toLong,
              sis.map(_.scfsi.map(_.toLong).sum).sum)
          }
          .toDF("doc_id", "n_frames", "n_grch", "sum_part23",
            "sum_big_values", "sum_global_gain", "n_switching", "n_short",
            "n_reservoir", "sum_scfsi")
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH s AS (
          |  SELECT d.doc_id AS d, f.f, g.g, c.c,
          |    d.doc_id * 131 + f.f * 17 + g.g * 7 + c.c * 3 AS k
          |  FROM documents d
          |  CROSS JOIN (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8),(9),
          |    (10),(11)) AS f(f)
          |  CROSS JOIN (VALUES (0),(1)) AS g(g)
          |  CROSS JOIN (VALUES (0),(1)) AS c(c)
          |  WHERE f.f < 8 + d.doc_id % 5
          |    AND c.c < CASE WHEN d.doc_id % 4 = 3 THEN 1 ELSE 2 END)
          |SELECT d AS doc_id,
          |  CAST(8 + d % 5 AS INT) AS n_frames,
          |  CAST(count(*) AS INT) AS n_grch,
          |  CAST(sum((k * 5 + 11) % 3000) AS BIGINT) AS sum_part23,
          |  CAST(sum((k * 3 + 1) % 289) AS BIGINT) AS sum_big_values,
          |  CAST(sum((k + 7) % 256) AS BIGINT) AS sum_global_gain,
          |  CAST(sum(CASE WHEN (d + f + g + c) % 3 = 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_switching,
          |  CAST(sum(CASE WHEN (d + f + g + c) % 3 = 0
          |    AND 1 + (d + f) % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_short,
          |  CAST(sum(CASE WHEN g = 0 AND c = 0 AND f > 0
          |    AND (d * 7 + f) % 512 > 0 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_reservoir,
          |  CAST(sum(CASE WHEN g = 0 THEN (d + c) % 16 ELSE 0 END)
          |    AS BIGINT) AS sum_scfsi
          |FROM s GROUP BY d ORDER BY doc_id""".stripMargin)),

    // Incremental IVF index maintenance (Clustering.lloydCentroids +
    // Clustering.assign): the ANN twin of q143/q145's delta-vs-history
    // dedup and q192's mergeable partials — a 10% DELTA batch
    // (vec_id % 10 = 7) lands in an index TRAINED ONLY ON HISTORY by
    // pure assignment (one codegen'd map stage against the frozen k×d
    // centroid literal; no training pass re-reads history), exactly how
    // a production IVF serves inserts between retrains. Output is the
    // maintenance dashboard: per-cell history/delta occupancy, summed
    // quantized assignment error for each population, and the RETRAIN
    // trigger — delta mean dist2 > 2× history mean dist2, evaluated by
    // integer cross-multiplication in DECIMAL/HUGEINT so both engines
    // decide every cell exactly (a cell no delta reaches stays false;
    // so does the degenerate all-delta cell — by convention drift is
    // measured against in-cell history). Everything downstream of the
    // integer-exact Lloyd arithmetic, so the oracle replays training on
    // the filtered history, frozen assignment of the full corpus, and
    // the trigger bit-for-bit.
    Q("q203_ivf_delta_assign",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
        val hist = emb.where(pmod(col("vec_id"), lit(10)) =!= 7)
        val delta = emb.where(pmod(col("vec_id"), lit(10)) === 7)
        val cents = graft.similarity.Clustering
          .lloydCentroids(hist, k = 4, updates = 2)
        // widen INSIDE the aggregate (r17 advisor): a BIGINT sum can
        // silently wrap on a large population before the post-hoc
        // decimal cast sees it; the trigger compares the exact decimal
        // sums, the dump columns keep their BIGINT contract
        val gH = graft.similarity.Clustering.assign(hist, cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_hist"),
            sum(col("dist2").cast("decimal(38,0)")).as("dist2_hist"))
        val gD = graft.similarity.Clustering.assign(delta, cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_delta"),
            sum(col("dist2").cast("decimal(38,0)")).as("dist2_delta"))
        gH.join(gD, Seq("cluster"), "full_outer")
          .select(col("cluster"),
            coalesce(col("n_hist"), lit(0L)).as("n_hist"),
            coalesce(col("dist2_hist"), lit(0L).cast("decimal(38,0)"))
              .as("dist2_hist"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"),
            coalesce(col("dist2_delta"), lit(0L).cast("decimal(38,0)"))
              .as("dist2_delta"))
          .withColumn("retrain",
            col("dist2_delta") * col("n_hist") >
              col("dist2_hist") * col("n_delta") * lit(2))
          .select(col("cluster"), col("n_hist"),
            col("dist2_hist").cast("bigint").as("dist2_hist"),
            col("n_delta"),
            col("dist2_delta").cast("bigint").as("dist2_delta"),
            col("retrain"))
          .orderBy(col("cluster"))
      },
      Some {
        s"""$duckHistCentroids,
           |df AS (SELECT qd.vec_id AS vec_id, c.cid AS cid,
           |    sum((qd.v - c.v) * (qd.v - c.v)) AS dist
           |  FROM qd JOIN c2 c ON qd.d = c.d GROUP BY 1, 2),
           |af AS (SELECT vec_id, min(dist * 1048576 + cid) AS comb
           |  FROM df GROUP BY 1),
           |fa AS (SELECT vec_id, comb % 1048576 AS cluster,
           |    comb // 1048576 AS dist2, vec_id % 10 = 7 AS is_delta
           |  FROM af)
           |SELECT CAST(cluster AS BIGINT) AS cluster,
           |  CAST(sum(CASE WHEN is_delta THEN 0 ELSE 1 END) AS BIGINT)
           |    AS n_hist,
           |  CAST(sum(CASE WHEN is_delta THEN 0 ELSE dist2 END) AS BIGINT)
           |    AS dist2_hist,
           |  CAST(sum(CASE WHEN is_delta THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_delta,
           |  CAST(sum(CASE WHEN is_delta THEN dist2 ELSE 0 END) AS BIGINT)
           |    AS dist2_delta,
           |  (sum(CASE WHEN is_delta THEN dist2 ELSE 0 END)
           |     * sum(CASE WHEN is_delta THEN 0 ELSE 1 END)
           |   > 2 * sum(CASE WHEN is_delta THEN 0 ELSE dist2 END)
           |     * sum(CASE WHEN is_delta THEN 1 ELSE 0 END)) AS retrain
           |FROM fa GROUP BY cluster ORDER BY cluster""".stripMargin
      }),

    // ACTING on the retrain trigger (graft.similarity.Retrain) — q203
    // computes the integer-exact drift trigger; this query CONSUMES it
    // (r16 verdict next-round #3): the %10==7 ingest slice arrives
    // DRIFTED (each coordinate affinely transformed, x·3 + 0.5 — the
    // planted drift that makes the fire path exercisable on this
    // isotropic corpus, where no natural slice trips the 2× mean-error
    // predicate; the transform is replayed VERBATIM in the oracle), the
    // hist-trained k=4 monitor fires cell-locally (measured ~25× the
    // history's mean quantized error at every scale), and the engine
    // runs the full consequence: quantizer retrained from scratch on
    // the full drifted corpus, every vector re-encoded, serving swapped
    // only after the successor artifacts are complete (maybeSwap
    // returns the old epoch VERBATIM until then — RetrainSpec pins the
    // no-fire path). The oracle is DuckDB training from scratch on the
    // same drifted corpus: the swapped-in index must be
    // indistinguishable from a cold build — and had the trigger NOT
    // fired, the stale hist-trained epoch would hash-differ, so the
    // fire decision itself sits under the gate. The epoch counter rides
    // as a column (1 = exactly one swap).
    Q("q222_retrain_epoch_swap",
      (s, dir) => {
        import s.implicits._
        val emb = embFrame(s, dir)
        val drifted = Caches.frame(s, dir, "driftedEmb", eager = true) {
          emb.select(col("vec_id"),
            when(pmod(col("vec_id"), lit(10)) === 7,
              transform(col("e"), x => x * lit(3.0) + lit(0.5)))
            .otherwise(col("e")).as("e"))
        }
        val hist = drifted.where(pmod(col("vec_id"), lit(10)) =!= 7)
        val delta = drifted.where(pmod(col("vec_id"), lit(10)) === 7)
        // the OLD epoch + monitor baseline are the STANDING state a
        // serving system holds when the drift check runs — deterministic
        // training shared per (session, dir) exactly like trainedCells
        // (the q65 lifecycle); the swap's from-scratch retrain inside
        // maybeSwap stays per-run, which is the thing this query gates
        val histCents = Caches.memo[Array[(Int, Array[Double])]](
            s, dir, "cells/histCents_k8_i2_drift7") {
          graft.similarity.Similarity.trainCells(hist, k = 8, iters = 2)
        }
        val old = graft.similarity.Retrain.IvfEpoch(0L, histCents,
          Caches.frame(s, dir, "epoch0Postings_drift7", eager = true) {
            graft.similarity.Similarity.assignCells(drifted, histCents)
              .select(col("vec_id"), col("cell"), col("e"))
          })
        val monitor = Caches.memo[Seq[(Long, Array[Long])]](
            s, dir, "monitorBase_k4_u2_drift7") {
          graft.similarity.Clustering
            .lloydCentroids(hist, vecCol = "e", k = 4, updates = 2)
        }
        val serving = graft.similarity.Retrain.maybeSwap(old, drifted,
          hist, delta, monitor, k = 8, iters = 2, monitorVecCol = "e")
        graft.similarity.Similarity
          .ivfTombstoneTopK(serving.postings, serving.cents,
            Seq.empty[Long].toDF("vec_id"), k = 3, probes = 3)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
            lit(serving.epoch).as("epoch"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(duckDriftedRank + """
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // ONLINE epoch swap (graft.streaming.StreamingIvfRetrain) — q222's
    // retrain consumer wired INTO the mixed maintenance stream (r17
    // verdict next-round #3): serving starts on the HIST-trained epoch
    // 0 with only the history encoded; the drifted %10==7 slice (q222's
    // planted x·3+0.5 transform) arrives as a stream of ADDS and fires
    // the k-row integer monitor on its first fold; the swap runs at the
    // fold boundary — successor quantizer trained from scratch over the
    // retained corpus (= the full drifted corpus at that moment),
    // everything re-encoded, epoch 1. A LATER fold then takes down the
    // vec_id % 20 == 7 half under the NEW epoch (maintenance continues
    // across the swap). The oracle is DuckDB training from scratch on
    // the full drifted corpus — the corpus at fire time — and serving
    // only the retained vectors: had the monitor not fired, the stale
    // hist-trained epoch would hash-differ; had the takedown not folded
    // post-swap, the removed half would still serve. Epoch rides as a
    // column (1 = exactly one swap — the baseline reset after the swap
    // keeps the same drift from re-firing).
    Q("q223_streaming_epoch_swap",
      (s, dir) => {
        import s.implicits._
        val drifted = Caches.frame(s, dir, "driftedEmb", eager = true) {
          embFrame(s, dir).select(col("vec_id"),
            when(pmod(col("vec_id"), lit(10)) === 7,
              transform(col("e"), x => x * lit(3.0) + lit(0.5)))
            .otherwise(col("e")).as("e"))
        }
        val hist = drifted.where(pmod(col("vec_id"), lit(10)) =!= 7)
        // the SAME standing pre-stream state as q222 (shared cache keys
        // — one deterministic training per session, the trainedCells
        // lifecycle); the in-stream monitor folds, swap retrain, and
        // takedown fold stay per-run — they are what this query gates
        val histCents = Caches.memo[Array[(Int, Array[Double])]](
            s, dir, "cells/histCents_k8_i2_drift7") {
          graft.similarity.Similarity.trainCells(hist, k = 8, iters = 2)
        }
        val monitor = Caches.memo[Seq[(Long, Array[Long])]](
            s, dir, "monitorBase_k4_u2_drift7") {
          graft.similarity.Clustering
            .lloydCentroids(hist, vecCol = "e", k = 4, updates = 2)
        }
        val initial = Caches.frame(s, dir, "epoch0HistAssign_drift7",
            eager = true) {
          graft.similarity.Similarity
            .assignCells(hist, histCents)
            .select(col("vec_id"), col("cell"), col("e"))
        }
        val staging =
          AnalyticsQueries.tempDirCleanedOnExit("graft_ivfrt_").toString
        // fold 0: the drifted adds (fires → swap); fold 1: the takedown
        // (post-swap maintenance) — two files in write order
        drifted.where(pmod(col("vec_id"), lit(10)) === 7)
          .select(lit("add").as("op"), col("vec_id"), col("e"))
          .repartition(1)
          .write.mode("append").parquet(s"$staging/ops")
        drifted.where(pmod(col("vec_id"), lit(20)) === 7)
          .select(lit("rm").as("op"), col("vec_id"),
            lit(null).cast("array<double>").as("e"))
          .repartition(1)
          .write.mode("append").parquet(s"$staging/ops")
        val served = graft.streaming.StreamingIvfRetrain.maintain(
          s.readStream
            .schema("op STRING, vec_id BIGINT, e ARRAY<DOUBLE>")
            .option("maxFilesPerTrigger", "1").parquet(s"$staging/ops"),
          initial, histCents, monitor, k = 8, iters = 2,
          checkpoint = s"$staging/_ckpt")
        graft.similarity.Similarity
          .ivfTombstoneTopK(served.postings, served.cents,
            Seq.empty[Long].toDF("vec_id"), k = 3, probes = 3)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"),
            lit(served.epoch).as("epoch"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(duckDriftedRank + """
          |  WHERE q.vec_id % 20 <> 7 AND b.vec_id % 20 <> 7
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // H.264 manifest extraction (graft.ext.H264 — Annex-B NAL walker +
    // Exp-Golomb SPS parser from the public ITU-T H.264 spec): the video
    // half of metadata-grade curation — crop-adjusted resolution,
    // profile/level, GOP shape (IDR density), slice/SEI census, and the
    // emulation-prevention byte count (nonzero on every even doc, so the
    // un-escaping path is provably load-bearing in the oracle gate, not
    // dead code). H264Props proves all 840 envelope residues, so the
    // oracle is pure closed-form arithmetic over doc_id.
    Q("q169_h264_manifest",
      (s, dir) => {
        import s.implicits._
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id")).as[Long]
          .map { d =>
            val m =
              graft.ext.H264.decodeH264Meta(graft.ext.H264.syntheticH264(d))
            (d, m.width, m.height, m.profileIdc, m.levelIdc, m.nNal,
              m.nIdr, m.nSlices, m.nSei, m.nPps, m.nEpb)
          }
          .toDF("doc_id", "width", "height", "profile_idc", "level_idc",
            "n_nal", "n_idr", "n_slices", "n_sei", "n_pps", "n_epb")
          .orderBy(col("doc_id"))
      },
      Some(
        """SELECT doc_id,
          |  CAST(16 * (2 + doc_id % 6)
          |    - CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS INT) AS width,
          |  CAST(16 * (2 + doc_id % 4)
          |    - CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 0 END AS INT)
          |    AS height,
          |  CAST(66 + (doc_id % 2) * 11 AS INT) AS profile_idc,
          |  CAST(30 + doc_id % 3 AS INT) AS level_idc,
          |  CAST(2 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
          |    + (2 + doc_id % 3) * (2 + doc_id % 4) AS INT) AS n_nal,
          |  CAST(2 + doc_id % 3 AS INT) AS n_idr,
          |  CAST((2 + doc_id % 3) * (2 + doc_id % 4) AS INT) AS n_slices,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
          |    AS n_sei,
          |  CAST(1 AS INT) AS n_pps,
          |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3 ELSE 0 END
          |    AS INT) AS n_epb
          |FROM documents ORDER BY doc_id""".stripMargin))
  )
}
