package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection at training-pipeline scale (SURVEY §7.6):
  * n-gram Jaccard (exact verify), MinHash signatures + LSH banding (the
  * 100 TB candidate-generation path), SimHash fingerprints, and brute-force
  * embedding similarity pairs. All hashing is engine-portable integer
  * arithmetic (or md5 where a digest is genuinely needed) so the DuckDB
  * oracle reproduces every value bit-for-bit.
  *
  * Scale design: the gram→pair self-join (q26) is quadratic in hot shingles
  * and exists as the exact baseline; the production path is q27/q28 —
  * signatures are fixed-size (K longs per doc), banding turns
  * similarity search into an equi-join on (band, band_key), and the exact
  * Jaccard verify runs only on LSH candidates.
  */
object DedupQueries {

  private val K = 12 // minhash functions
  private val RowsPerBand = 3 // → 4 bands
  private[queries] val DupK = 40 // exact-substring gram length (chars, normalized)

  /** Positional char-40-gram hash table for q74, cached — it sits on both
    * sides of the gram-frequency join (the duplicated-hash set and the
    * positions it selects), and without the barrier the O(n) rolling-hash
    * pass and the explode re-run per consumer. */
  private def dupGramPos(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "dupgrams") {
      graft.dedup.Dedup.gramPositions(
        Tables.sharded(s, dir, "documents", "doc_id"), k = DupK)
    }

  /** q74's per-document span result, cached — q86's report card
    * re-aggregates it by source, so the frequency join + span window run
    * once per (session, dir). */
  private def dupSpansFrame(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "dupspans") {
      graft.dedup.Dedup.dupSpans(
        dupGramPos(s, dir), Tables(s, dir, "documents"), k = DupK)
    }

  /** Shared oracle prefix for q74/q81 (and q112's streaming twin):
    * normalized text → positional char-40-gram packed double hashes
    * (GramHashes' 62-bit scheme) as CTE `p(doc_id, pos, hv)` (+
    * `hs(doc_id, n_norm, h)` for lengths). NOTE `pos` here is 1-based
    * (generate_series) while the engine's gramPositions is 0-based
    * (posexplode); q74 only consumes gaps so the offset cancels, but a
    * positional consumer must subtract 1. */
  private[queries] lazy val duckDupGrams: String = {
    val hash = graft.functions.GramHashes
      .duckGramHashWide("norm", "i", DupK)
    s"""WITH nrm AS (SELECT doc_id,
      |    regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS norm
      |  FROM documents),
      |hs AS (SELECT doc_id, len(norm) AS n_norm,
      |    CASE WHEN len(norm) >= $DupK
      |      THEN list_transform(generate_series(1, len(norm) - ${DupK - 1}),
      |           i -> $hash)
      |      ELSE [] END AS h
      |  FROM nrm),
      |p AS (SELECT doc_id, unnest(generate_series(1, len(h))) AS pos,
      |             unnest(h) AS hv FROM hs)""".stripMargin
  }

  /** Distinct word 3-gram shingles per document. Cached: every dedup query
    * reuses it on both sides of a self-join, and without the barrier
    * Catalyst inlines the whole tokenize+shingle tree into each consumer
    * (including the explode's size filter), re-evaluating it several times
    * per row. At cluster scale this intermediate is exactly what you would
    * persist/checkpoint before the pair phase. */
  private[queries] def grams(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "grams") {
      graft.dedup.Dedup.shingles(Tables.sharded(s, dir, "documents", "doc_id"))
    }

  private def gramRows(s: SparkSession, dir: String): DataFrame =
    grams(s, dir).select(col("doc_id"), explode(col("grams")).as("gram"))

  /** Exploded word-8-gram rows for the decontamination family (q71/q77).
    * Cached like grams(): without the barrier CollapseProject inlines the
    * tokenize tree into every element_at of the 8-gram lambda — ~900
    * full-text re-tokenizations per document (measured 52 s at sf0.1;
    * 1.2 s cached). */
  private def gram8Rows(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "grams8") {
      graft.dedup.Dedup.shingles(
        Tables.sharded(s, dir, "documents", "doc_id"), n = 8)
    }.select(col("doc_id"), explode(col("grams")).as("gram"))

  /** Shared oracle prefix: tokenize → distinct 3-gram shingles → exploded. */
  private[queries] val duckGrams: String =
    """WITH d AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
      |  THEN list_transform(generate_series(1, len(toks)-2),
      |       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |  ELSE [] END) AS grams FROM d),
      |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
      |sizes AS (SELECT doc_id, len(grams) AS n FROM g)""".stripMargin

  /** LSH band keys per document, computed DOCUMENT-LOCALLY: integer
    * minwise signature ([[graft.functions.MinHashSlots]] — one polynomial
    * double-hash per shingle, K universal mixes, all engine-portable
    * BIGINT arithmetic); band key = the band's slot slice as a
    * comma-joined integer string. The whole sketch is one fused native
    * pass over the cached shingle table — no explode, no per-(doc, i)
    * shuffle: at 100 TB the signature pass is embarrassingly parallel and
    * only the K-long signatures ever reach an exchange (via the
    * band-bucket join in q28). */
  private def bandsDf(s: SparkSession, dir: String): DataFrame =
    // Library core: graft.dedup.Dedup.minhashBands. Cached: the
    // band table sits on both sides of the bucket self-join in q28, and
    // q55/q59 reuse it for cluster edges.
    Caches.frame(s, dir, "bands") {
      graft.dedup.Dedup.minhashBands(grams(s, dir), k = K,
        rowsPerBand = RowsPerBand)
    }

  /** [[clusterEdges]] MATERIALIZED once per (session, dir) — for
    * consumers that scan the edge set repeatedly (q215's takedown
    * maintainer joins it against the repair set twice per micro-batch
    * fold; q213's retraction twice per run): they reuse the persisted
    * rows instead of re-running the LSH candidate+verify lineage on
    * every scan. Single-scan consumers keep calling [[clusterEdges]]
    * directly — no reason to pin a cache for one pass. */
  private[queries] def clusterEdgesFrame(s: SparkSession,
      dir: String): DataFrame =
    Caches.frame(s, dir, "clusterEdgesF")(clusterEdges(s, dir))

  /** The connected-components cluster map (q55's output frame: doc_id →
    * cluster_id), cached once per (session, dir): q55 presents it, q59's
    * canonical-doc gate filters it — the label-propagation rounds run
    * once, not per consumer. clusters() already localCheckpoints its
    * result, so the cache pins a flat frame, not the loop lineage. */
  private[queries] def clustersFrame(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "clusters") {
      graft.dedup.Dedup.clusters(
        Tables(s, dir, "documents").select(col("doc_id")),
        clusterEdges(s, dir))
    }

  /** LSH band-key collision candidate pairs `(id_a, id_b)` — the scale
    * candidate source shared beyond this module: q64's winnowing detector
    * unions these with its fingerprint-collision candidates so >DF-cap
    * near-dup cliques (whose every shared fingerprint is capped away)
    * still reach the verify stage. */
  def lshCandidatePairs(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.lshCandidates(bandsDf(s, dir))

  /** DuckDB replica of [[graft.similarity.Similarity.hyperplaneBucket]]
    * (dim=64, planes=8) over the embeddings table, as CTEs `emb(vec_id, e)`
    * and `bucketed(vec_id, e, bucket)` — shared by q37's in-bucket ANN and
    * q124's per-bucket diversity cap. */
  private[queries] val duckHyperplaneBuckets: String =
    """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |bucketed AS (
      |  SELECT vec_id, e,
      |    concat(
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((0*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((1*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((2*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((3*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((4*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((5*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((6*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END,
      |      CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * CAST((((7*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), 'sum') >= 0 THEN '1' ELSE '0' END
      |    ) AS bucket
      |  FROM emb)""".stripMargin

  private[queries] val duckMinhash: String = {
    val (h1, h2) = graft.functions.MinHashSlots.duckHashPair("gram")
    val slot = graft.functions.MinHashSlots.duckSlotValue("h1", "h2", "i")
    duckGrams + s""",
      |hh AS (SELECT doc_id, $h1 AS h1, $h2 AS h2 FROM e),
      |hs AS (SELECT unnest(generate_series(1, $K)) AS i),
      |eh AS (SELECT doc_id, i, min($slot) AS h
      |       FROM hh CROSS JOIN hs GROUP BY doc_id, i),
      |bands AS (SELECT doc_id, (i-1)//$RowsPerBand AS band,
      |                 string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
      |          FROM eh GROUP BY doc_id, (i-1)//$RowsPerBand)""".stripMargin
  }

  /** Near-dup cluster edges from the SCALE path: LSH band-key candidates
    * (a fixed-fan-out equi-join on the sketch keys) verified with exact
    * Jaccard at the ≥0.5 threshold — never the uncapped gram self-join
    * (q26), whose hot-shingle fan-out is quadratic. The DuckDB oracle
    * ([[duckLshEdges]]) replays the SAME candidate generation, so the
    * cluster check is exact at any scale — it does not depend on the band
    * configuration's recall being complete (at sf0.1 one true pair misses
    * all 4 bands, which an exact-edge oracle would flag as a failure of a
    * correct LSH implementation). DetectorAgreementSpec separately pins
    * all four detector families to the planted pairs, and PlanAuditSpec
    * asserts every gram-keyed join in this plan is candidate-driven. */
  def clusterEdges(s: SparkSession, dir: String): DataFrame = {
    val bands = bandsDf(s, dir)
    graft.dedup.Dedup
      .jaccardVerify(graft.dedup.Dedup.lshCandidates(bands), grams(s, dir))
      .where(col("jaccard") >= 0.5)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
  }

  /** q206/q207's history membership rule: the 90% of docs with
    * doc_id % 10 != 0 are the already-clustered HISTORY; pairs touching
    * the rest are the delta batch. */
  private[queries] def isHistDoc(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = c % 10 =!= 0

  /** The standing cluster-map artifact the incremental-CC family folds
    * into: CC over the history slice of [[clusterEdges]], cached per
    * (session, dir) — exactly the thing a production pipeline persists
    * between ingest batches, and the frame q206 (batch fold) and q207
    * (streamed fold) share instead of each re-solving history
    * (eager: the CC loop's driver-side rounds must not run lazily
    * inside two consumers at once). */
  private[queries] def histLabelsFrame(s: SparkSession,
      dir: String): DataFrame =
    Caches.frame(s, dir, "histcc", eager = true) {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      graft.analytics.Graphs.connectedComponents(
        docs.where(isHistDoc(col("doc_id"))),
        clusterEdges(s, dir)
          .where(isHistDoc(col("doc_a")) && isHistDoc(col("doc_b"))))
    }

  /** Oracle fragment mirroring [[clusterEdges]]: band-key collision
    * candidates (from [[duckMinhash]] — all md5, engine-portable) verified
    * with exact Jaccard at ≥0.5, as CTE `jp`. */
  private[queries] def duckLshEdges: String = duckMinhash + """,
    |cand AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
    |         FROM bands x JOIN bands y ON x.band = y.band
    |           AND x.band_key = y.band_key AND x.doc_id < y.doc_id
    |         GROUP BY 1, 2),
    |pairs AS (SELECT c.doc_a, c.doc_b, count(*) AS common
    |          FROM cand c
    |          JOIN e a ON c.doc_a = a.doc_id
    |          JOIN e b ON c.doc_b = b.doc_id AND a.gram = b.gram
    |          GROUP BY 1, 2),
    |jp AS (SELECT doc_a, doc_b FROM pairs
    |       JOIN sizes sa ON doc_a = sa.doc_id
    |       JOIN sizes sb ON doc_b = sb.doc_id
    |       WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5)""".stripMargin

  /** Oracle prefix of the LSH candidate set: [[duckMinhash]] plus every
    * band-key collision pair as CTE `cands(doc_a, doc_b)`, doc_a < doc_b. */
  private[queries] lazy val duckBandCands: String = duckMinhash + """,
    |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    |          FROM bands x JOIN bands y
    |            ON x.band = y.band AND x.band_key = y.band_key
    |           AND x.doc_id < y.doc_id)""".stripMargin

  /** [[duckBandCands]] plus every pair's shared-gram count as CTE
    * `common(doc_a, doc_b, common)` — q28's candidate + verify input. */
  private lazy val duckBandCommon: String = duckBandCands + """,
    |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
    |           FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
    |           GROUP BY 1, 2)""".stripMargin

  /** [[duckBandCommon]] plus the candidates verified at Jaccard >= 0.5 as
    * CTE `cte(doc_a, doc_b, jaccard)` — the verified LSH pairs of q80, q82
    * and q102. */
  private def duckBandJaccard(cte: String): String = duckBandCommon + s""",
    |$cte AS (SELECT c.doc_a, c.doc_b,
    |    CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
    |  FROM cands c
    |  JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
    |  JOIN sizes sa ON c.doc_a = sa.doc_id
    |  JOIN sizes sb ON c.doc_b = sb.doc_id
    |  WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5)""".stripMargin

  /** The closure `reach(s, t)` of an undirected edge CTE `und(s, t)`: the
    * recursive-CTE connected components every cluster-map oracle runs
    * (the query must open WITH RECURSIVE). */
  private[queries] val duckReach: String =
    """reach AS (SELECT s, t FROM und
      |          UNION
      |          SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s
      |          WHERE u.t <> r.s)""".stripMargin

  /** Oracle prefix of q55's cluster map: [[duckLshEdges]] under WITH
    * RECURSIVE and the [[duckReach]] closure of its edges `jp`. */
  private[queries] lazy val duckClusterReach: String =
    duckLshEdges.replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
      |und AS (SELECT doc_a AS s, doc_b AS t FROM jp
      |        UNION ALL SELECT doc_b, doc_a FROM jp),
      |$duckReach""".stripMargin

  /** q55's oracle: every document's cluster id, the min doc_id of its
    * component — the ground truth of q55, q171, q206 and q207. */
  private[queries] lazy val duckClusters: String = duckClusterReach + """
    |SELECT d.doc_id,
    |  least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS cluster_id
    |FROM documents d LEFT JOIN reach r ON d.doc_id = r.s
    |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** q213's oracle: the cluster map recomputed over the retained graph,
    * the doc_id % 10 == 3 takedown slice removed from both edge endpoints
    * and the doc set — the ground truth of q213, q215 and q216. */
  private[queries] lazy val duckRetainedClusters: String =
    duckLshEdges.replaceFirst("WITH ", "WITH RECURSIVE ") + s""",
      |jpr AS (SELECT doc_a, doc_b FROM jp
      |        WHERE doc_a % 10 <> 3 AND doc_b % 10 <> 3),
      |und AS (SELECT doc_a AS s, doc_b AS t FROM jpr
      |        UNION ALL SELECT doc_b, doc_a FROM jpr),
      |$duckReach
      |SELECT d.doc_id,
      |  least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS cluster_id
      |FROM documents d LEFT JOIN reach r ON d.doc_id = r.s
      |WHERE d.doc_id % 10 <> 3
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** q209's oracle: each doc_id % 10 == 0 probe's history documents that
    * contain at least 4/5 of its grams — the ground truth of q209 and
    * q211. */
  private[queries] lazy val duckContainment: String = duckGrams + """,
    |co AS (SELECT a.doc_id AS probe_id, b.doc_id AS doc_id,
    |    count(*) AS common
    |  FROM e a JOIN e b ON a.gram = b.gram
    |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    |  GROUP BY 1, 2)
    |SELECT probe_id, co.doc_id AS doc_id,
    |  CAST(common AS INT) AS common,
    |  round(common * 1.0 / sa.n, 6) AS containment
    |FROM co
    |JOIN sizes sa ON probe_id = sa.doc_id
    |WHERE 5 * common >= 4 * sa.n
    |ORDER BY probe_id, co.doc_id""".stripMargin

  /** q71's oracle: per non-benchmark document, the number of its distinct
    * word 8-grams that occur in the doc_id % 10 == 7 benchmark slice — the
    * ground truth of q71 and q77. */
  private lazy val duckDecontam: String =
    """WITH d AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                t -> len(t) > 0) AS toks
      |  FROM documents),
      |g AS (SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(toks) >= 8
      |      THEN list_transform(generate_series(1, len(toks) - 7),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
      |          || toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5]
      |          || ' ' || toks[i+6] || ' ' || toks[i+7])
      |      ELSE [] END)) AS gram
      |  FROM d),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 10 = 7)
      |SELECT g.doc_id, count(*) AS n_hits
      |FROM g JOIN bench USING (gram)
      |WHERE g.doc_id % 10 <> 7
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** Oracle prefix of q30/q44: the 16-bit SimHash votes per document as
    * CTE `votes(doc_id, j, v)`, one md5 nibble per token and bit. */
  private lazy val duckSimhashVotes: String =
    """WITH d AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> len(t) > 0) AS toks
      |  FROM documents),
      |toksd AS (SELECT DISTINCT doc_id, unnest(toks) AS tok FROM d),
      |js AS (SELECT unnest(generate_series(1, 16)) AS j),
      |votes AS (SELECT doc_id, j,
      |  sum(CASE WHEN substr(md5(tok), j, 1) IN ('8','9','a','b','c','d','e','f')
      |           THEN 1 ELSE -1 END) AS v
      |  FROM toksd CROSS JOIN js GROUP BY doc_id, j)""".stripMargin

  /** Oracle prefix of q143's recurring-crawl dedup: the history digests
    * `hist(k)` (doc_id % 10 < 8), the delta batch (the doc_id % 10 >= 8
    * tail plus re-ingested copies under +100000 and +200000) and its
    * digests `dk(doc_id, k)` (q143, q145). */
  private[queries] lazy val duckDeltaDigests: String =
    """WITH hist AS (SELECT DISTINCT
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS k
      |  FROM documents WHERE doc_id % 10 < 8),
      |delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
      |  UNION ALL SELECT doc_id + 100000, text FROM documents
      |    WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 200000, text FROM documents
      |    WHERE doc_id % 10 = 8),
      |dk AS (SELECT doc_id,
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS k
      |  FROM delta)""".stripMargin

  val all: Seq[Q] = Seq(
    // Exact n-gram Jaccard near-dup pairs (threshold 0.5) — the baseline
    // the LSH path is verified against.
    Q("q26_jaccard_pairs",
      (s, dir) => {
        val e = gramRows(s, dir)
        val sizes = grams(s, dir).select(col("doc_id"), size(col("grams")).as("n"))
        val pairs = e.as("a")
          .join(e.as("b"),
            col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("common"))
        pairs
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("common"),
            (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
          .where(col("jaccard") >= 0.5)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckGrams + """,
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |          FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b, common,
        |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Document-frequency-capped Jaccard: shingles occurring in more than
    // DF_CAP docs are dropped before the pair join (the standard
    // stop-shingle trick — hot shingles are what make the naive pair join
    // quadratic; the cap bounds each shingle's pair fan-out). Oracle
    // applies the same cap, so results stay bit-comparable.
    Q("q41_jaccard_dfcap",
      (s, dir) => {
        val DfCap = 10
        val e = gramRows(s, dir)
        val rare = e.groupBy(col("gram"))
          .agg(count(lit(1)).as("df")).where(col("df") <= DfCap)
          .select(col("gram"))
        // cache: er feeds sizes and BOTH sides of the pair join — without
        // the barrier the DF aggregation + join runs three times
        val er = e.join(rare, "gram").cache()
        val sizes = er.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
        val pairs = er.as("a")
          .join(er.as("b"),
            col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("common"))
        pairs
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"),
            (col("common") / (col("na") + col("nb") - col("common"))).as("jaccard"))
          .where(col("jaccard") >= 0.5)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckGrams + """,
        |rare AS (SELECT gram FROM e GROUP BY gram HAVING count(*) <= 10),
        |er AS (SELECT e.doc_id, e.gram FROM e JOIN rare USING (gram)),
        |rsizes AS (SELECT doc_id, count(*) AS n FROM er GROUP BY doc_id),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |          FROM er a JOIN er b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |FROM pairs
        |JOIN rsizes sa ON doc_a = sa.doc_id
        |JOIN rsizes sb ON doc_b = sb.doc_id
        |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // MinHash + LSH band keys per document (the fixed-size sketch that
    // replaces all-pairs comparison at scale).
    Q("q27_minhash_bands",
      (s, dir) => bandsDf(s, dir).orderBy(col("doc_id"), col("band")),
      Some(duckMinhash +
        "\nSELECT doc_id, band, band_key FROM bands ORDER BY doc_id, band")),

    // LSH candidate pairs (same band key in any band) verified with exact
    // Jaccard — candidate-driven, so the expensive verify touches only
    // bucket collisions, never the full pair space.
    Q("q28_minhash_pairs",
      (s, dir) => {
        val cands = graft.dedup.Dedup.lshCandidates(bandsDf(s, dir))
        graft.dedup.Dedup.jaccardVerify(cands, grams(s, dir))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckBandCommon + """
        |SELECT c.doc_a, c.doc_b,
        |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |FROM cands c
        |JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
        |JOIN sizes sa ON c.doc_a = sa.doc_id
        |JOIN sizes sb ON c.doc_b = sb.doc_id
        |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // q28 under a HOT-BUCKET BOUND (maxBucket=2 — engages on this corpus:
    // 7 band buckets skipped at sf0.001, 5 at sf0.01): the skew
    // mitigation for boilerplate-heavy crawls, where one T-member band
    // bucket costs T·(T−1)/2 pairs on the one task owning that key
    // (PLANS.md skew table: super-linear naive, 15.4× at 10× data). A
    // pair is lost only when EVERY one of its colliding buckets
    // overflows — a ≥maxBucket-sized near-dup crowd, which the exact/
    // collapse level owns. q167 is the mandatory audit twin.
    Q("q166_lsh_bounded_pairs",
      (s, dir) => {
        val cands = graft.dedup.Dedup
          .lshCandidatesBounded(bandsDf(s, dir), maxBucket = 2)
        graft.dedup.Dedup.jaccardVerify(cands, grams(s, dir))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckMinhash + """,
        |ok AS (SELECT band, band_key FROM bands
        |       GROUP BY 1, 2 HAVING count(*) <= 2),
        |bb AS (SELECT b.doc_id, b.band, b.band_key
        |       FROM bands b JOIN ok USING (band, band_key)),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |          FROM bb x JOIN bb y
        |            ON x.band = y.band AND x.band_key = y.band_key
        |           AND x.doc_id < y.doc_id),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        |           FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2)
        |SELECT c.doc_a, c.doc_b,
        |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |FROM cands c
        |JOIN common m ON c.doc_a = m.doc_a AND c.doc_b = m.doc_b
        |JOIN sizes sa ON c.doc_a = sa.doc_id
        |JOIN sizes sb ON c.doc_b = sb.doc_id
        |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // The no-silent-caps audit for q166: what the bound skipped, per
    // band — bucket count, largest membership, and total members in
    // skipped buckets. Ship this next to any bounded run; a bound whose
    // skipped mass isn't visible in the pipeline's own output is a
    // silent recall cliff.
    Q("q167_lsh_overflow_audit",
      (s, dir) =>
        graft.dedup.Dedup.lshOverflowBuckets(bandsDf(s, dir), maxBucket = 2)
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_buckets"),
            max(col("n_members")).as("max_members"),
            sum(col("n_members")).as("skipped_members"))
          .orderBy(col("band")),
      Some(duckMinhash + """,
        |over AS (SELECT band, band_key, count(*) AS n_members FROM bands
        |         GROUP BY 1, 2 HAVING count(*) > 2)
        |SELECT band, count(*) AS n_buckets,
        |  CAST(max(n_members) AS BIGINT) AS max_members,
        |  CAST(sum(n_members) AS BIGINT) AS skipped_members
        |FROM over GROUP BY band ORDER BY band""".stripMargin)),

    // SimHash fingerprint (16-bit md5-nibble variant, engine-portable):
    // per token, bit j votes +1 if the high bit of md5 hex digit j is set;
    // fingerprint bit = sign of the vote sum. Hamming-close fingerprints ≈
    // near-duplicates.
    Q("q30_simhash",
      (s, dir) => {
        val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
          t => length(t) > 0)
        // md5 per token computed ONCE behind an exchange barrier; the 16
        // bit-position passes then read cheap substrings of the digests
        // instead of re-hashing every token 16× (CollapseProject would
        // otherwise inline the md5 into the nested lambda).
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id"),
            transform(array_distinct(toks), t => md5(t)).as("hs"))
          .repartition(col("doc_id"))
          .select(col("doc_id"), array_join(
            transform(sequence(lit(1), lit(16)), j =>
              when(aggregate(col("hs"), lit(0), (acc, h) =>
                acc + when(h.substr(j, lit(1))
                  .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
                  .otherwise(-1)) > 0, lit("1")).otherwise(lit("0"))),
            "").as("simhash16"))
          .orderBy(col("doc_id"))
      },
      Some(duckSimhashVotes + """
          |SELECT doc_id,
          |  string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash16
          |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Random-hyperplane LSH ANN (the classic cosine-LSH scale path, next to
    // q25's IVF): 8 deterministic pseudo-random hyperplanes → 8-bit sign
    // bucket per vector; neighbors searched only within a bucket. At scale
    // the bucket is a shuffle key — search cost tracks bucket occupancy,
    // not the full pair space. Hyperplane weights are integer arithmetic
    // reproduced exactly by the DuckDB oracle.
    Q("q37_ann_lsh",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val bucketed = emb
          .select(col("vec_id"), col("e"), graft.similarity.Similarity
            .hyperplaneBucket(s, col("e"), dim = 64, planes = 8).as("bucket"))
          .repartition(col("bucket")) // bucket = the shuffle key at scale
        graft.similarity.Similarity
          .ivfTopK(bucketed, k = 3, labelCol = "bucket")
          .select(col("vec_id"), col("bucket"), col("neighbor_id"),
            col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(
        duckHyperplaneBuckets +
        """
          |SELECT vec_id, bucket, neighbor_id, cos_sim FROM (
          |  SELECT a.vec_id AS vec_id, a.bucket AS bucket,
          |    b.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY a.vec_id
          |      ORDER BY round(list_cosine_similarity(a.e, b.e), 6) DESC, b.vec_id) AS rk
          |  FROM bucketed a JOIN bucketed b
          |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // SimHash near-dup pairs, Hamming-LSH style: block on the fingerprint's
    // 8-bit halves (a pair within Hamming ≤ 1 of 16 bits must agree exactly
    // on at least one half — pigeonhole), then verify the full Hamming
    // distance only on block collisions. The halves are the shuffle keys at
    // scale, exactly like q28's MinHash bands.
    Q("q44_simhash_pairs",
      (s, dir) => {
        val sim = Registry.byName("q30_simhash").run(s, dir)
          .select(col("doc_id"), col("simhash16")).cache()
        val banded = sim.select(col("doc_id"), col("simhash16"),
          explode(array(
            concat(lit("L:"), substring(col("simhash16"), 1, 8)),
            concat(lit("R:"), substring(col("simhash16"), 9, 8)))).as("block"))
        // native codegen'd byte-compare (graft.functions.HammingDistance);
        // the interpreted transform-per-bit formulation was the hot inner
        // loop of the candidate verify
        // hamming computed + filtered BEFORE the distinct: the dedup
        // shuffle carries (long, long, int) rows, not fingerprint strings
        val hamming = graft.functions.HammingDistance(
          col("x.simhash16"), col("y.simhash16"))
        banded.as("x")
          .join(banded.as("y"),
            col("x.block") === col("y.block") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
            hamming.as("hamming"))
          .where(col("hamming") <= 1)
          .distinct()
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckSimhashVotes + """,
          |sh AS (SELECT doc_id,
          |  string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash16
          |  FROM votes GROUP BY doc_id),
          |banded AS (
          |  SELECT doc_id, simhash16, 'L:' || substr(simhash16, 1, 8) AS block FROM sh
          |  UNION ALL
          |  SELECT doc_id, simhash16, 'R:' || substr(simhash16, 9, 8) AS block FROM sh),
          |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
          |                 x.simhash16 AS a_sh, y.simhash16 AS b_sh
          |          FROM banded x JOIN banded y
          |            ON x.block = y.block AND x.doc_id < y.doc_id)
          |SELECT doc_a, doc_b,
          |  CAST(list_aggregate(list_transform(generate_series(1, 16),
          |    j -> CASE WHEN substr(a_sh, j, 1) <> substr(b_sh, j, 1) THEN 1 ELSE 0 END),
          |    'sum') AS BIGINT) AS hamming
          |FROM cands
          |WHERE list_aggregate(list_transform(generate_series(1, 16),
          |    j -> CASE WHEN substr(a_sh, j, 1) <> substr(b_sh, j, 1) THEN 1 ELSE 0 END),
          |    'sum') <= 1
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // SimHash over word-3-gram SHINGLES (32-bit, 4×8-bit bands, Hamming
    // ≤ 3 — the pigeonhole-guaranteed recall for 4 bands). Token-set
    // features (q30/q44) measure vocabulary overlap, which degenerates on
    // a shared-vocabulary corpus; shingle features are order-sensitive, so
    // this variant recovers exactly the true near-duplicates (on the
    // sf0.01 corpus: every Jaccard≥0.5 pair has Hamming ≤ 4 here, while
    // unrelated pairs scatter to ~16). This is the configuration you ship.
    Q("q58_simhash_shingle_pairs",
      (s, dir) => {
        val sim = graft.dedup.Dedup
          .simhash(grams(s, dir), "grams", bits = 32).cache()
        graft.dedup.Dedup
          .simhashPairs(sim, nBlocks = 4, maxHamming = 3)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("hamming"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckGrams + """,
        |js AS (SELECT unnest(generate_series(1, 32)) AS j),
        |votes AS (SELECT doc_id, j,
        |  sum(CASE WHEN substr(md5(gram), j, 1) IN ('8','9','a','b','c','d','e','f')
        |           THEN 1 ELSE -1 END) AS v
        |  FROM e CROSS JOIN js GROUP BY doc_id, j),
        |sh AS (SELECT doc_id,
        |  string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sh32
        |  FROM votes GROUP BY doc_id),
        |bb AS (SELECT unnest(generate_series(0, 3)) AS blk),
        |banded AS (SELECT doc_id, sh32, blk,
        |                  substr(sh32, blk * 8 + 1, 8) AS block
        |           FROM sh CROSS JOIN bb),
        |cands AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |                 x.sh32 AS a_sh, y.sh32 AS b_sh
        |          FROM banded x JOIN banded y
        |            ON x.blk = y.blk AND x.block = y.block
        |           AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(list_aggregate(list_transform(generate_series(1, 32),
        |    j -> CASE WHEN substr(a_sh, j, 1) <> substr(b_sh, j, 1) THEN 1 ELSE 0 END),
        |    'sum') AS BIGINT) AS hamming
        |FROM cands
        |WHERE list_aggregate(list_transform(generate_series(1, 32),
        |    j -> CASE WHEN substr(a_sh, j, 1) <> substr(b_sh, j, 1) THEN 1 ELSE 0 END),
        |    'sum') <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Embedding-cosine near-dup baseline: global top-20 most similar pairs
    // by brute force (the exact answer LSH/IVF variants approximate).
    Q("q31_embedding_pairs",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        val cos = graft.functions.CosineSimilarity(col("ae"), col("be"))
        graft.similarity.Similarity.topKPairs(emb, k = 20)
          .select(col("id_a"), col("id_b"), col("cos_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        """SELECT id_a, id_b, cos_sim FROM (
          |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |    round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                                 CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim,
          |    row_number() OVER (ORDER BY round(list_cosine_similarity(
          |      CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
          |      a.vec_id, b.vec_id) AS rk
          |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          |) t WHERE rk <= 20 ORDER BY id_a, id_b""".stripMargin)),

    // Dedup endgame: connected components over the near-dup pair graph —
    // every document mapped to its cluster's canonical (minimum) doc_id.
    // Edges come from the LSH candidate path (clusterEdges), NOT the
    // all-pairs gram join. Distributed min-label propagation: each round
    // is one key-partitioned join + aggregation (the Pregel shape — at
    // scale this is exactly GraphX/connected-components); rounds =
    // component diameter, and near-dup components are tiny by
    // construction. localCheckpoint truncates the growing lineage between
    // rounds. The driver-side loop only moves a scalar convergence count,
    // never data.
    Q("q55_dedup_clusters",
      (s, dir) => clustersFrame(s, dir).orderBy(col("doc_id")),
      Some(duckClusters)),

    // The SAME cluster map as q55, computed by alternating star
    // contraction (large-star/small-star, Kiveris et al. 2014) instead of
    // min-label propagation — the two engines for one contract, both
    // oracle-gated against the identical recursive-CTE ground truth.
    // Propagation's round count is the component DIAMETER; on a crawl
    // where boilerplate chains near-dups into a deep path, it needs
    // diameter-many shuffle rounds (GraphsSpec: a 256-node chain blows its
    // 20-round budget). Star contraction rewires every node directly to
    // its neighborhood minimum, so rounds stay ~log n regardless of
    // shape — the variant to reach for when cluster topology is unknown,
    // at the price of an exact set-equality convergence check (two
    // distinct-counts per round) and edge-set (not label-set) state.
    Q("q171_cc_alternating",
      (s, dir) => graft.analytics.Graphs.connectedComponents(
          Tables(s, dir, "documents").select(col("doc_id")),
          clusterEdges(s, dir))
        .orderBy(col("doc_id")),
      Some(duckClusters)),

    // INCREMENTAL connected components (Graphs.ccDelta) — the near-dup
    // (history split + shared labels frame: isHistDoc/histLabelsFrame
    // below the registry; q207 streams the same standing artifact)
    // cluster map maintained across an ingest batch without re-touching
    // history edges, completing the delta family (q143/q145 delta dedup,
    // q203/q205 delta IVF): the 90% of docs with doc_id % 10 != 0 are the
    // already-clustered HISTORY (their labels the standing artifact);
    // every LSH pair touching a % 10 == 0 doc is the DELTA batch. The
    // engine resolves delta endpoints to history roots (one keyed join),
    // runs star-contraction CC on the contracted root graph alone
    // (≤ 2·|delta| nodes), and relabels through the broadcast remap —
    // cost ∝ delta + one labels pass, never |E_history|. The oracle is
    // q171's full-graph recursive-CTE CC VERBATIM: the incremental
    // contract IS row-equality with the full recompute.
    Q("q206_cc_delta",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"))
        val deltaEdges = clusterEdges(s, dir)
          .where(!isHistDoc(col("doc_a")) || !isHistDoc(col("doc_b")))
        graft.analytics.Graphs
          .ccDelta(histLabelsFrame(s, dir), deltaEdges, docs)
          .orderBy(col("doc_id"))
      },
      Some(duckClusters)),

    // Triangle participation in the near-dup graph
    // (graft.analytics.Graphs.triangleCounts) — the clique-density
    // diagnostic: a doc in many triangles sits inside a duplication
    // CROWD (mutually-similar boilerplate family), not a chance pair —
    // the standard signal for escalating from pairwise dedup to the
    // collapse-before-banding treatment. Degree-ordered wedges keep a
    // hub's wedge count at out-degree² = O(m) instead of degree²; the
    // oracle enumerates triangles naively over the same verified LSH
    // edges (affordable at oracle scale) and explodes corners.
    Q("q180_triangle_counts",
      (s, dir) => graft.analytics.Graphs
        .triangleCounts(clusterEdges(s, dir))
        .orderBy(col("doc_id")),
      Some(duckLshEdges + """,
        |ce AS (SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
        |       FROM jp GROUP BY 1, 2),
        |t AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |      FROM ce e1
        |      JOIN ce e2 ON e2.a = e1.a AND e2.b > e1.b
        |      JOIN ce e3 ON e3.a = e1.b AND e3.b = e2.b),
        |corners AS (SELECT x AS node FROM t
        |            UNION ALL SELECT y FROM t
        |            UNION ALL SELECT z FROM t)
        |SELECT node AS doc_id, count(*) AS n_triangles
        |FROM corners GROUP BY node ORDER BY node""".stripMargin)),

    // The end-to-end training-corpus preparation job — what all the
    // building blocks compose into: near-dup clustering picks one
    // canonical doc per cluster, quality & language gates drop the rest,
    // and the survivors roll up to a per-source token budget. Every stage
    // is a previously-verified operator consumed through its SHARED cached
    // frame (clustersFrame = q55's, qualityFrame = q21's, langidFrame =
    // q22's — PlanAuditSpec asserts the reuse at runtime), so the
    // composite pays three joins and a rollup, never the stages' own
    // recomputation; the joins are all on doc_id, so after one hash-shard
    // by doc_id the whole filter chain is co-located, and the final
    // rollup shuffles only (source, partial aggregates).
    Q("q59_corpus_prep",
      (s, dir) => {
        val canonical = clustersFrame(s, dir)
          .where(col("doc_id") === col("cluster_id")).select(col("doc_id"))
        val quality = ExtQueries.qualityFrame(s, dir)
          .select(col("doc_id"), col("quality"))
        val lang = ExtQueries.langidFrame(s, dir)
          .select(col("doc_id"), col("predicted_lang"))
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .join(canonical, "doc_id")
          .join(quality, "doc_id")
          .join(lang, "doc_id")
          .where(col("quality") >= 0.25 && col("predicted_lang") === "en")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(expr("CAST(ceil(n_chars / 4.0) AS BIGINT)")).as("n_tokens"),
            round(avg(col("quality")), 6).as("avg_quality"))
          .orderBy(col("source"))
      },
      Some(duckClusterReach + """,
        |canon AS (SELECT dd.doc_id FROM documents dd
        |          LEFT JOIN reach r ON dd.doc_id = r.s
        |          GROUP BY dd.doc_id
        |          HAVING coalesce(min(r.t), dd.doc_id) >= dd.doc_id),
        |qual AS (SELECT doc_id,
        |    0.5 * least(1.0, n_tokens / 100.0)
        |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
        |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE) / nullif(n_tokens, 0) / 8.0)
        |      AS quality
        |  FROM (SELECT doc_id,
        |      len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
        |      len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS alnum_len,
        |      len(regexp_extract_all(lower(text), '\b(?:the|a|of|and|to|in|is|on|for|with)\b')) AS n_stop
        |    FROM documents)),
        |lang AS (SELECT doc_id,
        |    CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
        |         WHEN c_de >= c_fr AND c_de >= c_es THEN 'de'
        |         WHEN c_fr >= c_es THEN 'fr'
        |         ELSE 'es' END AS predicted_lang
        |  FROM (SELECT doc_id,
        |      len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|that)\b')) AS c_en,
        |      len(regexp_extract_all(lower(text), '\b(?:der|die|und|das|ist|nicht)\b')) AS c_de,
        |      len(regexp_extract_all(lower(text), '\b(?:le|les|et|des|une|est)\b')) AS c_fr,
        |      len(regexp_extract_all(lower(text), '\b(?:el|los|y|que|una|como)\b')) AS c_es
        |    FROM documents))
        |SELECT dd.source, count(*) AS n_docs,
        |  CAST(sum(CAST(ceil(dd.n_chars / 4.0) AS BIGINT)) AS BIGINT) AS n_tokens,
        |  round(avg(q.quality), 6) AS avg_quality
        |FROM documents dd
        |JOIN canon USING (doc_id)
        |JOIN qual q USING (doc_id)
        |JOIN lang USING (doc_id)
        |WHERE q.quality >= 0.25 AND predicted_lang = 'en'
        |GROUP BY dd.source ORDER BY dd.source""".stripMargin)),

    // INCREMENTAL dedup — the operational shape: an incoming batch (odd
    // doc_ids stand in for a new crawl) deduped against the EXISTING
    // corpus (even doc_ids) without ever comparing batch×corpus all-pairs.
    // The corpus's LSH band table is the persistent index (here: the same
    // cached band frame the batch queries share; at scale it is a stored
    // table keyed by (band, band_key)); the new batch sketches
    // document-locally, equi-joins the index, and exact-verifies only the
    // candidates. Output: each batch doc with its count of corpus
    // near-dups (Jaccard >= 0.5) and the best match score — the rows a
    // pipeline would drop (or link) before appending the batch.
    Q("q72_incremental_dedup",
      (s, dir) => {
        val bands = bandsDf(s, dir)
        val cands = bands.where(col("doc_id") % 2 === 1).as("x")
          .join(bands.where(col("doc_id") % 2 === 0).as("y"),
            col("x.band") === col("y.band") &&
              col("x.band_key") === col("y.band_key"))
          .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
          .distinct()
        graft.dedup.Dedup.jaccardVerify(cands, grams(s, dir))
          .where(col("jaccard") >= 0.5)
          .groupBy(col("id_a").as("doc_id"))
          .agg(count(lit(1)).as("n_dups"),
            round(max(col("jaccard")), 6).as("best_jaccard"))
          .orderBy(col("doc_id"))
      },
      Some(duckMinhash + """,
        |cand AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |         FROM bands x JOIN bands y
        |           ON x.band = y.band AND x.band_key = y.band_key
        |         WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0
        |         GROUP BY 1, 2),
        |vj AS (SELECT c.id_a, c.id_b, count(*) AS common
        |       FROM cand c
        |       JOIN e a ON c.id_a = a.doc_id
        |       JOIN e b ON c.id_b = b.doc_id AND a.gram = b.gram
        |       GROUP BY 1, 2),
        |scored AS (SELECT id_a, id_b,
        |    CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
        |  FROM vj JOIN sizes sa ON id_a = sa.doc_id
        |          JOIN sizes sb ON id_b = sb.doc_id)
        |SELECT id_a AS doc_id, count(*) AS n_dups,
        |  round(max(jaccard), 6) AS best_jaccard
        |FROM scored WHERE jaccard >= 0.5
        |GROUP BY id_a ORDER BY doc_id""".stripMargin)),

    // Cross-modal detector QA: every verified text near-dup pair
    // (LSH-candidate → exact Jaccard ≥ 0.5, the q28 path) annotated with
    // its embedding cosine — the audit that finds where the embedding
    // space DISAGREES with lexical dedup (pairs this corpus plants as
    // text near-dups carry unrelated synthetic embeddings, so the two
    // signals genuinely diverge; a production pipeline runs exactly this
    // join to calibrate semantic-dedup thresholds against a lexical
    // ground truth). Embeddings cover a doc_id prefix; the inner join
    // keeps pairs where both sides are embedded. All joins are id- or
    // sketch-keyed — candidate-driven end to end.
    Q("q80_crossmodal_check",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>"))
        val pairs = graft.dedup.Dedup
          .jaccardVerify(graft.dedup.Dedup.lshCandidates(bandsDf(s, dir)),
            grams(s, dir))
          .where(col("jaccard") >= 0.5)
        pairs
          .join(emb.select(col("vec_id").as("id_a"),
            col("embedding").as("__ea")), "id_a")
          .join(emb.select(col("vec_id").as("id_b"),
            col("embedding").as("__eb")), "id_b")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("jaccard"),
            round(graft.functions.CosineSimilarity(col("__ea"),
              col("__eb")), 6).as("cos_sim"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckBandJaccard("jac") + """,
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
        |        FROM embeddings)
        |SELECT j.doc_a, j.doc_b, j.jaccard,
        |  round(list_cosine_similarity(ea.ev, eb.ev), 6) AS cos_sim
        |FROM jac j JOIN emb ea ON j.doc_a = ea.vec_id
        |           JOIN emb eb ON j.doc_b = eb.vec_id
        |ORDER BY j.doc_a, j.doc_b""".stripMargin)),

    // Benchmark DECONTAMINATION — the corpus-prep step that removes
    // training documents overlapping an evaluation set: the benchmark's
    // distinct word-8-grams (here: the docs with doc_id % 10 = 7 stand in
    // for an eval suite) are the SMALL side, broadcast to every executor;
    // the corpus gram stream map-side hash-joins against them, so the
    // only corpus shuffle is the per-doc hit count keyed by doc_id. At
    // 100 TB the benchmark side stays a few MB (real eval suites are
    // thousands of documents) while the corpus side never moves — the
    // same broadcast discipline as the dimension joins. 8-token grams
    // make accidental overlap vanishingly rare (hits on this corpus are
    // the planted near-dups of benchmark docs), matching the 10-13-gram
    // windows used by real decontamination pipelines.
    Q("q71_decontaminate",
      (s, dir) => {
        val g = gram8Rows(s, dir)
        val bench = g.where(col("doc_id") % 10 === 7)
          .select(col("gram")).distinct()
        g.where(col("doc_id") % 10 =!= 7)
          .join(broadcast(bench), "gram")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
          .orderBy(col("doc_id"))
      },
      Some(duckDecontam)),

    // Bloom-filter decontamination (graft.dedup.Dedup.bloomDecontaminate):
    // q71's semantics through the TRUE 100 TB membership shape — a Bloom
    // filter over the benchmark grams (built by one distributed
    // aggregation, ~10 bits/element) prunes the corpus gram stream via a
    // native codegen'd probe (BloomMightContain) BEFORE the exact verify
    // join sees a row. No false negatives + exact verify of survivors ⇒
    // result equals the exact join, so the oracle IS q71's SQL — the
    // filter is purely the scale lever (verify input shrinks from
    // |corpus grams| to |true hits| + fpp·|corpus grams|; the broadcast
    // side a real pipeline ships drops from the full string set to the
    // filter's bit array). BloomDecontaminateSpec pins result equality
    // with q71 and measures the prune rate.
    Q("q77_bloom_decontaminate",
      (s, dir) => {
        val g = gram8Rows(s, dir)
        graft.dedup.Dedup.bloomDecontaminate(
          g.where(col("doc_id") % 10 =!= 7),
          g.where(col("doc_id") % 10 === 7).select(col("gram")),
          // bench-gram barrier under the Caches lifecycle, not an ad-hoc
          // session-lifetime cache() — evict(session) releases it
          cacheBench = b => Caches.frame(s, dir, "benchgrams")(b))
          .orderBy(col("doc_id"))
      },
      Some(duckDecontam)),

    // Embedding-cosine near-dup DECISION path (vs q31's exact top-k
    // baseline and q37's per-vector ANN): banded hyperplane LSH — the
    // cosine analog of MinHash banding — generates candidates on a bucket
    // equi-join, and the exact round-6 cosine verifies at the 0.4
    // threshold. Precision is exact by construction; recall is the
    // banding's (6 bands × 3 planes ≈ 0.8 for cos≥0.4 on this corpus,
    // EmbeddingNearDupSpec measures it). The oracle replays the SAME
    // candidate generation (integer plane weights), so the check is exact
    // at any scale without depending on LSH recall being complete.
    Q("q68_embedding_neardup",
      (s, dir) => {
        val emb = Tables.sharded(s, dir, "embeddings", "vec_id")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
        graft.similarity.Similarity
          .cosineNearDupPairs(emb, dim = 64, threshold = 0.4,
            bands = 6, planesPerBand = 3)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        def bit(p: Int): String =
          s"CASE WHEN list_aggregate(list_transform(e, (x,j) -> x * " +
            s"CAST(((($p*64 + j-1) * 2654435761) % 97) - 48 AS DOUBLE)), " +
            s"'sum') >= 0 THEN '1' ELSE '0' END"
        val bits = (0 until 18).map(bit).mkString(",\n|      ")
        s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
          |bits AS (SELECT vec_id, concat(
          |      $bits
          |    ) AS bs FROM emb),
          |bands AS (SELECT vec_id,
          |    CAST(i AS VARCHAR) || ':' || substr(bs, i*3+1, 3) AS bucket
          |  FROM bits CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS i)),
          |cand AS (SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
          |         FROM bands x JOIN bands y
          |           ON x.bucket = y.bucket AND x.vec_id < y.vec_id)
          |SELECT c.id_a, c.id_b,
          |  round(list_cosine_similarity(a.e, b.e), 6) AS cos_sim
          |FROM cand c JOIN emb a ON c.id_a = a.vec_id
          |            JOIN emb b ON c.id_b = b.vec_id
          |WHERE round(list_cosine_similarity(a.e, b.e), 6) >= 0.4
          |ORDER BY id_a, id_b""".stripMargin
      }),

    // Exact-substring duplicate spans (graft.dedup.Dedup.dupSpans), the
    // Lee et al. 2021 suffix-array-style dedup family re-expressed as
    // dataflow: positional char-40-gram rolling hashes (native
    // GramHashes), grams occurring ≥2× corpus-wide (cross-doc boilerplate
    // AND self-repetition) mark their covered chars duplicated, and the
    // per-doc interval union reports span count + duplicated-char
    // fraction. No pair set exists anywhere — candidate volume cannot
    // explode; the heavy state is the vocabulary-keyed gram frequency,
    // a partial-aggregated hash shuffle. The oracle replays the exact
    // polynomial hash with BIGINT arithmetic.
    Q("q74_dup_spans",
      (s, dir) => dupSpansFrame(s, dir).orderBy(col("doc_id")),
      Some(duckDupGrams + s""",
          |dh AS (SELECT hv FROM p GROUP BY hv HAVING count(*) >= 2),
          |g AS (SELECT doc_id,
          |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
          |  FROM p JOIN dh USING (hv)),
          |a AS (SELECT doc_id, count(*) AS n_dup_grams,
          |    CAST(count(*) FILTER (WHERE gap IS NULL OR gap > $DupK)
          |      AS BIGINT) AS n_spans,
          |    CAST(sum(CASE WHEN gap IS NULL THEN $DupK
          |                  ELSE least(gap, $DupK) END) AS BIGINT) AS dup_chars
          |  FROM g GROUP BY doc_id)
          |SELECT h.doc_id,
          |  coalesce(n_dup_grams, 0) AS n_dup_grams,
          |  coalesce(n_spans, 0) AS n_spans,
          |  coalesce(dup_chars, 0) AS dup_chars,
          |  round(CAST(coalesce(dup_chars, 0) AS DOUBLE)
          |        / greatest(n_norm, 1), 6) AS dup_frac
          |FROM hs h LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin
      )),

    // The report a pipeline runs AFTER q74 flags duplication: WHICH
    // passages are the boilerplate — top-10 duplicated char-40-grams by
    // document spread. The gram-frequency aggregation is the same
    // vocabulary-keyed shuffle as q74 (shared cached position table);
    // the top-10 is TakeOrderedAndProject. `hv` is the polynomial gram
    // hash (deterministic, oracle-replayable); `sample_doc` anchors a
    // human lookup.
    Q("q81_boilerplate_passages",
      (s, dir) =>
        dupGramPos(s, dir)
          .groupBy(col("hv"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"), min(col("doc_id")).as("sample_doc"))
          .where(col("n_docs") >= 2)
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("hv"))
          .limit(10),
      Some(duckDupGrams + """
          |SELECT hv, count(DISTINCT doc_id) AS n_docs,
          |  count(*) AS n_occ, min(doc_id) AS sample_doc
          |FROM p GROUP BY hv HAVING count(DISTINCT doc_id) >= 2
          |ORDER BY n_docs DESC, n_occ DESC, hv LIMIT 10""".stripMargin)),

    // The surgery half of q74 (graft.dedup.Dedup.removeDupSpans): Lee et
    // al. CUT the duplicated spans from the training text — every maximal
    // duplicated span of the normalized text is removed and the surviving
    // segments re-concatenate; documents with no duplication pass through
    // unchanged, fully-duplicated documents clean to empty. Two keyed
    // windows (islands via gaps-and-islands, then gap-before-each-island)
    // + a document-local ordered concat — shards by doc_id end to end,
    // reusing q74's cached position table and the same gram-frequency
    // shuffle. The oracle replays islands and the string surgery with
    // 0-based offsets and compares the md5 of the cleaned text.
    Q("q90_dedup_clean",
      (s, dir) =>
        graft.dedup.Dedup
          .removeDupSpans(dupGramPos(s, dir), Tables(s, dir, "documents"),
            k = DupK)
          .orderBy(col("doc_id")),
      Some(duckDupGrams + s""",
          |p0 AS (SELECT doc_id, pos - 1 AS pos, hv FROM p),
          |dh AS (SELECT hv FROM p0 GROUP BY hv HAVING count(*) >= 2),
          |dp AS (SELECT doc_id, pos,
          |    CASE WHEN lag(pos) OVER w IS NULL
          |           OR pos - lag(pos) OVER w > $DupK
          |         THEN 1 ELSE 0 END AS brk
          |  FROM p0 JOIN dh USING (hv)
          |  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
          |di AS (SELECT doc_id, pos,
          |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
          |  FROM dp),
          |isl AS (SELECT doc_id, isl, min(pos) AS lo, max(pos) + $DupK AS hi
          |  FROM di GROUP BY 1, 2),
          |hg AS (SELECT doc_id,
          |    coalesce(lag(hi) OVER (PARTITION BY doc_id ORDER BY lo), 0)
          |      AS gs,
          |    lo AS ge FROM isl),
          |tg AS (SELECT i.doc_id, max(i.hi) AS gs,
          |    CAST(len(n.norm) AS BIGINT) AS ge
          |  FROM isl i JOIN nrm n USING (doc_id) GROUP BY i.doc_id, n.norm),
          |gaps AS (SELECT * FROM hg WHERE ge > gs
          |         UNION ALL SELECT * FROM tg WHERE ge > gs),
          |cl AS (SELECT g.doc_id,
          |    string_agg(substr(n.norm, CAST(g.gs + 1 AS INT),
          |                      CAST(g.ge - g.gs AS INT)), ''
          |               ORDER BY g.gs) AS clean
          |  FROM gaps g JOIN nrm n USING (doc_id) GROUP BY g.doc_id),
          |ni AS (SELECT doc_id, count(*) AS n_islands FROM isl GROUP BY 1)
          |SELECT n.doc_id, coalesce(ni.n_islands, 0) AS n_islands,
          |  len(CASE WHEN ni.n_islands IS NULL THEN n.norm
          |           ELSE coalesce(cl.clean, '') END) AS clean_len,
          |  md5(CASE WHEN ni.n_islands IS NULL THEN n.norm
          |           ELSE coalesce(cl.clean, '') END) AS clean_digest
          |FROM nrm n LEFT JOIN ni USING (doc_id) LEFT JOIN cl USING (doc_id)
          |ORDER BY n.doc_id""".stripMargin)),

    // MinHash sketch CALIBRATION — the QA join that tells you whether the
    // sketch is trustworthy at your K: for every verified near-dup pair,
    // the signature-estimated Jaccard (matching-slot fraction over K=12)
    // beside the exact value. Signatures are document-local arrays; the
    // comparison is a 12-element zip per candidate pair — nothing
    // corpus-global moves. The oracle replays signatures slot-by-slot.
    Q("q82_minhash_calibration",
      (s, dir) => {
        val sig = graft.dedup.Dedup.minhashSignature(grams(s, dir), k = K)
        val pairs = graft.dedup.Dedup
          .jaccardVerify(lshCandidatePairs(s, dir), grams(s, dir))
          .where(col("jaccard") >= 0.5)
        pairs
          .join(sig.select(col("doc_id").as("id_a"), col("sig").as("__sa")),
            "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("sig").as("__sb")),
            "id_b")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            round(col("jaccard"), 6).as("jaccard"),
            round(aggregate(
              zip_with(col("__sa"), col("__sb"),
                (a, b) => when(a === b, 1).otherwise(0)),
              lit(0), (acc, x) => acc + x).cast("double") / K,
              6).as("est_jaccard"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckBandJaccard("jac") + s""",
          |m AS (SELECT j.doc_a, j.doc_b,
          |    count(*) FILTER (WHERE a.h = b.h) AS matches
          |  FROM jac j JOIN eh a ON a.doc_id = j.doc_a
          |             JOIN eh b ON b.doc_id = j.doc_b AND b.i = a.i
          |  GROUP BY 1, 2)
          |SELECT j.doc_a, j.doc_b, round(j.jaccard, 6) AS jaccard,
          |  round(CAST(matches AS DOUBLE) / $K, 6) AS est_jaccard
          |FROM jac j JOIN m ON j.doc_a = m.doc_a AND j.doc_b = m.doc_b
          |ORDER BY j.doc_a, j.doc_b""".stripMargin)),

    // Edit-distance verify — the STRING-metric member of the verify
    // family (set Jaccard q28, Hamming q44, containment q64, cosine q68):
    // levenshtein over the normalized 100-char PREFIX of each LSH
    // candidate pair. The prefix cap keeps the O(len²) DP bounded
    // (100² per pair, candidate-driven — never all-pairs, never
    // full-text); both engines implement the standard Wagner–Fischer
    // distance, so values hash-match exactly.
    Q("q85_fuzzy_prefix_match",
      (s, dir) => {
        val pfx = Tables(s, dir, "documents")
          .select(col("doc_id"),
            substring(regexp_replace(lower(col("text")), "[^a-z0-9]+", ""),
              1, 100).as("pfx"))
        lshCandidatePairs(s, dir)
          .join(pfx.select(col("doc_id").as("id_a"), col("pfx").as("__pa")),
            "id_a")
          .join(pfx.select(col("doc_id").as("id_b"), col("pfx").as("__pb")),
            "id_b")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            levenshtein(col("__pa"), col("__pb")).as("edit_dist"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckBandCands + """,
          |pfx AS (SELECT doc_id,
          |    substr(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'),
          |           1, 100) AS pfx
          |  FROM documents)
          |SELECT c.doc_a, c.doc_b,
          |  levenshtein(a.pfx, b.pfx) AS edit_dist
          |FROM cands c JOIN pfx a ON c.doc_a = a.doc_id
          |             JOIN pfx b ON c.doc_b = b.doc_id
          |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // The corpus REPORT CARD — the per-source rollup a curation run ends
    // with: document count, language spread, mean token count, mean
    // quality (q21's score), and mean duplicated-char fraction (q74's
    // span detector). One wide row per source; every input is a
    // previously-oracled per-doc frame re-aggregated by the source key,
    // so the rollup shuffles n_sources rows of state and nothing else.
    Q("q86_source_report",
      (s, dir) => {
        val quality = ExtQueries.qualityFrame(s, dir)
          .select(col("doc_id"), col("source"), col("n_tokens"),
            col("quality"))
        val dup = dupSpansFrame(s, dir)
          .select(col("doc_id"), col("dup_frac"))
        quality
          .join(Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
            "doc_id")
          .join(dup, "doc_id")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            round(avg(col("n_tokens")), 6).as("mean_tokens"),
            round(avg(col("quality")), 6).as("mean_quality"),
            round(avg(col("dup_frac")), 6).as("mean_dup_frac"))
          .orderBy(col("source"))
      },
      Some(duckDupGrams + s""",
          |dh AS (SELECT hv FROM p GROUP BY hv HAVING count(*) >= 2),
          |g AS (SELECT doc_id,
          |    pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
          |  FROM p JOIN dh USING (hv)),
          |a AS (SELECT doc_id,
          |    CAST(sum(CASE WHEN gap IS NULL THEN $DupK
          |                  ELSE least(gap, $DupK) END) AS BIGINT) AS dup_chars
          |  FROM g GROUP BY doc_id),
          |dup AS (SELECT h.doc_id,
          |    round(CAST(coalesce(dup_chars, 0) AS DOUBLE)
          |          / greatest(n_norm, 1), 6) AS dup_frac
          |  FROM hs h LEFT JOIN a USING (doc_id)),
          |q AS (SELECT doc_id, source, lang,
          |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS alnum_len,
          |    len(regexp_extract_all(lower(text),
          |      '\\b(?:${graft.text.TextStats.Stopwords.mkString("|")})\\b')) AS n_stop
          |  FROM documents),
          |qs AS (SELECT doc_id, source, lang, n_tokens,
          |    0.5 * least(1.0, n_tokens / 100.0)
          |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
          |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE)
          |                         / nullif(n_tokens, 0) / 8.0) AS quality
          |  FROM q)
          |SELECT qs.source, count(*) AS n_docs,
          |  count(DISTINCT qs.lang) AS n_langs,
          |  round(avg(qs.n_tokens), 6) AS mean_tokens,
          |  round(avg(qs.quality), 6) AS mean_quality,
          |  round(avg(dup.dup_frac), 6) AS mean_dup_frac
          |FROM qs JOIN dup ON qs.doc_id = dup.doc_id
          |GROUP BY qs.source ORDER BY qs.source""".stripMargin)),

    // Cross-split contamination audit: near-duplicate pairs that straddle
    // the deterministic train/val/test hash split (q96's) — the
    // test-set-leakage report a pipeline runs BEFORE training, since a
    // test document whose near-twin sits in train inflates every eval.
    // Candidates come from the LSH scale path (q28's band-collision
    // equi-join), exact-Jaccard-verified at the q55 cluster threshold;
    // split membership is RECOMPUTED per endpoint with
    // Sampling.splitLabel — the split is a pure function of (id, salt),
    // so labeling both sides of a pair is two shuffle-free projections,
    // never two corpus-sized hash joins against a materialized split
    // table. At 100 TB the audit costs exactly q28 plus a map stage.
    Q("q102_split_contamination",
      (s, dir) => {
        val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
        def split(id: Column) =
          graft.analytics.Sampling.splitLabel(id, fr, salt = "split")
        graft.dedup.Dedup
          .jaccardVerify(
            graft.dedup.Dedup.lshCandidates(bandsDf(s, dir)), grams(s, dir))
          .where(col("jaccard") >= 0.5)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            split(col("id_a")).as("split_a"), split(col("id_b")).as("split_b"),
            col("jaccard"))
          .where(col("split_a") =!= col("split_b"))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckBandJaccard("jp") + """,
        |sp AS (SELECT doc_id,
        |         CASE WHEN uu < 0.8 THEN 'train'
        |              WHEN uu < 0.9 THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM (SELECT doc_id,
        |           list_aggregate(list_transform(generate_series(1, 13),
        |             i -> (strpos('0123456789abcdef',
        |                     substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
        |                       i, 1)) - 1)
        |                  * power(CAST(16 AS DOUBLE), 13 - i)), 'sum')
        |             / power(CAST(2 AS DOUBLE), 52) AS uu
        |         FROM documents))
        |SELECT jp.doc_a, jp.doc_b, pa.split AS split_a, pb.split AS split_b,
        |       jp.jaccard
        |FROM jp
        |JOIN sp pa ON jp.doc_a = pa.doc_id
        |JOIN sp pb ON jp.doc_b = pb.doc_id
        |WHERE pa.split <> pb.split
        |ORDER BY jp.doc_a, jp.doc_b""".stripMargin)),

    // FUZZY passage-grain near-dup — the last quadrant of the dedup
    // matrix (doc-exact q20, doc-fuzzy q28, passage-exact q108,
    // passage-fuzzy HERE): q108's 32-token units put through the SAME
    // MinHash-LSH + exact-Jaccard machinery as documents, just keyed by
    // unit id (doc_id·10⁵ + chunk_id — chunk counts are page-bounded,
    // far below 10⁵). Catches lightly-edited boilerplate that exact
    // passage dedup misses; planted perturbations (first token of chunk
    // 0 swapped on every 50th doc, J≈0.93 vs the original) guarantee
    // the near-but-not-exact regime is exercised at any sf. Scale shape
    // is q28's, at unit grain: document-local sketches, banded
    // candidate equi-join, candidate-driven verify — never all-pairs.
    Q("q137_passage_neardup",
      (s, dir) => {
        val chunks = graft.text.TextStats
          .chunk(Tables.sharded(s, dir, "documents", "doc_id"),
            size = 32, stride = 32)
        val base = chunks.select(
          (col("doc_id") * 100000L + col("chunk_id")).as("uid"),
          concat_ws(" ", col("ctoks")).as("unit"))
        val perturbed = chunks
          .where(col("doc_id") % 50 === 0 && col("chunk_id") === 0)
          .select((col("doc_id") * 100000L + 99999L).as("uid"),
            concat_ws(" ", concat(array(lit("xqzperturb")),
              slice(col("ctoks"), lit(2),
                greatest(size(col("ctoks")) - 1, lit(0))))).as("unit"))
        // cached: the unit shingle table feeds the sketch AND both sides
        // of the candidate-driven verify (the grams() barrier pattern)
        val ugrams = Caches.frame(s, dir, "ugrams") {
          graft.dedup.Dedup.shingles(base.unionAll(perturbed),
            idCol = "uid", textCol = "unit")
        }
        val bands = graft.dedup.Dedup.minhashBands(ugrams, idCol = "uid")
        graft.dedup.Dedup
          .jaccardVerify(graft.dedup.Dedup.lshCandidates(bands,
            idCol = "uid"), ugrams, idCol = "uid")
          .where(col("jaccard") >= 0.5)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        s"""${CurationQueries.duckChunks32},
          |un AS (
          |  SELECT doc_id * 100000 + ch.chunk_id AS uid, ch.ctoks AS toks
          |  FROM c
          |  UNION ALL
          |  SELECT doc_id * 100000 + 99999 AS uid,
          |    list_concat(['xqzperturb'],
          |      ch.ctoks[2:len(ch.ctoks)]) AS toks
          |  FROM c WHERE doc_id % 50 = 0 AND ch.chunk_id = 0),
          |g AS (SELECT uid, list_distinct(CASE WHEN len(toks) >= 3
          |  THEN list_transform(generate_series(1, len(toks) - 2),
          |       i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])
          |  ELSE [] END) AS grams FROM un),
          |e AS (SELECT uid, unnest(grams) AS gram FROM g),
          |sizes AS (SELECT uid, len(grams) AS n FROM g),
          |hh AS (SELECT uid,
          |    ${graft.functions.MinHashSlots.duckHashPair("gram")._1} AS h1,
          |    ${graft.functions.MinHashSlots.duckHashPair("gram")._2} AS h2
          |  FROM e),
          |hs AS (SELECT unnest(generate_series(1, $K)) AS i),
          |eh AS (SELECT uid, i,
          |    min(${graft.functions.MinHashSlots.duckSlotValue("h1", "h2", "i")}) AS h
          |  FROM hh CROSS JOIN hs GROUP BY uid, i),
          |bands AS (SELECT uid, (i - 1) // $RowsPerBand AS band,
          |    string_agg(CAST(h AS VARCHAR), ',' ORDER BY i) AS band_key
          |  FROM eh GROUP BY uid, (i - 1) // $RowsPerBand),
          |cand AS (SELECT x.uid AS id_a, y.uid AS id_b
          |  FROM bands x JOIN bands y ON x.band = y.band
          |    AND x.band_key = y.band_key AND x.uid < y.uid
          |  GROUP BY 1, 2),
          |pairs AS (SELECT c.id_a, c.id_b, count(*) AS common
          |  FROM cand c
          |  JOIN e a ON c.id_a = a.uid
          |  JOIN e b ON c.id_b = b.uid AND a.gram = b.gram
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b,
          |  CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
          |FROM pairs
          |JOIN sizes sa ON id_a = sa.uid
          |JOIN sizes sb ON id_b = sb.uid
          |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin)),

    // Vector-space near-dup (Dedup.tfidfPairs): cosine over DF-capped
    // tf-idf vectors — the bag-of-words complement of the shingle
    // detectors: word-order edits that break every 3-gram leave the word
    // multiset (and so this cosine) almost unchanged. The df≤50 prune is
    // load-bearing twice: it bounds the pair join's per-word fan-out to
    // df² (the q41 stop-shingle argument) AND drops only low-idf words
    // (df≤20 leaves this corpus with ZERO cross-doc capped words —
    // measured, the synthetic tail is that heavy). Norms are over the
    // capped vocabulary (standard pruned tf-idf). Perturbed copies
    // (every 40th doc re-added under id+2·10⁶ with three novel tokens
    // appended) exercise the near-but-not-exact band the organic corpus
    // lacks — its only ≥0.5 pairs are exact dups at cosine 1.0.
    // Threshold compares the UNROUNDED cosine in both engines; the
    // reported value rounds to 6.
    Q("q138_tfidf_neardup",
      (s, dir) => {
        val base = Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id"), col("text"))
        val docs = base.unionAll(base.where(col("doc_id") % 40 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" xqa xqb xqc")).as("text")))
        graft.dedup.Dedup.tfidfPairs(docs, dfCap = 50)
          .where(col("cos_sim") >= 0.5)
          .select(col("id_a"), col("id_b"),
            round(col("cos_sim"), 6).as("cos_sim"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(
        s"""WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 2000000, text || ' xqa xqb xqc'
          |  FROM documents WHERE doc_id % 40 = 0),
          |t AS (SELECT doc_id,
          |    unnest(${ExtQueries.duckTokens}) AS word FROM docs),
          |c AS (SELECT doc_id, word, count(*) AS c FROM t GROUP BY 1, 2),
          |df AS (SELECT word, count(*) AS df FROM c
          |  GROUP BY 1 HAVING count(*) <= 50),
          |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM docs),
          |w AS (SELECT c.doc_id, c.word, c.c * ln(n.n / df.df) AS wt
          |  FROM c JOIN df USING (word) CROSS JOIN n
          |  WHERE df.df <> n.n),
          |nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nrm
          |  FROM w GROUP BY 1),
          |dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |    sum(a.wt * b.wt) AS dot
          |  FROM w a JOIN w b ON a.word = b.word AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT id_a, id_b,
          |  round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
          |FROM dots
          |JOIN nrm na ON id_a = na.doc_id
          |JOIN nrm nb ON id_b = nb.doc_id
          |WHERE dot / (na.nrm * nb.nrm) >= 0.5
          |ORDER BY id_a, id_b""".stripMargin)),

    // INCREMENTAL dedup (graft.dedup.Dedup.dedupDelta): scrub a new
    // ingest batch against the already-curated history without touching
    // history — the recurring-crawl shape (only the delta pays compute;
    // the history side collapses to its digest index before the join).
    // History = docs with doc_id%10 < 8; the delta is the remaining docs
    // plus PLANTED collisions covering both duplicate classes: every
    // doc_id%10 = 0 history doc re-ingested under a new id (must flag
    // in_history) and a second copy of every doc_id%10 = 8 delta doc
    // (must lose keep-first within the batch). The oracle replays the
    // digest index, the keep-first window, and the membership join.
    Q("q143_delta_dedup",
      (s, dir) => {
        val docs = Tables.sharded(s, dir, "documents", "doc_id")
        val history = docs.where(col("doc_id") % 10 < 8)
        val delta = docs.where(col("doc_id") % 10 >= 8)
          .select(col("doc_id"), col("text"))
          .unionAll(docs.where(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000).as("doc_id"), col("text")))
          .unionAll(docs.where(col("doc_id") % 10 === 8)
            .select((col("doc_id") + 200000).as("doc_id"), col("text")))
        graft.dedup.Dedup.dedupDelta(history, delta)
          .select(col("doc_id"), col("n_occ_delta"), col("in_history"),
            col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(duckDeltaDigests + """,
          |f AS (SELECT k, min(doc_id) AS first_id,
          |    count(*) AS n_occ_delta FROM dk GROUP BY k)
          |SELECT dk.doc_id, f.n_occ_delta,
          |  hist.k IS NOT NULL AS in_history,
          |  hist.k IS NULL AND dk.doc_id = f.first_id AS keep
          |FROM dk JOIN f USING (k) LEFT JOIN hist USING (k)
          |ORDER BY dk.doc_id""".stripMargin)),

    // Content-defined chunking (Dedup.cdcChunks, the LBFS/Rabin rule):
    // boundaries wherever the 8-char rolling hash ≡ 0 mod 32, so cuts
    // follow CONTENT and an early edit re-cuts only its own chunk —
    // the chunk grain that makes chunk-level dedup survive document
    // revisions (fixed tiling, q100/q108, re-cuts everything after an
    // insertion). One native rolling-hash map stage + a per-doc keyed
    // rollup; the oracle replays the identical 62-bit double hash in
    // SQL and the bounds_digest pins the exact boundary SET, not just
    // its size (1-based oracle positions shifted to the engine's
    // 0-based before hashing).
    Q("q154_cdc_chunks",
      (s, dir) =>
        graft.dedup.Dedup.cdcChunks(
            Tables.sharded(s, dir, "documents", "doc_id"))
          .orderBy(col("doc_id")),
      Some {
        val hash = graft.functions.GramHashes
          .duckGramHashWide("norm", "i", 8)
        s"""WITH nrm AS (SELECT doc_id,
           |    regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS norm
           |  FROM documents),
           |hs AS (SELECT doc_id, len(norm) AS n_norm,
           |    CASE WHEN len(norm) >= 8
           |      THEN list_transform(generate_series(1, len(norm) - 7),
           |           i -> $hash)
           |      ELSE [] END AS h
           |  FROM nrm),
           |p AS (SELECT doc_id, unnest(generate_series(1, len(h))) AS pos,
           |             unnest(h) AS hv FROM hs),
           |b AS (SELECT doc_id, count(*) AS n_bounds,
           |    md5(array_to_string(list_sort(list(pos - 1)), ',')) AS bd
           |  FROM p WHERE pos >= 2 AND hv % 32 = 0 GROUP BY doc_id)
           |SELECT hs.doc_id, CAST(hs.n_norm AS INT) AS n_norm,
           |  CAST(coalesce(b.n_bounds, 0) + 1 AS BIGINT) AS n_chunks,
           |  coalesce(b.bd, md5('')) AS bounds_digest
           |FROM hs LEFT JOIN b USING (doc_id) ORDER BY doc_id""".stripMargin
      }),

    // EXACT-threshold similarity self-join (Dedup.ppjoinExact, the
    // SSJoin/PPJoin prefix-filter family) — the exact complement to the
    // probabilistic MinHash-LSH path: every pair with J ≥ 1/2 and
    // nothing else, guaranteed, with no all-pairs stage. The threshold
    // is the rational 1/2 and every pruning comparison is integer
    // (2·common ≥ na+nb−common), so threshold-exact pairs can't be lost
    // to float fuzz. The oracle is the EXHAUSTIVE ground truth — a
    // shared-gram join over all co-gram pairs with the same integer
    // predicate — so a single false negative from the length/prefix
    // filters (or a false positive surviving verify) breaks the hash.
    // Candidate work is bounded by prefix-gram df (prefixes hold each
    // doc's RAREST grams by global-df order); the oracle's quadratic
    // co-pair join is affordable only at oracle scale, which is exactly
    // the point of the filters.
    Q("q184_ppjoin_exact",
      (s, dir) =>
        graft.dedup.Dedup.ppjoinExact(grams(s, dir), num = 1, den = 2)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("common"), round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("doc_a"), col("doc_b")),
      Some(duckGrams + """,
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS common
        |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(common AS INT) AS common,
        |  round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
        |FROM co
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE 2 * common >= sa.n + sb.n - common
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // EXACT containment join (Dedup.containmentJoin) — q184's ASYMMETRIC
    // sibling and the quote/subset detector resemblance misses: a doc
    // lifted into a much longer page has Jaccard ~0 but containment ~1
    // (Broder 1997's resemblance-vs-containment distinction). Ordered
    // pairs with |A∩B| ≥ 4/5·|A|, found via the contained side's
    // df-ordered prefix (pigeonhole: a qualifying A must share a PREFIX
    // gram with B) + an integer size filter — no all-pairs stage, every
    // prune integer, the exact intersect verify decides. Oracle is the
    // exhaustive ordered co-gram ground truth: one false negative from
    // the prefix filter breaks the hash.
    Q("q208_containment_join",
      (s, dir) =>
        graft.dedup.Dedup.containmentJoin(grams(s, dir), num = 4, den = 5)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
            col("common"), round(col("containment"), 6).as("containment"))
          .orderBy(col("doc_a"), col("doc_b")),
      Some(duckGrams + """,
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    count(*) AS common
        |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(common AS INT) AS common,
        |  round(common * 1.0 / sa.n, 6) AS containment
        |FROM co
        |JOIN sizes sa ON doc_a = sa.doc_id
        |WHERE 5 * common >= 4 * sa.n
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Cross-corpus containment decontamination (Dedup.containmentAcross)
    // — the production shape of q208: the PROBE side (here the delta
    // ingest slice, doc_id % 10 == 0; in deployment the benchmark/eval
    // passages) is screened for ≥ 4/5 gram containment inside the
    // HISTORY corpus. Only the probe carries a prefix (ordered by
    // CORPUS df — a gram history never saw prunes hardest), only
    // cross-side pairs ever form, and the exact intersect verify
    // decides. Complements q71/q77's exact/Bloom decontamination with
    // the near-verbatim-quote class those digest equality checks miss.
    Q("q209_containment_decontam",
      (s, dir) => {
        val g = grams(s, dir)
        val probe = g.where(!isHistDoc(col("doc_id")))
          .select(col("doc_id").as("probe_id"), col("grams"))
        val hist = g.where(isHistDoc(col("doc_id")))
        graft.dedup.Dedup.containmentAcross(probe, hist, num = 4, den = 5)
          .select(col("probe_id"), col("doc_id"), col("common"),
            round(col("containment"), 6).as("containment"))
          .orderBy(col("probe_id"), col("doc_id"))
      },
      Some(duckContainment)),

    // DECREMENTAL connected components (Graphs.ccRetract) — the
    // takedown/GDPR path completing q206's add-only fold (r14 verdict
    // gap #1): the doc_id % 10 == 3 slice is taken down, and the
    // standing cluster map (q55's shared clustersFrame) is REPAIRED by
    // re-solving CC only inside the components the removal touches —
    // removal can split a component (cut vertex) and retire its
    // canonical min-id, so the affected members re-solve over their
    // retained edges while every other component's labels pass through
    // unread; removed ids vanish from the map. The oracle is the full
    // recompute over the retained graph (the recursive-CTE CC with both
    // edge endpoints and the doc set retained): the decremental contract
    // IS row-equality with it.
    Q("q213_cc_retract",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"))
        graft.analytics.Graphs.ccRetract(clustersFrame(s, dir),
            clusterEdgesFrame(s, dir),
            docs.where(col("doc_id") % 10 === 3))
          .orderBy(col("doc_id"))
      },
      Some(duckRetainedClusters)),

    // EDGE-CACHE retraction (Dedup.retractEdges) — the r15 verdict's
    // task 6: q185's layouts and the IVF postings had takedown paths,
    // but the cached LSH pair table (clusterEdgesFrame — the standing
    // graph q55/q213/q215/q216 all ride) rebuilt from scratch on any
    // corpus change. Dropping pairs touching removed docs (one
    // broadcast anti-join per endpoint) is row-EQUAL to re-running the
    // whole LSH pipeline over the retained corpus, because every stage
    // is per-document or per-pair local (shingles/minhash per doc, band
    // collision per signature pair, Jaccard per pair's own grams) —
    // DedupRetractSpec pins it on the engine pipeline; the oracle here
    // is DuckDB's INDEPENDENT LSH rebuild over the retained corpus
    // (duckLshEdges with the takedown slice removed at the SOURCE, not
    // filtered at the end), so the equivalence is gated engine-vs-
    // engine. This is the epoch-handoff artifact for the q215/q216
    // maintenance loops: the next epoch's standing edge set derives
    // from the cache in one pruning pass, not a corpus re-derivation.
    Q("q220_edge_cache_retract",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"))
        graft.dedup.Dedup.retractEdges(clusterEdgesFrame(s, dir),
            docs.where(col("doc_id") % 10 === 3))
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckLshEdges.replaceFirst("FROM documents",
          "FROM (SELECT * FROM documents WHERE doc_id % 10 <> 3) documents")
        + """
        |SELECT doc_a, doc_b FROM jp
        |ORDER BY doc_a, doc_b""".stripMargin))
  )
}
