package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-10 corpus-curation additions: the tokenizer-training primitive
  * (BPE merge-candidate statistics), within-document passage dedup, the
  * adaptive per-source quality gate, URL/domain provenance rollups, and
  * embedding-space diversity capping. Each is a thin driver over a
  * library operator ([[graft.text.Bpe]], [[graft.dedup.Dedup]],
  * [[graft.analytics.Sampling]], [[graft.text.Urls]],
  * [[graft.similarity.Similarity]]) with a DuckDB oracle replaying the
  * same semantics. */
object CorpusQueries {

  /** The learned BPE merge table, trained once per (session, sf-dir) —
    * q127's encode and q129's packing both consume it (the same
    * shared-intermediate convention as [[Caches]]' centroid tables;
    * three (l, r) string pairs of driver state). q126 itself always
    * re-trains: training IS that query. */
  private val mergeTables = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String),
      Seq[(String, String)]]

  private[queries] def learnedMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    mergeTables.getOrElseUpdate((s, dir),
      // the PRODUCTION trainer (driver-local merge loop over the one
      // collected vocabulary artifact) — identical output to
      // trainMerges by construction (BpeSpec), so q127/q129's oracles,
      // which unroll trainMerges' rounds in SQL, stay exact while the
      // engine side exercises the scale path
      graft.text.Bpe
        .trainMergesLocal(Tables.sharded(s, dir, "documents", "doc_id"),
          nMerges = 3)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq)

  /** Oracle replica of [[graft.text.Bpe]]'s wrapped symbol encoding
    * ("cat" → "|c||a||t|" — both ends of every symbol anchored, see
    * trainMerges' scaladoc) as the v0 CTE; shared by q126/q127/q129. */
  private def bpeV0: String =
    """v0 AS (SELECT regexp_replace(word, '(.)', '|\1|', 'g') AS sym,
      |    freq FROM vw WHERE len(word) >= 2)""".stripMargin

  /** One trainMerges round as oracle CTEs: pair counts over v{k-1} →
    * top-1 by (cnt desc, l, r) as b{k} → merge applied as v{k}. */
  private def bpeRound(k: Int): String = {
    val p = k - 1
    s"""e$k AS (SELECT freq,
       |    unnest(list_transform(generate_series(1, len(s) - 1),
       |      i -> {'l': s[i], 'r': s[i + 1]})) AS pr
       |  FROM (SELECT list_filter(string_split(sym, '|'),
       |          x -> len(x) > 0) AS s, freq FROM v$p)),
       |p$k AS (SELECT pr.l AS l, pr.r AS r, sum(freq) AS cnt
       |  FROM e$k GROUP BY pr.l, pr.r),
       |b$k AS (SELECT l, r, cnt FROM p$k
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |v$k AS (SELECT replace(sym,
       |    '|' || (SELECT l FROM b$k) || '||' || (SELECT r FROM b$k) || '|',
       |    '|' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || '|') AS sym,
       |    freq FROM v$p)""".stripMargin
  }

  /** Round k's merge applied to an encoded-word expression (the oracle
    * side of [[graft.text.Bpe.encode]]'s per-word replace fold). */
  private def bpeApplyMerge(k: Int, inner: String): String =
    s"""replace($inner,
       |      '|' || (SELECT l FROM b$k) || '||' || (SELECT r FROM b$k) || '|',
       |      '|' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || '|')""".stripMargin

  /** The 3-round train + per-word apply prefix (CTEs w/vw/v0/rounds/d2/s2)
    * shared verbatim by q127's encode oracle and q129's packing oracle. */
  private def bpeEncodedWords: String = {
    val encoded = bpeApplyMerge(3, bpeApplyMerge(2, bpeApplyMerge(1,
      "regexp_replace(word, '(.)', '|\\1|', 'g')")))
    s"""WITH w AS (SELECT unnest(${ExtQueries.duckTokens}) AS word
       |  FROM documents),
       |vw AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
       |$bpeV0,
       |${bpeRound(1)},
       |${bpeRound(2)},
       |${bpeRound(3)},
       |d2 AS (SELECT doc_id, unnest(${ExtQueries.duckTokens}) AS word
       |  FROM documents),
       |s2 AS (SELECT doc_id, $encoded AS sym FROM d2)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // BPE merge-candidate statistics (graft.text.Bpe.pairStats): one
    // byte-pair-encoding training step ranks adjacent character pairs by
    // corpus frequency. The expensive explode runs over the DISTINCT
    // vocabulary weighted by word counts — the standard BPE trick — so a
    // 100 TB corpus pays vocabulary-sized pair counting after one
    // map-side-combining word-count aggregation; the top-20 plans as
    // TakeOrderedAndProject.
    Q("q121_bpe_pair_stats",
      (s, dir) =>
        graft.text.Bpe.pairStats(
          Tables.sharded(s, dir, "documents", "doc_id"), topK = 20),
      Some(
        s"""WITH w AS (SELECT unnest(${ExtQueries.duckTokens}) AS word
           |  FROM documents),
           |v AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
           |p AS (SELECT freq,
           |    unnest(list_transform(generate_series(1, len(word) - 1),
           |      i -> substr(word, CAST(i AS INT), 2))) AS pair
           |  FROM v WHERE len(word) >= 2)
           |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
           |FROM p GROUP BY pair
           |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin)),

    // Adaptive per-source quality gate
    // (graft.analytics.Sampling.perGroupQuantileGate): drop each
    // source's worst quartile judged against that source's OWN quality
    // distribution. The threshold is an order statistic — an element of
    // the multiset, no interpolation — so the `quality >= thr` gate is
    // bit-exact across engines (both compute q21's quality arithmetic
    // verbatim). Per-source rollup: corpus size, survivors, threshold.
    // Scale: one per-group multiset aggregation (q51's documented
    // exact-quantile state bound) to n_sources threshold rows, broadcast
    // back; everything else is per-row maps and counts.
    Q("q122_adaptive_quality_gate",
      (s, dir) => {
        val q = ExtQueries.qualityFrame(s, dir)
          .select(col("doc_id"), col("source"), col("quality"))
          .where(col("quality").isNotNull)
        val kept = graft.analytics.Sampling
          .perGroupQuantileGate(q, "source", "quality", 0.25)
        val totals = q.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
        kept.groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            round(first(col("thr")), 6).as("thr"))
          .join(broadcast(totals), "source")
          .select(col("source"), col("n_docs"), col("n_kept"), col("thr"))
          .orderBy(col("source"))
      },
      Some(
        """WITH s AS (SELECT doc_id, source,
          |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS alnum_len,
          |    len(regexp_extract_all(lower(text), '\b(?:the|a|of|and|to|in|is|on|for|with)\b')) AS n_stop
          |  FROM documents),
          |q AS (SELECT doc_id, source,
          |    0.5 * least(1.0, n_tokens / 100.0)
          |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
          |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE) / nullif(n_tokens, 0) / 8.0) AS quality
          |  FROM s),
          |f AS (SELECT * FROM q WHERE quality IS NOT NULL),
          |t AS (SELECT source, count(*) AS n_docs,
          |    list_sort(list(quality))[least(count(*),
          |      CAST(floor(0.25 * count(*)) AS BIGINT) + 1)] AS thr
          |  FROM f GROUP BY source)
          |SELECT f.source, CAST(t.n_docs AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN f.quality >= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          |  round(t.thr, 6) AS thr
          |FROM f JOIN t ON f.source = t.source
          |GROUP BY f.source, t.n_docs, t.thr
          |ORDER BY f.source""".stripMargin)),

    // URL extraction + registered-domain rollup (graft.text.Urls): the
    // provenance axis of web-corpus curation — extract http(s) links,
    // parse hosts, roll up per registered domain, flag blocklisted
    // domains via a broadcast left join. The testdata corpus carries no
    // organic URLs (synthetic word salad), so the query PLANTS
    // deterministic links derived from doc_id (mod-arithmetic presence
    // across two domain families) plus scheme-less and ftp decoys that
    // must NOT match. Extraction and parsing are pure per-row regex maps;
    // only n_domains rows of rollup state reach the exchange.
    Q("q123_url_extract",
      (s, dir) => {
        val d = col("doc_id")
        val planted = Tables.sharded(s, dir, "documents", "doc_id")
          .select(d, concat(
            col("text"),
            when(d % 3 === 0, concat(lit(" see http://www.news"),
              (d % 5).cast("string"), lit(".example.com/a/"),
              d.cast("string"))).otherwise(lit("")),
            when(d % 4 === 0, concat(lit(" https://cdn.assets-"),
              (d % 3).cast("string"), lit(".net/f?id="),
              d.cast("string"))).otherwise(lit("")),
            lit(" ftp://files.skip.me/x www.bare-domain.com")).as("text2"))
        val doms = planted
          .select(d, explode(graft.text.Urls.extractUrls(col("text2")))
            .as("url"))
          .select(d, graft.text.Urls.registeredDomain(
            graft.text.Urls.host(col("url"))).as("domain"))
        val blocklist = s.createDataFrame(Seq(Tuple1("assets-1.net")))
          .toDF("domain").withColumn("__hit", lit(true))
        doms.groupBy(col("domain"))
          .agg(count(lit(1)).as("n_links"),
            countDistinct(col("doc_id")).as("n_docs"))
          .join(broadcast(blocklist), Seq("domain"), "left")
          .withColumn("blocked", coalesce(col("__hit"), lit(false)))
          .select(col("domain"), col("n_links"), col("n_docs"),
            col("blocked"))
          .orderBy(col("domain"))
      },
      Some(
        """WITH p AS (SELECT doc_id, lower(text ||
          |    CASE WHEN doc_id % 3 = 0 THEN ' see http://www.news' ||
          |      CAST(doc_id % 5 AS VARCHAR) || '.example.com/a/' ||
          |      CAST(doc_id AS VARCHAR) ELSE '' END ||
          |    CASE WHEN doc_id % 4 = 0 THEN ' https://cdn.assets-' ||
          |      CAST(doc_id % 3 AS VARCHAR) || '.net/f?id=' ||
          |      CAST(doc_id AS VARCHAR) ELSE '' END ||
          |    ' ftp://files.skip.me/x www.bare-domain.com') AS t
          |  FROM documents),
          |u AS (SELECT doc_id,
          |    unnest(regexp_extract_all(t,
          |      'https?://[a-z0-9.-]+(?:/[a-z0-9/?=._-]*)?')) AS url
          |  FROM p),
          |d AS (SELECT doc_id, regexp_extract(
          |    regexp_extract(url, 'https?://([a-z0-9.-]+)', 1),
          |    '([a-z0-9-]+\.[a-z0-9-]+)$', 1) AS domain FROM u),
          |g AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_links,
          |    CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
          |  FROM d GROUP BY domain)
          |SELECT g.domain, g.n_links, g.n_docs,
          |  coalesce(b.hit, false) AS blocked
          |FROM g LEFT JOIN (VALUES ('assets-1.net', true)) b(domain, hit)
          |  ON g.domain = b.domain
          |ORDER BY g.domain""".stripMargin)),

    // Embedding-space diversity cap (SemDeDup's pruning cousin): keep at
    // most 2 vectors per hyperplane-LSH bucket by deterministic
    // salted-digest priority — the cluster-balanced downsampling that
    // stops dense regions of embedding space from dominating a training
    // mix. The window is per-bucket (bucket = the shuffle key) and the
    // rk <= 2 filter plans as WindowGroupLimit: each map task keeps only
    // its local top-2 per bucket BEFORE the exchange, so the shuffle
    // carries ~2·n_buckets·n_partitions rows, not the corpus.
    Q("q124_diversity_sample",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("e"))
        val bucketed = emb.select(col("vec_id"),
          graft.similarity.Similarity
            .hyperplaneBucket(s, col("e"), dim = 64, planes = 8)
            .as("bucket"))
        val prio = md5(concat(col("vec_id").cast("string"), lit(":div")))
        val w = Window.partitionBy(col("bucket")).orderBy(prio, col("vec_id"))
        bucketed
          .withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= 2)
          .select(col("bucket"), col("vec_id"), col("rk"))
          .orderBy(col("bucket"), col("rk"))
      },
      Some(
        DedupQueries.duckHyperplaneBuckets +
        """
          |SELECT bucket, vec_id, rk FROM (
          |  SELECT bucket, vec_id,
          |    row_number() OVER (PARTITION BY bucket
          |      ORDER BY md5(CAST(vec_id AS VARCHAR) || ':div'), vec_id)
          |      AS rk
          |  FROM bucketed) t
          |WHERE rk <= 2 ORDER BY bucket, rk""".stripMargin)),

    // WITHIN-document passage dedup (graft.dedup.Dedup.dedupUnitsLocal):
    // the intra-page boilerplate cut — each document drops later repeats
    // of its own 32-token units, entirely document-locally: one
    // shuffle-free projection (IntraDocDedupSpec asserts the Exchange-free
    // plan), the complement of q108's cross-corpus keep-first-global.
    Q("q125_intra_doc_dedup",
      (s, dir) =>
        graft.dedup.Dedup
          .dedupUnitsLocal(Tables.sharded(s, dir, "documents", "doc_id"),
            size = 32)
          .orderBy(col("doc_id")),
      Some(
        s"""WITH d AS (SELECT doc_id, ${ExtQueries.duckTokens} AS toks
           |  FROM documents),
           |u AS (SELECT doc_id,
           |    CASE WHEN len(toks) > 0
           |      THEN list_transform(generate_series(0, (len(toks) - 1) // 32),
           |        i -> array_to_string(
           |          toks[i * 32 + 1 : least(i * 32 + 32, len(toks))], ' '))
           |      ELSE [] END AS us
           |  FROM d),
           |k AS (SELECT doc_id, us,
           |    list_filter(us, (x, i) -> list_position(us, x) = i) AS kept
           |  FROM u)
           |SELECT doc_id, CAST(len(us) AS INT) AS n_units,
           |  CAST(len(kept) AS INT) AS n_kept,
           |  md5(array_to_string(kept, ' ')) AS clean_digest
           |FROM k ORDER BY doc_id""".stripMargin)),

    // The ITERATIVE BPE trainer (graft.text.Bpe.trainMerges): three
    // greedy merge steps over the corpus vocabulary, returning the
    // learned merge table — each step is one vocabulary-sized
    // pair-count job, a ONE-row driver collect (the k-means-centroid
    // scalar class), and a pure-map literal replace on wrapped symbol
    // strings ("|c||a||t|" — both symbol ends anchored) that cannot
    // merge across symbol boundaries or into a longer symbol's prefix.
    // The oracle unrolls the identical three rounds as CTEs (pair
    // counts → top-1 by (cnt desc, l, r) → replace), so the hash pins
    // the greedy selection AND the merge application semantics. The
    // production trainer (trainMergesLocal — driver-local merge loop,
    // no per-step job) is pinned EQUAL to this one by BpeSpec and runs
    // under q127/q129.
    Q("q126_bpe_train",
      (s, dir) =>
        graft.text.Bpe.trainMerges(
          Tables.sharded(s, dir, "documents", "doc_id"), nMerges = 3),
      Some {
        s"""WITH w AS (SELECT unnest(${ExtQueries.duckTokens}) AS word
           |  FROM documents),
           |vw AS (SELECT word, count(*) AS freq FROM w GROUP BY word),
           |$bpeV0,
           |${bpeRound(1)},
           |${bpeRound(2)},
           |${bpeRound(3)}
           |SELECT * FROM (
           |  SELECT 1 AS step, l, r, CAST(cnt AS BIGINT) AS cnt FROM b1
           |  UNION ALL
           |  SELECT 2 AS step, l, r, CAST(cnt AS BIGINT) AS cnt FROM b2
           |  UNION ALL
           |  SELECT 3 AS step, l, r, CAST(cnt AS BIGINT) AS cnt FROM b3)
           |ORDER BY step""".stripMargin
      }),

    // BPE APPLICATION (graft.text.Bpe.encode): re-tokenize the corpus
    // under the q126-learned merges and report per-document exact
    // (n_words, n_syms) — what a token-budget mix or packing stage
    // consumes once a real tokenizer exists. Training collects the 3
    // merge rows (the broadcast-scalar class); application is then ONE
    // pure map stage — each word symbol-encodes and folds through the
    // marker replaces inside a per-row expression, no shuffle/join/
    // state. The oracle re-derives the merges with q126's CTE chain and
    // replays the same nested replaces per word, so the hash pins
    // train→apply end to end.
    Q("q127_bpe_encode",
      (s, dir) =>
        graft.text.Bpe
          .encode(Tables.sharded(s, dir, "documents", "doc_id"),
            learnedMerges(s, dir))
          .orderBy(col("doc_id")),
      Some {
        s"""$bpeEncodedWords
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           |  CAST(sum(len(string_split(sym, '||'))) AS BIGINT) AS n_syms
           |FROM s2 GROUP BY doc_id ORDER BY doc_id""".stripMargin
      }),

    // Tokenizer-aware shard packing: q89 packs by a chars/4 HEURISTIC;
    // this packs by the EXACT token counts of the learned q126 tokenizer
    // (q127's encode), which is what a training-shard writer actually
    // wants — the budget is in real model tokens, not estimates. Chain:
    // train (memoized per session/dir) → encode (pure map) →
    // Packing.packByBudget's two-phase distributed prefix sum (no
    // SinglePartition exchange — PackingSpec's contract). The oracle
    // replays train + apply + a window cum-sum cut, pinning the whole
    // composition.
    Q("q129_bpe_packing",
      (s, dir) => {
        val counts = graft.text.Bpe
          .encode(Tables.sharded(s, dir, "documents", "doc_id"),
            learnedMerges(s, dir))
          .select(col("doc_id"), col("n_syms"))
        graft.analytics.Packing
          .packByBudget(counts, orderCol = "doc_id", weightCol = "n_syms",
            budget = 4096L)
          .orderBy(col("doc_id"))
      },
      Some {
        s"""$bpeEncodedWords,
           |tok AS (SELECT doc_id,
           |    CAST(sum(len(string_split(sym, '||'))) AS BIGINT)
           |      AS n_syms
           |  FROM s2 GROUP BY doc_id),
           |c AS (SELECT doc_id, n_syms,
           |    sum(n_syms) OVER (ORDER BY doc_id) AS cum FROM tok)
           |SELECT doc_id, n_syms,
           |  CAST((cum - n_syms) // 4096 AS BIGINT) AS shard_id
           |FROM c ORDER BY doc_id""".stripMargin
      }),

    // Classifier-based curation (graft.text.Classify): multinomial Naive
    // Bayes provenance classifier — train token×class counts on the
    // hash-split 80%, score the held-out 20% with Laplace smoothing, emit
    // each doc's argmax class. The fastText-quality-classifier shape with
    // closed-form training: ONE corpus aggregation builds the model, apply
    // is a (word,label)-keyed join + per-doc argmax. Scores round to 6
    // BEFORE the argmax and ties break on label name, so engine and
    // oracle rank identically (q87's ln-sum determinism precedent). The
    // oracle re-derives the md5 dyadic split (q96), the counts, and the
    // same smoothing arithmetic in CTEs.
    Q("q132_nb_source_classifier",
      (s, dir) =>
        graft.text.Classify
          .naiveBayesPredict(Tables.sharded(s, dir, "documents", "doc_id"),
            labelCol = "source")
          .orderBy(col("doc_id")),
      Some(
        s"""WITH u AS (SELECT doc_id, source, text,
           |    list_aggregate(list_transform(generate_series(1, 13),
           |      i -> (strpos('0123456789abcdef',
           |              substr(md5(CAST(doc_id AS VARCHAR) || ':nb'),
           |                i, 1)) - 1)
           |           * power(CAST(16 AS DOUBLE), 13 - i)), 'sum')
           |      / power(CAST(2 AS DOUBLE), 52) AS uu
           |  FROM documents),
           |ttok AS (SELECT source AS label,
           |    unnest(${ExtQueries.duckTokens}) AS word
           |  FROM u WHERE uu < 0.8),
           |cwl AS (SELECT label, word, count(*) AS cwl
           |  FROM ttok GROUP BY 1, 2),
           |tot AS (SELECT label, CAST(sum(cwl) AS DOUBLE) AS tot
           |  FROM cwl GROUP BY 1),
           |v AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM cwl),
           |pri AS (SELECT source AS label, count(*) AS nd
           |  FROM u WHERE uu < 0.8 GROUP BY 1),
           |prin AS (SELECT label,
           |    ln(CAST(nd AS DOUBLE) / (SELECT sum(nd) FROM pri)) AS lnp
           |  FROM pri),
           |dwc AS (SELECT doc_id, word, count(*) AS c FROM (
           |    SELECT doc_id, unnest(${ExtQueries.duckTokens}) AS word
           |    FROM u WHERE uu >= 0.8) GROUP BY 1, 2),
           |sc AS (SELECT w.doc_id, l.label,
           |    sum(w.c * ln((coalesce(m.cwl, 0) + CAST(1.0 AS DOUBLE))
           |      / (tot.tot + v.v))) AS s
           |  FROM dwc w
           |  CROSS JOIN (SELECT DISTINCT label FROM cwl) l
           |  LEFT JOIN cwl m ON m.word = w.word AND m.label = l.label
           |  JOIN tot ON tot.label = l.label
           |  CROSS JOIN v
           |  GROUP BY 1, 2),
           |fin AS (SELECT sc.doc_id, sc.label,
           |    round(sc.s + prin.lnp, 6) AS score,
           |    row_number() OVER (PARTITION BY sc.doc_id
           |      ORDER BY round(sc.s + prin.lnp, 6) DESC, sc.label) AS rk
           |  FROM sc JOIN prin ON prin.label = sc.label)
           |SELECT doc_id, label AS pred_source, score
           |FROM fin WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Hybrid retrieval — the RAG-serving shape: a lexical ranked list
    // (q76's BM25, same query tokens) and a vector ranked list (exact
    // cosine to a query embedding, q148's query-vector pattern) fused by
    // reciprocal-rank fusion (graft.similarity.Hybrid.rrf; Cormack et al.
    // 2009). Both lists are top-20 BOUNDED artifacts before fusion — the
    // corpus-sized work lives in the two rankers, each already verified
    // on its own (q76, q66); the fusion itself unions 40 rows and runs
    // one keyed aggregate, so the composition adds no scale risk. The
    // rank windows run over ALREADY-LIMITED 20-row frames (the q124
    // map-side-rank pattern, not a corpus-wide global window). The
    // oracle replays BM25, the cosine ranking, and the 1/(60+rank) sum.
    Q("q172_hybrid_rrf",
      (s, dir) => {
        val bmTop = graft.text.TextStats
          .bm25(Tables.sharded(s, dir, "documents", "doc_id"),
            queryTokens = Seq("join", "vector", "dup"))
          .orderBy(col("score").desc, col("doc_id")).limit(20)
        val bmRanked = bmTop.select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id")))
          .as("rank"))
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("e"))
        val v0 = emb.where(col("vec_id") === 0)
          .select(col("e")).collect().head.getSeq[Double](0).toArray
        val cosTop = emb.where(col("vec_id") > 0)
          .select(col("vec_id").as("doc_id"),
            round(graft.functions.CosineSimilarity(col("e"), typedLit(v0)),
              6).as("c"))
          .orderBy(col("c").desc, col("doc_id")).limit(20)
        val cosRanked = cosTop.select(col("doc_id"), row_number()
          .over(Window.orderBy(col("c").desc, col("doc_id"))).as("rank"))
        graft.similarity.Hybrid.rrf(Seq(bmRanked, cosRanked))
          .orderBy(col("rrf_score").desc, col("doc_id")).limit(10)
      },
      Some(ExtQueries.duckBm25 + """,
          |bmtop AS (SELECT doc_id, round(sum(s), 6) AS score
          |  FROM s GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20),
          |bm AS (SELECT doc_id,
          |    row_number() OVER (ORDER BY score DESC, doc_id) AS rank
          |  FROM bmtop),
          |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
          |        FROM embeddings),
          |qv AS (SELECT ev FROM emb WHERE vec_id = 0),
          |costop AS (SELECT vec_id AS doc_id,
          |    round(list_cosine_similarity(e.ev, qv.ev), 6) AS cs
          |  FROM emb e CROSS JOIN qv WHERE e.vec_id > 0
          |  ORDER BY cs DESC, doc_id LIMIT 20),
          |ct AS (SELECT doc_id,
          |    row_number() OVER (ORDER BY cs DESC, doc_id) AS rank
          |  FROM costop),
          |u AS (SELECT doc_id, rank FROM bm
          |      UNION ALL SELECT doc_id, rank FROM ct)
          |SELECT doc_id,
          |  round(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) AS rrf_score,
          |  count(*) AS n_lists
          |FROM u GROUP BY doc_id
          |ORDER BY rrf_score DESC, doc_id LIMIT 10""".stripMargin))
  )
}
