package graft.queries

import org.apache.spark.sql.functions._

/** The curation tail's policy layer: which copy of a duplicate survives
  * (source-priority canonical selection), which documents are even
  * eligible (Gopher rule gates), and what must be scrubbed before
  * training (PII redaction). Each is a thin driver over a library
  * operator ([[graft.dedup.Dedup.canonicalPerCluster]],
  * [[graft.text.TextStats.gopherGates]], [[graft.text.Redact]]) with a
  * DuckDB oracle replaying the same semantics. */
object CurationQueries {

  /** Source priority: the numeric suffix of the synthetic `srcN` source
    * id, lower = more trusted (a stand-in for the curated-source ranking
    * real pipelines carry — wiki before web before crawl). */
  private val srcPrio = substring(col("source"), 4, 10).cast("int")

  val all: Seq[Q] = Seq(

    // Source-priority canonical selection: for every near-dup cluster
    // (q55's connected components over LSH-candidate edges, consumed
    // through the SAME cached clustersFrame — the label propagation never
    // re-runs), keep the copy from the most-trusted source, breaking ties
    // by longer document then smaller doc_id. One groupBy on cluster_id
    // with a map-side-combining min_by over a packed ordering struct —
    // the shuffle carries one candidate per (partition, cluster), never a
    // per-cluster sort, so a million-member boilerplate cluster costs its
    // bandwidth, not a sort. q59 hard-codes "min doc_id wins"; this is
    // the policy-aware replacement a reference user migrating a real
    // pipeline needs.
    Q("q93_canonical_select",
      (s, dir) => {
        val members = DedupQueries.clustersFrame(s, dir)
          .join(Tables(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
        graft.dedup.Dedup.canonicalPerCluster(
          members, "cluster_id",
          orderCols = Seq(srcPrio, -col("n_chars"), col("doc_id")),
          keepCols = Seq("doc_id", "source", "n_chars"))
          .select(col("cluster_id"), col("n_members"),
            col("canonical_doc_id"), col("canonical_source"),
            col("canonical_n_chars"))
          .orderBy(col("cluster_id"))
      },
      Some(DedupQueries.duckLshEdges.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """,
          |und AS (SELECT doc_a AS s, doc_b AS t FROM jp
          |        UNION ALL SELECT doc_b, doc_a FROM jp),
          |reach AS (SELECT s, t FROM und
          |          UNION
          |          SELECT r.s, u.t FROM reach r JOIN und u ON r.t = u.s
          |          WHERE u.t <> r.s),
          |cl AS (SELECT d.doc_id,
          |    least(d.doc_id, coalesce(min(r.t), d.doc_id)) AS cluster_id
          |  FROM documents d LEFT JOIN reach r ON d.doc_id = r.s
          |  GROUP BY d.doc_id),
          |mem AS (SELECT cl.cluster_id, d.doc_id, d.source, d.n_chars,
          |    CAST(substr(d.source, 4) AS INT) AS prio
          |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
          |    ORDER BY prio, n_chars DESC, doc_id) AS rn,
          |    count(*) OVER (PARTITION BY cluster_id) AS n_members
          |  FROM mem)
          |SELECT cluster_id, n_members, doc_id AS canonical_doc_id,
          |  source AS canonical_source, n_chars AS canonical_n_chars
          |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),

    // Gopher rule gates (graft.text.TextStats.gopherGates): MassiveText's
    // pre-model quality battery — word count, mean word length, distinct
    // stopwords, alphabetic-word fraction — as one codegen'd per-row pass
    // over a single split, no explode and no shuffle: the cheap filter
    // that runs FIRST at 100 TB, in front of quality()/bigramLmScore().
    // The oracle replays every gate with DuckDB list lambdas.
    Q("q94_gopher_gates",
      (s, dir) =>
        graft.text.TextStats
          .gopherGates(Tables(s, dir, "documents"))
          .select(col("doc_id"), col("n_words"), col("mean_word_len"),
            col("n_stop_distinct"), col("alpha_frac"), col("gate_words"),
            col("gate_word_len"), col("gate_stop"), col("gate_alpha"),
            col("pass"))
          .orderBy(col("doc_id")),
      Some(
        """WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\s+'),
          |      x -> len(x) > 0) AS words
          |  FROM documents),
          |m AS (SELECT doc_id, len(words) AS n_words,
          |    round(CAST(list_aggregate(list_transform(words,
          |        x -> len(x)), 'sum') AS DOUBLE)
          |      / nullif(CAST(len(words) AS DOUBLE), 0.0), 6)
          |      AS mean_word_len,
          |    len(list_intersect(list_transform(words, x -> lower(x)),
          |      ['the','a','of','and','to','in','is','on','for','with']))
          |      AS n_stop_distinct,
          |    round(CAST(len(list_filter(words,
          |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
          |      / nullif(CAST(len(words) AS DOUBLE), 0.0), 6) AS alpha_frac
          |  FROM w)
          |SELECT doc_id, n_words, mean_word_len, n_stop_distinct,
          |  alpha_frac,
          |  n_words >= 50 AND n_words <= 100000 AS gate_words,
          |  coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
          |    false) AS gate_word_len,
          |  n_stop_distinct >= 2 AS gate_stop,
          |  coalesce(alpha_frac >= 0.8, false) AS gate_alpha,
          |  (n_words >= 50 AND n_words <= 100000)
          |    AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
          |      false)
          |    AND n_stop_distinct >= 2
          |    AND coalesce(alpha_frac >= 0.8, false) AS pass
          |FROM m ORDER BY doc_id""".stripMargin)),

    // PII redaction (graft.text.Redact): mask emails / SSNs / phones /
    // IPv4s with typed placeholders and audit the per-type hit counts.
    // The testdata corpus carries no organic PII (synthetic word salad),
    // so the query PLANTS deterministic PII derived from doc_id — varying
    // presence per type (mod arithmetic) plus a bare-number decoy that
    // must survive unredacted — then verifies the full redacted text by
    // digest against the oracle's RE2 replay of the same construction.
    // The operator itself (Redact.redactPii) is a pure per-row regex map:
    // codegen'd, shuffle-free, the 100 TB shape; RedactSpec pins the
    // fixture-level semantics (idempotence, decoys, ordering).
    Q("q95_pii_redact",
      (s, dir) => {
        val planted = concat(
          col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@mail.example.com"))).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            concat(
              when(col("doc_id") % 2 === 0, lit(" tel (555) 123-"))
                .otherwise(lit(" tel +1-555-123-")),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 123-45-"),
              lpad(((col("doc_id") * 3) % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string")),
          concat(lit(" order "), (col("doc_id") * 13).cast("string")))
        val counts = graft.text.Redact.piiCounts(col("__full"))
        // sharded: the per-row regex chain is row-expensive and the
        // single-row-group scan otherwise runs it on ONE task (two
        // 0.7 s serial stages in the r18 probe); and the redacted text
        // is materialized ONCE per row — red_len and red_digest both
        // read __red instead of re-running the 4-pass regex chain
        Tables.sharded(s, dir, "documents", "doc_id")
          .select(col("doc_id"), planted.as("__full"))
          .withColumn("__red", graft.text.Redact.redactPii(col("__full")))
          .select(col("doc_id") +:
            counts.map { case (n, c) => c.as(n) } :+
            length(col("__red")).as("red_len") :+
            md5(col("__red")).as("red_digest"): _*)
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH f AS (SELECT doc_id, text
          |    || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || doc_id
          |         || '@mail.example.com' ELSE '' END
          |    || CASE WHEN doc_id % 3 = 0 THEN
          |         CASE WHEN doc_id % 2 = 0 THEN ' tel (555) 123-'
          |           ELSE ' tel +1-555-123-' END
          |         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
          |       ELSE '' END
          |    || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
          |         || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
          |       ELSE '' END
          |    || ' host 10.0.' || (doc_id % 256) || '.'
          |    || ((doc_id * 7) % 256)
          |    || ' order ' || (doc_id * 13) AS ftext
          |  FROM documents),
          |r AS (SELECT doc_id,
          |    CAST(len(regexp_extract_all(ftext,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |      AS INT) AS n_email,
          |    CAST(len(regexp_extract_all(ftext,
          |      '\b\d{3}-\d{2}-\d{4}\b')) AS INT) AS n_ssn,
          |    CAST(len(regexp_extract_all(ftext,
          |      '(\+\d{1,3}[-. ])?(\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b'))
          |      AS INT) AS n_phone,
          |    CAST(len(regexp_extract_all(ftext,
          |      '\b\d{1,3}(\.\d{1,3}){3}\b')) AS INT) AS n_ip,
          |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |      ftext,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
          |      '<EMAIL>', 'g'),
          |      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
          |      '(\+\d{1,3}[-. ])?(\(\d{3}\)[-. ]?|\b\d{3}[-. ])\d{3}[-. ]\d{4}\b',
          |      '<PHONE>', 'g'),
          |      '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g') AS red
          |  FROM f)
          |SELECT doc_id, n_email, n_ssn, n_phone, n_ip,
          |  CAST(len(red) AS INT) AS red_len, md5(red) AS red_digest
          |FROM r ORDER BY doc_id""".stripMargin)),

    // Deterministic train/val/test split (graft.analytics.Sampling
    // .hashSplit): the 52-bit salted-digest uniform thresholded at the
    // cumulative fractions — a pure per-row map (no shuffle, no state),
    // and a document's split NEVER changes when the corpus grows, the
    // property a rand() splitter cannot give. The oracle recomputes the
    // exact dyadic uniform digit-by-digit from the same md5, so both
    // engines place every boundary row identically.
    Q("q96_hash_split",
      (s, dir) =>
        graft.analytics.Sampling
          .hashSplit(
            Tables(s, dir, "documents").select(col("doc_id"), col("source")),
            idCol = "doc_id",
            fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            salt = "split")
          .select(col("doc_id"), col("source"), col("split"))
          .orderBy(col("doc_id")),
      Some(
        """WITH u AS (SELECT doc_id, source,
          |    list_aggregate(list_transform(generate_series(1, 13),
          |      i -> (strpos('0123456789abcdef',
          |              substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
          |                i, 1)) - 1)
          |           * power(CAST(16 AS DOUBLE), 13 - i)), 'sum')
          |      / power(CAST(2 AS DOUBLE), 52) AS uu
          |  FROM documents)
          |SELECT doc_id, source,
          |  CASE WHEN uu < 0.8 THEN 'train'
          |       WHEN uu < 0.9 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM u ORDER BY doc_id""".stripMargin)),

    // Token-budget data mixing (graft.analytics.Packing
    // .takeByBudgetPerGroup): take the first `budget` estimated tokens
    // from EACH source, documents ordered by a salted digest (a
    // deterministic shuffle of each source, so the taken prefix is an
    // unbiased per-source sample) — the "mix N tokens of wiki, N of web"
    // step in front of shard packing. The prefix sum is the GROUPED
    // two-phase distributed shape: range partitions over (source, digest),
    // per-(partition, source) local windows, and a tiny keyed offset
    // window — no whole-source sort on any single task, no driver collect
    // (DataMixSpec asserts both). The oracle affords the plain per-source
    // window at its scale; the begins-before-the-cut convention matches
    // q89's.
    Q("q97_data_mix",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"),
            graft.analytics.Sampling.priority(col("doc_id"), "mix")
              .as("priority"))
        graft.analytics.Packing
          .takeByBudgetPerGroup(docs, groupCol = "source",
            orderCol = "priority", weightCol = "est_tokens", budget = 800L)
          .select(col("source"), col("doc_id"), col("est_tokens"),
            col("tok_start"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(
        """WITH t AS (SELECT doc_id, source,
          |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens,
          |    md5(CAST(doc_id AS VARCHAR) || ':mix') AS priority
          |  FROM documents),
          |c AS (SELECT *, sum(est_tokens) OVER (PARTITION BY source
          |      ORDER BY priority
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM t)
          |SELECT source, doc_id, est_tokens,
          |  CAST(cum - est_tokens AS BIGINT) AS tok_start
          |FROM c WHERE cum - est_tokens < 800
          |ORDER BY source, doc_id""".stripMargin)),

    // DSIR importance selection (graft.text.TextStats.dsirLogRatio, Xie
    // et al. 2023): score every document by how much more likely it is
    // under the target-domain bigram LM (target = the corpus's labeled
    // English rows) than under the raw-corpus LM, and keep the top 100 —
    // importance resampling toward a target distribution without
    // hand-written rules. Both models fold from ONE doc-local bigram
    // count (the target's is a filtered re-aggregation — no second
    // tokenize); unseen-in-target events hit the add-one smoothing floor
    // via left joins. Round-6 score with doc_id tiebreak makes the top-k
    // engine-deterministic (the q76/q78 convention); the plan is
    // TakeOrderedAndProject, never a global sort.
    Q("q98_dsir_select",
      (s, dir) => {
        val docs = Tables.sharded(s, dir, "documents", "doc_id")
          .withColumn("__tgt", col("lang") === "en")
        graft.text.TextStats.dsirLogRatio(docs, targetCol = "__tgt")
          .orderBy(col("logratio").desc, col("doc_id"))
          .limit(100)
      },
      Some(
        s"""WITH d AS (SELECT doc_id, lang = 'en' AS tgt,
          |    ${ExtQueries.duckTokens} AS toks FROM documents),
          |tok AS (SELECT tgt, unnest(toks) AS w1 FROM d),
          |runi AS (SELECT w1, count(*) AS c1r FROM tok GROUP BY 1),
          |tuni AS (SELECT w1, count(*) AS c1t FROM tok WHERE tgt
          |  GROUP BY 1),
          |v AS (SELECT count(DISTINCT w1) AS vr,
          |    count(DISTINCT CASE WHEN tgt THEN w1 END) AS vt FROM tok),
          |bg AS (SELECT doc_id, tgt,
          |    unnest(list_transform(generate_series(1, len(toks) - 1),
          |      i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS b
          |  FROM d WHERE len(toks) >= 2),
          |bgc AS (SELECT doc_id, tgt, b.w1 AS w1, b.w2 AS w2,
          |    count(*) AS c FROM bg GROUP BY 1, 2, 3, 4),
          |rbi AS (SELECT w1, w2, sum(c) AS c2r FROM bgc GROUP BY 1, 2),
          |tbi AS (SELECT w1, w2, sum(c) AS c2t FROM bgc WHERE tgt
          |  GROUP BY 1, 2),
          |sc AS (SELECT g.doc_id, g.c,
          |    ln((coalesce(tbi.c2t, 0) + CAST(1.0 AS DOUBLE))
          |       / (coalesce(tuni.c1t, 0) + v.vt))
          |    - ln((rbi.c2r + CAST(1.0 AS DOUBLE)) / (runi.c1r + v.vr))
          |      AS lr
          |  FROM bgc g LEFT JOIN tbi USING (w1, w2)
          |  JOIN rbi USING (w1, w2) LEFT JOIN tuni USING (w1)
          |  JOIN runi USING (w1) CROSS JOIN v)
          |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
          |  round(sum(c * lr) / sum(c), 6) AS logratio
          |FROM sc GROUP BY doc_id
          |ORDER BY logratio DESC, doc_id LIMIT 100""".stripMargin)),

    // Curriculum ordering: easiest-first training order — global
    // difficulty rank (quality ascending = hardest last is the usual
    // "clean first" curriculum) via the TWO-PHASE distributed rank
    // (Ranks.withGlobalRank — range shuffle + local sorts
    // + zipWithIndex; NEVER a partition-less Window.orderBy), decile
    // bins from the rank, and a deterministic salted-digest shuffle key
    // WITHIN each bin (intra-bin order must be random-but-reproducible,
    // not quality-sorted — adjacent batches from one quality stratum is
    // the known curriculum failure mode). Quality is the q21-verified
    // cached frame; rank keys round-6 + doc_id so both engines produce
    // the identical total order.
    Q("q99_curriculum",
      (s, dir) => {
        // token-free docs have NULL quality (nothing to train on) and are
        // excluded EXPLICITLY: Spark's sort puts NULLs first, DuckDB's
        // row_number puts them last — left in, every rank downstream of a
        // NULL would disagree between the engines
        val q = ExtQueries.qualityFrame(s, dir)
          .where(col("quality").isNotNull)
          .select(col("doc_id"), round(col("quality"), 6).as("quality"))
        val n = q.count() // driver scalar: the bin divisor
        Ranks.withGlobalRank(q, Seq(col("quality"), col("doc_id")), "__rk")
          .select(col("doc_id"), col("quality"),
            expr(s"((__rk - 1) * 10) DIV ${n}L").as("bin"),
            md5(concat(col("doc_id").cast("string"), lit(":cur")))
              .as("shuffle_key"))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH s AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
          |      AS alnum_len,
          |    len(regexp_extract_all(lower(text),
          |      '\\b(?:${graft.text.TextStats.Stopwords.mkString("|")})\\b'))
          |      AS n_stop
          |  FROM documents),
          |q AS (SELECT doc_id,
          |    round(0.5 * least(1.0, n_tokens / 100.0)
          |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
          |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE)
          |                         / nullif(n_tokens, 0) / 8.0), 6)
          |      AS quality
          |  FROM s WHERE n_tokens > 0),
          |r AS (SELECT doc_id, quality,
          |    row_number() OVER (ORDER BY quality, doc_id) AS rk,
          |    count(*) OVER () AS n
          |  FROM q)
          |SELECT doc_id, quality, ((rk - 1) * 10) // n AS bin,
          |  md5(CAST(doc_id AS VARCHAR) || ':cur') AS shuffle_key
          |FROM r ORDER BY doc_id""".stripMargin)),

    // Sliding-window chunking: split every document into fixed-size
    // token windows with overlap (size 64, stride 48 → 16-token overlap)
    // — the embedding/RAG preparation step that turns a corpus into
    // uniformly-sized passages. One codegen'd per-row
    // tokenize → transform(sequence) → explode: document-local, no
    // shuffle, output volume = input × (1 + overlap fraction); chunk
    // content is verified by digest so the oracle pins exact token
    // boundaries (slice clipping at the tail included).
    Q("q100_chunking",
      (s, dir) =>
        graft.text.TextStats
          .chunk(Tables(s, dir, "documents"), size = 64, stride = 48)
          .select(col("doc_id"), col("chunk_id"),
            size(col("ctoks")).as("chunk_tokens"),
            md5(concat_ws(" ", col("ctoks"))).as("chunk_digest"))
          .orderBy(col("doc_id"), col("chunk_id")),
      Some(
        s"""WITH d AS (SELECT doc_id, ${ExtQueries.duckTokens} AS toks
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    unnest(list_transform(generate_series(0, (len(toks) - 1) // 48),
          |      i -> {'chunk_id': i,
          |            'ctoks': toks[i * 48 + 1 : least(i * 48 + 64,
          |                                             len(toks))]})) AS ch
          |  FROM d WHERE len(toks) >= 1)
          |SELECT doc_id, ch.chunk_id AS chunk_id,
          |  len(ch.ctoks) AS chunk_tokens,
          |  md5(array_to_string(ch.ctoks, ' ')) AS chunk_digest
          |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    // Passage-grain exact dedup (graft.dedup.Dedup.dedupUnits): the
    // RefinedWeb-style boilerplate cut between whole-document dedup (q20)
    // and char-gram span dedup (q74) — repeated passages keep exactly
    // their globally FIRST occurrence (min (doc, idx): deterministic),
    // every later copy is marked dropped. Units here are the q100
    // chunker's non-overlapping 32-token windows (this corpus has no
    // organic paragraph breaks); the frequency aggregation shuffles
    // md5(unit) — 32 chars per unit regardless of passage length — with
    // map-side partial min/count, and the keep-mark is one digest-keyed
    // equi-join. The oracle replays chunking, normalization, and the
    // first-occurrence rule with a window.
    Q("q108_passage_dedup",
      (s, dir) => {
        val units = graft.text.TextStats
          .chunk(Tables.sharded(s, dir, "documents", "doc_id"),
            size = 32, stride = 32)
          .select(col("doc_id"), col("chunk_id"),
            concat_ws(" ", col("ctoks")).as("unit"))
        graft.dedup.Dedup
          .dedupUnits(units, docCol = "doc_id", idxCol = "chunk_id",
            unitCol = "unit")
          .select(col("doc_id"), col("chunk_id"), col("n_occ"),
            col("keep"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(
        s"""WITH d AS (SELECT doc_id, ${ExtQueries.duckTokens} AS toks
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    unnest(list_transform(generate_series(0, (len(toks) - 1) // 32),
          |      i -> {'chunk_id': i,
          |            'ctoks': toks[i * 32 + 1 : least(i * 32 + 32,
          |                                             len(toks))]})) AS ch
          |  FROM d WHERE len(toks) >= 1),
          |u AS (SELECT doc_id, ch.chunk_id AS chunk_id,
          |    lower(trim(regexp_replace(array_to_string(ch.ctoks, ' '),
          |      '\\s+', ' ', 'g'))) AS norm
          |  FROM c),
          |w AS (SELECT doc_id, chunk_id,
          |    count(*) OVER (PARTITION BY norm) AS n_occ,
          |    row_number() OVER (PARTITION BY norm
          |      ORDER BY doc_id, chunk_id) AS rn
          |  FROM u)
          |SELECT doc_id, chunk_id, CAST(n_occ AS BIGINT) AS n_occ,
          |  rn = 1 AS keep
          |FROM w ORDER BY doc_id, chunk_id""".stripMargin)),

    // Passage-index DELETION (Dedup.retractIndex) — the takedown/GDPR
    // path for q108's standing keep-first digest index (r14 verdict gap
    // #1, dedup leg): the doc_id % 7 == 2 slice is taken down, and the
    // index repairs itself by re-electing keepers ONLY for digests the
    // removal touches — a removed keeper hands off to the next
    // (doc, chunk) occurrence, digests whose every copy is removed
    // vanish, untouched index rows pass through unread (broadcast
    // digest semi-join prunes the member scan). Passage grain because
    // this corpus's exact duplication lives there (doc-grain md5s are
    // all unique; DedupRetractSpec covers that grain synthetically).
    // Oracle = the full index rebuild over the retained corpus: the
    // retraction contract IS row-equality with it.
    Q("q212_passage_index_retract",
      (s, dir) => {
        val members = Caches.frame(s, dir, "unitMembers") {
          val units = graft.text.TextStats
            .chunk(Tables.sharded(s, dir, "documents", "doc_id"),
              size = 32, stride = 32)
            .select(col("doc_id"), col("chunk_id"),
              concat_ws(" ", col("ctoks")).as("unit"))
          units.select(
            md5(regexp_replace(trim(lower(col("unit"))), "\\s+", " "))
              .as("unit_hash"),
            col("doc_id"), col("chunk_id"))
        }
        val index = members.groupBy(col("unit_hash"))
          .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__kp"),
            count(lit(1)).as("n_occ"))
          .select(col("unit_hash"), col("__kp.doc_id").as("doc_id"),
            col("__kp.chunk_id").as("chunk_id"), col("n_occ"))
        val removals = Tables(s, dir, "documents")
          .where(col("doc_id") % 7 === 2).select(col("doc_id"))
        graft.dedup.Dedup
          .retractIndex(index, members, removals,
            keyCol = "unit_hash", docCol = "doc_id",
            orderCols = Seq("doc_id", "chunk_id"))
          .select(col("unit_hash"), col("doc_id").as("keeper_doc"),
            col("chunk_id").as("keeper_chunk"), col("n_occ"))
          .orderBy(col("unit_hash"))
      },
      Some(
        s"""WITH d AS (SELECT doc_id, ${ExtQueries.duckTokens} AS toks
          |  FROM documents),
          |c AS (SELECT doc_id,
          |    unnest(list_transform(generate_series(0, (len(toks) - 1) // 32),
          |      i -> {'chunk_id': i,
          |            'ctoks': toks[i * 32 + 1 : least(i * 32 + 32,
          |                                             len(toks))]})) AS ch
          |  FROM d WHERE len(toks) >= 1),
          |u AS (SELECT doc_id, ch.chunk_id AS chunk_id,
          |    lower(trim(regexp_replace(array_to_string(ch.ctoks, ' '),
          |      '\\s+', ' ', 'g'))) AS norm
          |  FROM c WHERE doc_id % 7 <> 2),
          |w AS (SELECT doc_id, chunk_id, norm,
          |    count(*) OVER (PARTITION BY norm) AS n_occ,
          |    row_number() OVER (PARTITION BY norm
          |      ORDER BY doc_id, chunk_id) AS rn
          |  FROM u)
          |SELECT md5(norm) AS unit_hash, doc_id AS keeper_doc,
          |  chunk_id AS keeper_chunk, CAST(n_occ AS BIGINT) AS n_occ
          |FROM w WHERE rn = 1 ORDER BY unit_hash""".stripMargin)),

    // The COMPOSED curation pipeline — what a reference user actually runs
    // end-to-end, chained as ONE query so stage handoffs (and their plan
    // shapes) are themselves regression-pinned: Gopher gates → PII
    // redaction → exact keep-first dedup on the redacted text → the
    // deterministic hash split (train only) → per-source token-budget mix
    // → curriculum rank over the survivors. Every stage is the library
    // operator the standalone queries q94/q95/q96/q97/q99 already verify;
    // what THIS query pins is their composition. Scale shape: the chain up
    // to the mix is gates (per-row map) → redact (per-row regex map) →
    // one digest-keyed aggregate + equi-join (dedup) → split label
    // (per-row map) → the grouped two-phase prefix sum — no global sort,
    // no partition-less window anywhere; the curriculum tail reuses the
    // two-phase Ranks.withGlobalRank. Stage reuse: the pre-rank frame is
    // cached (tag pipe116) because the rank's divisor (a driver scalar,
    // q99's convention) and the zipWithIndex pass both consume it, and the
    // quality join reuses the SAME cached qualityFrame as q21/q78/q86/q99
    // — the corpus regex pass is never repeated. The oracle replays the
    // full chain as CTEs copied stage-for-stage from the standalone
    // oracles.
    Q("q116_curation_pipeline",
      (s, dir) => {
        val piped = Caches.frame(s, dir, "pipe116") {
          val gated = graft.text.TextStats
            .gopherGates(Tables.sharded(s, dir, "documents", "doc_id"))
            .where(col("pass"))
            .select(col("doc_id"), col("source"), col("text"))
          val red = gated
            .withColumn("__red", graft.text.Redact.redactPii(col("text")))
            .withColumn("__dig",
              md5(lower(trim(regexp_replace(col("__red"), "\\s+", " ")))))
          // exact keep-first dedup on the normalized REDACTED text: two
          // raw copies differing only in masked PII are the same training
          // document (q108's groupBy-min + equi-join shape, never a window)
          val first = red.groupBy(col("__dig"))
            .agg(min(col("doc_id")).as("doc_id"))
          val kept = red.join(first, Seq("__dig", "doc_id"))
          val train = graft.analytics.Sampling
            .hashSplit(kept, idCol = "doc_id",
              fractions = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
              salt = "split")
            .where(col("split") === "train")
            .withColumn("est_tokens",
              ceil(length(col("__red")) / 4.0).cast("long"))
            .withColumn("__prio",
              graft.analytics.Sampling.priority(col("doc_id"), "pipe"))
          val mixed = graft.analytics.Packing
            .takeByBudgetPerGroup(train, groupCol = "source",
              orderCol = "__prio", weightCol = "est_tokens", budget = 4000L)
          mixed
            .join(ExtQueries.qualityFrame(s, dir)
              .select(col("doc_id"),
                round(col("quality"), 6).as("quality")), "doc_id")
            .select(col("doc_id"), col("source"), col("est_tokens"),
              col("tok_start"), col("quality"))
        }
        val n = piped.count() // driver scalar: the curriculum bin divisor
        Ranks.withGlobalRank(piped, Seq(col("quality"), col("doc_id")), "__rk")
          .select(col("doc_id"), col("source"), col("est_tokens"),
            col("tok_start"), col("quality"),
            expr(s"((__rk - 1) * 10) DIV ${n}L").as("bin"),
            md5(concat(col("doc_id").cast("string"), lit(":cur")))
              .as("shuffle_key"))
          .orderBy(col("doc_id"))
      },
      Some(
        s"""WITH w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(text, '\\s+'),
          |      x -> len(x) > 0) AS words
          |  FROM documents),
          |m AS (SELECT doc_id, len(words) AS n_words,
          |    round(CAST(list_aggregate(list_transform(words,
          |        x -> len(x)), 'sum') AS DOUBLE)
          |      / nullif(CAST(len(words) AS DOUBLE), 0.0), 6)
          |      AS mean_word_len,
          |    len(list_intersect(list_transform(words, x -> lower(x)),
          |      ['the','a','of','and','to','in','is','on','for','with']))
          |      AS n_stop_distinct,
          |    round(CAST(len(list_filter(words,
          |        x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
          |      / nullif(CAST(len(words) AS DOUBLE), 0.0), 6) AS alpha_frac
          |  FROM w),
          |g AS (SELECT doc_id FROM m
          |  WHERE (n_words >= 50 AND n_words <= 100000)
          |    AND coalesce(mean_word_len >= 3.0 AND mean_word_len <= 10.0,
          |      false)
          |    AND n_stop_distinct >= 2
          |    AND coalesce(alpha_frac >= 0.8, false)),
          |f AS (SELECT d.doc_id, d.source,
          |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |      d.text,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
          |      '<EMAIL>', 'g'),
          |      '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
          |      '(\\+\\d{1,3}[-. ])?(\\(\\d{3}\\)[-. ]?|\\b\\d{3}[-. ])\\d{3}[-. ]\\d{4}\\b',
          |      '<PHONE>', 'g'),
          |      '\\b\\d{1,3}(\\.\\d{1,3}){3}\\b', '<IP>', 'g') AS red
          |  FROM documents d JOIN g USING (doc_id)),
          |dd AS (SELECT *, md5(lower(trim(regexp_replace(red, '\\s+', ' ',
          |    'g')))) AS dig FROM f),
          |fst AS (SELECT dig, min(doc_id) AS doc_id FROM dd GROUP BY dig),
          |k AS (SELECT dd.doc_id, dd.source, dd.red FROM dd JOIN fst
          |  ON dd.dig = fst.dig AND dd.doc_id = fst.doc_id),
          |u AS (SELECT *, list_aggregate(list_transform(generate_series(1, 13),
          |      i -> (strpos('0123456789abcdef',
          |              substr(md5(CAST(doc_id AS VARCHAR) || ':split'),
          |                i, 1)) - 1)
          |           * power(CAST(16 AS DOUBLE), 13 - i)), 'sum')
          |      / power(CAST(2 AS DOUBLE), 52) AS uu
          |  FROM k),
          |t AS (SELECT doc_id, source,
          |    CAST(ceil(len(red) / 4.0) AS BIGINT) AS est_tokens,
          |    md5(CAST(doc_id AS VARCHAR) || ':pipe') AS priority
          |  FROM u WHERE uu < 0.8),
          |c AS (SELECT *, sum(est_tokens) OVER (PARTITION BY source
          |      ORDER BY priority
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM t),
          |mx AS (SELECT doc_id, source, est_tokens,
          |    CAST(cum - est_tokens AS BIGINT) AS tok_start
          |  FROM c WHERE cum - est_tokens < 4000),
          |qs AS (SELECT doc_id,
          |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g'))
          |      AS alnum_len,
          |    len(regexp_extract_all(lower(text),
          |      '\\b(?:${graft.text.TextStats.Stopwords.mkString("|")})\\b'))
          |      AS n_stop
          |  FROM documents),
          |qq AS (SELECT doc_id,
          |    round(0.5 * least(1.0, n_tokens / 100.0)
          |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
          |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE)
          |                         / nullif(n_tokens, 0) / 8.0), 6)
          |      AS quality
          |  FROM qs WHERE n_tokens > 0),
          |j AS (SELECT mx.doc_id, mx.source, mx.est_tokens, mx.tok_start,
          |    qq.quality
          |  FROM mx JOIN qq ON mx.doc_id = qq.doc_id),
          |r AS (SELECT *, row_number() OVER (ORDER BY quality, doc_id) AS rk,
          |    count(*) OVER () AS n FROM j)
          |SELECT doc_id, source, est_tokens, tok_start, quality,
          |  ((rk - 1) * 10) // n AS bin,
          |  md5(CAST(doc_id AS VARCHAR) || ':cur') AS shuffle_key
          |FROM r ORDER BY doc_id""".stripMargin)),

    // Temperature-scaled source mixing (Sampling.temperatureWeights):
    // w_s ∝ size_s^α, the exponential-smoothing rebalance every
    // multilingual/multi-source sampling recipe uses (α = 0.3 here —
    // strongly lifting low-resource sources) — the WEIGHT-DERIVATION
    // half that feeds q97's budget-taking half. One keyed aggregate for
    // sizes, a 1-row broadcast normalizer; weights round-6 (pow differs
    // across engines at ulp), alloc_ppm derived from the ROUNDED weight
    // so the integer allocation is stable by construction.
    Q("q153_temperature_mix",
      (s, dir) =>
        graft.analytics.Sampling.temperatureWeights(
            Tables(s, dir, "documents"), "source", "n_chars", alpha = 0.3)
          .orderBy(col("source")),
      Some(
        """WITH t AS (SELECT source, sum(n_chars) AS gs
          |  FROM documents GROUP BY source),
          |p AS (SELECT source, gs, pow(CAST(gs AS DOUBLE), 0.3) AS pw
          |  FROM t),
          |z AS (SELECT sum(pw) AS z FROM p)
          |SELECT source, CAST(gs AS BIGINT) AS group_size,
          |  round(pw / z.z, 6) AS weight,
          |  CAST(round(round(pw / z.z, 6) * 1000000) AS BIGINT) AS alloc_ppm
          |FROM p CROSS JOIN z ORDER BY source""".stripMargin)),

    // Lexicon keyword tagging via Aho–Corasick (graft.text.AhoCorasick)
    // — the taxonomy/blocklist operator: one automaton pass finds EVERY
    // occurrence of EVERY lexicon word, overlapping included ("he"
    // inside every "the", "art" inside every "part" — both lexicon
    // pairs present here, so overlap semantics are inside the oracle
    // gate, not just the spec). The automaton broadcasts once (bounded
    // artifact, like the BPE merge table); tagging is shuffle-free.
    // Every lexicon word is border-free (no proper prefix = suffix), so
    // occurrences of one pattern cannot overlap EACH OTHER and DuckDB's
    // greedy replace-count equals the true all-occurrence count —
    // AhoCorasickSpec proves full overlap semantics (incl. self-
    // overlapping patterns) against brute force where SQL can't.
    Q("q170_keyword_tags",
      (s, dir) =>
        graft.text.AhoCorasick.tagCounts(
            Tables.sharded(s, dir, "documents", "doc_id"),
            Seq("a", "art", "data", "he", "row", "scan", "table", "the"))
          .orderBy(col("doc_id"), col("keyword")),
      Some(
        """WITH kw(kw) AS (VALUES ('a'), ('art'), ('data'), ('he'),
          |    ('row'), ('scan'), ('table'), ('the')),
          |c AS (SELECT doc_id, kw,
          |    (length(text) - length(replace(text, kw, '')))
          |      // length(kw) AS n
          |  FROM documents CROSS JOIN kw)
          |SELECT doc_id, kw AS keyword, CAST(n AS BIGINT) AS n
          |FROM c WHERE n > 0 ORDER BY doc_id, keyword""".stripMargin)),

    // Boilerplate removal / main-content extraction
    // (graft.text.Boilerplate) — the step between a raw crawl page and
    // every text-quality gate above: navigation, footers, and ad strips
    // are LINK-DENSE, body prose is not, so a line survives iff its
    // anchor-text length is ≤ half its tag-stripped text length. The
    // decision is content-based, not tag-name-based: the planted ad
    // strip is a <p> and still drops; a body line carrying one inline
    // link keeps or drops on its own measured density (both engines
    // compute it, so the gate checks DECISIONS, not plumbing). Pages are
    // synthesized deterministically from each document's words — nav +
    // three body lines + an every-3rd-doc ad strip + footer, every 2nd
    // doc's middle body line carrying an inline link — and the oracle
    // rebuilds the page and replays strip/measure/filter with the same
    // ANSI regexes, line order preserved through list ops.
    Q("q199_boilerplate",
      (s, dir) => {
        val d0 = Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 12)
        val body = (lo: Int, hi: Int) =>
          array_join(slice(col("w"), lo, hi - lo + 1), " ")
        val pages = d0.select(col("doc_id"), concat(
          lit("<html>\n"),
          lit("<nav><a href=\"/\">Home</a> | " +
            "<a href=\"/about\">About</a></nav>\n"),
          lit("<p>"), body(1, 4), lit("</p>\n"),
          when(col("doc_id") % 2 === 0,
            concat(lit("<p><a href=\"/ref\">"), element_at(col("w"), 5),
              lit("</a> "), body(6, 8), lit("</p>\n")))
            .otherwise(concat(lit("<p>"), body(5, 8), lit("</p>\n"))),
          when(col("doc_id") % 3 === 0,
            lit("<p><a href=\"/buy\">Buy</a> <a href=\"/now\">now</a></p>\n"))
            .otherwise(lit("")),
          lit("<p>"), body(9, 12), lit("</p>\n"),
          lit("<footer><a href=\"/p\">Privacy</a> " +
            "<a href=\"/t\">Terms</a></footer>\n"),
          lit("</html>")).as("page"))
        graft.text.Boilerplate.extractMain(pages)
          .select(col("doc_id"), col("n_kept"), col("n_dropped"),
            col("main_text"))
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS w
          |  FROM documents WHERE len(string_split(text, ' ')) >= 12),
          |pg AS (SELECT doc_id,
          |  '<html>' || chr(10) ||
          |  '<nav><a href="/">Home</a> | <a href="/about">About</a></nav>'
          |    || chr(10) ||
          |  '<p>' || array_to_string(w[1:4], ' ') || '</p>' || chr(10) ||
          |  CASE WHEN doc_id % 2 = 0
          |    THEN '<p><a href="/ref">' || w[5] || '</a> '
          |      || array_to_string(w[6:8], ' ') || '</p>'
          |    ELSE '<p>' || array_to_string(w[5:8], ' ') || '</p>'
          |  END || chr(10) ||
          |  CASE WHEN doc_id % 3 = 0
          |    THEN '<p><a href="/buy">Buy</a> <a href="/now">now</a></p>'
          |      || chr(10) ELSE '' END ||
          |  '<p>' || array_to_string(w[9:12], ' ') || '</p>' || chr(10) ||
          |  '<footer><a href="/p">Privacy</a> <a href="/t">Terms</a>'
          |    || '</footer>' || chr(10) ||
          |  '</html>' AS page FROM d0),
          |ln AS (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pg),
          |kp AS (SELECT doc_id, ls, list_filter(ls, l ->
          |    len(regexp_replace(l, '<[^>]*>', '', 'g')) > 0
          |    AND len(regexp_replace(coalesce(array_to_string(
          |          regexp_extract_all(l, '<a[^>]*>(.*?)</a>', 1), ''), ''),
          |          '<[^>]*>', '', 'g'))
          |        <= 0.5 * len(regexp_replace(l, '<[^>]*>', '', 'g')))
          |  AS kept FROM ln)
          |SELECT doc_id, CAST(len(kept) AS BIGINT) AS n_kept,
          |  CAST(len(ls) - len(kept) AS BIGINT) AS n_dropped,
          |  array_to_string(list_transform(kept,
          |    l -> regexp_replace(l, '<[^>]*>', '', 'g')), chr(10))
          |    AS main_text
          |FROM kp ORDER BY doc_id""".stripMargin)),

    // Distribution-drift gate (analytics/Drift.psi) — the between-
    // snapshots data-quality check a training pipeline runs before
    // ingesting a batch: PSI = Σ(p−q)·ln(p/q) between the curated
    // REFERENCE (doc_id % 10 != 0, the round's standing-history split)
    // and the CURRENT delta slice, over fixed-width doc-length bins
    // (width 60 chars, 10 bins, top bin open). Laplace-smoothed over
    // the fixed domain so drifted-in/out bins contribute finite terms;
    // per-bin decomposition so the drift LOCATES, not just scores.
    // Scale: each population reduces to ≤ 10 (bin, count) rows via one
    // integer aggregate; everything after runs on bins-sized frames.
    Q("q210_psi_drift",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"),
            least(lit(9L), expr("n_chars div 60")).as("bin"))
        graft.analytics.Drift.psi(
            d.where(col("doc_id") % 10 =!= 0),
            d.where(col("doc_id") % 10 === 0), "bin", bins = 10)
          .select(col("bin"), col("n_ref"), col("n_cur"),
            round(col("psi_term"), 6).as("psi_term"))
          .orderBy(col("bin"))
      },
      Some(
        """WITH b AS (SELECT unnest(generate_series(0, 9)) AS bin),
          |rc AS (SELECT least(9, n_chars // 60) AS bin, count(*) AS n
          |       FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
          |cc AS (SELECT least(9, n_chars // 60) AS bin, count(*) AS n
          |       FROM documents WHERE doc_id % 10 = 0 GROUP BY 1),
          |rd AS (SELECT b.bin AS bin, coalesce(rc.n, 0) AS n_ref
          |       FROM b LEFT JOIN rc USING (bin)),
          |cd AS (SELECT b.bin AS bin, coalesce(cc.n, 0) AS n_cur
          |       FROM b LEFT JOIN cc USING (bin)),
          |rp AS (SELECT bin, n_ref, (n_ref + 1) * 1.0 /
          |         ((SELECT sum(n_ref) FROM rd) + 10) AS p FROM rd),
          |cp AS (SELECT bin, n_cur, (n_cur + 1) * 1.0 /
          |         ((SELECT sum(n_cur) FROM cd) + 10) AS q FROM cd)
          |SELECT rp.bin AS bin, CAST(n_ref AS BIGINT) AS n_ref,
          |  CAST(n_cur AS BIGINT) AS n_cur,
          |  round((p - q) * ln(p / q), 6) AS psi_term
          |FROM rp JOIN cp ON rp.bin = cp.bin ORDER BY bin""".stripMargin)),

    // CATEGORICAL drift (Drift.psiCategorical) — the r15 verdict's
    // carried-over gap #1: q210's PSI requires caller-binned integers,
    // but THE drift columns a corpus team watches are categorical mixes
    // (source, langid). The dictionary is the sorted union of both
    // populations' distinct values, so a category present on one side
    // only (drifted in/out) gets a spine slot and a finite
    // Laplace-smoothed term instead of vanishing from the score
    // (DriftSpec pins the unseen-category path); the dictionary is
    // driver-collected under a loud identifier-not-category cap. Here:
    // the language mix of the %10 == 0 delta slice against the curated
    // history — the langid drift check that precedes every ingest.
    Q("q218_psi_categorical_lang",
      (s, dir) => {
        val d = Tables(s, dir, "documents")
          .select(col("doc_id"), col("lang"))
        graft.analytics.Drift.psiCategorical(
            d.where(col("doc_id") % 10 =!= 0),
            d.where(col("doc_id") % 10 === 0), "lang")
          .select(col("lang"), col("n_ref"), col("n_cur"),
            round(col("psi_term"), 6).as("psi_term"))
          .orderBy(col("lang"))
      },
      Some(
        """WITH cats AS (SELECT DISTINCT lang AS cat FROM documents),
          |k AS (SELECT count(*) AS k FROM cats),
          |rc AS (SELECT lang AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 <> 0 GROUP BY 1),
          |cc AS (SELECT lang AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 = 0 GROUP BY 1),
          |rd AS (SELECT cats.cat AS cat, coalesce(rc.n, 0) AS n_ref
          |       FROM cats LEFT JOIN rc USING (cat)),
          |cd AS (SELECT cats.cat AS cat, coalesce(cc.n, 0) AS n_cur
          |       FROM cats LEFT JOIN cc USING (cat)),
          |rp AS (SELECT cat, n_ref, (n_ref + 1) * 1.0 /
          |         ((SELECT sum(n_ref) FROM rd) + (SELECT k FROM k)) AS p
          |       FROM rd),
          |cp AS (SELECT cat, n_cur, (n_cur + 1) * 1.0 /
          |         ((SELECT sum(n_cur) FROM cd) + (SELECT k FROM k)) AS q
          |       FROM cd)
          |SELECT rp.cat AS lang, CAST(n_ref AS BIGINT) AS n_ref,
          |  CAST(n_cur AS BIGINT) AS n_cur,
          |  round((p - q) * ln(p / q), 6) AS psi_term
          |FROM rp JOIN cp ON rp.cat = cp.cat ORDER BY lang""".stripMargin)),

    // The COMPOSED drift dashboard — q86's report-card dimensions read
    // as BETWEEN-SNAPSHOT drift (the r15 verdict's carried-over gap #1,
    // second half): one headline PSI + verdict per monitored dimension
    // between the curated history (doc_id % 10 != 0) and the incoming
    // delta slice, composed from the SAME library calls the standalone
    // queries gate (q210's length bins, q218's categorical coding, q86's
    // cached n_tokens via the shared qualityFrame — the corpus regex
    // pass is never repeated). Statuses are the public PSI folklore
    // thresholds (< 0.1 stable, < 0.25 drifting, else shifted). Scale
    // shape: each dimension reduces its populations to bins-sized
    // frames via one keyed integer aggregate — four cheap passes over
    // cached/columnar inputs, nothing corpus-wide shuffles.
    Q("q219_drift_dashboard",
      (s, dir) => {
        import graft.analytics.Drift
        val docs = Tables(s, dir, "documents")
        val isRef = col("doc_id") % 10 =!= 0
        def headline(name: String, terms: org.apache.spark.sql.DataFrame)
            : org.apache.spark.sql.DataFrame =
          terms
            .agg(count(lit(1)).as("n_bins"),
              round(sum(col("psi_term")), 6).as("psi"))
            .select(lit(name).as("metric"), col("n_bins"), col("psi"),
              when(col("psi") < 0.1, lit("stable"))
                .when(col("psi") < 0.25, lit("drifting"))
                .otherwise(lit("shifted")).as("status"))
        val lenB = docs.select(col("doc_id"),
          least(lit(9L), expr("n_chars div 60")).as("bin"))
        val toks = ExtQueries.qualityFrame(s, dir).select(col("doc_id"),
          least(lit(9L), expr("n_tokens div 30")).cast("long").as("bin"))
        headline("lang_mix", Drift.psiCategorical(
            docs.where(isRef).select(col("lang")),
            docs.where(!isRef).select(col("lang")), "lang"))
          .unionAll(headline("len_chars", Drift.psi(
            lenB.where(isRef).select(col("bin")),
            lenB.where(!isRef).select(col("bin")), "bin", 10)))
          .unionAll(headline("len_tokens", Drift.psi(
            toks.where(isRef).select(col("bin")),
            toks.where(!isRef).select(col("bin")), "bin", 10)))
          .unionAll(headline("source_mix", Drift.psiCategorical(
            docs.where(isRef).select(col("source")),
            docs.where(!isRef).select(col("source")), "source")))
          .orderBy(col("metric"))
      },
      Some(
        """WITH
          |lc AS (SELECT DISTINCT lang AS cat FROM documents),
          |lk AS (SELECT count(*) AS k FROM lc),
          |lr AS (SELECT lang AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 <> 0 GROUP BY 1),
          |lcur AS (SELECT lang AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 = 0 GROUP BY 1),
          |lrd AS (SELECT lc.cat AS cat, coalesce(lr.n, 0) AS nr
          |        FROM lc LEFT JOIN lr USING (cat)),
          |lcd AS (SELECT lc.cat AS cat, coalesce(lcur.n, 0) AS nc
          |        FROM lc LEFT JOIN lcur USING (cat)),
          |lt AS (SELECT count(*) AS nb, sum((p - q) * ln(p / q)) AS psi
          |       FROM (SELECT
          |           (nr + 1) * 1.0 / ((SELECT sum(nr) FROM lrd)
          |             + (SELECT k FROM lk)) AS p,
          |           (nc + 1) * 1.0 / ((SELECT sum(nc) FROM lcd)
          |             + (SELECT k FROM lk)) AS q
          |         FROM lrd JOIN lcd USING (cat))),
          |sc AS (SELECT DISTINCT source AS cat FROM documents),
          |sk AS (SELECT count(*) AS k FROM sc),
          |sr AS (SELECT source AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 <> 0 GROUP BY 1),
          |scur AS (SELECT source AS cat, count(*) AS n FROM documents
          |       WHERE doc_id % 10 = 0 GROUP BY 1),
          |srd AS (SELECT sc.cat AS cat, coalesce(sr.n, 0) AS nr
          |        FROM sc LEFT JOIN sr USING (cat)),
          |scd AS (SELECT sc.cat AS cat, coalesce(scur.n, 0) AS nc
          |        FROM sc LEFT JOIN scur USING (cat)),
          |st AS (SELECT count(*) AS nb, sum((p - q) * ln(p / q)) AS psi
          |       FROM (SELECT
          |           (nr + 1) * 1.0 / ((SELECT sum(nr) FROM srd)
          |             + (SELECT k FROM sk)) AS p,
          |           (nc + 1) * 1.0 / ((SELECT sum(nc) FROM scd)
          |             + (SELECT k FROM sk)) AS q
          |         FROM srd JOIN scd USING (cat))),
          |bb AS (SELECT unnest(generate_series(0, 9)) AS bin),
          |hr AS (SELECT least(9, n_chars // 60) AS bin, count(*) AS n
          |       FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1),
          |hc AS (SELECT least(9, n_chars // 60) AS bin, count(*) AS n
          |       FROM documents WHERE doc_id % 10 = 0 GROUP BY 1),
          |hrd AS (SELECT bb.bin AS bin, coalesce(hr.n, 0) AS nr
          |        FROM bb LEFT JOIN hr USING (bin)),
          |hcd AS (SELECT bb.bin AS bin, coalesce(hc.n, 0) AS nc
          |        FROM bb LEFT JOIN hc USING (bin)),
          |ht AS (SELECT count(*) AS nb, sum((p - q) * ln(p / q)) AS psi
          |       FROM (SELECT
          |           (nr + 1) * 1.0 / ((SELECT sum(nr) FROM hrd) + 10) AS p,
          |           (nc + 1) * 1.0 / ((SELECT sum(nc) FROM hcd) + 10) AS q
          |         FROM hrd JOIN hcd USING (bin))),
          |tk AS (SELECT doc_id,
          |         len(regexp_extract_all(lower(text), '[a-z0-9]+'))
          |           AS n_tokens
          |       FROM documents),
          |tr AS (SELECT least(9, n_tokens // 30) AS bin, count(*) AS n
          |       FROM tk WHERE doc_id % 10 <> 0 GROUP BY 1),
          |tc AS (SELECT least(9, n_tokens // 30) AS bin, count(*) AS n
          |       FROM tk WHERE doc_id % 10 = 0 GROUP BY 1),
          |trd AS (SELECT bb.bin AS bin, coalesce(tr.n, 0) AS nr
          |        FROM bb LEFT JOIN tr USING (bin)),
          |tcd AS (SELECT bb.bin AS bin, coalesce(tc.n, 0) AS nc
          |        FROM bb LEFT JOIN tc USING (bin)),
          |tt AS (SELECT count(*) AS nb, sum((p - q) * ln(p / q)) AS psi
          |       FROM (SELECT
          |           (nr + 1) * 1.0 / ((SELECT sum(nr) FROM trd) + 10) AS p,
          |           (nc + 1) * 1.0 / ((SELECT sum(nc) FROM tcd) + 10) AS q
          |         FROM trd JOIN tcd USING (bin))),
          |u AS (SELECT 'lang_mix' AS metric, nb, psi FROM lt
          |      UNION ALL SELECT 'len_chars', nb, psi FROM ht
          |      UNION ALL SELECT 'len_tokens', nb, psi FROM tt
          |      UNION ALL SELECT 'source_mix', nb, psi FROM st)
          |SELECT metric, CAST(nb AS BIGINT) AS n_bins,
          |  round(psi, 6) AS psi,
          |  CASE WHEN round(psi, 6) < 0.1 THEN 'stable'
          |       WHEN round(psi, 6) < 0.25 THEN 'drifting'
          |       ELSE 'shifted' END AS status
          |FROM u ORDER BY metric""".stripMargin))
  )
}
