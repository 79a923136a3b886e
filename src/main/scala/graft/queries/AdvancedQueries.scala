package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Second relational sweep: pivot/unpivot, cube + grouping_id, banded
  * dimension joins, exact distributed quantiles, gap sessionization,
  * bivariate statistics, token-count estimation, and per-group top-k —
  * the remaining everyday OLAP shapes a reference user would expect, each
  * with a DuckDB oracle.
  *
  * Scale notes are per query; the common theme: group/window keys are the
  * shuffle keys (n_keys × state is tiny), dimension sides are broadcast,
  * and nothing funnels through a single partition.
  */
object AdvancedQueries {

  /** Monotone tag for q185's catalog table names. `saveAsTable` registers
    * PERSISTENT tables in the SharedState catalog, which is CONTEXT-global
    * (shared by every session of one SparkContext; only temp views are
    * per-session) — so unique names are load-bearing twice over: two
    * sessions memoizing independently, or two concurrent bench
    * invocations, would otherwise race a fixed name's `DROP TABLE`/
    * `saveAsTable` pair in the one shared catalog. The session-keyed memo
    * over that context-global catalog does mean two sessions on the same
    * dir each build their own layout copy — deliberate: session isolation
    * (each session's evict cleans exactly its own tables/files) over
    * cross-session sharing, which a long-lived multi-session embedding
    * would instead get by running q185's layout once at ingest. */
  private val bucketSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** q185's bucketed layout — both fact projections written hash-
    * bucketed (8 buckets, bucket-sorted) on their join keys, ONCE per
    * (session, dir) via [[Caches.memo]] (single-flight: racing first
    * calls share one build). Returns the registered table names. The
    * registered cleanup makes [[Caches.evict]] drop the catalog entries
    * and delete the on-disk layout copies — repeated evict/rebuild
    * cycles in a long-lived embedding release, not accumulate, the
    * fact-table copies. Keeping the write out of the query closure means
    * (a) the benched query times the zero-Exchange join alone — the
    * layout is ingest cost, paid once, exactly as the module doc frames
    * it at 100 TB — and (b) the query closure is stateless against the
    * catalog. */
  private def bucketedLayout185(s: SparkSession, dir: String)
      : (String, String) = {
    val (ordersT, lineitemT, _) =
      Caches.memo[(String, String, () => Unit)](s, dir, "bucket185",
        cleanup = { case (ot, lt, release) =>
          Seq(ot, lt).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
          release() // deletes the layout dir AND deregisters its exit hook
        }) {
        val seq = bucketSeq.incrementAndGet()
        val (base, release) =
          AnalyticsQueries.tempDirWithRemovableExitHook("graft_bucket_")
        val ordersT = s"g185_orders_$seq"
        val lineitemT = s"g185_lineitem_$seq"
        graft.analytics.Bucketing.writeBucketed(
          Tables(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderstatus"), col("o_orderpriority")),
          ordersT, base.resolve("orders").toString, "o_orderkey", 8)
        graft.analytics.Bucketing.writeBucketed(
          Tables(s, dir, "lineitem").select(col("l_orderkey"),
            col("l_extendedprice"), col("l_discount")),
          lineitemT, base.resolve("lineitem").toString, "l_orderkey", 8)
        (ordersT, lineitemT, release)
      }
    (ordersT, lineitemT)
  }

  /** Shared oracle prefix for q63/q64: normalized text → polynomial
    * k=8-gram hashes (the BIGINT-arithmetic replica of
    * [[graft.functions.WinnowFingerprints]]) → distinct sorted w=4 window
    * minima as CTE `wins(doc_id, fps)`. */
  private val duckWinnow: String = {
    val gramHash = graft.functions.WinnowFingerprints
      .duckGramHash("norm", "i", 8)
    s"""WITH nrm AS (SELECT doc_id,
       |    regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS norm
       |  FROM documents),
       |kh AS (SELECT doc_id,
       |    CASE WHEN len(norm) - 7 >= 1
       |      THEN list_transform(generate_series(1, len(norm) - 7),
       |           i -> $gramHash)
       |      ELSE [] END AS hs
       |  FROM nrm),
       |wins AS (SELECT doc_id,
       |    CASE WHEN len(hs) >= 4
       |      THEN list_sort(list_distinct(
       |           list_transform(generate_series(1, len(hs) - 3),
       |             j -> list_aggregate(hs[j:j+3], 'min'))))
       |      ELSE [] END AS fps
       |  FROM kh)""".stripMargin
  }

  /** q52's oracle: the gap-500 sessionization of `events` per user — the
    * ground truth of the batch gap walk and of q131's session windows. */
  private[queries] lazy val duckSessions: String =
    """WITH g AS (
      |  SELECT user_id, event_id,
      |    CASE WHEN event_id - lag(event_id) OVER w IS NULL
      |           OR event_id - lag(event_id) OVER w > 500
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
      |s AS (
      |  SELECT user_id, event_id,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY event_id) AS sess
      |  FROM g),
      |sl AS (
      |  SELECT user_id, sess, count(*) AS sess_len
      |  FROM s GROUP BY user_id, sess)
      |SELECT user_id, count(*) AS n_sessions, max(sess_len) AS max_sess_len,
      |  CAST(sum(sess_len) AS BIGINT) AS n_events
      |FROM sl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q175's oracle: every view attached to the user's latest purchase
    * value at or before it, by DuckDB's native ASOF LEFT JOIN — the ground
    * truth of q175, q177 and q178. */
  private[queries] lazy val duckAsof: String =
    """WITH v AS (SELECT event_id, user_id, ts, value FROM events
      |  WHERE event_type = 'view'),
      |p AS (SELECT user_id, ts, max(value) AS pv FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1, 2)
      |SELECT v.event_id, v.user_id, v.value,
      |  p.pv AS asof_purchase_value
      |FROM v ASOF LEFT JOIN p
      |  ON v.user_id = p.user_id AND p.ts <= v.ts
      |ORDER BY event_id""".stripMargin

  /** q189's oracle: per (event_type, day) open/high/low/close, count and
    * mean — the ground truth of q189 and q200. */
  private[queries] lazy val duckOhlc: String =
    """SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
      |  arg_min(value, epoch_ns(ts)) AS open,
      |  max(value) AS high, min(value) AS low,
      |  arg_max(value, epoch_ns(ts)) AS close,
      |  count(*) AS n, round(avg(value), 6) AS mean_v
      |FROM events GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin

  /** q196's oracle: each user's final alpha=0.2 EWMA in (ts, event_id)
    * order, folded sequentially by `list_reduce` — the ground truth of
    * q196, q198 and q201. A row with a null user_id, ts, event_id or
    * value is dropped, as [[ewmaEvents]] and `StreamingEwma.eventRows`
    * drop it. */
  private[queries] lazy val duckEwma: String =
    """SELECT user_id, count(*) AS n_events,
      |  round(list_reduce(list(value ORDER BY ts, event_id),
      |    (acc, x) -> CAST(0.2 AS DOUBLE) * x
      |      + CAST(0.8 AS DOUBLE) * acc), 4) AS ewma_last
      |FROM events
      |WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  AND event_id IS NOT NULL AND value IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** The events the batch EWMA queries (q196, q201) fold: a row with a
    * null user_id, ts, event_id or value is dropped. */
  private def ewmaEvents(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events").where(col("user_id").isNotNull &&
      col("ts").isNotNull && col("event_id").isNotNull &&
      col("value").isNotNull)

  /** Shared oracle prefix for q191/q195: the 8-token clean keys, their
    * rarest-bigram blocking and the candidate (dirty, clean) pairs as CTE
    * `cand(dk, dn, ck)`, with `cl(ck, cn, tw)` for the clean names. */
  private lazy val duckLinkageCands: String =
    """WITH d0 AS (SELECT doc_id, string_split(text, ' ')[1:8] AS tw
      |  FROM documents WHERE len(string_split(text, ' ')) >= 8),
      |cl AS (SELECT doc_id AS ck, array_to_string(tw, ' ') AS cn, tw
      |  FROM d0),
      |cb AS (SELECT ck, unnest(list_transform(range(1, 8),
      |    i -> tw[i] || ' ' || tw[i + 1])) AS bg FROM cl),
      |bdf AS (SELECT bg, count(*) AS df FROM cb GROUP BY bg),
      |d1 AS (SELECT doc_id AS dk,
      |    array_to_string(tw[1:2] || tw[4:8], ' ') AS dn,
      |    tw[1:2] || tw[4:8] AS dw FROM d0),
      |dbg AS (SELECT dk, dn, unnest(list_transform(range(1, 7),
      |    i -> dw[i] || ' ' || dw[i + 1])) AS bg FROM d1),
      |rare AS (SELECT dk, dn, bg FROM (
      |    SELECT dbg.dk, dbg.dn, dbg.bg, row_number() OVER
      |      (PARTITION BY dbg.dk ORDER BY bdf.df, dbg.bg) AS rn
      |    FROM dbg JOIN bdf USING (bg)) t WHERE rn = 1),
      |ci AS (SELECT DISTINCT ck, bg FROM cb),
      |cand AS (SELECT DISTINCT rare.dk, rare.dn, ci.ck
      |  FROM rare JOIN ci USING (bg))""".stripMargin

  /** The corpus token stream shared by q73's vocabulary head and BOTH of
    * q79's passes (the CMS aggregation and the exact top-20). What is
    * CACHED is the per-document token ARRAY (one row per doc — the same
    * order of magnitude as the source, columnar-compressed), not the
    * exploded one-row-per-token stream, which is ~2 orders of magnitude
    * more rows and would dominate (and at real scale evict/spill) the
    * cache for frames each consumer scans with a single aggregate pass.
    * The explode itself is codegen'd and re-run per consumer — cheap
    * relative to re-tokenizing, which is what the cache avoids. The cache
    * is DISK_ONLY: every consumer is a single-pass aggregate over it, so
    * it must not evict memory-resident working sets at scale — a local
    * disk read amortizes the re-tokenize without holding executor RAM. */
  private[graft] def tokenStream(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "tokens",
      storage = org.apache.spark.storage.StorageLevel.DISK_ONLY) {
      Tables.sharded(s, dir, "documents", "doc_id")
        .select(graft.dedup.Dedup.tokens(col("text")).as("toks"))
    }.select(explode(col("toks")).as("token"))

  /** The winnowing fingerprint table, cached once per (session, dir) —
    * q63 reports per-document digests over it and q64's detector explodes
    * it for the pair verify; both scan the same InMemoryRelation. */
  private[graft] def winnowFrame(s: SparkSession, dir: String): DataFrame =
    Caches.frame(s, dir, "winnow") {
      graft.text.TextStats
        .winnowing(Tables.sharded(s, dir, "documents", "doc_id"))
    }

  /** The BOUNDED candidate set of the winnowing near-dup detector (q64):
    * the union of two linear-in-corpus sources, each already scored or
    * sketch-keyed — NEVER the raw fingerprint-collision pair set, whose
    * cardinality grows with corpus × DF-cap² (602k pairs on 5k docs at
    * sf0.1 — 4.8% of the whole pair space, measured via WinnowTuning).
    *
    * Source 1 — cap-rule survivors: the df≤20 fingerprint equi-join is
    * pushed through ONE aggregation to (doc_a, doc_b, shared_cap) — cheap,
    * count-only, the shuffle carries one int per colliding pair — and only
    * pairs with shared_cap ≥ 5 OR shared_cap/min(n_fp) ≥ 0.25 survive.
    * Thresholds measured (WinnowRuleCheck at sf0.1): this rule ∪ LSH is
    * 441 candidates with 256/256 true-pair recall; the next-looser rule
    * (3, 0.15) balloons to 14k candidates for the same recall, and the
    * next-tighter (10, 0.4) drops a true pair whose LSH signature also
    * misses all 4 bands (shared_cap 8, ov_cap 0.348).
    *
    * Source 2 — MinHash-LSH band collisions
    * ([[DedupQueries.lshCandidatePairs]]): document-local sketch keys that
    * >cap near-dup CLIQUES cannot saturate — a 20+-member clique's every
    * shared fingerprint has df > cap, so source 1 alone drops the whole
    * clique (33 such pairs at sf0.1).
    *
    * The expensive uncapped verify then runs ONLY on this union —
    * O(thousands) rows, linear in corpus size. PlanAuditSpec asserts the
    * bound so a regression to quadratic candidates fails CI. */
  private[graft] def winnowCandidates(s: SparkSession, dir: String)
      : DataFrame = {
    val DfCap = 20
    val win = winnowFrame(s, dir)
    val nf = win.select(col("doc_id"), size(col("fingerprints")).as("n_fp"))
    val e = win.select(col("doc_id"), explode(col("fingerprints")).as("fp"))
    val rare = e.groupBy(col("fp"))
      .agg(count(lit(1)).as("c")).where(col("c") <= DfCap)
      .select(col("fp"))
    val er = e.join(rare, "fp")
    val capScores = er.as("a")
      .join(er.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared_cap"))
    val capSurvivors = capScores
      .join(nf.select(col("doc_id").as("doc_a"), col("n_fp").as("__na")),
        "doc_a")
      .join(nf.select(col("doc_id").as("doc_b"), col("n_fp").as("__nb")),
        "doc_b")
      .where(col("shared_cap") >= 5 ||
        col("shared_cap") / least(col("__na"), col("__nb")) >= 0.25)
      .select(col("doc_a"), col("doc_b"))
    val lshCands = DedupQueries.lshCandidatePairs(s, dir)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    capSurvivors.union(lshCands).distinct()
  }

  val all: Seq[Q] = Seq(
    // Pivot: one shuffle on the groupBy key; the pivot values are a fixed
    // small set so the output stays one row per group (map-side partial
    // aggregation applies as usual).
    Q("q48_pivot_revenue",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .pivot("l_linestatus", Seq("F", "O"))
          // single UNALIASED agg → pivot names the columns "F"/"O" directly;
          // round(…, 2) both sides: FP-order determinism (FpAudit)
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2))
          .orderBy(col("l_returnflag")),
      Some(
        """SELECT l_returnflag,
          |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_extendedprice * (1 - l_discount) END), 2) AS "F",
          |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_extendedprice * (1 - l_discount) END), 2) AS "O"
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Unpivot (melt) via stack: rows × metrics → (metric, value) — the
    // wide-to-long step before any per-metric aggregation. Generator runs
    // map-side; only the per-metric partial aggregates shuffle.
    Q("q57_unpivot_metrics",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .selectExpr("""stack(3,
            'quantity', l_quantity,
            'price', l_extendedprice,
            'discount', l_discount) AS (metric, v)""")
          .groupBy(col("metric"))
          .agg(count(lit(1)).as("n"), min(col("v")).as("v_min"),
            max(col("v")).as("v_max"), round(sum(col("v")), 2).as("v_sum"))
          .orderBy(col("metric")),
      Some(
        """WITH m AS (
          |  SELECT 'quantity' AS metric, l_quantity AS v FROM lineitem
          |  UNION ALL SELECT 'price', l_extendedprice FROM lineitem
          |  UNION ALL SELECT 'discount', l_discount FROM lineitem)
          |SELECT metric, count(*) AS n, min(v) AS v_min, max(v) AS v_max,
          |  round(sum(v), 2) AS v_sum
          |FROM m GROUP BY metric ORDER BY metric""".stripMargin)),

    // Cube: all four grouping sets in one pass, disambiguated by
    // grouping_id (Spark and DuckDB both encode the FIRST grouping column
    // as the most significant bit).
    Q("q49_cube_pricing",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg(grouping_id().as("gid"),
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            count(lit(1)).as("n"))
          .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus")),
      Some(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
          |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin)),

    // Banded dimension join: a range predicate against a tiny bounds table
    // is a broadcast nested-loop join — each event row tests 4 bounds,
    // never shuffles. (The alternative — binning by expression — is q15;
    // this is the shape when bands are DATA, not a formula.)
    Q("q50_band_join",
      (s, dir) => {
        import s.implicits._
        val bands = Seq((1, 0.0, 10.0), (2, 10.0, 50.0), (3, 50.0, 150.0),
          (4, 150.0, 500.0)).toDF("band_id", "lo", "hi")
        Tables(s, dir, "events")
          .join(broadcast(bands),
            col("value") >= col("lo") && col("value") < col("hi"))
          .groupBy(col("band_id"), col("lo"), col("hi"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"))
          .orderBy(col("band_id"))
      },
      Some(
        """SELECT band_id, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
          |  count(*) AS n_events, round(sum(e.value), 6) AS sum_value
          |FROM events e
          |JOIN (VALUES (1, 0.0, 10.0), (2, 10.0, 50.0), (3, 50.0, 150.0),
          |             (4, 150.0, 500.0)) b(band_id, lo, hi)
          |  ON e.value >= b.lo AND e.value < b.hi
          |GROUP BY band_id, lo, hi ORDER BY band_id""".stripMargin)),

    // Exact per-group quantiles: percentile() is Spark's exact linear-
    // interpolation order statistic (one sort per group partition) — the
    // per-group state is the group's value multiset, sharded by the group
    // key. Rounded to 6dp on both sides: the interpolation arithmetic is
    // the only FP step that could differ between engines.
    // (r18 optimization note: the Percentiles.profile histogram path was
    // measured HERE at 1.8s vs 1.5s for this one-aggregation form — at 3
    // groups the buffer is the cheaper plan, so q51 keeps the built-in
    // and stays the exact-reference twin of q70's sketch; q183/q190 use
    // profile, where high-NDV buffers lose badly.)
    Q("q51_group_quantiles",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(percentile(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99))).as("ps")) // one value buffer
          .select(col("l_returnflag"),
            round(element_at(col("ps"), 1), 6).as("p50"),
            round(element_at(col("ps"), 2), 6).as("p90"),
            round(element_at(col("ps"), 3), 6).as("p99"))
          .orderBy(col("l_returnflag")),
      Some(
        """SELECT l_returnflag,
          |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
          |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
          |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // The scale path beside q51's exact quantiles: percentile_approx is
    // Spark's mergeable quantile sketch — per-partition sketches of
    // bounded size merge associatively, so the per-group state is O(sketch)
    // instead of the group's full value multiset. At 100 TB this is the
    // default; q51 stays the exact reference. Sketch internals differ
    // across engines, so (like q43's HLL) there is no DuckDB hash oracle —
    // ApproxQuantileSpec bounds the rank error against the exact answer
    // at two scales instead.
    Q("q70_approx_quantiles",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("ps"))
          .select(col("l_returnflag"),
            element_at(col("ps"), 1).as("p50"),
            element_at(col("ps"), 2).as("p90"),
            element_at(col("ps"), 3).as("p99"))
          .orderBy(col("l_returnflag")),
      None),

    // Count-min-sketch heavy hitters — the third mergeable sketch beside
    // HLL distinct (q43) and the quantile sketch (q70): per-partition
    // CMS arrays merge by cell-wise addition (one distributed
    // aggregation; the sketch is ~depth×width ints regardless of corpus
    // size), and because the update is commutative the estimates are
    // deterministic under any partitioning. Estimates are checked against
    // the exact counts of the exact top-20 (the q73 shape) in-row;
    // sketch hashing is engine-specific, so (like q43/q70) there is no
    // DuckDB oracle — CmsHeavyHitterSpec bounds the overestimate by
    // eps·N at two scales instead.
    Q("q79_cms_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = tokenStream(s, dir)
        val cms = toks.stat
          .countMinSketch(col("token"), eps = 0.0001, confidence = 0.99,
            seed = 42)
        val top = toks.groupBy(col("token"))
          .agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("token")).limit(20)
          .collect() // 20 rows — the q73 top-k contract
        top.toSeq
          .map(r => (r.getString(0), r.getLong(1),
            cms.estimateCount(r.getString(0))))
          .toDF("token", "n_exact", "n_est")
          .orderBy(col("n_exact").desc, col("token"))
      },
      None),

    // Gap sessionization: the batch analog of streaming session windows —
    // per-user ordered scan (lag), session id = running count of gap
    // breaks, then two key-local aggregations. Everything shards by
    // user_id; no global order anywhere.
    Q("q52_sessionize",
      (s, dir) =>
        graft.analytics.Sessions
          .sessionStats(Tables(s, dir, "events"), keyCol = "user_id",
            seqCol = "event_id", gap = 500)
          .orderBy(col("user_id")),
      Some(duckSessions)),

    // Bivariate statistics per group: corr/covariance/stddev are one-pass
    // partial-aggregatable moments (Spark merges per-partition moment
    // sketches — no data motion beyond the group key shuffle).
    Q("q53_corr_stats",
      (s, dir) =>
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("qp_corr"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6)
              .as("qp_covar"),
            round(stddev_samp(col("l_extendedprice")), 6).as("price_sd"))
          .orderBy(col("l_returnflag")),
      Some(
        """SELECT l_returnflag,
          |  round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
          |  round(covar_samp(l_quantity, l_extendedprice), 6) AS qp_covar,
          |  round(stddev_samp(l_extendedprice), 6) AS price_sd
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Token counting, tokenizer-free estimates: whitespace tokens, a
    // BPE-ish regex segmentation (letter runs | single digits | single
    // non-space symbols — the GPT-2 pre-tokenizer shape), and the chars/4
    // rule of thumb. All codegen'd regexp counts, no per-token lambdas.
    Q("q54_token_estimate",
      (s, dir) =>
        graft.text.TextStats
          .tokenEstimates(Tables.sharded(s, dir, "documents", "doc_id"))
          .select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"),
            col("est_tokens"))
          .orderBy(col("doc_id")),
      Some(
        """SELECT doc_id,
          |  len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
          |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
          |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
          |FROM documents ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition quality gates (graft.text.TextStats
    // .repetitionStats): top-2-gram dominance and duplicated-3-gram share
    // per document — the "drop machine-generated / boilerplate text"
    // filters of a training-corpus pipeline. Overlapping gram OCCURRENCES
    // (not distinct shingles) explode and aggregate keyed by doc_id, so
    // the computation shards by document; nothing is corpus-global.
    Q("q69_repetition_stats",
      (s, dir) =>
        graft.text.TextStats
          .repetitionStats(Tables.sharded(s, dir, "documents", "doc_id"))
          .orderBy(col("doc_id")),
      Some(
        """WITH d AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          |                t -> len(t) > 0) AS toks
          |  FROM documents),
          |g2 AS (SELECT doc_id,
          |    unnest(list_transform(generate_series(1, len(toks) - 1),
          |      i -> toks[i] || ' ' || toks[i+1])) AS g
          |  FROM d WHERE len(toks) >= 2),
          |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          |t2 AS (SELECT doc_id,
          |    round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top2_frac
          |  FROM c2 GROUP BY 1),
          |g3 AS (SELECT doc_id,
          |    unnest(list_transform(generate_series(1, len(toks) - 2),
          |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
          |  FROM d WHERE len(toks) >= 3),
          |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          |t3 AS (SELECT doc_id,
          |    round(CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
          |          / sum(c), 6) AS dup3_frac
          |  FROM c3 GROUP BY 1)
          |SELECT d.doc_id, len(toks) AS n_words, top2_frac, dup3_frac
          |FROM d JOIN t2 USING (doc_id) JOIN t3 USING (doc_id)
          |ORDER BY doc_id""".stripMargin)),

    // Corpus vocabulary head: global token frequencies, top-20. The
    // classic corpus profile — explode is map-local, the count partial-
    // aggregates before the token shuffle (vocabulary-sized, not
    // corpus-sized), and the top-k is TakeOrderedAndProject (per-partition
    // heaps, driver merges 20 rows), never a global sort.
    Q("q73_top_tokens",
      (s, dir) =>
        tokenStream(s, dir)
          .groupBy(col("token")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token")).limit(20),
      Some(
        """SELECT token, CAST(count(*) AS BIGINT) AS n
          |FROM (SELECT unnest(list_filter(
          |    string_split_regex(lower(text), '[^a-z0-9]+'),
          |    t -> len(t) > 0)) AS token FROM documents)
          |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // Per-group top-k: rank inside each nation partition (the partitioned
    // counterpart of q31's global TakeOrdered). Ranking key is rounded so
    // both engines order identical values; custkey breaks ties.
    Q("q56_grouped_topk",
      (s, dir) => {
        val cust = Tables(s, dir, "customer")
        val orders = Tables(s, dir, "orders")
        val nation = Tables(s, dir, "nation")
        val revenue = orders.groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 6).as("revenue"))
        val ranked = cust
          .join(revenue, col("c_custkey") === col("o_custkey"))
          .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_custkey"), col("revenue"))
          .withColumn("rk", row_number().over(Window.partitionBy(col("n_name"))
            .orderBy(col("revenue").desc, col("c_custkey"))))
        ranked.where(col("rk") <= 2)
          .select(col("n_name"), col("rk"), col("c_custkey"), col("revenue"))
          .orderBy(col("n_name"), col("rk"))
      },
      Some(
        """SELECT n_name, rk, c_custkey, revenue FROM (
          |  SELECT n.n_name, c.c_custkey, r.revenue,
          |    row_number() OVER (PARTITION BY n.n_name
          |      ORDER BY r.revenue DESC, c.c_custkey) AS rk
          |  FROM (SELECT o_custkey, round(sum(o_totalprice), 6) AS revenue
          |        FROM orders GROUP BY o_custkey) r
          |  JOIN customer c ON c.c_custkey = r.o_custkey
          |  JOIN nation n ON n.n_nationkey = c.c_nationkey
          |) t WHERE rk <= 2 ORDER BY n_name, rk""".stripMargin)),

    // Two-sided as-of join (graft.analytics.AsofJoin): each purchase
    // event picks up the latest same-user click at-or-before it, both
    // click columns from that one click. One union + keyed window — a
    // single shuffle by user_id — against DuckDB's native ASOF JOIN as
    // the oracle. The naive range-join encoding explodes quadratically in
    // hot keys; this shape is O(n log n) per key shard.
    Q("q60_asof_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("event_id"),
            col("event_id").as("click_id"), col("value").as("click_value"))
        graft.analytics.AsofJoin.asof(purchases, clicks,
            keyCols = Seq("user_id"), tsCol = "event_id",
            valueCols = Seq("click_id", "click_value"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(
        """WITH p AS (SELECT user_id, event_id FROM events
          |           WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, event_id AS click_id, value AS click_value
          |      FROM events WHERE event_type = 'click')
          |SELECT p.user_id, p.event_id,
          |  c.click_id AS asof_click_id, c.click_value AS asof_click_value
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND c.click_id <= p.event_id
          |ORDER BY p.user_id, p.event_id""".stripMargin)),

    // Deterministic stratified sampling (graft.analytics.Sampling): the 5
    // docs per source with the smallest salted digest. A pure function of
    // (doc_id, salt) — retried tasks, re-runs, and the oracle select
    // identical rows, which rand() cannot promise; WindowGroupLimit keeps
    // ≤5 rows per stratum on the map side.
    Q("q61_stratified_sample",
      (s, dir) =>
        graft.analytics.Sampling
          .stratifiedPriority(
            Tables(s, dir, "documents").select(col("doc_id"), col("source")),
            strataCol = "source", idCol = "doc_id", k = 5)
          .select(col("source"), col("doc_id"), col("priority"))
          .orderBy(col("source"), col("doc_id")),
      Some(
        """SELECT source, doc_id, priority FROM (
          |  SELECT source, doc_id,
          |    md5(CAST(doc_id AS VARCHAR) || ':s1') AS priority,
          |    row_number() OVER (PARTITION BY source
          |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s1'), doc_id) AS rk
          |  FROM documents
          |) t WHERE rk <= 5 ORDER BY source, doc_id""".stripMargin)),

    // Quality-WEIGHTED sampling without replacement (Efraimidis–Spirakis
    // via graft.analytics.Sampling.weightedPriority): inclusion odds
    // proportional to the q21 quality score, selection a pure function of
    // (doc_id, salt) — the reproducible curation step that up-samples
    // high-quality documents. u is a 52-bit dyadic rational (exact in
    // both engines); the top-100 by round-6 ln(u)/w plans as
    // TakeOrderedAndProject. The oracle replays digest, u, and the
    // quality formula verbatim.
    Q("q78_weighted_sample",
      (s, dir) => {
        val q = ExtQueries.qualityFrame(s, dir)
          .where(col("n_tokens") > 0)
          .select(col("doc_id"), col("quality"))
        graft.analytics.Sampling
          .weightedPriority(q, idCol = "doc_id", weightCol = "quality",
            k = 100)
          .select(col("doc_id"), round(col("quality"), 6).as("quality"),
            col("sample_key"))
          .orderBy(col("sample_key").desc, col("doc_id"))
      },
      Some(
        s"""WITH s AS (
          |  SELECT doc_id,
          |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
          |    len(regexp_replace(lower(text), '[^a-z0-9]+', '', 'g')) AS alnum_len,
          |    len(regexp_extract_all(lower(text),
          |      '\\b(?:${graft.text.TextStats.Stopwords.mkString("|")})\\b')) AS n_stop
          |  FROM documents),
          |q AS (SELECT doc_id,
          |    0.5 * least(1.0, n_tokens / 100.0)
          |      + 0.3 * (CAST(n_stop AS DOUBLE) / nullif(n_tokens, 0))
          |      + 0.2 * least(1.0, CAST(alnum_len AS DOUBLE)
          |                         / nullif(n_tokens, 0) / 8.0) AS quality
          |  FROM s WHERE n_tokens > 0),
          |k AS (SELECT doc_id, quality,
          |    round(ln(list_aggregate(list_transform(generate_series(1, 13),
          |        i -> (strpos('0123456789abcdef',
          |                substr(md5(CAST(doc_id AS VARCHAR) || ':s1'), i, 1))
          |              - 1) * power(CAST(16 AS DOUBLE), 13 - i)), 'sum')
          |      / power(CAST(2 AS DOUBLE), 52)) / quality, 6) AS sample_key
          |  FROM q)
          |SELECT doc_id, round(quality, 6) AS quality, sample_key
          |FROM k ORDER BY sample_key DESC, doc_id LIMIT 100""".stripMargin)),

    // REAL event-time tumbling windows: the parquet TIMESTAMP(NANOS)
    // column read via the nanos-as-long escape hatch (see Tables), hour-
    // truncated after a nanos→micros division. q42 synthesizes time from
    // event_id; this one proves the engine handles the file's own clock.
    Q("q62_event_time_hourly",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_type"),
            date_trunc("hour",
              timestamp_micros((col("ts") / 1000).cast("long"))).as("hour"),
            col("value"))
          .groupBy(col("event_type"), col("hour"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
          .orderBy(col("event_type"), col("hour")),
      Some(
        """SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
          |  count(*) AS n, round(sum(value), 6) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY event_type, hour""".stripMargin)),

    // The reference's MAD risk measure (SM1/O10) generalized from ONE
    // global 30-row window to millions of independent keys — the SURVEY
    // §7.6 scale-out story made concrete: per-user exact median + MAD
    // (two keyed aggregations; the per-key value multiset is the known
    // price of exact order statistics, as q51) and a robust-z outlier
    // count at the standard 3σ-equivalent gate (|v − med| > 3·1.4826·mad).
    // Medians/MADs round to 6dp BEFORE the gate so both engines compare
    // identical doubles. Everything shards by user_id; no global state.
    Q("q83_keyed_robust_outliers",
      (s, dir) => {
        val dev = Caches.frame(s, dir, "robustdev") {
          // cached: the deviation frame sits under BOTH the MAD
          // aggregation and the outlier count — without the barrier the
          // fact table is scanned four times (med recomputed per branch);
          // with it, twice (the production materialize-or-rescan choice)
          val ev = Tables(s, dir, "events")
            .select(col("user_id"), col("value"))
          val med = ev.groupBy(col("user_id"))
            .agg(round(percentile(col("value"), lit(0.5)), 6).as("med"))
          ev.join(med, "user_id")
            .select(col("user_id"), col("med"),
              abs(col("value") - col("med")).as("__dev"))
        }
        val mad = dev.groupBy(col("user_id"))
          .agg(round(percentile(col("__dev"), lit(0.5)), 6).as("mad"))
        dev.join(mad, "user_id")
          .groupBy(col("user_id"), col("med"), col("mad"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("__dev") > lit(4.4478) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"))
          .select(col("user_id"), col("n_events"), col("med"), col("mad"),
            col("n_outliers"))
          .orderBy(col("user_id"))
      },
      Some(
        """WITH med AS (SELECT user_id,
          |    round(quantile_cont(value, 0.5), 6) AS med
          |  FROM events GROUP BY user_id),
          |dev AS (SELECT e.user_id, m.med, abs(e.value - m.med) AS dev
          |  FROM events e JOIN med m ON e.user_id = m.user_id),
          |mad AS (SELECT user_id, round(quantile_cont(dev, 0.5), 6) AS mad
          |  FROM dev GROUP BY user_id)
          |SELECT d.user_id, count(*) AS n_events, d.med, m.mad,
          |  CAST(count(*) FILTER (WHERE d.dev >
          |    CAST(4.4478 AS DOUBLE) * m.mad) AS BIGINT) AS n_outliers
          |FROM dev d JOIN mad m ON d.user_id = m.user_id
          |GROUP BY d.user_id, d.med, m.mad ORDER BY d.user_id""".stripMargin)),

    // Z-order (Morton) layout key (graft.analytics.Layout.zorderKey): the
    // space-filling-curve clustering key behind multi-dimensional scan
    // pruning — sort 100 TB by THIS before writing and parquet row-group
    // min/max stats become tight on BOTH user_id and value, so predicates
    // on either dimension prune (single-column sort prunes only itself;
    // ZOrderLayoutSpec measures the effect on real range partitions). The
    // key is pure map-side codegen'd bit arithmetic; the oracle replays
    // the interleave with DuckDB's integer shift operators.
    Q("q88_zorder_key",
      (s, dir) =>
        Tables(s, dir, "events")
          .select(col("event_id"),
            col("user_id").bitwiseAND(lit(65535L)).as("ux"),
            floor(col("value")).cast("long").bitwiseAND(lit(65535L))
              .as("vy"))
          .select(col("event_id"), col("ux"), col("vy"),
            graft.analytics.Layout.zorderKey(col("ux"), col("vy"))
              .as("zkey"))
          .orderBy(col("event_id")),
      Some(
        """WITH e AS (SELECT event_id,
          |    CAST(user_id AS BIGINT) & 65535 AS ux,
          |    CAST(floor(value) AS BIGINT) & 65535 AS vy
          |  FROM events)
          |SELECT event_id, ux, vy,
          |  CAST(list_aggregate(list_transform(generate_series(0, 15),
          |    i -> (((ux >> i) & 1) << (2 * i))
          |         + (((vy >> i) & 1) << (2 * i + 1))), 'sum') AS BIGINT)
          |    AS zkey
          |FROM e ORDER BY event_id""".stripMargin)),

    // Training-shard packing (graft.analytics.Packing.packByBudget):
    // concatenate the corpus in doc_id order, cut every 4096 estimated
    // tokens, assign each document to the shard where it begins — the
    // sequence-packing step before tokenized-shard writing. The global
    // running sum is a TWO-PHASE DISTRIBUTED PREFIX SUM (range partitions
    // → parallel local window → p-row offset table broadcast back), never
    // a single-task Window.orderBy; PackingSpec asserts the executed plan
    // carries no SinglePartition exchange. Integer arithmetic end to end,
    // so the oracle (a plain window sum — DuckDB can afford it at oracle
    // scale) matches exactly.
    Q("q89_token_packing",
      (s, dir) => {
        val w = Tables(s, dir, "documents")
          .select(col("doc_id"),
            ceil(col("n_chars") / 4.0).cast("long").as("est_tokens"))
        graft.analytics.Packing
          .packByBudget(w, orderCol = "doc_id", weightCol = "est_tokens",
            budget = 4096L)
          .orderBy(col("doc_id"))
      },
      Some(
        """WITH t AS (SELECT doc_id,
          |    CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_tokens
          |  FROM documents),
          |c AS (SELECT doc_id, est_tokens,
          |    sum(est_tokens) OVER (ORDER BY doc_id) AS cum FROM t)
          |SELECT doc_id, est_tokens,
          |  CAST((cum - est_tokens) // 4096 AS BIGINT) AS shard_id
          |FROM c ORDER BY doc_id""".stripMargin)),

    // Small-file compaction planner (graft.analytics.Layout
    // .compactionGroups): group a file listing into ~64 KiB rewrite
    // tasks — each group's files coalesce into one right-sized output
    // file (the maintenance half of OPTIMIZE). The listing is synthetic
    // (file = source/doc_id, bytes = n_chars) but the planner is the
    // real one: a budget packing of the listing (delegates to
    // Packing.packByBudget — begins-before-the-cut, two-phase prefix
    // sum, deterministic integer arithmetic), so the oracle is q89's
    // window-sum grouping over the same listing.
    Q("q105_compaction_plan",
      (s, dir) => {
        val listing = Tables(s, dir, "documents")
          .select(
            concat_ws("/", col("source"), col("doc_id").cast("string"))
              .as("file"),
            col("n_chars").cast("long").as("bytes"))
        graft.analytics.Layout
          .compactionGroups(listing, fileCol = "file", sizeCol = "bytes",
            targetBytes = 65536L)
          .orderBy(col("file"))
      },
      Some(
        """WITH f AS (SELECT source || '/' || doc_id AS file,
          |    CAST(n_chars AS BIGINT) AS bytes FROM documents),
          |c AS (SELECT file, bytes,
          |    sum(bytes) OVER (ORDER BY file) AS cum FROM f)
          |SELECT file, bytes,
          |  CAST((cum - bytes) // 65536 AS BIGINT) AS group_id
          |FROM c ORDER BY file""".stripMargin)),

    // Winnowing (MOSS) rolling-window fingerprints: min-hash of every
    // window of 4 consecutive char-8-gram hashes — any shared substring of
    // length ≥ 11 chars contributes a shared fingerprint at ~1/4 the
    // storage of full k-gram hashing. graft.text.TextStats.winnowing →
    // native fused pass (graft.functions.WinnowFingerprints); the oracle
    // reproduces the polynomial hash with plain BIGINT arithmetic.
    Q("q63_winnowing",
      (s, dir) =>
        winnowFrame(s, dir)
          .select(col("doc_id"), size(col("fingerprints")).as("n_fp"),
            md5(array_join(col("fingerprints").cast("array<string>"), ","))
              .as("fp_digest"))
          .orderBy(col("doc_id")),
      Some(duckWinnow +
        """
          |SELECT doc_id, len(fps) AS n_fp,
          |  md5(array_to_string(fps, ',')) AS fp_digest
          |FROM wins ORDER BY doc_id""".stripMargin)),

    // The MOSS detector completed. Candidates are [[winnowCandidates]]:
    // (cap-rule survivors of ONE aggregation over the df≤20 fingerprint
    // equi-join) ∪ (MinHash-LSH band collisions, which carry the >cap
    // near-dup cliques the DF cap would drop) — a set LINEAR in corpus
    // size, never the raw collision pair set (the round-4 shape
    // materialized 602k pairs on 5k docs and went 16× slower; see the
    // winnowCandidates scaladoc). The verify stage then counts shared
    // fingerprints over the FULL (uncapped) fingerprint sets, doc-id-keyed
    // and candidate-driven — exact per pair — and keeps a pair when the
    // CONTAINMENT fraction (shared / min fingerprint count) reaches 0.75.
    // Thresholds are measured, not guessed (WinnowTuning): true pairs sit
    // at containment 1.0 at every scale while false candidates top out at
    // 0.625 (boilerplate fingerprints shared between unrelated docs).
    // Against the exact Jaccard>=0.5 truth: sf0.001 28/28, sf0.01 25/25,
    // sf0.1 256/256 — zero false positives at every scale
    // (DetectorAgreementSpec pins sf0.001 and sf0.1).
    Q("q64_winnowing_pairs",
      (s, dir) => {
        val win = winnowFrame(s, dir)
        val nf = win.select(col("doc_id"), size(col("fingerprints")).as("n_fp"))
        val e = win.select(col("doc_id"), explode(col("fingerprints")).as("fp"))
        winnowCandidates(s, dir)
          .join(e.select(col("doc_id").as("doc_a"), col("fp")), "doc_a")
          .join(e.select(col("doc_id").as("doc_b"), col("fp").as("__bfp")),
            Seq("doc_b"))
          .where(col("fp") === col("__bfp"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("shared"))
          .join(nf.select(col("doc_id").as("doc_a"), col("n_fp").as("__na")), "doc_a")
          .join(nf.select(col("doc_id").as("doc_b"), col("n_fp").as("__nb")), "doc_b")
          .select(col("doc_a"), col("doc_b"), col("shared"),
            (col("shared") / least(col("__na"), col("__nb"))).as("overlap"))
          .where(col("overlap") >= 0.75)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(duckWinnow + "," +
        DedupQueries.duckMinhash.stripPrefix("WITH ") +
        """,
          |nf AS (SELECT doc_id, len(fps) AS n_fp FROM wins),
          |ew AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
          |dfw AS (SELECT fp, count(*) AS c FROM ew GROUP BY fp),
          |erw AS (SELECT ew.doc_id, ew.fp FROM ew JOIN dfw USING (fp)
          |        WHERE c <= 20),
          |caps AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |               count(*) AS shared_cap
          |        FROM erw a JOIN erw b ON a.fp = b.fp AND a.doc_id < b.doc_id
          |        GROUP BY 1, 2),
          |capok AS (SELECT doc_a, doc_b FROM caps
          |          JOIN nf na ON doc_a = na.doc_id
          |          JOIN nf nb ON doc_b = nb.doc_id
          |          WHERE shared_cap >= 5
          |             OR CAST(shared_cap AS DOUBLE) / least(na.n_fp, nb.n_fp)
          |                >= 0.25),
          |lshc AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
          |         FROM bands x JOIN bands y ON x.band = y.band
          |           AND x.band_key = y.band_key AND x.doc_id < y.doc_id
          |         GROUP BY 1, 2),
          |cand AS (SELECT doc_a, doc_b FROM capok
          |         UNION SELECT doc_a, doc_b FROM lshc),
          |shw AS (SELECT c.doc_a, c.doc_b, count(*) AS shared
          |        FROM cand c
          |        JOIN ew a ON c.doc_a = a.doc_id
          |        JOIN ew b ON c.doc_b = b.doc_id AND a.fp = b.fp
          |        GROUP BY 1, 2)
          |SELECT doc_a, doc_b, shared,
          |  CAST(shared AS DOUBLE) / least(na.n_fp, nb.n_fp) AS overlap
          |FROM shw JOIN nf na ON doc_a = na.doc_id
          |         JOIN nf nb ON doc_b = nb.doc_id
          |WHERE CAST(shared AS DOUBLE) / least(na.n_fp, nb.n_fp) >= 0.75
          |ORDER BY doc_a, doc_b""".stripMargin)),

    // Link-graph provenance weighting (graft.analytics.Graphs): weighted
    // PageRank over the nation trade graph — edges are supplier-nation →
    // customer-nation revenue flows (the TPC-H Q7 volume join), ranks are
    // 3 fixed power iterations with damping 0.85, dangling mass
    // redistributed uniformly. Per iteration: ONE edge⋈rank equi-join +
    // ONE per-dst aggregate (sparse matvec in relational form) — the
    // crawl-curation shape for ranking hosts by link centrality before
    // source mixing. The oracle unrolls the identical 3 iterations in
    // CTEs; teleport/damping arithmetic is written so both engines do
    // the same IEEE ops, and ranks round to 6 at the end only.
    Q("q133_nation_pagerank",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("rev"))
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val c = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))
        val sup = Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        val nat = Tables(s, dir, "nation")
        // cached: pageRank's nodes/out-weights/normalized edges and every
        // iteration's dangling/contribution pass all re-derive from
        // `edges` — without the barrier the lineitem fact join re-executes
        // ~4× per iteration (measured 3.9 s → 0.6 s at sf0.1). At cluster
        // scale this materialization is exactly the edge table a graph
        // job persists before iterating.
        val edges = Caches.frame(s, dir, "natedges", eager = true) {
          li.join(o, col("l_orderkey") === col("o_orderkey"))
            .join(broadcast(c), col("o_custkey") === col("c_custkey"))
            .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
            .join(broadcast(nat.select(col("n_nationkey").as("snk"),
              col("n_name").as("src"))), col("s_nationkey") === col("snk"))
            .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
              col("n_name").as("dst"))), col("c_nationkey") === col("cnk"))
            .groupBy(col("src"), col("dst")).agg(sum(col("rev")).as("w"))
        }
        // nations are a DIMENSION (schema-bounded ≤ a few hundred nodes),
        // so the rank iterations solve on the driver — pageRankLocal's
        // limit-probed bounded collect replaces ~5 driver-synchronized
        // jobs per iteration of pure orchestration (measured ~1 s/iter
        // here); corpus-keyed graphs keep Graphs.pageRank's distributed
        // loop
        graft.analytics.Graphs.pageRankLocal(edges, iters = 3)
          .select(col("node").as("nation"), round(col("r"), 6).as("pr"))
          .orderBy(col("nation"))
      },
      Some {
        def iter(k: Int): String = {
          val prev = if (k == 1) "r0" else s"r${k - 1}"
          s"""d$k AS (SELECT coalesce(sum(r), CAST(0.0 AS DOUBLE)) AS dang
             |  FROM $prev WHERE node NOT IN (SELECT src FROM e)),
             |c$k AS (SELECT ne.dst AS node, sum(ne.p * rp.r) AS s
             |  FROM ne JOIN $prev rp ON ne.src = rp.node GROUP BY 1),
             |r$k AS (SELECT nodes.node,
             |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
             |      + CAST(0.85 AS DOUBLE)
             |        * (coalesce(c$k.s, CAST(0.0 AS DOUBLE))
             |           + d$k.dang / nn.n) AS r
             |  FROM nodes CROSS JOIN nn CROSS JOIN d$k
             |  LEFT JOIN c$k ON c$k.node = nodes.node)""".stripMargin
        }
        s"""WITH e AS (SELECT sn.n_name AS src, cn.n_name AS dst,
           |    sum(l_extendedprice * (1.0 - l_discount)) AS w
           |  FROM lineitem
           |  JOIN orders ON l_orderkey = o_orderkey
           |  JOIN customer ON o_custkey = c_custkey
           |  JOIN supplier ON l_suppkey = s_suppkey
           |  JOIN nation sn ON s_nationkey = sn.n_nationkey
           |  JOIN nation cn ON c_nationkey = cn.n_nationkey
           |  GROUP BY 1, 2),
           |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
           |ne AS (SELECT e.src, e.dst, e.w / ow.outw AS p
           |  FROM e JOIN ow USING (src)),
           |nodes AS (SELECT DISTINCT node FROM
           |  (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r
           |  FROM nodes CROSS JOIN nn),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node AS nation, round(r, 6) AS pr
           |FROM r3 ORDER BY nation""".stripMargin
      }),

    // Point-in-time join (graft.analytics.AsofJoin) — every view event
    // attached to the user's latest purchase value at or before it: the
    // feature-store / trades←quotes operator. The engine never plans a
    // JOIN at all: both sides union, shuffle ONCE on user_id, and one
    // per-key ordered window pass carries the purchase value forward
    // (AsofJoinSpec pins the single-exchange single-window plan). The
    // purchase side pre-aggregates to one row per (user, ts) — the
    // uniqueness contract that keeps equal-ts winners deterministic.
    // The oracle is DuckDB's native ASOF LEFT JOIN: two ENGINES, two
    // genuinely different algorithms, one hash.
    Q("q175_asof_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value"))
        graft.analytics.AsofJoin.asof(views, purchases,
            keyCols = Seq("user_id"), tsCol = "ts",
            valueCols = Seq("purchase_value"))
          .select(col("event_id"), col("user_id"), col("value"),
            col("asof_purchase_value"))
          .orderBy(col("event_id"))
      },
      Some(duckAsof)),

    // Range (interval) join (graft.analytics.RangeJoin) — the attribution
    // query: every view landing inside a purchase's 6-hour window for the
    // same user, rolled up per purchase. A BETWEEN predicate would plan
    // as a per-user nested loop; the engine instead buckets time at the
    // window width (each interval explodes to exactly 2 bucket rows),
    // equi-joins on (user, bucket), and re-verifies the exact bounds —
    // candidate-driven, codegen'd, no cross product anywhere. The oracle
    // replays the naive BETWEEN join (DuckDB's planner can afford it at
    // oracle scale); matching hashes prove the bucketing loses and
    // duplicates nothing.
    Q("q176_range_join",
      (s, dir) => {
        val sixHoursNs = 6L * 3600L * 1000000000L
        val ev = Tables(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value"))
        val windows = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("ts").as("lo"), (col("ts") + lit(sixHoursNs - 1)).as("hi"))
        graft.analytics.RangeJoin.pointInInterval(
            views, windows, pointCol = "ts", loCol = "lo", hiCol = "hi",
            bucket = sixHoursNs, keyCols = Seq("user_id"))
          .groupBy(col("purchase_id"))
          .agg(count(lit(1)).as("n_views"),
            round(sum(col("value")), 6).as("sum_view_value"))
          .orderBy(col("purchase_id"))
      },
      Some(
        """WITH v AS (SELECT user_id, epoch_ns(ts) AS ts, value FROM events
          |  WHERE event_type = 'view'),
          |p AS (SELECT event_id AS purchase_id, user_id,
          |    epoch_ns(ts) AS lo FROM events WHERE event_type = 'purchase')
          |SELECT purchase_id, count(*) AS n_views,
          |  round(sum(v.value), 6) AS sum_view_value
          |FROM p JOIN v ON v.user_id = p.user_id
          |  AND v.ts >= p.lo AND v.ts <= p.lo + (21600000000000 - 1)
          |GROUP BY purchase_id ORDER BY purchase_id""".stripMargin)),

    // q175's as-of join under the SKEW-HARDENED two-pass engine
    // (AsofJoin.asofBucketed, day-wide time buckets): the per-key serial
    // sort becomes per-(key, bucket), and a per-key SPINE of bucket-final
    // values (at most #buckets rows per key, never #rows) prefix-carries
    // across buckets — the shape that survives a hot key owning 10⁹ rows
    // where the plain window form is one straggler task. Same oracle as
    // q175 VERBATIM: two engine shapes, one ground truth (the q55/q171
    // convention); AsofJoinSpec proves equality across bucket widths and
    // PLANS.md measures the hot-key behavior.
    Q("q177_asof_bucketed",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val views = ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value"))
        graft.analytics.AsofJoin.asofBucketed(views, purchases,
            keyCols = Seq("user_id"), tsCol = "ts",
            valueCols = Seq("purchase_value"),
            bucket = 24L * 3600L * 1000000000L)
          .select(col("event_id"), col("user_id"), col("value"),
            col("asof_purchase_value"))
          .orderBy(col("event_id"))
      },
      Some(duckAsof)),

    // Funnel analysis BY COMPOSITION — no new operator: the classic
    // view → click → purchase funnel is two chained as-of joins. Each
    // purchase picks up the user's latest prior click (as-of #1), then
    // the latest view prior to THAT CLICK (as-of #2, re-keyed on the
    // click timestamp — NULL click timestamps sort before every right
    // row, so click-less purchases correctly stay view-less); a
    // completion is a full chain inside the 7-day span. Each as-of is
    // the one-shuffle window form, so the whole funnel is two keyed
    // window passes — never a per-user sequence scan collected anywhere.
    // The oracle chains DuckDB's native ASOF JOINs the same way.
    Q("q179_funnel",
      (s, dir) => {
        val sevenDaysNs = 7L * 24 * 3600 * 1000000000L
        val ev = Tables(s, dir, "events")
        def stamps(t: String, out: String) =
          ev.where(col("event_type") === t)
            .select(col("user_id"), col("ts"), col("ts").as(out)).distinct()
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val withClick = graft.analytics.AsofJoin.asof(
          purch, stamps("click", "click_ts"),
          keyCols = Seq("user_id"), tsCol = "ts",
          valueCols = Seq("click_ts"))
        val reKeyed = withClick
          .withColumnRenamed("ts", "purchase_ts")
          .withColumn("ts", col("asof_click_ts"))
        val withView = graft.analytics.AsofJoin.asof(
          reKeyed, stamps("view", "view_ts"),
          keyCols = Seq("user_id"), tsCol = "ts",
          valueCols = Seq("view_ts"))
        withView
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(when(col("asof_view_ts").isNotNull &&
              col("purchase_ts") - col("asof_view_ts") <= sevenDaysNs,
              1L).otherwise(0L)).as("n_completed"))
          .where(col("n_completed") > 0)
          .orderBy(col("user_id"))
      },
      Some(
        """WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS pts
          |  FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT DISTINCT user_id, epoch_ns(ts) AS cts FROM events
          |  WHERE event_type = 'click'),
          |v AS (SELECT DISTINCT user_id, epoch_ns(ts) AS vts FROM events
          |  WHERE event_type = 'view'),
          |pc AS (SELECT p.event_id, p.user_id, p.pts, c.cts
          |  FROM p ASOF LEFT JOIN c
          |    ON p.user_id = c.user_id AND c.cts <= p.pts),
          |-- click-less purchases must stay view-less: DuckDB's ASOF
          |-- sorts a NULL cts PAST every vts and would hand them the
          |-- user's LATEST view, so they are split out, not ASOF-joined
          |pcv1 AS (SELECT pc.event_id, pc.user_id, pc.pts, pc.cts, v.vts
          |  FROM (SELECT * FROM pc WHERE cts IS NOT NULL) pc
          |  ASOF LEFT JOIN v
          |    ON pc.user_id = v.user_id AND v.vts <= pc.cts),
          |pcv AS (SELECT * FROM pcv1 UNION ALL
          |  SELECT event_id, user_id, pts, cts, NULL AS vts
          |  FROM pc WHERE cts IS NULL)
          |SELECT user_id, count(*) AS n_purchases,
          |  CAST(sum(CASE WHEN vts IS NOT NULL
          |    AND pts - vts <= 604800000000000 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_completed
          |FROM pcv GROUP BY user_id
          |HAVING n_completed > 0 ORDER BY user_id""".stripMargin)),

    // ANALYZE-TABLE-shaped column statistics — what a cost-based
    // optimizer (and a data-quality monitor) collects per column: row
    // count, exact NDV, min/max, and an equi-depth 8-bucket histogram
    // (exact interpolated octile boundaries; equal-COUNT buckets carry
    // selectivity information a fixed-width histogram loses on skewed
    // columns). Columns melt through one `stack` pass so the table scans
    // ONCE for all three columns; NDV and the exact octiles come from
    // [[graft.analytics.Percentiles.profile]] — a GROUP BY value
    // histogram + one window pass, shuffling ~NDV rows once, instead of
    // the percentile()+countDistinct aggregate whose per-partition
    // hash-map partials made this the suite's slowest query (7.2 s →
    // ~1 s at sf0.1; bit-identical results, PercentilesSpec pins it).
    // q70 stays the mergeable-sketch 100 TB default for corpus-NDV
    // columns (q51's documented exact-vs-sketch tradeoff).
    Q("q183_column_stats",
      (s, dir) => {
        // lineitem's measure columns are non-null, so the profile's
        // non-null count equals the original count(lit(1)) row count.
        // Tables.sharded: the single-row-group testdata scan is ONE
        // task, so without the fan-out the whole melt + partial
        // aggregation would run serially (measured core-count-invariant
        // before the shard)
        val melted = Tables.sharded(s, dir, "lineitem", "l_orderkey")
          .select(
          expr("stack(3, 'l_quantity', l_quantity, " +
            "'l_extendedprice', l_extendedprice, " +
            "'l_discount', l_discount) AS (col_name, v)"))
        graft.analytics.Percentiles
          .profile(melted, "col_name", "v", (1 to 7).map(_ / 8.0))
          .select(col("col_name") +: col("__n").as("n") +:
            col("__ndv").as("ndv") +:
            round(col("__min"), 6).as("min_v") +:
            round(col("__max"), 6).as("max_v") +:
            (1 to 7).map(i =>
              round(col(s"__pct${i - 1}"), 6).as(s"b$i")): _*)
          .orderBy(col("col_name"))
      },
      Some(
        """WITH m AS (
          |  SELECT 'l_quantity' AS col_name, l_quantity AS v FROM lineitem
          |  UNION ALL
          |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
          |  UNION ALL
          |  SELECT 'l_discount', l_discount FROM lineitem)
          |SELECT col_name, count(*) AS n, count(DISTINCT v) AS ndv,
          |  round(min(v), 6) AS min_v, round(max(v), 6) AS max_v,
          |  round(quantile_cont(v, 0.125), 6) AS b1,
          |  round(quantile_cont(v, 0.25), 6) AS b2,
          |  round(quantile_cont(v, 0.375), 6) AS b3,
          |  round(quantile_cont(v, 0.5), 6) AS b4,
          |  round(quantile_cont(v, 0.625), 6) AS b5,
          |  round(quantile_cont(v, 0.75), 6) AS b6,
          |  round(quantile_cont(v, 0.875), 6) AS b7
          |FROM m GROUP BY col_name ORDER BY col_name""".stripMargin)),

    // Storage-bucketed co-located join (graft.analytics.Bucketing) —
    // the join SHUFFLE eliminated, not optimized: both fact tables are
    // written hash-bucketed on the join key (8 buckets, repartitioned
    // before write so files stay O(buckets), bucket-sorted), and the
    // join between them runs with NO Exchange on either side
    // (BucketingSpec pins the zero-Exchange sort-merge plan at runtime;
    // here the correctness gate pins that the layout is lossless — the
    // bucketed aggregate hashes equal to the oracle's plain-parquet
    // join). At 100 TB this is the standard answer to the fact⋈fact
    // join paid on every query: one layout cost at ingest, zero
    // shuffles forever after. The layout itself is built ONCE per
    // (session, dir) via [[bucketedLayout185]] — the module's own
    // "one-time ingest cost" doc made literal, so the benched number
    // measures the zero-Exchange join, not a re-paid write.
    //
    // `revenue` is rounded to cents on BOTH sides: the bucketed SMJ
    // accumulates the sum in bucket order while the oracle's plain join
    // accumulates in its own order, and FP addition is not associative —
    // r11's driver run caught exactly this (hash-only mismatch).
    // round(…, 2) is a QUANTIZATION, not an exactness claim: each
    // l_extendedprice·(1−l_discount) term carries 4 decimal digits plus
    // binary representation error, so the rounded sum still flips iff
    // the accumulated reorder error (~1e-12 relative) straddles a
    // half-cent boundary — the margin makes that astronomically
    // unlikely, and plan-INdependent, which is what the gate needs
    // (see FpAudit's scaladoc for the class-wide treatment).
    Q("q185_bucketed_join",
      (s, dir) => {
        val (ordersT, lineitemT) = bucketedLayout185(s, dir)
        graft.analytics.Bucketing.bucketedJoin(s,
            ordersT, lineitemT, "o_orderkey", "l_orderkey")
          .groupBy(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
              .as("revenue"))
          .orderBy(col("o_orderstatus"), col("o_orderpriority"))
      },
      Some(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_items,
          |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          |GROUP BY o_orderstatus, o_orderpriority
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),

    // Cohort retention — the product-analytics matrix every event
    // warehouse serves: users bucketed by FIRST-seen week (integer
    // floor-div on the nanos epoch — ts exceeds 2⁵³, so double division
    // would mis-bucket boundary events; `div` stays exact), crossed
    // with their active week offsets. Two keyed aggregates on user_id
    // (cohort assignment reuses the activity shuffle's partitioning)
    // plus one cohort-sized rollup; per-key state is a pair of longs —
    // the shape survives any user count.
    Q("q186_cohort_retention",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"),
            expr("ts div 604800000000000").as("wk"))
        val cohort = e.groupBy(col("user_id"))
          .agg(min(col("wk")).as("cohort_wk"))
        e.join(cohort, "user_id")
          .groupBy(col("cohort_wk"),
            (col("wk") - col("cohort_wk")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_wk"), col("week_offset"))
      },
      Some(
        """WITH e AS (SELECT user_id,
          |    epoch_ns(ts) // 604800000000000 AS wk FROM events),
          |c AS (SELECT user_id, min(wk) AS cohort_wk FROM e
          |      GROUP BY user_id),
          |a AS (SELECT e.user_id, c.cohort_wk,
          |    e.wk - c.cohort_wk AS week_offset
          |  FROM e JOIN c ON e.user_id = c.user_id)
          |SELECT cohort_wk, week_offset,
          |  count(DISTINCT user_id) AS n_users
          |FROM a GROUP BY cohort_wk, week_offset
          |ORDER BY cohort_wk, week_offset""".stripMargin)),

    // SCD Type-2 history build — consecutive runs of equal attribute
    // values per entity collapsed into validity intervals
    // [valid_from, valid_to), open-ended for the current version: the
    // lakehouse change-compaction shape (dimension history from an
    // event/CDC stream). Two window passes over the SAME user_id
    // partitioning (run starts via lag, interval ends + version numbers
    // via lead/row_number on the filtered runs — the second pass reuses
    // the first's exchange); ties order by (ts, event_id) so the run
    // segmentation is deterministic in both engines. Output is
    // run-count-sized — the churn, not the stream.
    Q("q187_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val runs = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"))
          .withColumn("__prev", lag(col("event_type"), 1).over(w))
          .where(col("__prev").isNull ||
            col("__prev") =!= col("event_type"))
        runs
          .withColumn("valid_to", lead(col("ts"), 1).over(w))
          .withColumn("version", row_number().over(w))
          .select(col("user_id"), col("event_type").as("attr"),
            col("ts").as("valid_from"), col("valid_to"), col("version"))
          .orderBy(col("user_id"), col("version"))
      },
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts,
          |    event_type FROM events),
          |r AS (SELECT *, lag(event_type) OVER
          |    (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM e),
          |f AS (SELECT user_id, event_id, ts, event_type FROM r
          |  WHERE prev IS NULL OR prev <> event_type)
          |SELECT user_id, event_type AS attr, ts AS valid_from,
          |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |    AS valid_to,
          |  CAST(row_number() OVER
          |    (PARTITION BY user_id ORDER BY ts, event_id) AS INT)
          |    AS version
          |FROM f ORDER BY user_id, version""".stripMargin)),

    // Event-type transition matrix — the first-order Markov model of
    // user behavior (the sequence analog of q87's text bigram LM):
    // per-user ordered successor pairs via ONE keyed window pass, then
    // a type×type-bounded aggregate; row-normalized probabilities come
    // from a partition-sized window over the tiny count matrix. No
    // per-user sequence ever materializes as an array; state crossing
    // the exchange is (cur, next, count).
    Q("q188_event_transitions",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val pairs = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("cur"))
          .withColumn("nxt", lead(col("cur"), 1).over(w))
          .where(col("nxt").isNotNull)
        val counts = pairs.groupBy(col("cur"), col("nxt"))
          .agg(count(lit(1)).as("n"))
        counts
          .withColumn("p", round(col("n") /
            sum(col("n")).over(Window.partitionBy(col("cur"))), 6))
          .orderBy(col("cur"), col("nxt"))
      },
      Some(
        """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts,
          |    event_type FROM events),
          |p AS (SELECT event_type AS cur, lead(event_type) OVER
          |    (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
          |  FROM e),
          |c AS (SELECT cur, nxt, count(*) AS n FROM p
          |  WHERE nxt IS NOT NULL GROUP BY cur, nxt)
          |SELECT cur, nxt, n,
          |  round(n * 1.0 / sum(n) OVER (PARTITION BY cur), 6) AS p
          |FROM c ORDER BY cur, nxt""".stripMargin)),

    // OHLC downsampling — the time-series compaction every metrics /
    // market pipeline runs: per (series, day) open/high/low/close +
    // count + mean, one keyed aggregate, open/close picked by min_by/
    // max_by on the event timestamp (deterministic here: ts is unique
    // per series-day in the testdata — see the spec — and a real feed
    // would tie-break on a sequence id exactly as the windows above
    // do). State per group is six scalars; days × series output.
    Q("q189_ohlc_downsample",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_type"),
            expr("ts div 86400000000000").as("day"),
            col("ts"), col("value"))
        e.groupBy(col("event_type"), col("day"))
          .agg(min_by(col("value"), col("ts")).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), col("ts")).as("close"),
            count(lit(1)).as("n"),
            round(avg(col("value")), 6).as("mean_v"))
          .orderBy(col("event_type"), col("day"))
      },
      Some(duckOhlc)),

    // Statistics-driven broadcast planning end-to-end: ANALYZE lineitem
    // (TableStats.analyze — one aggregate pass: count, NDV, octile
    // histograms), then run a self-join whose build side is a selective
    // quantity filter. Without statistics Spark prices the Filter at the
    // FULL table (CBO off ⇒ filters don't shrink estimates) and
    // sort-merges both sides; StatsBroadcastRule — the engine's
    // Rule[LogicalPlan], injected via GraftExtensions — estimates the
    // filtered side from the collected octiles (~3% of rows) and hints
    // it broadcast, removing the join shuffle. StatsBroadcastSpec pins
    // the A/B plan flip (SMJ→BHJ) at runtime; this gate pins that the
    // rewritten plan is LOSSLESS — identical rows to the oracle's plain
    // join. Stats stay registered for the session afterwards: every
    // estimate derives from measured statistics, so any later join the
    // rule touches flips only when the math justifies a broadcast.
    Q("q190_stats_broadcast_join",
      (s, dir) => {
        graft.plans.TableStats.analyze(
          Tables(s, dir, "lineitem"), s"$dir/lineitem.parquet",
          Seq("l_orderkey", "l_quantity"))
        val hot = Tables(s, dir, "lineitem")
          .where(col("l_quantity") >= 49.0)
          .select(col("l_orderkey").as("hot_key"),
            col("l_quantity").as("hot_qty"))
        Tables(s, dir, "lineitem")
          .join(hot, col("l_orderkey") === col("hot_key"))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_pairs"),
            round(sum(col("l_extendedprice") *
              (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            round(avg(col("hot_qty")), 6).as("avg_hot_qty"))
          .orderBy(col("l_returnflag"))
      },
      Some(
        """SELECT l.l_returnflag, count(*) AS n_pairs,
          |  round(sum(l.l_extendedprice * (1.0 - l.l_discount)), 2)
          |    AS revenue,
          |  round(avg(h.l_quantity), 6) AS avg_hot_qty
          |FROM lineitem l
          |JOIN lineitem h ON l.l_orderkey = h.l_orderkey
          |WHERE h.l_quantity >= 49.0
          |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),

    // Fuzzy record linkage (the dirty-registry match every entity
    // pipeline runs): document titles (first 8 words) are the clean
    // registry; a deterministically corrupted copy (3rd word dropped)
    // must be linked back by best edit distance WITHOUT an all-pairs
    // scan. Blocking is one-sided rare-key probing: each dirty record
    // probes a clean bigram inverted index with its RAREST surviving
    // bigram (rarest by corpus df — the PPJoin prefix idea applied to
    // linkage), so candidate fan-out is bounded by the df of the rarest
    // key, then candidates alone pay levenshtein and a (dist, key)
    // argmin picks the match. Corrupting mid-title keeps flanking
    // bigrams intact, so recall is exact here; the oracle replays
    // blocking, scoring, and tie-breaks op-for-op.
    Q("q191_fuzzy_linkage",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w0"))
          .where(size(col("w0")) >= 8)
          .select(col("doc_id"), slice(col("w0"), 1, 8).as("tw"))
        val clean = docs.select(col("doc_id").as("ck"),
          array_join(col("tw"), " ").as("cn"), col("tw"))
        val cleanBg = clean.select(col("ck"), explode(expr(
          "transform(sequence(1, 7), i -> concat(element_at(tw, i), ' ', element_at(tw, i + 1)))"))
          .as("bg"))
        val dfreq = cleanBg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
        val dirty = docs.select(col("doc_id").as("dk"),
            concat(slice(col("tw"), 1, 2), slice(col("tw"), 4, 5)).as("dw"))
          .select(col("dk"), array_join(col("dw"), " ").as("dn"), col("dw"))
        val dirtyBg = dirty.select(col("dk"), col("dn"), explode(expr(
          "transform(sequence(1, 6), i -> concat(element_at(dw, i), ' ', element_at(dw, i + 1)))"))
          .as("bg"))
        // rarest bigram per dirty record = argmin over (df, bg) — a
        // struct-min AGGREGATE, not a partition-sort window: identical
        // pick (lexicographic struct ordering = the window's (df, bg)
        // order; dn rides along, constant per dk), but map-side partial
        // aggregation replaces the per-key sort and the df table joins
        // as an explicit broadcast (bigram df is vocabulary-sized).
        val rare = dirtyBg.join(broadcast(dfreq), "bg")
          .groupBy(col("dk"))
          .agg(min(struct(col("df"), col("bg"), col("dn"))).as("m"))
          .select(col("dk"), col("m.dn").as("dn"), col("m.bg").as("bg"))
        // candidate gather + scoring on a PINNED parallel partitioning:
        // the clean index and the clean-name table are the REGISTRY side
        // of the linkage (small by design — that is what makes blocking
        // viable), so both attach as broadcasts. The repartition is
        // explicit because the scoring stage is row-expensive but
        // byte-tiny: AQE's byte-based coalescing was measured folding it
        // onto ONE task (5.5 s single-threaded, and the orderBy's range-
        // sampling pass re-executes the child, paying it TWICE — 2×2.4 s
        // serial vs 0.9 s across the cores). A user-specified partition
        // count is exempt from AQE coalescing, but repartition(n, dk)
        // alone is optimized AWAY (child already hash(dk)-partitioned),
        // so the key set includes bg — the surviving REPARTITION_BY_NUM
        // keeps the stage at cluster parallelism for the cost of one
        // 5k-row exchange into the final argmin. No distinct passes: a
        // bigram occurring twice in one clean title just scores the same
        // (dk, ck) pair twice, and the argmin is duplicate-invariant —
        // the old candIdx/cands distincts bought nothing but two
        // corpus-keyed shuffles.
        val scored = rare
          .repartition(s.sparkContext.defaultParallelism, col("dk"), col("bg"))
          .join(broadcast(cleanBg), "bg")
          .join(broadcast(clean.select(col("ck"), col("cn"))), "ck")
          .withColumn("dist", levenshtein(col("dn"), col("cn")))
        // best match = argmin over (dist, ck): the same struct-min
        // aggregate shape as `rare` (window orderBy (dist, ck) picked
        // exactly this row)
        scored.groupBy(col("dk"))
          .agg(min(struct(col("dist"), col("ck"))).as("m"))
          .select(col("dk").as("src_key"), col("m.ck").as("matched_key"),
            col("m.dist").as("dist"),
            (col("m.ck") === col("dk")).cast("int").as("matched_self"))
          .orderBy(col("src_key"))
      },
      Some(duckLinkageCands + """,
          |scored AS (SELECT cand.dk, cand.ck,
          |    levenshtein(cand.dn, cl.cn) AS dist
          |  FROM cand JOIN cl ON cand.ck = cl.ck)
          |SELECT dk AS src_key, ck AS matched_key, CAST(dist AS INT) AS dist,
          |  CAST(ck = dk AS INT) AS matched_self
          |FROM (SELECT *, row_number() OVER
          |    (PARTITION BY dk ORDER BY dist, ck) AS rn FROM scored) t
          |WHERE rn = 1 ORDER BY src_key""".stripMargin)),

    // Incremental materialized-aggregate maintenance — the 100 TB answer
    // to "don't rescan history when a day of data lands": keep the
    // aggregate as ALGEBRAIC PARTIALS (count, sums, min/max — each
    // mergeable), aggregate only the delta, and MERGE the two partial
    // states; averages finalize as sum/count at read time. The gate pins
    // the contract that makes this safe: merged-from-partials must hash
    // EQUAL to the oracle's full-table recompute. History/delta split is
    // a deterministic orderkey residue standing in for "yesterday's
    // state + today's partition".
    Q("q192_incremental_agg",
      (s, dir) => {
        def partials(df: DataFrame): DataFrame = df
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sq"),
            sum(col("l_extendedprice")).as("sp"),
            min(col("l_shipdate")).as("mn"), max(col("l_shipdate")).as("mx"))
        val li = Tables(s, dir, "lineitem")
        val hist = partials(li.where(pmod(col("l_orderkey"), lit(10)) =!= 7))
        val delta = partials(li.where(pmod(col("l_orderkey"), lit(10)) === 7))
        hist.unionByName(delta)
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("cnt")).as("n"),
            round(sum(col("sq")), 2).as("sum_qty"),
            round(sum(col("sp")) / sum(col("cnt")), 6).as("avg_price"),
            date_format(min(col("mn")), "yyyy-MM-dd").as("first_ship"),
            date_format(max(col("mx")), "yyyy-MM-dd").as("last_ship"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  round(sum(l_quantity), 2) AS sum_qty,
          |  round(sum(l_extendedprice) / count(*), 6) AS avg_price,
          |  strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
          |  strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Time-series gap filling with forward fill — the monitoring-grid
    // shape: the per-minute error series has empty minutes, and the
    // consumer wants a DENSE grid carrying the last known value
    // forward. The grid comes from sequence+explode over the series
    // span (span-bounded, never corpus-bounded). The fill is TWO-LEVEL
    // so no corpus-sized global window exists (the q177 carry
    // decomposition): within each DAY a keyed running-count window
    // assigns fill-groups (one observation + its trailing gaps) and a
    // per-group max broadcasts the value; day-boundary gaps take the
    // previous day's closing value from a DAY SPINE — a 30-row artifact
    // whose global window is the documented scalar-bounded class. The
    // composition equals a straight last-non-null-at-or-before fill,
    // and the oracle PINS that equivalence by replaying the naive
    // single-window form (affordable at oracle scale) — same trick as
    // the bucketed as-of gate. No IGNORE NULLS anywhere: fill-groups
    // come from running counts both engines implement identically.
    Q("q193_gap_fill",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .where(col("event_type") === "error")
          .select(expr("ts div 60000000000").as("minute"), col("value"))
        val perMin = e.groupBy(col("minute"))
          .agg(count(lit(1)).as("n_obs"), avg(col("value")).as("mv"))
        val span = perMin.agg(min(col("minute")).as("mn"),
          max(col("minute")).as("mx"))
        val grid = span.select(
          explode(sequence(col("mn"), col("mx"))).as("minute"))
        val g = grid.join(perMin, Seq("minute"), "left_outer")
          .withColumn("day", expr("minute div 1440"))
        val wIn = Window.partitionBy(col("day")).orderBy(col("minute"))
        val marked = g.withColumn("grpd", count(col("mv")).over(wIn))
        val wFill = Window.partitionBy(col("day"), col("grpd"))
        val inDay = marked.withColumn("in_fill",
          when(col("grpd") > 0, max(col("mv")).over(wFill)))
        // day spine: closing observation per day, carried across days
        val spine = marked.where(col("mv").isNotNull)
          .groupBy(col("day")).agg(max_by(col("mv"), col("minute")).as("lv"))
        val allDays = g.select(col("day")).distinct()
          .join(spine, Seq("day"), "left_outer")
        val wSpine = Window.orderBy(col("day"))
        val prior = allDays
          .withColumn("g2", count(col("lv")).over(wSpine))
          .withColumn("cv", max(col("lv"))
            .over(Window.partitionBy(col("g2"))))
          .withColumn("prior_close", lag(col("cv"), 1).over(wSpine))
          .select(col("day"), col("prior_close"))
        inDay.join(prior, "day")
          .select(col("minute"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
            round(coalesce(col("in_fill"), col("prior_close")), 6)
              .as("v_filled"),
            col("n_obs").isNull.cast("int").as("gap"))
          .orderBy(col("minute"))
      },
      Some(
        """WITH e AS (SELECT epoch_ns(ts) // 60000000000 AS minute, value
          |  FROM events WHERE event_type = 'error'),
          |pm AS (SELECT minute, count(*) AS n_obs, avg(value) AS mv
          |  FROM e GROUP BY minute),
          |span AS (SELECT min(minute) AS mn, max(minute) AS mx FROM pm),
          |grid AS (SELECT unnest(range(mn, mx + 1)) AS minute FROM span),
          |g AS (SELECT grid.minute, pm.n_obs, pm.mv
          |  FROM grid LEFT JOIN pm USING (minute)),
          |m AS (SELECT *, count(mv) OVER (ORDER BY minute) AS grp FROM g)
          |SELECT minute, coalesce(n_obs, 0) AS n_obs,
          |  round(max(mv) OVER (PARTITION BY grp), 6) AS v_filled,
          |  CAST(n_obs IS NULL AS INT) AS gap
          |FROM m ORDER BY minute""".stripMargin)),

    // k-anonymity audit — the privacy gate a dataset passes before
    // release: group by the quasi-identifier tuple (nation, segment,
    // account-balance band) and report the dataset's k (the smallest
    // group), how many groups and rows sit under k=5, and the at-risk
    // row fraction. One keyed aggregate plus a group-count-sized
    // rollup; the QI cube is bounded by the attribute domains, never
    // by the row count.
    Q("q194_k_anonymity",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            (floor(col("c_acctbal") / 100) * 100).cast("long").as("bal_band"))
        c.groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
          .agg(count(lit(1)).as("gn"))
          .agg(count(lit(1)).as("n_groups"),
            min(col("gn")).as("k_anonymity"),
            sum(when(col("gn") < 5, 1L).otherwise(0L)).as("groups_lt_5"),
            sum(when(col("gn") < 5, col("gn")).otherwise(0L))
              .as("rows_at_risk"),
            round(sum(when(col("gn") < 5, col("gn")).otherwise(0L)) /
              sum(col("gn")), 6).as("risk_frac"))
      },
      Some(
        """WITH g AS (SELECT c_nationkey, c_mktsegment,
          |    CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
          |    count(*) AS gn
          |  FROM customer GROUP BY 1, 2, 3)
          |SELECT count(*) AS n_groups, min(gn) AS k_anonymity,
          |  CAST(sum(CASE WHEN gn < 5 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS groups_lt_5,
          |  CAST(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) AS BIGINT)
          |    AS rows_at_risk,
          |  round(sum(CASE WHEN gn < 5 THEN gn ELSE 0 END) * 1.0
          |    / sum(gn), 6) AS risk_frac
          |FROM g""".stripMargin)),

    // Jaro–Winkler record linkage — q191's rare-bigram blocking with the
    // scorer linkage pipelines actually prefer for short name/title
    // fields: graft's NATIVE codegen'd JaroWinkler expression
    // (functions/JaroWinkler.scala), argmax instead of levenshtein
    // argmin. The oracle scores with DuckDB's own jaro_winkler_similarity
    // — two independent implementations of the same published definition
    // (verified bit-exact: byte-based, boost threshold 0.7, prefix ≤ 4 ×
    // 0.1), so the gate pins the kernel against a foreign engine, not a
    // replay of our arithmetic. Candidate fan-out is bounded by the
    // rarest-bigram df exactly as in q191; only candidates pay the
    // scorer.
    Q("q195_jw_linkage",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w0"))
          .where(size(col("w0")) >= 8)
          .select(col("doc_id"), slice(col("w0"), 1, 8).as("tw"))
        val clean = docs.select(col("doc_id").as("ck"),
          array_join(col("tw"), " ").as("cn"), col("tw"))
        val cleanBg = clean.select(col("ck"), explode(expr(
          "transform(sequence(1, 7), i -> concat(element_at(tw, i), ' ', element_at(tw, i + 1)))"))
          .as("bg"))
        val dfreq = cleanBg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
        val dirty = docs.select(col("doc_id").as("dk"),
            concat(slice(col("tw"), 1, 2), slice(col("tw"), 4, 5)).as("dw"))
          .select(col("dk"), array_join(col("dw"), " ").as("dn"), col("dw"))
        val dirtyBg = dirty.select(col("dk"), col("dn"), explode(expr(
          "transform(sequence(1, 6), i -> concat(element_at(dw, i), ' ', element_at(dw, i + 1)))"))
          .as("bg"))
        // same struct-min argmin/argmax shape as q191 (see there): the
        // per-key row_number windows become map-side-partial aggregates,
        // and the vocabulary-sized df table broadcasts. Descending jw
        // rides as its exact negation (order-faithful for finite
        // doubles; jw ∈ [0,1]), the original value carried alongside.
        val rare = dirtyBg.join(broadcast(dfreq), "bg")
          .groupBy(col("dk"))
          .agg(min(struct(col("df"), col("bg"), col("dn"))).as("m"))
          .select(col("dk"), col("m.dn").as("dn"), col("m.bg").as("bg"))
        // registry side broadcasts + argmax on a pinned parallel
        // partitioning, exactly as q191 (see there — incl. why the
        // repartition must be explicit and why its key set includes
        // bg): no distinct passes — the argmax is duplicate-invariant
        val scored = rare
          .repartition(s.sparkContext.defaultParallelism, col("dk"), col("bg"))
          .join(broadcast(cleanBg), "bg")
          .join(broadcast(clean.select(col("ck"), col("cn"))), "ck")
          .withColumn("jw",
            graft.functions.JaroWinkler(col("dn"), col("cn")))
        scored.groupBy(col("dk"))
          .agg(min(struct(-col("jw"), col("ck"), col("jw"))).as("m"))
          .select(col("dk").as("src_key"), col("m.ck").as("matched_key"),
            round(col("m.jw"), 6).as("jw"),
            (col("m.ck") === col("dk")).cast("int").as("matched_self"))
          .orderBy(col("src_key"))
      },
      Some(duckLinkageCands + """,
          |scored AS (SELECT cand.dk, cand.ck,
          |    jaro_winkler_similarity(cand.dn, cl.cn) AS jw
          |  FROM cand JOIN cl ON cand.ck = cl.ck)
          |SELECT dk AS src_key, ck AS matched_key, round(jw, 6) AS jw,
          |  CAST(ck = dk AS INT) AS matched_self
          |FROM (SELECT *, row_number() OVER
          |    (PARTITION BY dk ORDER BY jw DESC, ck) AS rn FROM scored) t
          |WHERE rn = 1 ORDER BY src_key""".stripMargin)),

    // EWMA — the exponential-decay feature every monitoring / feature
    // pipeline keeps per entity, computed by graft's segmented
    // linear-recurrence scan (analytics/Recurrence.scala): block-local
    // closed form + per-key block-spine carry, exact, bounded floating
    // range, no per-row sequential UDF and no collect-the-series-per-key.
    // The gate reports each user's FINAL ewma — a value that depends on
    // the user's entire ordered history, so any mis-carry anywhere in
    // the chain flips the hash (a real bug shifts values at O(value)
    // scale; 4-decimal quantization loses none of that sensitivity).
    // Oracle: DuckDB folds the recurrence sequentially with list_reduce
    // — a different evaluation order entirely, agreeing to ~1e-12.
    // Residual flake margin of round-then-hash: the hash flips iff a
    // true value lands within that ~1e-12 of a half-step (.5e-4)
    // boundary — P ≈ 2e-8 per emitted value (a 100× wider margin than
    // the earlier 6-decimal gate; the driver's hash compare is exact,
    // so the risk is quantized away, not tolerance-compared away).
    Q("q196_ewma",
      (s, dir) => {
        graft.analytics.Recurrence
          .ewma(ewmaEvents(s, dir), Seq("user_id"),
            Seq(col("ts").asc, col("event_id").asc), "value", alpha = 0.2)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(max_by(col("ewma"), struct(col("ts"), col("event_id"))), 4)
              .as("ewma_last"))
          .orderBy(col("user_id"))
      },
      Some(duckEwma)),

    // l-diversity audit — k-anonymity's (q194) stronger sibling: a QI
    // group that is large (k-safe) but UNIFORM in its sensitive value
    // still leaks it. Per quasi-identifier group (nation, balance band),
    // count DISTINCT sensitive values (market segment); report the
    // dataset's l (the least-diverse group), the groups and rows under
    // l=3, and the at-risk fraction. Same scale shape as q194: one keyed
    // aggregate, then a group-count-sized rollup.
    Q("q197_l_diversity",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(col("c_nationkey"),
            (floor(col("c_acctbal") / 100) * 100).cast("long").as("bal_band"),
            col("c_mktsegment"))
        c.groupBy(col("c_nationkey"), col("bal_band"))
          .agg(count(lit(1)).as("gn"),
            countDistinct(col("c_mktsegment")).as("l"))
          .agg(count(lit(1)).as("n_groups"),
            min(col("l")).as("l_diversity"),
            sum(when(col("l") < 3, 1L).otherwise(0L)).as("groups_lt_3"),
            sum(when(col("l") < 3, col("gn")).otherwise(0L))
              .as("rows_at_risk"),
            round(sum(when(col("l") < 3, col("gn")).otherwise(0L)) /
              sum(col("gn")), 6).as("risk_frac"))
      },
      Some(
        """WITH g AS (SELECT c_nationkey,
          |    CAST(floor(c_acctbal / 100) * 100 AS BIGINT) AS bal_band,
          |    count(*) AS gn,
          |    count(DISTINCT c_mktsegment) AS l
          |  FROM customer GROUP BY 1, 2)
          |SELECT count(*) AS n_groups, min(l) AS l_diversity,
          |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS groups_lt_3,
          |  CAST(sum(CASE WHEN l < 3 THEN gn ELSE 0 END) AS BIGINT)
          |    AS rows_at_risk,
          |  round(sum(CASE WHEN l < 3 THEN gn ELSE 0 END) * 1.0
          |    / sum(gn), 6) AS risk_frac
          |FROM g""".stripMargin)),

    // Skew-hardened EWMA (Recurrence.ewmaBucketed) — q196's recurrence
    // partitioned by (key, 6-hour time bucket) instead of key alone, so
    // a hot entity's ordered scan spreads over its buckets rather than
    // one straggler window task (the q177 asofBucketed trick applied to
    // a recurrence; hot-key measurement in PLANS.md Round-14). The
    // linearity of the recurrence makes the composition exact: within-
    // bucket folds as if the bucket opened the series, a per-key bucket
    // spine carries E_b = L_b + m^sz_b·E_{b−1}, each row adds
    // m^rn·E_prev. Oracle = q196's list_reduce fold VERBATIM — two
    // engine shapes, one ground truth, like q175/q177.
    Q("q201_ewma_bucketed",
      (s, dir) => {
        graft.analytics.Recurrence
          .ewmaBucketed(ewmaEvents(s, dir), Seq("user_id"), "ts",
            Seq(col("ts").asc, col("event_id").asc), "value", alpha = 0.2,
            bucket = 6L * 3600L * 1000000000L)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(max_by(col("ewma"), struct(col("ts"), col("event_id"))), 4)
              .as("ewma_last"))
          .orderBy(col("user_id"))
      },
      Some(duckEwma))
  )
}
