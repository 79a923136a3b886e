package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{StreamingDupSpans, StreamingEventAlerts,
  StreamingHeavyHitters, StreamingNearDup, StreamingUnitDedup}

/** The streaming operators under the driver's ORACLE GATE — until round 8
  * the streaming family was verified only by ScalaTest batch-equality
  * specs, so a streaming regression could not turn a CORRECTNESS row red.
  * These queries drive the real Structured Streaming path (file source →
  * stateful operator → sink) over the bounded sf input with
  * `Trigger.AvailableNow`, then hand the driver the finished result frame;
  * the oracles are the BATCH oracles (q10's alert pipeline, q108's
  * first-occurrence rule), because the streamed result is contractually
  * row-identical to the batch result on bounded in-order input.
  *
  * Determinism notes: each invocation gets a fresh checkpoint + staging
  * dir (cleaned at JVM exit) and a unique memory-sink table, so repeated
  * runs (bench min-of-3, concurrent sessions) never share state. The
  * single-file source yields ONE micro-batch under AvailableNow, and
  * both operators make the intra-batch winner deterministic (seq-order
  * fold per key; (doc, idx) sort per digest), so the output is
  * run-order-independent — hashable by the driver. */
object StreamingQueries {

  /** Unique memory-sink table per invocation — a restarted query may not
    * reuse an active name, and bench runs each query three times. */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The streaming file source wants a directory; driver tables are single
    * parquet files — stage via symlink into a temp dir (absolutized so a
    * relative `dir` can't dangle), cleaned at JVM exit. */
  private[graft] def stagedTableDir(dir: String, table: String): String = {
    val d = AnalyticsQueries.tempDirCleanedOnExit(s"graft_stream_${table}_")
    java.nio.file.Files.createSymbolicLink(
      d.resolve(s"$table.parquet"),
      java.nio.file.Paths.get(s"$dir/$table.parquet").toAbsolutePath)
    d.toString
  }

  /** Run `stream` to completion (AvailableNow) into a fresh memory sink
    * and return the sunk table. `mode` is the sink output mode — Append
    * for the exactly-once emitters, Update for operators that re-emit a
    * summary per micro-batch (heavy hitters). */
  private def runToTable(stream: DataFrame, tag: String,
      mode: String = "append"): DataFrame = {
    val spark = stream.sparkSession
    val name = s"graft_${tag}_${runSeq.incrementAndGet()}"
    val ckpt =
      AnalyticsQueries.tempDirCleanedOnExit(s"graft_${tag}_ckpt_").toString
    // every stateful operator in the registry runs on the RocksDB state
    // store — heap-resident default state is the 100 TB scale ceiling —
    // and every stream, stateless ones too, writes its offset and commit
    // logs through the FileSystem checkpoint manager (see StateBackend).
    // Both are captured at start(), so the save/restore wrapper keeps
    // them for this stream's life without leaving the session conf
    // flipped for streams a host application starts later.
    graft.streaming.StateBackend.withRocksDb(spark) {
      val q = stream.writeStream
        .format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** q207/q215/q216's cluster-map stream: stage `ops` (op, a, b) as 4
    * parquet files, fold them one per micro-batch through
    * [[graft.streaming.StreamingCcMixed]] against `labels` and the
    * standing edge set `edges`, and return the final map by doc_id. */
  private def maintainClusters(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String, ops: DataFrame, labels: DataFrame,
      edges: DataFrame): DataFrame = {
    val staging = AnalyticsQueries.tempDirCleanedOnExit(tag).toString
    ops.repartition(4).write.mode("overwrite").parquet(s"$staging/ops")
    val stream = s.readStream.schema("op STRING, a BIGINT, b BIGINT")
      .option("maxFilesPerTrigger", "1").parquet(s"$staging/ops")
    graft.streaming.StreamingCcMixed
      .maintain(stream, labels, edges,
        Tables(s, dir, "documents").select(col("doc_id")),
        s"$staging/_ckpt")
      .orderBy(col("doc_id"))
  }

  /** Both ends of a cluster edge in the history slice. */
  private def bothHist =
    DedupQueries.isHistDoc(col("doc_a")) && DedupQueries.isHistDoc(col("doc_b"))

  /** q207/q216's standing edge set: the history-only cluster edges. */
  private def histEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    DedupQueries.clusterEdgesFrame(s, dir).where(bothHist)

  /** q207/q216's adds: every cluster edge touching a non-history doc. */
  private def deltaAddOps(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    DedupQueries.clusterEdgesFrame(s, dir).where(!bothHist)
      .select(lit("add").as("op"), col("doc_a").as("a"),
        col("doc_b").as("b"))

  /** q215/q216's removes: the doc_id % 10 == 3 takedown slice. */
  private def takedownRmOps(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    Tables(s, dir, "documents").where(col("doc_id") % 10 === 3)
      .select(lit("rm").as("op"), col("doc_id").as("a"), lit(-1L).as("b"))

  /** [[docStream]] fanned out by doc_id BEFORE per-document heavy work —
    * the streaming twin of `Tables.sharded`: the staged source is ONE
    * parquet file → one input partition, so without this every
    * pre-shuffle map stage runs in a single task (q113's K×md5 MinHash
    * sketch was 10× its own state operator's cost for exactly this
    * reason). Safe for the keyed-state consumers here: AvailableNow
    * yields one micro-batch, and each operator's intra-batch semantics
    * are arrival-order-independent — min-(doc, idx) tie resolution
    * (q111), set-valued duplicated positions (q112), unordered
    * normalized pair emission + downstream distinct (q113). At real
    * scale the source has many splits and this shuffle is cheap
    * relative to the per-row sketch work it parallelizes. */
  private def shardedDocStream(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    docStream(s, dir)
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** The streamed documents table (the staged single-parquet source). */
  private def docStream(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    s.readStream
      .schema("doc_id BIGINT, text STRING, lang STRING, " +
        "source STRING, n_chars BIGINT")
      .parquet(stagedTableDir(dir, "documents"))

  val all: Seq[Q] = Seq(
    // The reference pipeline END-TO-END as a streaming job, oracle-gated:
    // events stream (file source) → CountSlidingWindow (ring-buffer state
    // per key, size-30 count window, the batch kernel's measures and
    // threshold predicate per fire against the batch-built 6-entry side
    // table — the stats.csv pattern) → memory sink. The oracle is q10's alert SQL VERBATIM:
    // the streamed alert set must hash-match the batch pipeline's —
    // StreamingEventAlertsSpec proves the equality in-test, this row
    // makes the driver's gate prove it every round.
    Q("q110_streaming_alerts",
      (s, dir) => {
        val batchEvents = Tables(s, dir, "events")
        val thr = StreamingEventAlerts.thresholds(batchEvents)
        val stream = s.readStream
          .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
            "value DOUBLE, props STRING")
          .parquet(stagedTableDir(dir, "events"))
        runToTable(StreamingEventAlerts.alerts(stream, thr).toDF(),
          "stream_alerts")
          .select(col("key").as("user_id"), col("seq").as("event_id"),
            col("stat"), col("m"), col("thr"))
      },
      Some(s"""${WindowQueries.alertsWith}
           |SELECT user_id, event_id, stat, m, thr FROM alerts""".stripMargin)),

    // Streaming passage-grain dedup, oracle-gated: the documents stream is
    // chunked document-locally (q108's exact unit definition: size=stride
    // =32 token windows), digested, and decided by StreamingUnitDedup
    // (keep-first-arrival, one boolean per distinct unit). The bounded
    // single-file input arrives as ONE micro-batch, where the operator's
    // intra-batch (doc, idx) sort makes keep-first-arrival coincide with
    // the batch operator's keep-global-min — so the oracle is q108's
    // first-occurrence SQL (minus n_occ, which a drop DECISION stream
    // deliberately does not carry: corpus-wide counts are a batch rollup,
    // not a per-arrival decision).
    Q("q111_streaming_passage_dedup",
      (s, dir) => {
        val units = graft.text.TextStats
          .chunk(shardedDocStream(s, dir), size = 32, stride = 32)
          .select(col("doc_id"), col("chunk_id"),
            concat_ws(" ", col("ctoks")).as("unit"))
        val decisions = StreamingUnitDedup.decisions(
          StreamingUnitDedup.unitRows(units, docCol = "doc_id",
            idxCol = "chunk_id", unitCol = "unit"))
        runToTable(decisions.toDF(), "stream_unitdedup")
          .select(col("docId").as("doc_id"), col("idx").as("chunk_id"),
            col("keep"))
          .orderBy(col("doc_id"), col("chunk_id"))
      },
      Some(
        s"""${CurationQueries.duckUnits},
          |w AS (SELECT doc_id, chunk_id,
          |    row_number() OVER (PARTITION BY norm
          |      ORDER BY doc_id, chunk_id) AS rn
          |  FROM u)
          |SELECT doc_id, chunk_id, rn = 1 AS keep
          |FROM w ORDER BY doc_id, chunk_id""".stripMargin)),

    // Streaming exact-substring duplicate positions (StreamingDupSpans,
    // the incremental Lee-et-al detector), oracle-gated. Each char-40-gram
    // position is emitted EXACTLY ONCE, in the micro-batch where its
    // gram's corpus count reaches 2 — so the union of all micro-batch
    // outputs equals the batch detector's duplicated-position set
    // REGARDLESS of how documents split across batches (no single-batch
    // assumption, unlike q110/q111). The oracle replays the same 62-bit
    // rolling gram hash in SQL (duckDupGrams) and selects positions of
    // hashes with count >= 2; its `pos` is 1-based (generate_series)
    // while the engine's is 0-based (posexplode), hence the - 1.
    Q("q112_streaming_dup_positions",
      (s, dir) => {
        val dups = StreamingDupSpans.duplicatedPositions(
          StreamingDupSpans.gramPositions(
            shardedDocStream(s, dir).select(col("doc_id"), col("text"))))
        runToTable(dups.toDF(), "stream_dupspans")
          .select(col("docId").as("doc_id"), col("pos"), col("hv"))
          .orderBy(col("doc_id"), col("pos"))
      },
      Some(DedupQueries.duckDupGrams + """,
          |dh AS (SELECT hv FROM p GROUP BY hv HAVING count(*) >= 2)
          |SELECT doc_id, pos - 1 AS pos, hv
          |FROM p JOIN dh USING (hv) ORDER BY doc_id, pos""".stripMargin)),

    // Streaming MinHash-LSH near-dup candidates (StreamingNearDup),
    // oracle-gated. The stream keys by LSH bucket (band index + band key,
    // the SAME document-local sketch as batch q27/q28) and pairs each
    // arriving doc against the bucket's earlier members — at-least-once
    // across buckets, canonicalized a < b, so DISTINCT of the union of
    // micro-batch outputs equals the batch self-join's candidate set for
    // ANY batch split. The driver run deliberately sets maxBucket to
    // MaxValue: the hot-bucket cap is a production lever whose drops
    // depend on arrival order (not hashable); capped behavior is pinned
    // by StreamingNearDupSpec instead. The oracle replays the integer
    // minwise MinHash bands in SQL (duckMinhash) and self-joins them.
    Q("q113_streaming_neardup_cands",
      (s, dir) => {
        import s.implicits._
        val pairs = StreamingNearDup.candidatePairs(
          StreamingNearDup.bandKeys(
            shardedDocStream(s, dir).select(col("doc_id"), col("text")))
            .select(col("bucket"), col("doc_id").as("docId"))
            .as[StreamingNearDup.BucketDoc],
          maxBucket = Int.MaxValue)
        runToTable(pairs.toDF(), "stream_neardup")
          .select(col("docA").as("doc_a"), col("docB").as("doc_b"))
          .distinct()
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(DedupQueries.duckBandCands + """
          |SELECT doc_a, doc_b FROM cands ORDER BY doc_a, doc_b""".stripMargin)),

    // Streaming heavy hitters (sharded SpaceSaving), oracle-gated IN THE
    // EXACT REGIME: with per-shard capacity k far above the corpus
    // vocabulary (31 distinct tokens in the synthetic documents; k=4096)
    // no counter is ever evicted, so SpaceSaving's `true <= est <= true +
    // err` collapses to est == exact count, err == 0 — and the summary
    // becomes hashable against a plain GROUP BY oracle. The approximate
    // regime (evictions, error bounds, shard no-false-negative guarantee)
    // is pinned by StreamingHeavyHittersSpec at k=16, where no exact
    // oracle can exist. est is monotone across generations, so max(est)
    // per token is the current answer for ANY batch split (one generation
    // per shard per micro-batch under Update mode).
    Q("q114_streaming_heavy_hitters",
      (s, dir) => {
        import s.implicits._
        val toks = docStream(s, dir)
          .select(explode(graft.dedup.Dedup.tokens(col("text"))).as("token"))
          // codegen'd shard key; provably equal to the typed operator's
          // own shardOf (same xxhash64 — StreamingHeavyHittersSpec's
          // shard-agreement test)
          .select(StreamingHeavyHitters.shardCol(col("token"), 4).as("shard"),
            col("token"))
          .as[StreamingHeavyHitters.Tok]
        val hh = StreamingHeavyHitters.heavyHitters(toks, k = 4096)
        runToTable(hh.toDF(), "stream_hh", mode = "update")
          .groupBy(col("token"))
          .agg(max(col("est")).as("est"))
          .orderBy(col("token"))
      },
      Some(s"""WITH tok AS (SELECT unnest(${ExtQueries.duckTokens}) AS token
          |  FROM documents)
          |SELECT token, count(*) AS est
          |FROM tok GROUP BY token ORDER BY token""".stripMargin)),

    // Streaming ANN SERVING: query vectors arrive as a STREAM and search a
    // static, already-encoded candidate index — the q119 serving shape
    // with the query side live. The static side (cell-assigned candidates
    // from the trained coarse quantizer) is built once from the batch
    // frame; each streamed query probes its 2 nearest cells (probeCells
    // is a pure map/explode — stream-safe), a stream-static equi-join on
    // `cell` attaches candidates, and the per-query top-3 is ONE streaming
    // aggregation: collect_list of (negcos, id) structs, array_sort,
    // slice — complete mode, so the final memory-sink table is the full
    // aggregation REGARDLESS of how the source splits into micro-batches
    // (aggregation state accumulates across batches; no per-batch winner
    // rule needed, unlike q110-q114's append-mode operators). State per
    // query is its probed-cell candidate list — occupancy-bounded, the
    // same bound the batch join pays. The oracle is the batch probed
    // exact-scoring search over the same id split (q66's shape at p=2).
    Q("q120_streaming_ann_serving",
      (s, dir) => {
        val cells = ExtQueries.trainedCells(s, dir)
        val cand = graft.similarity.Similarity
          .assignCells(
            ExtQueries.embFrame(s, dir).where(col("vec_id") >= 100), cells)
          .select(col("vec_id").as("neighbor_id"), col("cell"),
            col("e").as("__ne"))
        val qstream = s.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .parquet(stagedTableDir(dir, "embeddings"))
          .where(col("vec_id") < 100)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("e"))
        val probed = graft.similarity.Similarity
          .probeCells(qstream, cells, probes = 2)
        // (negcos, id) structs sort ascending = cos DESC with min-id
        // tiebreak (rankedCells' -0.0-normalized contract)
        val sc = struct(
          (-round(graft.functions.CosineSimilarity(col("e"), col("__ne")),
            6) + 0.0).as("negcos"),
          col("neighbor_id").as("nid"))
        val topk = probed.join(cand, "cell")
          .select(col("vec_id"), sc.as("sc"))
          .groupBy(col("vec_id"))
          .agg(slice(array_sort(collect_list(col("sc"))), 1, 3).as("top"))
        runToTable(topk, "ann_serving", mode = "complete")
          .select(col("vec_id"), explode(col("top")).as("sc"))
          .select(col("vec_id"),
            (-col("sc.negcos") + lit(0.0)).as("cos_sim"),
            col("sc.nid").as("neighbor_id"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ExtQueries.ivfTrainCtes(k = 8, iters = 2, dim = 64,
        probes = Some(2)) + """
          |SELECT vec_id, neighbor_id, cos_sim FROM (
          |  SELECT q.vec_id, b.vec_id AS neighbor_id,
          |    round(list_cosine_similarity(q.e, b.e), 6) AS cos_sim,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY round(list_cosine_similarity(q.e, b.e), 6) DESC,
          |        b.vec_id) AS rk
          |  FROM aprobe q JOIN afin b ON q.cell = b.cell
          |    AND q.vec_id < 100 AND b.vec_id >= 100
          |) t WHERE rk <= 3 ORDER BY vec_id, neighbor_id""".stripMargin)),

    // Streaming SESSIONIZATION, oracle-gated: Spark's native session
    // windows (session_window + watermark — the engine merges adjacent
    // windows in state, open sessions survive micro-batch boundaries and
    // close via watermark progress; StreamingSessionSpec proves the
    // split-robustness on a forced 2-batch stream). Time axis = 1 tick
    // per event_id, so q52's gap-on-seq rule becomes gap-on-time with
    // the SAME gap value: session_window merges on NON-strict overlap
    // (delta <= g — verified empirically: gap 501s merges a 501-tick
    // delta), matching q52's break-iff-delta>500. Complete mode makes the sunk
    // session table the final aggregation state regardless of how the
    // source splits into micro-batches; the per-user rollup on top is
    // a bounded batch aggregate (n_users rows). Oracle = q52's batch
    // sessionization SQL VERBATIM — the streamed session structure must
    // reproduce the batch gap-walk exactly.
    Q("q131_streaming_sessions",
      (s, dir) => {
        val sessions = s.readStream
          .schema("event_id BIGINT, user_id BIGINT")
          .parquet(stagedTableDir(dir, "events"))
          .withColumn("ts", timestamp_seconds(col("event_id")))
          .withWatermark("ts", "0 seconds")
          .groupBy(col("user_id"),
            session_window(col("ts"), "500 seconds"))
          .agg(count(lit(1)).as("sess_len"))
        runToTable(sessions, "stream_sessions", mode = "complete")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_sessions"),
            max(col("sess_len")).as("max_sess_len"),
            sum(col("sess_len")).cast("long").as("n_events"))
          .orderBy(col("user_id"))
      },
      Some(AdvancedQueries.duckSessions)),

    // Streaming INGEST under the gate: q107's JSONL corpus reader on the
    // readStream path — the same explicit-schema parse and drop-don't-fail
    // required-column gate (StreamingCurationSpec proves batch equality
    // in-test; this row makes the driver's oracle prove it every round).
    // Stateless map+filter into an append sink, so the sunk table is the
    // surviving corpus bit-for-bit however the source splits into
    // micro-batches; the planted garbage file must drop entirely.
    Q("q134_streaming_jsonl_ingest",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(
          col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        val path = AnalyticsQueries
          .tempDirCleanedOnExit("graft_sjsonl_").resolve("corpus").toString
        graft.sources.Sources.writeJsonl(docs, path)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path, "garbage.json"),
          Seq("{not json", """{"doc_id":"abc","text":"x"}""",
            """{"doc_id":999999999}""", "").mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val stream = graft.sources.Sources.readJsonlStream(s, path,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
              "n_chars BIGINT"),
          requiredCols = Seq("doc_id", "text"))
        runToTable(stream, "jsonl_ingest").orderBy(col("doc_id"))
      },
      Some(AnalyticsQueries.duckCorpus)),

    // Streaming incremental dedup under the gate — q143's recurring-crawl
    // shape with the delta as a LIVE STREAM: the history digest index is
    // a static frame joined per micro-batch (stream-static left join, the
    // Structured Streaming primitive this query exists to gate), and
    // first-arrival keep-first state is held ONLY for digests absent from
    // history (in-history arrivals are decided statelessly). The delta is
    // q143's exactly: the doc_id%10 >= 8 tail plus planted re-ingests of
    // history docs (+100000) and intra-batch copies (+200000), built
    // in-stream with a stateless explode. Single-batch AvailableNow input
    // + the operator's intra-batch docId sort make keep-first-arrival
    // coincide with the batch min-id rule, so the oracle is q143's SQL
    // minus n_occ_delta (a corpus rollup a per-arrival decision stream
    // deliberately does not carry — q111's argument).
    Q("q145_streaming_delta_dedup",
      (s, dir) => {
        val histIdx = graft.streaming.StreamingDeltaDedup.digests(
          Tables(s, dir, "documents").where(col("doc_id") % 10 < 8))
        val delta = docStream(s, dir)
          .select(explode(array(
            when(col("doc_id") % 10 >= 8,
              struct(col("doc_id"), col("text"))),
            when(col("doc_id") % 10 === 0,
              struct((col("doc_id") + 100000).as("doc_id"), col("text"))),
            when(col("doc_id") % 10 === 8,
              struct((col("doc_id") + 200000).as("doc_id"), col("text")))))
            .as("r"))
          .where(col("r").isNotNull)
          .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        val decisions = graft.streaming.StreamingDeltaDedup.decisions(
          graft.streaming.StreamingDeltaDedup.rows(delta, histIdx))
        runToTable(decisions.toDF(), "stream_deltadedup")
          .select(col("docId").as("doc_id"),
            col("inHistory").as("in_history"), col("keep"))
          .orderBy(col("doc_id"))
      },
      Some(DedupQueries.duckDeltaDigests + """,
          |f AS (SELECT k, min(doc_id) AS first_id FROM dk GROUP BY k)
          |SELECT dk.doc_id, hist.k IS NOT NULL AS in_history,
          |  hist.k IS NULL AND dk.doc_id = f.first_id AS keep
          |FROM dk JOIN f USING (k) LEFT JOIN hist USING (k)
          |ORDER BY dk.doc_id""".stripMargin)),

    // Streaming MULTIMODAL ingest under the gate: the nine-format media
    // corpus of q146 decoded as a STREAM — per micro-batch, rows route
    // to their real parsers (PPM/BMP/PNG/GIF/JPEG/WAV/MP3/Y4M/H.264)
    // through the same typed mapPartitions dispatch the batch path uses
    // (stateless, so the result is split-invariant by construction),
    // append sink. This is the crawl-side shape: media files land
    // continuously and decode incrementally, with per-partition
    // per-format codec lifecycle. Oracle = q146's envelope arithmetic
    // verbatim.
    Q("q152_streaming_media_decode",
      (s, dir) => {
        import s.implicits._
        val files = docStream(s, dir)
          .select(col("doc_id")).as[Long]
          .map(graft.ext.Multimodal.syntheticMedia)
        val metas = graft.ext.Multimodal.decodeMetaByKind(files).toDF()
          .select(col("docId").as("doc_id"), col("kind"),
            col("width"), col("height"), col("nFrames").as("n_frames"))
        runToTable(metas, "stream_media").orderBy(col("doc_id"))
      },
      Some(ExtQueries.duckMedia)),

    // Streaming lexicon tagging — q170's Aho–Corasick operator on the
    // document stream: the automaton broadcasts once (bounded driver
    // artifact), tagging is a pure per-partition flatMap with NO shuffle
    // and NO state store, so it streams in append mode as-is — the
    // shape of a tag-on-ingest curation hop (blocklist screening before
    // anything pays to store the doc). Oracle: q170's batch SQL
    // VERBATIM — the streamed tag set must hash-match the batch pass.
    Q("q173_streaming_keyword_tags",
      (s, dir) => {
        val tags = graft.text.AhoCorasick.tagCounts(
          shardedDocStream(s, dir),
          Seq("a", "art", "data", "he", "row", "scan", "table", "the"))
        runToTable(tags, "stream_kw_tags")
          .orderBy(col("doc_id"), col("keyword"))
      },
      Some(CurationQueries.duckKeywordTags)),

    // Stream-static as-of SERVING (graft.streaming.StreamingAsof): the
    // view-event stream attaches each row's latest prior purchase value
    // from a broadcast per-key ts-sorted index built off the static
    // purchase history — q175's semantics in the online shape (feature
    // lookup at event time). Pure per-partition binary-search map: no
    // shuffle, no state store, append mode. The batch views stage
    // through a temp parquet dir with ts already normalized to BIGINT
    // nanos (the Tables contract — a raw streaming read of
    // events.parquet would hit the TIMESTAMP(NANOS) encoding). Oracle:
    // q175's DuckDB ASOF LEFT JOIN VERBATIM — batch engine, streamed
    // engine, and DuckDB's native operator all hash-equal.
    Q("q178_streaming_asof",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val purchases = ev.where(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("purchase_value"))
        val staged = AnalyticsQueries
          .tempDirCleanedOnExit("graft_asof_stream_").toString
        ev.where(col("event_type") === "view")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
          .write.mode("overwrite").parquet(staged)
        val stream = s.readStream
          .schema("event_id BIGINT, user_id BIGINT, ts BIGINT, " +
            "value DOUBLE")
          .parquet(staged)
          .repartition(s.sparkContext.defaultParallelism, col("user_id"))
        val served = graft.streaming.StreamingAsof.attach(stream,
          purchases, keyCol = "user_id", tsCol = "ts",
          valueCol = "purchase_value", outCol = "asof_purchase_value")
        runToTable(served, "stream_asof")
          .select(col("event_id"), col("user_id"), col("value"),
            col("asof_purchase_value"))
          .orderBy(col("event_id"))
      },
      Some(AdvancedQueries.duckAsof)),

    // Streaming EWMA under the gate — q196's recurrence as an ONLINE
    // FEATURE: per-event decayed averages emitted in the arrival
    // micro-batch, state exactly one double per user
    // (streaming/StreamingEwma.scala; the feature-store "latest decayed
    // value per entity" shape). Events are staged through Tables (the
    // ts-nanos contract) and replayed as a single AvailableNow batch, so
    // the operator's intra-batch (ts, id) sort makes the streamed fold
    // equal the batch global order — the oracle is q196's batch SQL
    // VERBATIM (DuckDB list_reduce). The gate aggregates each user's
    // FINAL ewma, the value the whole carried chain feeds;
    // StreamingEwmaSpec additionally pins per-event equality across a
    // forced multi-batch split and the idleTtl re-seed contract.
    Q("q198_streaming_ewma",
      (s, dir) => {
        val staged = AnalyticsQueries
          .tempDirCleanedOnExit("graft_ewma_stream_").toString
        Tables(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .write.mode("overwrite").parquet(staged)
        val stream = s.readStream
          .schema("user_id BIGINT, ts BIGINT, event_id BIGINT, " +
            "value DOUBLE")
          .parquet(staged)
        val rows = graft.streaming.StreamingEwma.eventRows(stream)
        val out = graft.streaming.StreamingEwma.attach(rows, alpha = 0.2)
        runToTable(out.toDF(), "stream_ewma")
          .groupBy(col("key").as("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(max_by(col("ewma"), struct(col("ts"), col("id"))), 4)
              .as("ewma_last"))
          .orderBy(col("user_id"))
      },
      Some(AdvancedQueries.duckEwma)),

    // Streaming tumbling-window OHLC under the gate — the one Structured
    // Streaming primitive the family didn't yet gate: a built-in
    // event-time `window()` aggregation behind a watermark (q110/q131
    // gate CUSTOM stateful ops and session windows; this is the stock
    // windowed-aggregate path every monitoring pipeline starts from).
    // Nanos `ts` becomes an event-time timestamp (micros precision —
    // lossless here, event timestamps are micro-aligned), 1-day epoch-
    // aligned tumbling windows in the session's UTC zone reproduce
    // q189's `ts div day` bucketing exactly, and complete mode makes the
    // sunk table the final aggregation state however the source splits.
    // Oracle = q189's batch SQL VERBATIM: the streamed windowed state
    // must reproduce the batch keyed aggregate, open/close included.
    Q("q200_streaming_ohlc",
      (s, dir) => {
        val staged = AnalyticsQueries
          .tempDirCleanedOnExit("graft_ohlc_stream_").toString
        Tables(s, dir, "events")
          .select(col("event_type"), col("ts"), col("value"))
          .write.mode("overwrite").parquet(staged)
        val stream = s.readStream
          .schema("event_type STRING, ts BIGINT, value DOUBLE")
          .parquet(staged)
          .withColumn("event_time",
            timestamp_micros(expr("ts div 1000")))
          .withWatermark("event_time", "0 seconds")
        val win = stream
          .groupBy(col("event_type"), window(col("event_time"), "1 day"))
          .agg(min_by(col("value"), col("ts")).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max_by(col("value"), col("ts")).as("close"),
            count(lit(1)).as("n"),
            avg(col("value")).as("__avg"))
        runToTable(win, "stream_ohlc", mode = "complete")
          .select(col("event_type"),
            expr("unix_micros(window.start) div 86400000000").as("day"),
            col("open"), col("high"), col("low"), col("close"), col("n"),
            round(col("__avg"), 6).as("mean_v"))
          .orderBy(col("event_type"), col("day"))
      },
      Some(AdvancedQueries.duckOhlc)),

    // Streaming incremental IVF maintenance — q203's delta assignment
    // served ONLINE, the production shape exactly: centroids are a
    // DEPLOYED artifact (trained offline on the batch history slice,
    // baked into the stream's codegen'd assignment expression — no
    // training state, no shuffle on the stream side), new vectors
    // assign as they arrive, and a complete-mode keyed aggregate
    // maintains the per-cell drift dashboard (delta occupancy + summed
    // quantized assignment error) that q203's retrain trigger reads.
    // Counts and integer dist2 sums are arrival-order-free, so the
    // sunk aggregate is batch-split-invariant; the oracle is q203's
    // history-trained replay projected to the delta population.
    Q("q205_streaming_ivf_delta",
      (s, dir) => {
        val hist = Tables.sharded(s, dir, "embeddings", "vec_id")
          .where(pmod(col("vec_id"), lit(10)) =!= 7)
        val cents = graft.similarity.Clustering
          .lloydCentroids(hist, k = 4, updates = 2)
        val deltaStream = s.readStream
          .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
          .parquet(stagedTableDir(dir, "embeddings"))
          .where(pmod(col("vec_id"), lit(10)) === 7)
        // decimal-widened inside the aggregate (overflow-safe on large
        // populations — the q203/Retrain discipline); BIGINT at the dump
        val agg = graft.similarity.Clustering.assign(deltaStream, cents)
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_delta"),
            sum(col("dist2").cast("decimal(38,0)")).as("dist2_delta"))
        runToTable(agg, "ivf_delta", mode = "complete")
          .select(col("cluster"), col("n_delta"),
            col("dist2_delta").cast("bigint").as("dist2_delta"))
          .orderBy(col("cluster"))
      },
      Some {
        s"""${ExtQueries.duckHistCentroids},
           |df AS (SELECT qd.vec_id AS vec_id, c.cid AS cid,
           |    sum((qd.v - c.v) * (qd.v - c.v)) AS dist
           |  FROM qd JOIN c2 c ON qd.d = c.d
           |  WHERE qd.vec_id % 10 = 7 GROUP BY 1, 2),
           |af AS (SELECT vec_id, min(dist * 1048576 + cid) AS comb
           |  FROM df GROUP BY 1),
           |fa AS (SELECT vec_id, comb % 1048576 AS cluster,
           |    comb // 1048576 AS dist2 FROM af)
           |SELECT CAST(cluster AS BIGINT) AS cluster,
           |  CAST(count(*) AS BIGINT) AS n_delta,
           |  CAST(sum(dist2) AS BIGINT) AS dist2_delta
           |FROM fa GROUP BY cluster ORDER BY cluster""".stripMargin
      }),

    // Streaming cluster-map maintenance, add-only (StreamingCcMixed) —
    // q206's incremental CC served as the production ingest LOOP: the
    // delta edge set (every LSH pair touching a doc_id % 10 == 0 doc)
    // streams in as 4 micro-batches of "add" ops, and foreachBatch folds
    // each MERGE-ON-READ: the persisted base label table is only scanned
    // (endpoint-root lookup), the fold accumulates a touched-roots-only
    // broadcast remap, and the corpus-sized rewrite happens solely at
    // compaction — so per-batch cost ∝ batch, never the corpus. The fold
    // invariant (labels = CC over edges seen so far) makes the final map
    // batch-split-invariant; StreamingCcMixedSpec pins the adversarial
    // split where each bridge of a 4-component merge chain arrives in a
    // DIFFERENT batch plus the forced-compaction regime,
    // MixedPersistRestartSpec pins driver-crash recovery. Oracle =
    // q171/q206's full-graph recursive-CTE CC VERBATIM: batch engine,
    // incremental engine, streamed incremental engine, and DuckDB — one
    // ground truth, four routes.
    Q("q207_streaming_cc_maintenance",
      (s, dir) => maintainClusters(s, dir, "graft_sccd_",
        deltaAddOps(s, dir), DedupQueries.histLabelsFrame(s, dir),
        histEdges(s, dir)),
      Some(DedupQueries.duckClusters)),

    // Streaming containment DECONTAMINATION (StreamingContainment) —
    // q209's cross-corpus exact containment served as its natural
    // production shape (the r14 verdict's missing streaming twin): the
    // suspect slice (doc_id % 10 == 0) streams in as 4 micro-batches and
    // each batch is probed against the STATIC history prefix index
    // (Dedup.containmentIndex over the hist grams, prepared once and
    // cached per session×dir — posting rows + corpus dfs). Every probe's
    // prefix/candidates/verify depend only on its own grams and the
    // static index, so the streamed union is batch-split-invariant
    // (StreamingContainmentSpec pins it); the per-probe window the probe
    // stage needs runs inside foreachBatch (the rich-stateless recipe),
    // landing exactly-once via the batchId-keyed map of checkpointed hit
    // frames (a replayed batch supersedes its own entry).
    // Oracle = q209's batch oracle VERBATIM: one ground truth, batch and
    // streamed route.
    Q("q211_streaming_containment_decontam",
      (s, dir) => {
        val g = DedupQueries.grams(s, dir)
        val idx0 = graft.dedup.Dedup.containmentIndex(
          g.where(DedupQueries.isHistDoc(col("doc_id"))))
        val idx = idx0.copy(
          cRows = Caches.frame(s, dir, "contIdxRows")(idx0.cRows),
          dfs = Caches.frame(s, dir, "contIdxDfs")(idx0.dfs))
        val staging =
          AnalyticsQueries.tempDirCleanedOnExit("graft_scont_").toString
        Tables(s, dir, "documents")
          .where(!DedupQueries.isHistDoc(col("doc_id")))
          .select(col("doc_id"), col("text"))
          .repartition(4)
          .write.mode("overwrite").parquet(s"$staging/probe")
        val stream = s.readStream.schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$staging/probe")
        graft.streaming.StreamingContainment
          .run(stream, idx, num = 4, den = 5, s"$staging/work",
            // fan the batch out BEFORE shingling: each micro-batch is
            // one staged file → one scan partition, so the per-doc
            // rolling-hash shingle pass otherwise runs on a single task
            // per batch (the shardedDocStream rationale, foreachBatch
            // edition)
            b => graft.dedup.Dedup.shingles(
                b.repartition(s.sparkContext.defaultParallelism,
                  col("doc_id")))
              .select(col("doc_id").as("probe_id"), col("grams")))
          .select(col("probe_id"), col("doc_id"), col("common"),
            round(col("containment"), 6).as("containment"))
          .orderBy(col("probe_id"), col("doc_id"))
      },
      Some(DedupQueries.duckContainment)),

    // Streaming cluster-map TAKEDOWN, remove-only (StreamingCcMixed) —
    // q213's decremental CC served as the production deletion LOOP: the
    // doc_id % 10 == 3 takedown set streams in as 4 micro-batches of "rm"
    // ops and each batch repairs ONLY the components it touches against
    // the standing labels (q55's shared clustersFrame), merge-on-read —
    // base scanned not rewritten, repaired labels accumulate as a bounded
    // override table (per-MEMBER, because removal can split a component),
    // tombstones broadcast at read, corpus rewrite only at compaction.
    // Later batches resolve against the already-repaired view, so the
    // final map is split-invariant (StreamingCcMixedSpec pins the
    // same-component-touched-twice split + forced compaction). Oracle =
    // q213's retained-graph recursive-CTE oracle VERBATIM: batch
    // retraction, streamed retraction, and DuckDB — one ground truth.
    Q("q215_streaming_cc_takedown",
      (s, dir) => maintainClusters(s, dir, "graft_sctd_",
        takedownRmOps(s, dir), DedupQueries.clustersFrame(s, dir),
        DedupQueries.clusterEdgesFrame(s, dir)),
      Some(DedupQueries.duckRetainedClusters)),

    // MIXED streaming maintenance (StreamingCcMixed) — the shape a
    // production ingest loop actually has: ONE stream interleaving the
    // q206/q207 delta-edge ADDS (every LSH pair touching a %10==0 doc)
    // and the q213/q215 takedown REMOVES (the %10==3 slice) against the
    // standing history labels, 4 mixed micro-batches. Adds fold as the
    // bounded root remap, removes as the bounded member override +
    // tombstones (with the dead-remap-entry drop that keeps the two
    // layers composable — see StreamingCcMixed's scaladoc), base only
    // scanned, rewrite only at compaction. Final map = CC over
    // (history ∪ delta) minus the takedown slice — q213's retained-graph
    // recursive-CTE oracle VERBATIM: batch retract (q213), streamed
    // retract (q215), and mixed add+remove (q216) all land on one
    // ground truth by construction, which is the whole point.
    Q("q216_streaming_cc_mixed",
      (s, dir) => maintainClusters(s, dir, "graft_scmx_",
        deltaAddOps(s, dir).unionAll(takedownRmOps(s, dir)),
        DedupQueries.histLabelsFrame(s, dir), histEdges(s, dir)),
      Some(DedupQueries.duckRetainedClusters)),

    // MIXED streaming maintenance of the passage-grain keep-first INDEX
    // (StreamingIndexMaint) — the r15 verdict's missing piece #3, the
    // q145 delta-dedup stream's tombstone-record twin: ONE stream
    // interleaves document ADDS (the doc_id % 10 == 0 slice, chunked
    // per batch by the same mkMembers the batch path uses) and takedown
    // REMOVES (the doc_id % 7 == 2 slice) against the standing q108/
    // q212 index built over the %10 != 0 history. Adds gather-and-
    // re-elect only their touched digests (broadcast-semi member
    // probe), removes run the q212 retraction shape per batch (keeper
    // handoff / vanish), base rows for untouched digests pass through
    // unread, member frames coalesce at the cap, removed docs persist
    // as the standing no-resurrection frame. Final index = rebuild over
    // (history ∪ adds) ∖ removed = ALL docs minus the %7 == 2 slice —
    // q212's retained-corpus rebuild oracle VERBATIM: batch retraction
    // (q212) and streamed mixed maintenance (q217) land on one ground
    // truth.
    Q("q217_streaming_index_maint",
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
        val histMembers = members
          .where(DedupQueries.isHistDoc(col("doc_id")))
        // the standing PRE-STREAM index is deterministic per (session,
        // dir) — the same trainedCells/unitMembers lifecycle; the
        // maintainer's own flatCheckpoint of it (its owned base) then
        // scans the cache instead of re-aggregating the member table
        // per run (cold cost reported in OPTIMIZATION_r19.md)
        val index = Caches.frame(s, dir, "unitIndexHist") {
          histMembers.groupBy(col("unit_hash"))
            .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__kp"),
              count(lit(1)).as("n_occ"))
            .select(col("unit_hash"), col("__kp.doc_id").as("doc_id"),
              col("__kp.chunk_id").as("chunk_id"), col("n_occ"))
        }
        val docs = Tables(s, dir, "documents")
        val staging =
          AnalyticsQueries.tempDirCleanedOnExit("graft_simx_").toString
        docs.where(!DedupQueries.isHistDoc(col("doc_id")))
          .select(lit("add").as("op"), col("doc_id"), col("text"))
          .unionAll(docs.where(col("doc_id") % 7 === 2)
            .select(lit("rm").as("op"), col("doc_id"),
              lit(null).cast("string").as("text")))
          .repartition(4)
          .write.mode("overwrite").parquet(s"$staging/ops")
        val stream = s.readStream
          .schema("op STRING, doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$staging/ops")
        graft.streaming.StreamingIndexMaint
          .maintain(stream, index, histMembers, s"$staging/_ckpt",
            keyCol = "unit_hash", docCol = "doc_id",
            orderCols = Seq("doc_id", "chunk_id"),
            mkMembers = b => graft.text.TextStats
              .chunk(b, size = 32, stride = 32)
              .select(
                md5(regexp_replace(trim(lower(
                  concat_ws(" ", col("ctoks")))), "\\s+", " "))
                  .as("unit_hash"),
                col("doc_id"), col("chunk_id")))
          .select(col("unit_hash"), col("doc_id").as("keeper_doc"),
            col("chunk_id").as("keeper_chunk"), col("n_occ"))
          .orderBy(col("unit_hash"))
      },
      Some(CurationQueries.duckRetainedIndex)),

    // MIXED add/remove streaming ANN index maintenance
    // (StreamingIvfMixed) — the retraction matrix's LAST quadrant (r16
    // verdict next-round #2): the digest index (q217) and the cluster
    // map (q216) already had mixed maintainers; the IVF posting table
    // had only the add leg online (q205) and batch tombstone serving
    // (q214). ONE stream interleaves vector ADDS (vec_id % 10 == 7,
    // q205's delta slice) and takedown REMOVES (vec_id % 10 == 3,
    // q214's slice) against the standing postings built under the
    // SHARED frozen k=8 quantizer — training is redone on neither op
    // (the deployed-artifact stance of every serving system). Adds
    // assign through the same codegen'd frozen-centroid map stage as
    // the batch path; removes fold as driver-side tombstones (takedown
    // sets are tiny — the bounded-collect class) anti-joined at read;
    // added frames coalesce at PostingFrameCap and compaction is the
    // only posting-sized rewrite, so per-batch cost ∝ batch at any
    // corpus size. The final retained table is row-equal to the
    // rebuild over (hist ∪ adds) ∖ removed = corpus ∖ (%10==3), so
    // serving multi-probe top-k over it lands on q214's oracle
    // VERBATIM — batch tombstone serving and streamed mixed
    // maintenance, one ground truth, two routes.
    // StreamingIvfMixedSpec pins split-invariance / same-batch add+rm /
    // no-resurrection / both compaction regimes / the O(1)-frames
    // bound; IvfMixedPersistRestartSpec pins driver-crash recovery.
    Q("q221_streaming_ivf_mixed",
      (s, dir) => {
        import s.implicits._
        val emb = ExtQueries.embFrame(s, dir)
        val cents = ExtQueries.trainedCells(s, dir)
        val hist = emb.where(pmod(col("vec_id"), lit(10)) =!= 7)
        val initial = graft.similarity.Similarity
          .assignCells(hist, cents)
          .select(col("vec_id"), col("cell"), col("e"))
        val staging =
          AnalyticsQueries.tempDirCleanedOnExit("graft_ivfx_").toString
        emb.where(pmod(col("vec_id"), lit(10)) === 7)
          .select(lit("add").as("op"), col("vec_id"), col("e"))
          .unionAll(emb.where(pmod(col("vec_id"), lit(10)) === 3)
            .select(lit("rm").as("op"), col("vec_id"),
              lit(null).cast("array<double>").as("e")))
          .repartition(4)
          .write.mode("overwrite").parquet(s"$staging/ops")
        val stream = s.readStream
          .schema("op STRING, vec_id BIGINT, e ARRAY<DOUBLE>")
          .option("maxFilesPerTrigger", "1").parquet(s"$staging/ops")
        val retained = graft.streaming.StreamingIvfMixed
          .maintain(stream, initial, s"$staging/_ckpt",
            idCol = "vec_id",
            mkPostings = b => graft.similarity.Similarity
              .assignCells(b, cents)
              .select(col("vec_id"), col("cell"), col("e")))
        graft.similarity.Similarity
          .ivfTombstoneTopK(retained, cents,
            Seq.empty[Long].toDF("vec_id"), k = 3, probes = 2)
          .select(col("vec_id"), col("neighbor_id"), col("cos_sim"))
          .orderBy(col("vec_id"), col("neighbor_id"))
      },
      Some(ExtQueries.duckIvfRetract))
  )
}
