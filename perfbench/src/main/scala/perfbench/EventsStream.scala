package perfbench

import java.io.File
import java.time.Instant
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.pipeline.AlertPipeline
import graft.streaming.{StateBackend, StreamAlert, StreamingEventAlerts}

/** Keyed events through `StreamingEventAlerts.alerts` (the count-window
  * operator folding a per-key ring buffer through `MeasuresRef`) on the
  * RocksDB state store, in two phases of one streaming query:
  *
  *  1. catch-up, a closed loop: a fixed backlog is fed in fixed-size
  *     micro-batches, each one added and drained before the next
  *     (gives `rows_per_s`);
  *  2. live, an open loop: one generator thread adds a tick of events every
  *     `TickMs` on a fixed schedule, well below catch-up throughput, while
  *     the query runs micro-batches back to back (gives the latencies, each
  *     measured from the tick's due time to the end of the micro-batch
  *     that emitted its alerts, commit included).
  *
  * Chosen because it bypasses the batch window and measure layers
  * entirely: its cost is per-batch overhead and state commits.
  *
  * The source is an in-memory stream fed in `event_id` order, so every
  * key's events arrive in `seq` order; a file source can list files out of
  * write order and the operator's replay guard would then silently drop
  * the late rows. Each micro-batch's alerts are checked against the batch
  * `AlertPipeline.eventAlerts` over the same events (count and an
  * order-independent hash). */
object EventsStream {
  case class Sizes(keys: Int, batchRows: Int, batches: Int, warmBatches: Int,
      tickMs: Int, tickRows: Int, minTicks: Int)

  val Full = Sizes(keys = 20000, batchRows = 4000, batches = 8, warmBatches = 3,
    tickMs = 20, tickRows = 20, minTicks = 250)
  val Tiny = Sizes(keys = 500, batchRows = 500, batches = 4, warmBatches = 2,
    tickMs = 20, tickRows = 10, minTicks = 40)

  private case class Batch(id: Long, startOff: Long, endOff: Long, endMs: Double,
      rows: Long, p: StreamingQueryProgress)

  def run(ctx: Ctx): Unit = {
    val sz = if (ctx.tiny) Tiny else Full
    val ticks = math.max(sz.minTicks, ctx.seconds * 1000 / sz.tickMs)
    val catchRows = sz.batches * sz.batchRows
    val total = catchRows + ticks * sz.tickRows
    val events = ctx.generate { seed =>
      val ev = Events.generate(total, sz.keys, seed)
      val d = new Digest
      ev.foreach { e => d.add(e.event_id); d.add(e.user_id); d.add(e.value) }
      (ev, d.hex)
    }(_ => ())
    val spark = ctx.spark
    val tr = ctx.tracer
    val eventsDf = spark.createDataFrame(events.toSeq)
    val thr = ctx.timeSetup("thresholds")(StreamingEventAlerts.thresholds(eventsDf))

    StateBackend.withRocksDb(spark) {
      ctx.timeSetup("warmup") {
        val (mem, q, _) = start(spark, thr, new File(ctx.work, "ckpt-warmup"))
        events.take(sz.warmBatches * sz.batchRows).grouped(sz.batchRows).foreach { b =>
          mem.addData(b.toSeq)
          q.processAllAvailable()
        }
        q.stop()
      }

      val (mem, q, sink) = start(spark, thr, new File(ctx.work, "ckpt"))
      // last event id of every source offset
      val offEnd = scala.collection.mutable.ArrayBuffer[Long]()
      def add(rows: Array[Ev]): Long = {
        val off = mem.addData(rows.toSeq).json().toLong
        require(off == offEnd.size, s"unexpected source offset $off")
        offEnd += rows.last.event_id
        off
      }

      // phase 1: catch-up (in a traced run, the second half runs traced)
      var from: (TaskTotals, Int, Set[Int]) = null
      var tracedT0 = 0L
      val measureT0 = System.nanoTime()
      val catchS = (0 until sz.batches).map { b =>
        if (ctx.trace && b == sz.batches / 2) {
          tr.activate()
          from = tr.snapshot()
          tracedT0 = System.nanoTime()
        }
        tr.run = b
        tr.span("streaming.catchup_batch") {
          val t0 = System.nanoTime()
          add(events.slice(b * sz.batchRows, (b + 1) * sz.batchRows))
          q.processAllAvailable()
          val t1 = System.nanoTime()
          ((t1 - t0) / 1e9, Steal.share(t0, t1))
        }
      }

      // phase 2: live, open loop from one generator thread
      val periodNs = sz.tickMs * 1000000L
      val epoch0 = System.currentTimeMillis()
      val nano0 = System.nanoTime()
      val startNs = nano0 + 100 * 1000000L
      val sentNs = new Array[Long](ticks)
      val tickOff = new Array[Long](ticks)
      tr.run = sz.batches
      tr.span("streaming.live") {
        val gen = new Thread(() => {
          for (i <- 0 until ticks) {
            val due = startNs + i * periodNs
            var now = System.nanoTime()
            while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
            val lo = catchRows + i * sz.tickRows
            tickOff(i) = add(events.slice(lo, lo + sz.tickRows))
            sentNs(i) = System.nanoTime()
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
        q.processAllAvailable()
      }
      awaitProgress(q, offEnd.size - 1L)
      val measureT1 = System.nanoTime()
      val tracedWall = (measureT1 - tracedT0) / 1e9
      q.stop()
      if (q.exception.isDefined) throw q.exception.get
      val batches = q.recentProgress.toSeq.map { p =>
        val src = p.sources.head
        def off(j: String): Long = Option(j).map(_.trim.toLong).getOrElse(-1L)
        Batch(p.batchId, off(src.startOffset), off(src.endOffset),
          Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").doubleValue,
          p.numInputRows, p)
      }.sortBy(_.id)
      def dueMs(i: Int): Double = epoch0 + (startNs + i * periodNs - nano0) / 1e6
      def sentMs(i: Int): Double = epoch0 + (sentNs(i) - nano0) / 1e6

      // latency of each tick: due time → end of the batch holding its offset,
      // with the CPU steal over that interval
      val latAll = (0 until ticks).map { i =>
        val b = batches.find(b => b.startOff < tickOff(i) && tickOff(i) <= b.endOff)
          .getOrElse(throw new IllegalStateException(s"tick $i was never processed"))
        val dueNs = startNs + i * periodNs
        (b.endMs - dueMs(i), Steal.share(dueNs, nano0 + ((b.endMs - epoch0) * 1e6).toLong))
      }
      // clean ticks only if enough remain to put 10 samples beyond p95
      val latClean = latAll.filter(_._2 <= Steal.Limit)
      val lat = (if (latClean.size >= math.min(200, ticks)) latClean else latAll).map(_._1)
      val liveBatches = batches.filter(_.startOff >= sz.batches - 1)
      val catchBatches = batches.filter(_.endOff < sz.batches)
      // rows sent but not yet committed, seen at each tick's send
      val backlog = (0 until ticks).map { i =>
        val committed = liveBatches.filter(_.endMs <= sentMs(i)).map(_.rows).sum
        (i + 1L) * sz.tickRows - committed
      }
      val lateMs = (0 until ticks).map(i => (sentNs(i) - startNs - i * periodNs) / 1e6)

      val e = ctx.out.endToEnd
      val untracedCatch = if (ctx.trace) catchS.take(sz.batches / 2) else catchS
      // clean batches only if at least half of them are
      val catchClean = Some(untracedCatch.filter(_._2 <= Steal.Limit))
        .filter(_.size * 2 >= untracedCatch.size).getOrElse(untracedCatch)
      e("rows_per_s") = sz.batchRows / Stats.median(catchClean.map(_._1))
      e("alert_latency_p50_ms") = Stats.quantile(lat, 0.5)
      e("alert_latency_p95_ms") = Stats.quantile(lat, 0.95)
      val q4 = math.max(1, ticks / 4)
      val grew = backlog.takeRight(q4).sum.toDouble / q4 >
        2.0 * backlog.take(q4).sum / q4 + 2 * sz.tickRows
      Console.err.println(f"[perfbench] events_stream: catch-up ${sz.batches} x ${sz.batchRows} rows, " +
        f"batch s ${catchS.map(t => f"${t._1}%.3f").mkString(" ")}; live $ticks ticks x ${sz.tickRows} rows " +
        f"every ${sz.tickMs} ms in ${liveBatches.size} batches, generator late max ${lateMs.max}%.1f ms, " +
        f"backlog start ${backlog.head} end ${backlog.last} rows; live batch ms " +
        liveBatches.map(_.p.durationMs.get("triggerExecution")).mkString(" "))
      val rejected = untracedCatch.size - catchClean.size + ticks - lat.size
      if (rejected > 0)
        Console.err.println(s"[perfbench] left out $rejected catch-up batches and live ticks " +
          f"measured while more than ${Steal.Limit * 100}%.0f%% of the CPU was stolen")
      ctx.out.perLayer("bench.samples_rejected") = rejected.toDouble
      ctx.out.perLayer("bench.cpu_steal") = Steal.share(measureT0, measureT1)
      if (grew) Console.err.println("[perfbench] WARNING: the backlog grew during the live phase; " +
        "the live rate is above what the query sustains and the latencies are not valid")

      tr.run = sz.batches + 1
      tr.span("bench.check")(check(ctx, eventsDf, batches, offEnd.toSeq, sink))

      if (ctx.trace) {
        val l = ctx.out.perLayer
        l ++= tr.sparkMetrics(from, tracedWall, ctx.cores)
        def med(bs: Seq[Batch])(f: StreamingQueryProgress => Double): Double =
          Stats.median(bs.map(b => f(b.p)))
        def dur(p: StreamingQueryProgress, k: String): Double =
          Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        l("streaming.batch_ms_p50") = med(catchBatches)(dur(_, "triggerExecution"))
        l("streaming.source_ms") = med(catchBatches)(p => dur(p, "latestOffset") + dur(p, "getBatch"))
        l("streaming.plan_ms") = med(catchBatches)(dur(_, "queryPlanning"))
        l("streaming.operator_ms") = med(catchBatches)(_.stateOperators.head.allUpdatesTimeMs.toDouble)
        l("streaming.wal_ms") = med(catchBatches)(dur(_, "walCommit"))
        l("streaming.rows_per_batch_p50") = med(liveBatches)(_.numInputRows.toDouble)
        l("streaming.state_commit_ms") = med(batches)(_.stateOperators.head.commitTimeMs.toDouble)
        l("streaming.rocksdb_fsync_ms") = med(batches)(p => Option(
          p.stateOperators.head.customMetrics.get("rocksdbCommitFileSyncLatencyMs"))
          .map(_.doubleValue).getOrElse(0.0))
        val last = batches.last.p.stateOperators.head
        l("streaming.state_rows") = last.numRowsTotal.toDouble
        l("streaming.state_mb") = last.memoryUsedBytes / 1e6
        l("streaming.backlog_rows_start") = backlog.head.toDouble
        l("streaming.backlog_rows_end") = backlog.last.toDouble
        l("streaming.latency_samples") = ticks.toDouble
        l("bench.generator_late_ms_max") = lateMs.max
        l("bench.trace_overhead") =
          Stats.median(catchS.drop(sz.batches / 2).map(_._1)) / Stats.median(catchClean.map(_._1))
      }
    }
  }

  private def start(spark: SparkSession, thr: Map[String, Double], ckpt: File)
      : (MemoryStream[Ev], StreamingQuery, ConcurrentHashMap[Long, Array[StreamAlert]]) = {
    // a fixed partition count, like a topic's: otherwise every addData call
    // (one per live tick) becomes an input partition of its micro-batch,
    // and a batch that falls behind gets more, smaller tasks and falls
    // further behind
    val mem = MemoryStream[Ev](spark, spark.sparkContext.defaultParallelism)(Encoders.product[Ev])
    val sink = new ConcurrentHashMap[Long, Array[StreamAlert]]()
    val q = StreamingEventAlerts.alerts(mem.toDF(), thr).writeStream
      .foreachBatch((ds: Dataset[StreamAlert], id: Long) => { sink.put(id, ds.collect()); () })
      .option("checkpointLocation", ckpt.getPath)
      .outputMode("append")
      .start()
    (mem, q, sink)
  }

  /** processAllAvailable returns once the last batch is committed, which
    * can be just before that batch's progress is recorded. */
  private def awaitProgress(q: StreamingQuery, lastOffset: Long): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = Option(q.lastProgress).exists(p =>
      Option(p.sources.head.endOffset).exists(_.trim.toLong >= lastOffset))
    while (!done) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("no progress reported for the last micro-batch")
      Thread.sleep(5)
    }
  }

  private def hash(key: Long, seq: Long, stat: String, m: Double): Long =
    Stats.mix(Stats.mix(Stats.mix(key) ^ seq) ^ stat.hashCode ^ java.lang.Double.doubleToLongBits(m))

  /** Each micro-batch's alerts against the batch pipeline's alerts for the
    * events that micro-batch consumed. */
  private def check(ctx: Ctx, eventsDf: org.apache.spark.sql.DataFrame, batches: Seq[Batch],
      offEnd: Seq[Long], sink: ConcurrentHashMap[Long, Array[StreamAlert]]): Unit = {
    val want = AlertPipeline.eventAlerts(eventsDf).collect()
      .map(r => (r.getLong(1), hash(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))))
      .sortBy(_._1)
    val ids = want.map(_._1)
    val prefix = want.scanLeft(0L)(_ + _._2)
    def upTo(eventId: Long): Int = { // number of expected alerts with event_id <= eventId
      var i = java.util.Arrays.binarySearch(ids, eventId + 1)
      if (i < 0) i = -i - 1
      while (i > 0 && ids(i - 1) > eventId) i -= 1
      i
    }
    var corrupted = !ctx.corrupt
    var streamed = 0L
    batches.foreach { b =>
      ctx.out.attempted += 1
      val lo = if (b.startOff < 0) 0L else offEnd(b.startOff.toInt)
      val hi = offEnd(b.endOff.toInt)
      var got = Option(sink.get(b.id)).getOrElse(Array.empty[StreamAlert])
      if (!corrupted && got.nonEmpty) { got = got.tail; corrupted = true }
      streamed += got.length
      val (a, z) = (upTo(lo), upTo(hi))
      val gotHash = got.map(s => hash(s.key, s.seq, s.stat, s.m)).sum
      if (got.length != z - a || gotHash != prefix(z) - prefix(a)) {
        ctx.out.failed += 1
        ctx.out.fail(s"micro-batch ${b.id} (events $lo..$hi]: ${got.length} alerts, " +
          s"batch pipeline ${z - a}")
      }
    }
    Console.err.println(s"[perfbench] events_stream: ${batches.size} micro-batches, " +
      s"$streamed alerts streamed, ${want.length} from the batch pipeline")
    if (streamed != want.length && ctx.out.correct)
      ctx.out.fail(s"streamed $streamed alerts, batch pipeline ${want.length}")
  }
}
