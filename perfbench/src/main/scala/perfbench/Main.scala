package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload reports back to [[Main]]. */
final class Outcome {
  var attempted = 0
  var failed = 0
  var correct = true
  val endToEnd: mutable.Map[String, Double] = mutable.Map()
  val perLayer: mutable.Map[String, Double] = mutable.Map()
  val notes: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()

  /** Records a failed check; the run then reports correct = false. */
  def fail(msg: String): Unit = {
    correct = false
    notes += s"CHECK FAILED: $msg"
    Console.err.println(s"[perfbench] CHECK FAILED: $msg")
  }
}

/** Everything a workload needs: its arguments, the live session, the span
  * recorder and the set-up clock. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
    val trace: Boolean, val tiny: Boolean, val corrupt: Boolean,
    val work: File, val cores: Int) {
  val out = new Outcome
  var spark: SparkSession = Main.session(cores, work)
  var tracer = new Tracer(spark.sparkContext, trace)
  var digest = ""
  private val setupParts = mutable.LinkedHashMap[String, Double]()

  def addSetup(part: String, seconds: Double): Unit =
    setupParts(part) = setupParts.getOrElse(part, 0.0) + seconds

  def setupS: Double = setupParts.values.sum

  /** Jobs in the measured phase of a batch workload: one per
    * [[Ctx.JobSeconds]] of `--seconds`, half of them (at least one) for
    * each of the traced run's untraced and traced phases. */
  def jobs: Int = {
    val all = math.max(1, math.ceil(seconds / Ctx.JobSeconds).toInt)
    if (trace) math.max(1, all / 2) else all
  }

  /** The most a measured phase runs while waiting for a clean sample. */
  def maxSeconds: Double = 4.0 * seconds

  def timeSetup[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally addSetup(part, (System.nanoTime() - t0) / 1e9)
  }

  /** Builds the input three times from the seed (`make` returns the input
    * and its digest, `stage` writes it where the job reads it) and books the
    * median build time as set-up. The three digests must agree, and a
    * build from another seed must differ; either failure fails the run. */
  def generate[T](make: Long => (T, String))(stage: T => Unit): T = {
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val (input, d) = make(seed)
      stage(input)
      (input, d, (System.nanoTime() - t0) / 1e9)
    }
    addSetup("generate", Stats.median(reps.map(_._3)))
    digest = reps.head._2
    if (reps.exists(_._2 != digest))
      out.fail("the same seed gave different input digests")
    if (make(seed + 1)._2 == digest)
      out.fail("another seed gave the same input digest")
    reps.last._1
  }

  /** Restarts Spark at another core count (the single-thread baseline). */
  def restart(newCores: Int): SparkSession = {
    spark.stop()
    spark = Main.session(newCores, work)
    spark
  }

  /** Drops the samples taken on a contended host (see [[Steal]]) and
    * books how many were dropped and how much CPU was stolen. */
  def keepClean[T](xs: Seq[T])(steal: T => Double): Seq[T] = {
    val kept = Stats.clean(xs)(steal)
    out.perLayer("bench.cpu_steal") = xs.map(steal).sum / xs.size
    out.perLayer("bench.samples_rejected") = (xs.size - kept.size).toDouble
    if (kept.size < xs.size)
      Console.err.println(s"[perfbench] left out ${xs.size - kept.size} of ${xs.size} samples " +
        f"taken while more than ${Steal.Limit * 100}%.0f%% of the CPU was stolen")
    kept
  }

  def setupSummary: String =
    setupParts.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
}

object Ctx {
  val JobSeconds = 10.0
  /** Untimed jobs before the measured ones. The first job of a JVM runs 2–3×
    * slower than a warm one and the second still ~20% slower; from the
    * third on, jobs are within a few percent of each other. */
  val WarmupJobs = 2
}

/** Frees the blocks behind a `localCheckpoint`ed frame. */
object Checkpoints {
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
}

object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "paper_pipeline" -> PaperPipeline.run,
    "events_stream" -> EventsStream.run,
    "corpus_neardup" -> CorpusNearDup.run)

  /** End-to-end metrics (reported with --trace 0), name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "rows/s",
    "alert_latency_p50_ms" -> "ms",
    "alert_latency_p95_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Per-layer metrics (reported with --trace 1), name → unit. A layer a
    * workload does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.parse_s" -> "s",
    "gen.thresholds_s" -> "s",
    "pipeline.windowed_s" -> "s",
    "measures.eval_s" -> "s",
    "pipeline.alerts_s" -> "s",
    "pipeline.alert_share" -> "ratio",
    "pipeline.parallel_speedup" -> "ratio",
    "analytics.counts_s" -> "s",
    "streaming.batch_ms_p50" -> "ms",
    "streaming.source_ms" -> "ms",
    "streaming.plan_ms" -> "ms",
    "streaming.operator_ms" -> "ms",
    "streaming.wal_ms" -> "ms",
    "streaming.rows_per_batch_p50" -> "rows",
    "streaming.state_commit_ms" -> "ms",
    "streaming.rocksdb_fsync_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_mb" -> "MB",
    "streaming.backlog_rows_start" -> "rows",
    "streaming.backlog_rows_end" -> "rows",
    "streaming.latency_samples" -> "count",
    "dedup.shingles_s" -> "s",
    "dedup.minhash_s" -> "s",
    "dedup.candidates_s" -> "s",
    "dedup.verify_s" -> "s",
    "dedup.clusters_s" -> "s",
    "dedup.canonical_s" -> "s",
    "dedup.candidates" -> "count",
    "dedup.pairs" -> "count",
    "dedup.verify_yield" -> "ratio",
    "dedup.planted_recall" -> "ratio",
    "spark.task_s" -> "s",
    "spark.task_busy_ratio" -> "ratio",
    "spark.task_skew" -> "ratio",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.jobs" -> "count",
    "bench.generator_late_ms_max" -> "ms",
    "bench.cpu_steal" -> "ratio",
    "bench.samples_rejected" -> "count",
    "bench.trace_overhead" -> "ratio")

  def session(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def usage(msg: String): Nothing = {
    Console.err.println(s"perfbench: $msg")
    Console.err.println("usage: --workload " + Workloads.keys.toSeq.sorted.mkString("|") +
      " --seed N --seconds N --trace 0|1 [--scale full|tiny] [--corrupt 0|1]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    if (args.length % 2 != 0) usage("arguments come in --name value pairs")
    val kv = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "scale", "corrupt")
    (kv.keySet -- known).headOption.foreach(k => usage(s"unknown option --$k"))
    def num(k: String, dflt: Option[Long]): Long =
      kv.get(k).map(v => v.toLongOption.getOrElse(usage(s"--$k wants a whole number")))
        .orElse(dflt).getOrElse(usage(s"--$k is required"))
    val workload = kv.getOrElse("workload", usage("--workload is required"))
    val run = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val seed = num("seed", None)
    val seconds = num("seconds", None).toInt
    val trace = num("trace", Some(0))
    val corrupt = num("corrupt", Some(0))
    val scale = kv.getOrElse("scale", "full")
    if (seconds < 1) usage("--seconds must be at least 1")
    if (trace != 0 && trace != 1) usage("--trace must be 0 or 1")
    if (corrupt != 0 && corrupt != 1) usage("--corrupt must be 0 or 1")
    if (scale != "full" && scale != "tiny") usage("--scale must be full or tiny")

    val root = new File(".bench_build")
    val work = new File(root, s"work/$workload-$seed-${ProcessHandle.current().pid()}")
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    Steal.start()
    val t0 = System.nanoTime()
    val ctx = new Ctx(workload, seed, seconds, trace == 1, scale == "tiny",
      corrupt == 1, work, cores)
    ctx.addSetup("session", (System.nanoTime() - t0) / 1e9)
    val o = ctx.out
    try run(ctx)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        o.failed += 1
        o.attempted = math.max(o.attempted, o.failed)
        o.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    o.endToEnd("setup_s") = ctx.setupS
    o.endToEnd("peak_rss_mb") = Stats.peakRssMb()
    if (ctx.trace) {
      val traces = new File(root, "traces")
      traces.mkdirs()
      val runId = s"$workload-$seed-${System.currentTimeMillis()}"
      Files.writeString(new File(traces, s"$runId.json").toPath,
        ctx.tracer.toJson(runId))
      Console.err.println(s"[perfbench] spans: ${traces.getPath}/$runId.json")
    }
    ctx.spark.stop()
    deleteTree(work)

    Console.err.println(s"[perfbench] workload=$workload seed=$seed input_digest=${ctx.digest}")
    Console.err.println(s"[perfbench] setup: ${ctx.setupSummary}")
    val (table, sel) =
      if (ctx.trace) ("per_layer", PerLayer.map { case (k, u) => (k, u, o.perLayer.getOrElse(k, 0.0)) })
      else ("end_to_end", EndToEnd.map { case (k, u) => (k, u, o.endToEnd.getOrElse(k, Double.NaN)) })
    sel.foreach { case (k, u, v) => Console.err.println(f"[perfbench] $table $k%-30s $v%.6f $u") }
    val missing = sel.collect { case (k, _, v) if v.isNaN || v.isInfinite => k }
    if (missing.nonEmpty) o.fail(s"no value for ${missing.mkString(", ")}")
    val metrics = sel.map { case (k, u, v) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    o.attempted = math.max(o.attempted, 1)
    println(s"""{"correct": ${o.correct && o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {$metrics}}""")
    System.out.flush()
    sys.exit(if (o.correct && o.failed == 0) 0 else 1)
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
