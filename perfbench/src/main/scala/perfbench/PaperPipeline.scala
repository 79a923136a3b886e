package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.analytics.AlertAnalytics
import graft.gen.PopulationStats
import graft.measures.{Measures, MeasuresRef}
import graft.pipeline.{AlertPipeline, ReferencePipeline}
import graft.sources.Sources

/** The paper's own job as a closed loop, one job at a time: samples.csv →
  * parse → population thresholds → 30-row sliding windows over the six
  * assets and the weighted portfolio → six statistics per window → alerts →
  * alert counts per (statistic, series).
  *
  * Chosen because it has only 7 very long series, so the window and measure
  * layers do nearly all the work, and 7 keys over `cores` hash partitions
  * make it bound by its slowest partition.
  *
  * Every iteration's counts are checked against a plain-Scala recomputation
  * of every window with `MeasuresRef`; after the loop the alert rows of a
  * seeded slice of windows are checked value by value. */
object PaperPipeline {
  val N: Int = AlertPipeline.WindowSize
  val Shortfall: Double = AlertPipeline.Shortfall
  val Samples = 10000
  val TinySamples = 600
  val SliceWindows = 64

  type Cell = (String, Int)

  def run(ctx: Ctx): Unit = {
    val n = if (ctx.tiny) TinySamples else Samples
    val csv = new File(ctx.work, "samples.csv")
    val rows = ctx.generate { seed =>
      val r = perfbench.Samples.generate(n, seed)
      val d = new Digest
      perfbench.Samples.csvLines(r).foreach { l => d.add(l); d.add("\n") }
      (r, d.hex)
    } { r =>
      Files.write(csv.toPath, perfbench.Samples.csvLines(r).toSeq.asJava)
    }
    val path = csv.getPath
    val oracle = new Oracle(rows)
    ctx.timeSetup("warmup")((1 to Ctx.WarmupJobs).foreach(_ => iteration(ctx.spark, path)))

    def checked(i: Int, counts: Array[Row], thr: Array[Row], more: Seq[String]): Unit = {
      ctx.out.attempted += 1
      val got = counts.map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val bad = more ++ checkThresholds(thr, oracle) ++
        (if (ctx.corrupt && i == 0) Seq("corrupted on purpose") else Nil) ++
        (if (got != oracle.counts) Seq(s"alert counts differ from the MeasuresRef recomputation: " +
          s"engine ${got.values.sum} alerts, reference ${oracle.counts.values.sum}") else Nil)
      if (bad.nonEmpty) {
        ctx.out.failed += 1
        bad.foreach(ctx.out.fail)
      }
    }

    val runs = Stats.closedLoop(ctx.jobs, ctx.maxSeconds)(_ => iteration(ctx.spark, path)) {
      case (i, (counts, thr)) => checked(i, counts, thr, Nil)
    }
    val times = ctx.keepClean(runs)(_._2).map(_._1)
    val e = ctx.out.endToEnd
    e("rows_per_s") = n / Stats.median(times)
    e("alert_latency_p50_ms") = Stats.quantile(times, 0.5) * 1e3
    e("alert_latency_p95_ms") = Stats.quantile(times, 0.95) * 1e3
    Console.err.println(s"[perfbench] paper_pipeline: ${times.length} iterations, " +
      s"job seconds ${times.map(t => f"$t%.3f").mkString(" ")}; alert share by statistic " +
      oracle.counts.groupBy(_._1._1).map { case (st, c) =>
        f"$st=${c.values.sum.toDouble / (7 * oracle.windows)}%.3f" }.mkString(" "))

    if (ctx.trace) traced(ctx, path, oracle, Stats.median(times), checked)
  }

  /** One job: the result is the alert-count table; the thresholds come
    * back for the check. */
  def iteration(spark: SparkSession, path: String): (Array[Row], Array[Row]) = {
    val samples = Sources.readSamplesCsv(spark, path)
    val thr = PopulationStats.thresholds(samples)
    val counts = AlertAnalytics.counts(
      ReferencePipeline.alerts(samples, thr, N, Shortfall), "assetNo").collect()
    val t = thr.collect()
    thr.unpersist()
    (counts, t)
  }

  private def checkThresholds(thr: Array[Row], oracle: Oracle): Seq[String] = {
    val got = thr.map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    if (got.keySet != oracle.thr.keySet) Seq("threshold table has the wrong cells")
    else got.collect {
      case (k, v) if math.abs(v - oracle.thr(k)) > 1e-9 * math.max(1.0, math.abs(v)) =>
        s"threshold $k: engine $v, reference ${oracle.thr(k)}"
    }.toSeq
  }

  /** The alert rows of a seeded slice of windows, value by value. */
  private def checkSlice(ctx: Ctx, alerts: DataFrame, oracle: Oracle, iter: Int): Seq[String] = {
    val rng = new Rng(ctx.seed * 31 + iter)
    val ids = Seq.fill(SliceWindows)(N + rng.int(oracle.n - N + 1)).distinct
    val got = alerts.where(col("windowId").isin(ids: _*)).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getString(1), r.getInt(2)) -> r.getDouble(3)).toMap
    val want = ids.flatMap(oracle.alertsAt).toMap
    if (got.keySet != want.keySet)
      Seq(s"slice of ${ids.size} windows: engine alerts ${got.size}, reference ${want.size}")
    else got.collect {
      case (k, v) if math.abs(v - want(k)) > 1e-12 => s"window $k: engine $v, reference ${want(k)}"
    }.toSeq
  }

  /** The traced run: each layer's output is forced before the next layer's
    * public function is called, under a span per layer. */
  private def traced(ctx: Ctx, path: String, oracle: Oracle,
      untracedS: Double, checked: (Int, Array[Row], Array[Row], Seq[String]) => Unit): Unit = {
    val tr = ctx.tracer
    tr.activate()
    val spark = ctx.spark
    var alertRows = 0L
    val from = tr.snapshot()
    val t0 = System.nanoTime()
    val runs = Stats.closedLoop(ctx.jobs, ctx.maxSeconds) { i =>
      tr.run = i
      tr.span("iteration") {
        val samples = tr.span("sources.parse") {
          Sources.readSamplesCsv(spark, path).localCheckpoint(eager = true)
        }
        val thr = tr.span("gen.thresholds")(PopulationStats.thresholds(samples))
        val windows = tr.span("pipeline.windowed") {
          AlertPipeline.windowed(Sources.toSeries(samples), col("assetNo"), col("seq"),
            col("x"), N).localCheckpoint(eager = true)
        }
        tr.span("measures.eval") {
          AlertPipeline.withMeasures(windows, Seq(col("assetNo"), col("seq")), N)
            .write.format("noop").mode("overwrite").save()
        }
        val alerts = tr.span("pipeline.alerts") {
          ReferencePipeline.alerts(samples, thr, N, Shortfall).localCheckpoint(eager = true)
        }
        val counts = tr.span("analytics.counts") {
          AlertAnalytics.counts(alerts, "assetNo").collect()
        }
        (counts, thr, Seq(samples, windows, alerts))
      }
    } { case (i, (counts, thr, forced)) =>
      alertRows = counts.map(_.getLong(2)).sum
      checked(i, counts, thr.collect(), checkSlice(ctx, forced.last, oracle, i))
      thr.unpersist()
      forced.foreach(Checkpoints.free)
    }
    val times = Stats.clean(runs)(_._2).map(_._1)
    val wall = (System.nanoTime() - t0) / 1e9
    val l = ctx.out.perLayer
    l ++= tr.sparkMetrics(from, wall, ctx.cores)
    Seq("sources.parse", "gen.thresholds", "pipeline.windowed", "measures.eval",
      "pipeline.alerts", "analytics.counts").foreach(s => l(s + "_s") = tr.medianSelfS(s))
    l("pipeline.alert_share") = alertRows.toDouble / (oracle.windows * 42)
    l("bench.trace_overhead") = Stats.median(times) / untracedS

    // single-thread baseline of the same untraced job
    val one = ctx.restart(1)
    iteration(one, path)
    val oneS = Stats.median(Stats.clean(
      Stats.closedLoop(1, 0)(_ => iteration(one, path))((_, _) => ()))(_._2).map(_._1))
    l("pipeline.parallel_speedup") = oneS / untracedS
  }

  /** Plain-Scala recomputation of the whole job from the generated rows. */
  final class Oracle(rows: Array[Array[Double]]) {
    val n: Int = rows.length
    val windows: Long = (n - N + 1).toLong
    private val series: Array[Array[Double]] = Array.tabulate(7) { s =>
      if (s < 6) rows.map(_(s))
      else rows.map(r => Sources.Weights.indices.map(i => r(i) * Sources.Weights(i)).reduce(_ + _))
    }

    /** Population thresholds as `PopulationStats` defines them. */
    val thr: Map[Cell, Double] = series.zipWithIndex.flatMap { case (xs, s) =>
      val sorted = xs.sorted
      val m = xs.sum / xs.length
      def q(p: Double): Double = {
        val pos = p * (sorted.length - 1)
        val lo = math.floor(pos).toInt
        val hi = math.ceil(pos).toInt
        if (lo == hi) sorted(lo) else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
      }
      val k = sorted.length / 10
      val mad = xs.map(x => math.abs(x - m)).sum / xs.length
      val nn = sorted.length.toDouble
      val gsum = sorted.indices.map(i => (2.0 * (i + 1) - nn - 1) * sorted(i)).sum
      Seq(Measures.Mean -> m, Measures.Median -> q(0.5), Measures.Q10 -> q(0.1),
        Measures.TailMean -> sorted.take(k).sum / k, Measures.Sm1 -> (m - mad / 2),
        Measures.Sm2 -> 2 * gsum / (nn * (nn - 1))).map { case (st, v) => (st, s) -> v }
    }.toMap

    /** Alerts of the window ending at 1-based row `w`: (w, stat, series) → value. */
    def alertsAt(w: Int): Seq[((Int, String, Int), Double)] =
      (0 until 7).flatMap { s =>
        MeasuresRef.allFast(series(s).slice(w - N, w)).collect {
          case (st, m) if MeasuresRef.alert(m, thr((st, s)), Shortfall) => ((w, st, s), m)
        }
      }

    val counts: Map[Cell, Long] = (N to n).flatMap(alertsAt)
      .groupBy { case ((_, st, s), _) => (st, s) }
      .map { case (k, v) => k -> v.size.toLong }
  }
}
