package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sources

/** The complete reference workload end-to-end (SURVEY §3.1): samples CSV +
  * stats.csv → alert table. This is the exact analog of StreamingJob.main,
  * re-expressed for Spark:
  *
  *   readTextFile → Splitter        ⇒ Sources.readSamplesCsv: one narrow
  *                                    pass over the text splits, plain-Scala
  *                                    parse (drop-malformed), seq numbered
  *                                    from per-split valid-row counts
  *   getOverallValue (7th series)   ⇒ Sources.toSeries (unpivot 7 series)
  *   countWindowAll(30,1)+aggregate ⇒ AlertPipeline.windowAlerts: hash
  *                                    shuffle by assetNo, sort by (assetNo,
  *                                    seq), one sorted sliding window per
  *                                    series updated row by row, six
  *                                    measures per full window
  *   State.getAlerts + AlertReducer ⇒ the same walk: per (stat, assetNo)
  *                                    threshold from a driver map (the
  *                                    42-row stats table), shortfall
  *                                    predicate, alert rows only
  *
  * Output: (windowId, stat, assetNo, value) — windowId is the 1-based seq of
  * the window's last row (≥ 30), replacing the reference's constant `count`
  * field (SURVEY §2.5 Q7). The 7 series evaluate in parallel (partitioned by
  * assetNo); within a series the window order is the file order.
  */
object ReferencePipeline {

  def csvAlerts(spark: SparkSession, samplesPath: String, statsPath: String,
      n: Int = AlertPipeline.WindowSize,
      shortfall: Double = AlertPipeline.Shortfall): DataFrame = {
    val samples = Sources.readSamplesCsv(spark, samplesPath)
    val thresholds = Sources.readStatsCsv(spark, statsPath)
    alerts(samples, thresholds, n, shortfall)
  }

  /** `thresholds`: (stat, assetNo, thr), at most one row per (stat,
    * assetNo) — see [[AlertPipeline.windowAlerts]]. */
  def alerts(samples: DataFrame, thresholds: DataFrame, n: Int,
      shortfall: Double): DataFrame =
    AlertPipeline.windowAlerts(Sources.toSeries(samples), "assetNo", "seq", "x",
        thresholds, n, shortfall)
      .select(col("seq").as("windowId"), col("stat"), col("assetNo"),
        col("m").as("value"))
}
