package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.AlertPipeline

/** The q10_alerts pipeline as a Structured Streaming job: the driver
  * `events` table streamed through the count-window operator, with the
  * population-threshold side table built once from the batch table (exactly
  * the stats.csv pattern — a precomputed broadcast-sized side input).
  *
  * Batch/stream parity: both sides drop a null `value`, and CountSlidingWindow
  * folds each user's rows in event_id order through the batch kernel's
  * `SortedWindow` measures and predicate. Given the same thresholds and
  * every row arriving after its key's earlier rows, the streamed alert set
  * equals the batch `AlertPipeline.eventAlerts` one, `m` and `thr` bit for
  * bit (StreamingEventAlertsSpec, BatchStreamParitySpec).
  */
object StreamingEventAlerts {

  /** Thresholds as a Map (6 entries) from the batch population-stats job. */
  def thresholds(events: DataFrame): Map[String, Double] = {
    val ev = events.select(col("value").cast("double").as("v"))
    AlertPipeline.populationThresholds(ev).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
  }

  /** Wire a streaming events source (same schema as the events table) into
    * the count-window alert operator. A row whose `value` is null is
    * dropped, as the batch kernel drops it. */
  def alerts(eventsStream: DataFrame, thr: Map[String, Double],
      n: Int = AlertPipeline.WindowSize): Dataset[StreamAlert] = {
    val spark = eventsStream.sparkSession
    import spark.implicits._
    val samples = eventsStream
      .select(col("user_id").as("key"), col("event_id").as("seq"),
        col("value").cast("double").as("v"))
      .where(col("v").isNotNull)
      .as[Sample]
    CountSlidingWindow.alerts(samples, thr, n)
  }

  /** The streaming file source wants a directory; the driver table is a
    * single parquet file — stage it via symlink into a temp dir. The
    * target is absolutized first: a relative `dir` would otherwise make
    * the link resolve against the TEMP directory, dangle, and stream
    * zero rows without an error. */
  def stagedEventsDir(dir: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_events_stream")
    java.nio.file.Files.createSymbolicLink(
      d.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
    d.toString
  }

  /** Demo main: stream sf0.001 events (file source) → alerts → memory sink;
    * prints the alert count and cross-checks the batch pipeline's count. */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder().master("local[8]")
      .appName("graft-streaming-alerts")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val batchEvents = graft.queries.Tables(spark, dir, "events")
    val thr = thresholds(batchEvents)
    val stream = spark.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(stagedEventsDir(dir))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sea").toString
    val q = alerts(stream, thr).writeStream
      .format("memory").queryName("stream_alerts")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_alerts").count()
    val batch = AlertPipeline.eventAlerts(batchEvents).count()
    println(s"[stream-alerts] streamed=$streamed batch=$batch " +
      (if (streamed == batch) "MATCH" else "MISMATCH"))
    spark.stop()
  }
}
