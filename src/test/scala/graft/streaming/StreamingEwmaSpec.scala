package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Streamed per-event EWMA == the batch segmented scan when arrival
  * order respects (ts, id) across micro-batches, with the one-double
  * state carrying the fold across the batch boundary; idleTtl forgets
  * quiet keys, whose next event re-seeds. */
class StreamingEwmaSpec extends AnyFunSuite with SparkTestBase {

  private def feed(dir: String, name: String,
      rows: Seq[(Long, Long, Long, Double)]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/in/$name.json"),
      rows.map { case (k, t, i, x) =>
        s"""{"user_id":$k,"ts":$t,"event_id":$i,"value":$x}"""
      }.mkString("\n").getBytes("UTF-8"))

  test("streamed fold == batch Recurrence.ewma across a 2-batch split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sewma").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val rnd = new scala.util.Random(5)
    val all = (0 until 120).map { i =>
      ((i % 4).toLong, i.toLong * 10, i.toLong, rnd.nextDouble() * 20 - 10)
    }
    // time-ordered split: batch 1 gets the first half, batch 2 the rest —
    // the cross-batch carry is load-bearing for every key
    val (b1, b2) = all.splitAt(60)
    feed(dir, "b1", b1)
    // one row with a null in each column, timed inside key 1's series: each
    // is dropped before the EventRow decode, so it neither fails the query
    // nor moves the fold
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/b1_nulls.json"),
      Seq("""{"user_id":1,"ts":15,"event_id":1001,"value":null}""",
        """{"user_id":null,"ts":25,"event_id":1002,"value":1.0}""",
        """{"user_id":1,"ts":null,"event_id":1003,"value":1.0}""",
        """{"user_id":1,"ts":35,"event_id":null,"value":1.0}""")
        .mkString("\n").getBytes("UTF-8"))

    val stream = spark.readStream
      .schema("user_id BIGINT, ts BIGINT, event_id BIGINT, value DOUBLE")
      .json(s"$dir/in")
    val out = StreamingEwma.attach(StreamingEwma.eventRows(stream), 0.3)
    val q = out.toDF().writeStream.format("memory").queryName("sewma_out")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      feed(dir, "b2", b2)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sewma_out")
      .select(col("key"), col("id"), col("ewma")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed.size === 120) // every event decided exactly once

    val batchDf = all.toDF("user_id", "ts", "event_id", "value")
    val batch = graft.analytics.Recurrence
      .ewma(batchDf, Seq("user_id"),
        Seq(col("ts").asc, col("event_id").asc), "value", 0.3)
      .select(col("user_id"), col("event_id"), col("ewma")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    batch.foreach { case (k, v) =>
      assert(math.abs(streamed(k) - v) < 1e-9, s"event $k")
    }
  }

  test("idleTtl forgets a quiet key; its next event re-seeds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sewma2").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // no-data batches off: timeouts then fire only on data-triggered
    // batches, so the test is deterministic (the near-dup/dup-spans TTL
    // specs' harness — with them on, ProcessingTimeTimeout schedules
    // empty batches forever)
    val prevNoData =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val stream = spark.readStream
      .schema("user_id BIGINT, ts BIGINT, event_id BIGINT, value DOUBLE")
      .json(s"$dir/in")
    val out = StreamingEwma.attach(StreamingEwma.eventRows(stream), 0.5,
      idleTtl = Some(java.time.Duration.ofSeconds(1)))
    val q = out.toDF().writeStream.format("memory").queryName("sewma_ttl")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      feed(dir, "b1", Seq((1L, 0L, 0L, 8.0), (1L, 1L, 1L, 4.0)))
      q.processAllAvailable()
      Thread.sleep(2500) // let the 1 s TTL lapse
      feed(dir, "b2", Seq((2L, 2L, 2L, 1.0))) // fires key 1's timeout
      q.processAllAvailable()
      feed(dir, "b3", Seq((1L, 3L, 3L, 10.0))) // key 1 returns after gap
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", prevNoData)
    }
    val got = spark.table("sewma_ttl")
      .select(col("id"), col("ewma")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(0L) === 8.0) // seed
    assert(got(1L) === 6.0) // 0.5*4 + 0.5*8
    // after the TTL the carried 6.0 is forgotten: re-seed, not 8.0
    assert(got(3L) === 10.0)
  }
}
