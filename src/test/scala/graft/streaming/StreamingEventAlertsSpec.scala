package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.pipeline.AlertPipeline

class StreamingEventAlertsSpec extends AnyFunSuite with SparkTestBase {

  test("streamed event alerts equal the batch pipeline row-for-row (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = graft.queries.Tables(spark, dir, "events")
    val thr = StreamingEventAlerts.thresholds(batchEvents)

    val stream = spark.readStream
      .schema("event_id BIGINT, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
      .parquet(graft.queries.StreamingQueries.stagedTableDir(dir, "events"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sea_t").toString
    val q = StreamingEventAlerts.alerts(stream, thr).writeStream
      .format("memory").queryName("sea_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    // (key, seq, stat, m bits, thr bits) → multiplicity
    def bits(rows: Array[org.apache.spark.sql.Row]) = rows.toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)),
        java.lang.Double.doubleToLongBits(r.getDouble(4))))
      .groupBy(identity).map { case (row, rs) => row -> rs.size }
    val streamed = bits(spark.table("sea_out").collect())
    val batch = bits(AlertPipeline.eventAlerts(batchEvents).collect())
    assert(streamed.nonEmpty)
    assert(streamed === batch, s"stream-only ${(streamed.keySet -- batch.keySet).take(5)}, " +
      s"batch-only ${(batch.keySet -- streamed.keySet).take(5)}")
  }
}
