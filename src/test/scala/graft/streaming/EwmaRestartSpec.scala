package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Restart-from-checkpoint for the streaming EWMA: a hard stop between
  * micro-batches must lose no emission, duplicate no emission, and — the
  * operator-specific part — CONTINUE the recurrence from the recovered
  * one-double state, not re-seed (a re-seed is exactly what the idleTtl
  * loss contract permits, so a restart must be distinguishable from it).
  *
  * Runs once per state-store backend (default HDFS-backed + RocksDB —
  * see [[StateBackend]]); each scenario owns its checkpoint dir because
  * the provider class is recorded in the checkpoint at first start. */
class EwmaRestartSpec extends AnyFunSuite with SparkTestBase {

  for (backend <- Seq("default", "rocksdb"))
    test(s"[$backend] stop mid-stream, restart: exactly-once, carry " +
        "recovered") {
      val dir = java.nio.file.Files.createTempDirectory("graft_ewr").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/in"))
      def feed(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/in/$name.json"),
          rows.map { case (k, t, i, x) =>
            s"""{"user_id":$k,"ts":$t,"event_id":$i,"value":$x}"""
          }.mkString("\n").getBytes("UTF-8"))

      def startQuery() = {
        val stream = spark.readStream
          .schema("user_id BIGINT, ts BIGINT, event_id BIGINT, value DOUBLE")
          .json(s"$dir/in")
        StreamingEwma.attach(StreamingEwma.eventRows(stream), alpha = 0.5)
          .toDF()
          .writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/_ckpt")
          .outputMode("append").start()
      }

      def run(): Unit = {
        // phase 1: key 1 folds 8 -> 6 (= 0.5*4 + 0.5*8); key 2 seeds at 3
        feed("b1", Seq((1L, 0L, 0L, 8.0), (1L, 1L, 1L, 4.0), (2L, 0L, 2L, 3.0)))
        val q1 = startQuery()
        q1.processAllAvailable()
        q1.stop() // hard stop — the carried doubles must live in the checkpoint

        // phase 2: both keys continue; values prove carry-not-reseed
        feed("b2", Seq((1L, 2L, 3L, 10.0), (2L, 1L, 4L, 5.0)))
        val q2 = startQuery()
        q2.processAllAvailable()
        q2.stop()
      }
      // "default" unsets the provider, not merely leaves it: defensive
      // against any earlier session-conf writer
      if (backend == "rocksdb") StateBackend.withRocksDb(spark)(run())
      else { spark.conf.unset(StateBackend.ProviderConfKey); run() }

      val out = spark.read.parquet(s"$dir/out")
        .select(col("id"), col("ewma")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
      assert(out.length === 5, "restart lost or duplicated emissions")
      val m = out.toMap
      assert(m.size === 5)
      assert(m(0L) === 8.0)
      assert(m(1L) === 6.0)
      assert(m(2L) === 3.0)
      // carry: 0.5*10 + 0.5*6 = 8.0 (a re-seed would emit 10.0)
      assert(m(3L) === 8.0)
      // carry: 0.5*5 + 0.5*3 = 4.0 (a re-seed would emit 5.0)
      assert(m(4L) === 4.0)
    }
}
