package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Restart-from-checkpoint for the incremental-dedup stream: a hard stop
  * between micro-batches must lose no decision, duplicate no decision,
  * and — the operator-specific part — REMEMBER first-arrival state across
  * the restart: a digest kept before the stop must be dropped after it,
  * from the recovered state store, not JVM memory.
  *
  * Runs once per state-store backend: the default HDFS-backed provider
  * and [[StateBackend.RocksDbProvider]] — the production backend for this
  * operator (its keep-first state grows with the corpus forever, so at
  * 100 TB lifetimes it must live off-heap; see StateBackend). The
  * provider is captured into the checkpoint at first start, so each
  * scenario uses its own checkpoint dir.
  */
class DeltaDedupRestartSpec extends AnyFunSuite with SparkTestBase {

  for (backend <- Seq("default", "rocksdb"))
    test(s"[$backend] stop mid-stream, restart: exactly-once decisions, " +
        "keep-first state recovered from the checkpoint") {
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_ddr").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/in"))
      def feed(name: String, rows: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir/in/$name.json"),
          rows.map { case (d, t) => s"""{"doc_id":$d,"text":"$t"}""" }
            .mkString("\n").getBytes("UTF-8"))

      val history = Seq((1L, "curated")).toDF("doc_id", "text")
      val histIdx = StreamingDeltaDedup.digests(history)

      def startQuery() = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING")
          .json(s"$dir/in")
        StreamingDeltaDedup
          .decisions(StreamingDeltaDedup.rows(stream, histIdx))
          .writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/_ckpt")
          .outputMode("append").start()
      }

      def run(): Unit = {
        // phase 1: a novel doc (kept) + a history dup
        feed("b1", Seq((10L, "novel alpha"), (11L, "curated")))
        val q1 = startQuery()
        q1.processAllAvailable()
        q1.stop() // hard stop — keep-first state must live in the checkpoint

        // phase 2: a COPY of the phase-1 novel doc (must drop via recovered
        // state), plus a fresh novel doc
        feed("b2", Seq((20L, "novel alpha"), (21L, "novel beta")))
        val q2 = startQuery()
        q2.processAllAvailable()
        q2.stop()
      }
      // "default" unsets the provider, not merely leaves it: defensive
      // against any earlier session-conf writer
      if (backend == "rocksdb") StateBackend.withRocksDb(spark)(run())
      else { spark.conf.unset(StateBackend.ProviderConfKey); run() }

      val out = spark.read.parquet(s"$dir/out")
        .select(col("docId"), col("inHistory"), col("keep")).collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2))))
      assert(out.length === 4, "restart lost or duplicated decisions")
      val m = out.toMap
      assert(m.size === 4, "duplicate per-doc decisions after restart")
      assert(m(10L) === ((false, true)))
      assert(m(11L) === ((true, false)))
      assert(m(20L) === ((false, false)),
        "keep-first state must survive the restart")
      assert(m(21L) === ((false, true)))
    }
}
