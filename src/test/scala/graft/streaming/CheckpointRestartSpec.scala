package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.CountSlidingWindowSpec.{EveryMeasure, measureBits, refMeasures}

/** SURVEY §5.2 streaming-specific: restart-from-checkpoint resumes
  * identically — no lost and no duplicated alerts across a stop/restart,
  * with the count-window state recovered from the state store. Runs once
  * per state-store backend (default HDFS-backed + RocksDB — see
  * [[StateBackend]]); the provider is recorded in the checkpoint at first
  * start, so each scenario owns its checkpoint dir. */
class CheckpointRestartSpec extends AnyFunSuite with SparkTestBase {

  for (backend <- Seq("default", "rocksdb"))
    test(s"[$backend] stop mid-stream, restart from checkpoint: exact same alert set") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val data = (0 until 60).map(i => Sample(i % 2, i / 2, rnd.nextDouble()))
    val rows = data.map(s => s"""{"key":${s.key},"seq":${s.seq},"v":${s.v}}""")
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        String.join("\n", lines: _*).getBytes)

    def startQuery() = {
      val ds = spark.readStream.schema("key LONG, seq LONG, v DOUBLE")
        .json(s"$dir/in").as[Sample]
      // durable sink: the memory sink cannot recover from a checkpoint
      CountSlidingWindow.alerts(ds, EveryMeasure, 20)
        .writeStream.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/_ckpt")
        .outputMode("append").start()
    }
    def readOut() = spark.read.parquet(s"$dir/out").as[StreamAlert]

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def run() = {
      write("in/a.json", rows.take(44)) // 22 seqs/key: windows already firing
      val q1 = startQuery()
      q1.processAllAvailable()
      val n1 = readOut().count()
      q1.stop() // hard stop — state must live in the checkpoint, not the JVM

      write("in/b.json", rows.drop(44))
      val q2 = startQuery()
      q2.processAllAvailable()
      q2.stop()
      (n1, readOut().collect())
    }
    // "default" unsets the provider, not merely leaves it: defensive
    // against any earlier session-conf writer
    val (afterFirst, all) =
      if (backend == "rocksdb") StateBackend.withRocksDb(spark)(run())
      else { spark.conf.unset(StateBackend.ProviderConfKey); run() }

    // batch truth over the full input: 2 keys x 11 windows x 6 stats
    val expected = refMeasures(data, 20)
    assert(expected.size === 2 * 11 * 6)
    assert(afterFirst > 0 && afterFirst < all.length)
    assert(all.length === expected.size, "restart lost or duplicated rows")
    assert(measureBits(all.toSeq) === expected)
  }
}
