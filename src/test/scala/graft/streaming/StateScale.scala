package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev measurement harness (not a test): state-store growth of the
  * streaming delta-dedup operator — the one whose state grows with the
  * corpus FOREVER by design (one entry per distinct novel digest) — under
  * the default heap-backed provider vs RocksDB, at 1×/10×/100× novel-key
  * volume. This is the empirical point behind routing the registry's
  * stateful streams onto RocksDB (see [[StateBackend]]):
  *
  *   - `numRowsTotal` grows linearly with novel docs under BOTH backends
  *     (that's the operator's contract, not a leak);
  *   - under the default provider that growth is executor-HEAP growth
  *     (`memoryUsedBytes` ∝ keys — the loaded version map holds every
  *     key as JVM objects);
  *   - under RocksDB the JVM-visible share stays in the native block
  *     cache / memtable budget while the bulk moves to SST files on disk
  *     (`rocksdbSstFileSize`), so per-executor state is disk-bounded;
  *   - per-micro-batch wall time tracks the BATCH's rows, not the store's
  *     total size (the last batch is no slower than the first beyond
  *     log-structured noise).
  *
  * Inputs are hash-generated novel docs (unique text per doc_id), one
  * parquet file per micro-batch, streamed with maxFilesPerTrigger=1 under
  * Trigger.AvailableNow. Usage:
  *   sbt "Test/runMain graft.streaming.StateScale [1x,10x,100x]"
  */
object StateScale {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-state-scale")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val tags: Seq[String] =
      if (args.nonEmpty) args(0).split(',').toSeq else Seq("1x", "10x", "100x")
    def scaleOf(tag: String): Int = tag.stripSuffix("x").toInt
    val base = java.nio.file.Files.createTempDirectory("graft_state").toString
    val batchesPerRun = 5
    val baseDocsPerBatch = 4000L

    // history: a tiny curated set — the probe measures NOVEL-key state
    val histIdx = StreamingDeltaDedup.digests(
      Seq((0L, "curated seed")).toDF("doc_id", "text"))

    /** One parquet FILE per micro-batch: write coalesced, move the part
      * file under a stable name so maxFilesPerTrigger=1 sees exactly
      * `batchesPerRun` batches. */
    def genInput(tag: String): String = {
      val in = s"$base/in_$tag"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val perBatch = baseDocsPerBatch * scaleOf(tag)
      for (b <- 0 until batchesPerRun) {
        val tmp = s"$base/tmp_${tag}_$b"
        spark.range(b * perBatch, (b + 1) * perBatch)
          .select(col("id").as("doc_id"),
            concat(lit("novel doc "), col("id"), lit(" body "),
              xxhash64(col("id"))).as("text"))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        java.nio.file.Files.move(part,
          java.nio.file.Paths.get(s"$in/b$b.parquet"))
      }
      in
    }

    def fmtMb(v: Long): String = f"${v / 1048576.0}%8.1f MB"

    def run(tag: String, backend: String, in: String): Unit =
      if (backend == "rocksdb") StateBackend.withRocksDb(spark) {
        // small write buffer so memtables FLUSH to SST within the probe's
        // batch count — the disk-bounded path is the claim being measured
        // (at production state sizes flushes happen regardless)
        spark.conf.set(
          "spark.sql.streaming.stateStore.rocksdb.writeBufferSizeMB", "4")
        measure(tag, backend, in)
      } else {
        spark.conf.unset(StateBackend.ProviderConfKey)
        measure(tag, backend, in)
      }

    def measure(tag: String, backend: String, in: String): Unit = {
      val ckpt = s"$base/ckpt_${tag}_$backend"
      val q = StreamingDeltaDedup.decisions(StreamingDeltaDedup.rows(
          spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(in), histIdx))
        .toDF()
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      progress.foreach { p =>
        val so = p.stateOperators.head
        val cm = so.customMetrics
        val sst = Option(cm.get("rocksdbSstFileSize")).map(_.longValue)
        val native =
          Option(cm.get("rocksdbTotalMemoryUsage")).map(_.longValue)
        println(f"[state] $tag%-5s $backend%-8s batch ${p.batchId}%2d  " +
          f"rowsTotal ${so.numRowsTotal}%9d  trigger " +
          f"${p.durationMs.get("triggerExecution")}%6d ms  " +
          s"mem ${fmtMb(so.memoryUsedBytes)}" +
          sst.map(v => s"  sst ${fmtMb(v)}").getOrElse("") +
          native.map(v => s"  native ${fmtMb(v)}").getOrElse(""))
      }
      val last = progress.last.stateOperators.head
      // memoryUsedBytes is JVM-HEAP objects under the default provider
      // (the loaded version map) but NATIVE memory (memtable + block
      // cache, outside the heap) under RocksDB — the comparison IS the
      // off-heap claim
      val kind = if (backend == "rocksdb") "native off-heap" else "on-heap"
      println(f"[state] $tag%-5s $backend%-8s FINAL rows " +
        f"${last.numRowsTotal}%9d  $kind ${fmtMb(last.memoryUsedBytes)}")
    }

    for (tag <- tags) {
      val in = genInput(tag)
      for (backend <- Seq("default", "rocksdb")) run(tag, backend, in)
    }
    spark.stop()
  }
}
