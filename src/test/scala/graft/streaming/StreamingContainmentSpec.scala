package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.dedup.Dedup

/** The streamed containment screen must equal the batch operator's
  * result HOWEVER the probe stream splits into micro-batches — each
  * probe's prefix/candidates/verify depend only on its own grams and
  * the static corpus index, so the union of per-batch results is the
  * batch result (a single-batch run is the degenerate control). */
class StreamingContainmentSpec extends AnyFunSuite with SparkTestBase {

  test("multi-batch == single-batch == batch containmentAcross") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_scont").toString
    // corpus: two long docs; probes: a lifted quote (contained in c1),
    // a paraphrase below threshold, an exact copy of c2's tail, and an
    // unrelated probe
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
      (101L, "data pipelines shuffle partition and aggregate massive corpora with care and rigor always")
    ).toDF("doc_id", "text")
    val probeRows = Seq(
      (1L, "quick brown fox jumps over the lazy dog"),
      (2L, "the slow green fox walks under a lazy cat"),
      (3L, "aggregate massive corpora with care and rigor always"),
      (4L, "entirely unrelated words about cooking pasta tonight"))
    probeRows.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/probe")

    val corpusGrams = Dedup.shingles(corpus)
    val expected = Dedup.containmentAcross(
        Dedup.shingles(probeRows.toDF("doc_id", "text"))
          .select(col("doc_id").as("probe_id"), col("grams")),
        corpusGrams, num = 1, den = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty, "test fixture should produce hits")
    assert(!expected.exists(_._1 == 4L))

    val idx = Dedup.containmentIndex(corpusGrams)
    for ((tag, maxFiles) <- Seq(("multi", Some("1")), ("single", None))) {
      val src = spark.readStream.schema("doc_id BIGINT, text STRING")
      maxFiles.foreach(m => src.option("maxFilesPerTrigger", m))
      val got = StreamingContainment.run(src.parquet(s"$dir/probe"), idx,
          num = 1, den = 2, s"$dir/work_$tag",
          b => Dedup.shingles(b)
            .select(col("doc_id").as("probe_id"), col("grams")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got === expected, s"$tag-batch stream drifted from batch")
    }
  }

  test("a second run on the same workDir fails at entry instead of " +
      "returning fewer hits") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_scont_r").toString
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy " +
      "dog near the old river bank today")).toDF("doc_id", "text")
    val idx = Dedup.containmentIndex(Dedup.shingles(corpus))
    Seq((1L, "quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/probe")
    def run() = StreamingContainment.run(
      spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(s"$dir/probe"),
      idx, num = 1, den = 2, s"$dir/work",
      b => Dedup.shingles(b)
        .select(col("doc_id").as("probe_id"), col("grams")))
    assert(run().count() === 1L)
    val e = intercept[IllegalArgumentException](run())
    assert(e.getMessage.contains("fresh workDir"))
  }

  test("empty probe slice (zero micro-batches) returns the empty hit " +
      "frame, not a path-not-found error") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_scont_e").toString
    val corpus = Seq((100L, "the quick brown fox jumps over the lazy " +
      "dog near the old river bank today")).toDF("doc_id", "text")
    val idx = Dedup.containmentIndex(Dedup.shingles(corpus))
    // a parquet dir with schema but zero rows -> AvailableNow fires no
    // foreachBatch at all
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/probe")
    val got = StreamingContainment.run(
      spark.readStream.schema("doc_id BIGINT, text STRING")
        .parquet(s"$dir/probe"),
      idx, num = 1, den = 2, s"$dir/work",
      b => Dedup.shingles(b)
        .select(col("doc_id").as("probe_id"), col("grams")))
    assert(got.columns.toSeq ===
      Seq("probe_id", "doc_id", "common", "containment"))
    assert(got.count() === 0L)
  }
}
