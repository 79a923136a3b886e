package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Streamed LSH candidate pairs == batch band-key self-join candidates,
  * with duplicates straddling micro-batches (bucket state must persist). */
class StreamingNearDupSpec extends AnyFunSuite with SparkTestBase {

  test("streaming bucket-state candidates == batch band self-join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sneardup").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))

    // real near-dup structure: take sf0.001 documents, json-staged in two
    // file batches so LSH-colliding docs land in different micro-batches
    val docs = graft.queries.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).collect()
    def jline(r: org.apache.spark.sql.Row): String = {
      val txt = r.getString(1).replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"doc_id":${r.getLong(0)},"text":"$txt"}"""
    }
    val (first, second) = docs.splitAt(docs.length / 2)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/a.json"),
      first.map(jline).mkString("\n").getBytes)

    val streamDocs = spark.readStream.schema("doc_id LONG, text STRING")
      .json(s"$dir/in")
    val banded = StreamingNearDup.bandKeys(streamDocs)
      .select(col("bucket"), col("doc_id").as("docId"))
      .as[StreamingNearDup.BucketDoc]
    val q = StreamingNearDup.candidatePairs(banded)
      .writeStream.format("memory").queryName("sneardup_out")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/b.json"),
        second.map(jline).mkString("\n").getBytes)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("sneardup_out")
      .select(col("docA"), col("docB")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch truth: same band keys, self-join, distinct pairs
    val batchDocs = spark.read.schema("doc_id LONG, text STRING")
      .json(s"$dir/in")
    val bb = StreamingNearDup.bandKeys(batchDocs).cache()
    val batch = bb.as("x")
      .join(bb.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id"), col("y.doc_id")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed === batch)
    assert(batch.nonEmpty) // sf0.001 has planted near-dups: must collide
  }

  test("idleTtl drops idle buckets: state shrinks, straddling pairs lost, " +
    "fresh pairs still emitted") {
    // The COVERAGE.md contract, executed: with idleTtl set, a bucket idle
    // past the TTL is removed at the next trigger — (a) the state row
    // count drops, (b) a pair straddling the idle gap is NOT emitted (the
    // documented loss), (c) pairs whose members arrive within the TTL
    // still come out exactly as without a TTL.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_snd_ttl").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def feed(name: String, rows: Seq[(String, Long)]): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/in/$name.json"),
        rows.map { case (b, d) => s"""{"bucket":"$b","docId":$d}""" }
          .mkString("\n").getBytes)

    val ttl = java.time.Duration.ofSeconds(1)
    // Under ProcessingTimeTimeout the engine considers another (no-data)
    // batch always warranted, so processAllAvailable would wait forever on
    // a stream that keeps scheduling empty timeout-check batches. Turning
    // no-data batches off makes timeouts fire only on data-triggered
    // batches — deterministic for this test: K survives the idle gap (its
    // own data arrives in the trigger), A does not.
    val prevNoData =
      spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val banded = spark.readStream.schema("bucket STRING, docId LONG")
      .json(s"$dir/in").as[StreamingNearDup.BucketDoc]
    val q = StreamingNearDup.candidatePairs(banded, idleTtl = Some(ttl))
      .writeStream.format("memory").queryName("snd_ttl_out")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try {
      // batch 1: bucket A gets doc 1; keepalive bucket K gets doc 10
      feed("b1", Seq(("A", 1L), ("K", 10L)))
      q.processAllAvailable()
      val afterB1 = q.lastProgress.stateOperators(0).numRowsTotal
      assert(afterB1 === 2, s"expected A and K in state, got $afterB1")

      // idle gap > TTL, then a trigger with data only for K: A has no new
      // data and its deadline passed -> hasTimedOut -> state removed
      Thread.sleep(2500)
      feed("b2", Seq(("K", 11L)))
      q.processAllAvailable()
      val afterB2 = q.lastProgress.stateOperators(0).numRowsTotal
      assert(afterB2 <= 1, s"idle bucket A must be dropped, got $afterB2")

      // batch 3: bucket A again, two docs in quick succession — the
      // straddling pairs (1,2)/(1,3) must NOT appear (doc 1 forgotten);
      // the within-TTL pair (2,3) must
      feed("b3", Seq(("A", 2L), ("A", 3L)))
      q.processAllAvailable()
    } finally {
      q.stop()
      spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        prevNoData)
    }

    val pairs = spark.table("snd_ttl_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)),
      s"pair straddling the idle gap must be lost, got $pairs")
    // K's (10,11) also straddles the gap, but a group whose OWN data is in
    // the trigger batch is processed, not timed out — the TTL only drops
    // buckets that stay idle across a trigger. Lossy under TTL, never
    // spurious: exactly the two surviving pairs, nothing else.
    assert(pairs === Set((2L, 3L), (10L, 11L)), s"unexpected pair set: $pairs")
  }

  test("over maxBucket, streamed pairs are a subset of the batch join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sneardup_cap").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // six docs sharing ONLY one boilerplate substring (each with a unique
    // prefix), keyed by winnowing fingerprint: every shared fingerprint is
    // the same hot bucket, so with maxBucket=2 the 4 unstored docs'
    // mutual pairs MUST be missing
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/in/a.json"),
      (1 to 6).map(i => s"""{"doc_id":$i,"text":"unique prefix number $i """ +
        s"""with words ${"x" * i} $boiler"}""").mkString("\n").getBytes)
    def fingerprints(docs: org.apache.spark.sql.DataFrame) =
      graft.text.TextStats.winnowing(docs)
        .select(col("doc_id").as("docId"),
          explode(col("fingerprints").cast("array<string>")).as("bucket"))
    val q = StreamingNearDup.candidatePairs(fingerprints(
        spark.readStream.schema("doc_id LONG, text STRING").json(s"$dir/in"))
        .as[StreamingNearDup.BucketDoc], maxBucket = 2)
      .writeStream.format("memory").queryName("sneardup_cap")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sneardup_cap")
      .select(col("docA"), col("docB")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val e = fingerprints(
      spark.read.schema("doc_id LONG, text STRING").json(s"$dir/in")).cache()
    val batch = e.as("a")
      .join(e.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.docId") < col("b.docId"))
      .select(col("a.docId"), col("b.docId")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.size === 15, s"all 15 pairs must share the boilerplate: $batch")
    assert(streamed.subsetOf(batch), s"extras: ${streamed -- batch}")
    assert(streamed.size < batch.size,
      s"cap=2 over 6 docs must drop pairs (got ${streamed.size})")
  }
}
