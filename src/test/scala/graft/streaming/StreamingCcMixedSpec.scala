package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.analytics.Graphs

/** The mixed add/remove fold must equal "CC over (history ∪ all adds)
  * restricted to retained ids" HOWEVER the operations split into
  * micro-batches — including merge-then-takedown of the same component
  * across batches, same-batch add+remove, a takedown followed by a
  * re-merge of the repaired pieces, and no-resurrection of removed
  * nodes. Add-only and remove-only schedules (q207's and q215's streams)
  * are the degenerate mixes; randomized mixed schedules pin the general
  * invariant. */
class StreamingCcMixedSpec extends AnyFunSuite with SparkTestBase {

  private def ground(ids: Seq[Long], edges: Seq[(Long, Long)],
      removed: Set[Long]): Map[Long, Long] = {
    import spark.implicits._
    Graphs.connectedComponents(
        ids.filterNot(removed).toDF("doc_id"),
        edges.filter(e => !removed(e._1) && !removed(e._2))
          .toDF("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Fold `batches` (one file each) over the history labels of
    * `labelIds` (default: every id; an id outside them enters as a new
    * node) and return the final map. */
  private def runMixed(dir: String, tag: String, ids: Seq[Long],
      histEdges: Seq[(Long, Long)],
      batches: Seq[Seq[(String, Long, Long)]], bound: Int,
      maxFiles: Option[String] = Some("1"),
      labelIds: Option[Seq[Long]] = None): Map[Long, Long] = {
    import spark.implicits._
    val labels = Graphs.connectedComponents(
      labelIds.getOrElse(ids).toDF("doc_id"),
      histEdges.toDF("a", "b")).localCheckpoint()
    batches.foreach { b =>
      b.toDF("op", "a", "b").repartition(1)
        .write.mode("append").parquet(s"$dir/in_$tag")
    }
    val src = spark.readStream
      .schema("op STRING, a BIGINT, b BIGINT")
    maxFiles.foreach(m => src.option("maxFilesPerTrigger", m))
    StreamingCcMixed.maintain(src.parquet(s"$dir/in_$tag"), labels,
        histEdges.toDF("a", "b"), ids.toDF("doc_id"),
        s"$dir/_ckpt_$tag", compactBound = bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a cluster_id type diverging from the id type is rejected up " +
      "front: the snapshot round-trip stores remap targets in the " +
      "shared cluster_id slot") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_mix_ty").toString
    Seq(("add", 1L, 1L)).toDF("op", "a", "b")
      .write.parquet(s"$dir/in")
    val badLabels = Seq((1L, 1)).toDF("doc_id", "cluster_id") // INT label
    val ex = intercept[IllegalArgumentException] {
      StreamingCcMixed.maintain(
        spark.readStream.schema("op STRING, a BIGINT, b BIGINT")
          .parquet(s"$dir/in"),
        badLabels, Seq.empty[(Long, Long)].toDF("a", "b"),
        Seq(1L).toDF("doc_id"), s"$dir/_ckpt")
    }
    assert(ex.getMessage.contains("cluster_id type"))
  }

  test("planted interleavings: merge-then-takedown, same-batch add+rm, " +
      "takedown-then-remerge, no resurrection") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mix").toString
    // history: {0,1}, {10,11}, {20,21}, isolated 30, 40; new nodes 50,51
    val ids = Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 40L, 50L, 51L)
    val hist = Seq((0L, 1L), (10L, 11L), (20L, 21L))
    // b1: add bridge (1,10) — merges {0,1}+{10,11} into root 0
    // b2: rm 0 (takedown inside the JUST-merged component: repair must
    //     see the remap) + add (50,51) in the SAME batch (new comp)
    // b3: add (11,20) — re-merge a REPAIRED piece with {20,21}: the
    //     remap lands on top of override labels
    // b4: rm 20 + add (40, 0) — 0 is tombstoned: edge must be DROPPED,
    //     not resurrect 0 (40 stays isolated)
    val batches = Seq(
      Seq(("add", 1L, 10L)),
      Seq(("rm", 0L, -1L), ("add", 50L, 51L)),
      Seq(("add", 11L, 20L)),
      Seq(("rm", 20L, -1L), ("add", 40L, 0L)))
    val allAdds = Seq((1L, 10L), (50L, 51L), (11L, 20L), (40L, 0L))
    // ground truth computes on the same no-resurrection semantics: the
    // (40,0) edge is dead because 0 is removed
    val expected = ground(ids, hist ++ allAdds, Set(0L, 20L))
    // 21 ends up ISOLATED: its only edges ((20,21) and the b3 re-merge
    // path (11,20)) both run through removed 20
    assert(expected === Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 21L,
      30L -> 30L, 40L -> 40L, 50L -> 50L, 51L -> 50L))
    for ((tag, bound) <- Seq(("multi", 10000), ("compact", 0))) {
      val got = runMixed(dir, tag, ids, hist, batches, bound)
      assert(got === expected, s"$tag drifted from ground truth")
    }
    // single-batch control: all four batches in one file
    val gotSingle = runMixed(dir, "single", ids, hist,
      Seq(batches.flatten), 10000, maxFiles = None)
    assert(gotSingle === expected, "single-batch drifted")
  }

  test("add-only schedule: a merge chain whose bridges arrive in " +
      "different batches, onto new nodes the initial labels lack") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mix_add").toString
    // history: {0,1}, {10,11}, {20,21}, isolated 30; the adds chain those
    // components together ACROSS batches — (1,10), (11,20), (21,30), one
    // a batch — plus the new component (40,41), absent from the labels
    val ids = Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 40L, 41L)
    val hist = Seq((0L, 1L), (10L, 11L), (20L, 21L))
    val adds = Seq((1L, 10L), (11L, 20L), (21L, 30L), (40L, 41L))
    val expected = ground(ids, hist ++ adds, Set.empty)
    assert(expected === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
      20L -> 0L, 21L -> 0L, 30L -> 0L, 40L -> 40L, 41L -> 40L))
    val batches = adds.map(e => Seq(("add", e._1, e._2)))
    val histIds = Some(ids.filter(_ < 40L))
    // "compact" (bound 0) folds every batch's remap into the base, so the
    // remap-resident and the base-resident state are both pinned
    for ((tag, bound) <- Seq(("multi", 10000), ("compact", 0)))
      assert(runMixed(dir, tag, ids, hist, batches, bound,
        labelIds = histIds) === expected, s"$tag drifted from batch CC")
    assert(runMixed(dir, "single", ids, hist, Seq(batches.flatten), 10000,
      maxFiles = None, labelIds = histIds) === expected,
      "single-batch drifted")
  }

  test("rm-only schedule: split, canonical handoff and vanish, with the " +
      "same component touched in two batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mix_rm").toString
    // chain 0-1-2-3 (remove 1 then 2 in DIFFERENT batches: split, then
    // shrink); triangle {10,11,12} (remove canonical 10: handoff); pair
    // {20,21} fully removed across the two batches (vanish); {30,31} and
    // isolated 40 untouched
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
      (11L, 12L), (10L, 12L), (20L, 21L), (30L, 31L))
    val ids = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L, 31L, 40L)
    val removals = Seq(Seq(1L, 10L, 20L), Seq(2L, 21L))
    val expected = Map(0L -> 0L, 3L -> 3L, 11L -> 11L, 12L -> 11L,
      30L -> 30L, 31L -> 30L, 40L -> 40L)
    assert(ground(ids, edges, removals.flatten.toSet) === expected)
    val batchRetract = Graphs.ccRetract(
        Graphs.connectedComponents(ids.toDF("doc_id"), edges.toDF("a", "b")),
        edges.toDF("a", "b"), removals.flatten.toDF("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchRetract === expected)
    val batches = removals.map(_.map(id => ("rm", id, -1L)))
    for ((tag, bound) <- Seq(("multi", 10000), ("compact", 0)))
      assert(runMixed(dir, tag, ids, edges, batches, bound) === expected,
        s"$tag takedown drifted")
    assert(runMixed(dir, "single", ids, edges, Seq(batches.flatten), 10000,
      maxFiles = None) === expected, "single-batch takedown drifted")
  }

  test("the edge layer is O(1) frames in batch count: a long stream of " +
      "one-op batches never accumulates more than EdgeFrameCap + 1 " +
      "union legs, and the result still equals the ground truth") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mixf").toString
    val n = 80L
    val ids = (0L until n).toVector
    val hist = Seq((0L, 1L), (2L, 3L))
    // 4·cap add batches chaining even ids, then a few removals — WAY
    // past the cap, and compactBound high so label compaction never
    // fires (the cap must bound the frames on its own)
    val addOps = (0 until 4 * StreamingCcMixed.EdgeFrameCap)
      .map(i => ("add", (2L * i) % n, (2L * i + 2) % n))
    val rmOps = Seq(("rm", 4L, -1L), ("rm", 5L, -1L))
    val batches = (addOps ++ rmOps).map(Seq(_))
    batches.foreach { b =>
      b.toDF("op", "a", "b").repartition(1)
        .write.mode("append").parquet(s"$dir/in")
    }
    val labels = Graphs.connectedComponents(ids.toDF("doc_id"),
      hist.toDF("a", "b")).localCheckpoint()
    val state = StreamingCcMixed.maintainState(
      spark.readStream.schema("op STRING, a BIGINT, b BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
      labels, hist.toDF("a", "b"), ids.toDF("doc_id"),
      s"$dir/_ckpt", "doc_id", 1000000, None)
    assert(state.edgeFrameCount <= StreamingCcMixed.EdgeFrameCap + 1,
      s"edge layer grew to ${state.edgeFrameCount} frames over " +
        s"${batches.size} batches — the coalesce cap is not bounding it")
    val got = state.read.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ground(ids,
      hist ++ addOps.map(o => (o._2, o._3)), Set(4L, 5L))
    assert(got === expected)
  }

  test("randomized mixed schedules equal the batch ground truth") {
    val rnd = new scala.util.Random(83)
    for (trial <- 1 to 3) {
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_mixr$trial").toString
      val n = 30L
      val ids = (0L until n).toVector
      val hist = Seq.fill(12)(
        (rnd.nextLong(n), rnd.nextLong(n))).filter(p => p._1 != p._2)
      val adds = Seq.fill(10)(
        (rnd.nextLong(n), rnd.nextLong(n))).filter(p => p._1 != p._2)
      val removedSeq = rnd.shuffle(ids.toSeq).take(5)
      val removed = removedSeq.toSet
      // interleave into 4 batches; ops in random order
      val ops = rnd.shuffle(
        adds.map(e => ("add", e._1, e._2)) ++
          removedSeq.map(id => ("rm", id, -1L)))
      val batches = ops.grouped((ops.size + 3) / 4).toSeq
      // ground truth with no-resurrection semantics: an add is dead if
      // either endpoint was removed at ANY batch ≤ its own — removals
      // here are a fixed set, but an add PRECEDING its endpoint's
      // removal still dies when the endpoint is later removed (the
      // repair excludes the node), so the retained-graph rule is exact
      val expected = ground(ids, hist ++ adds, removed)
      val got = runMixed(dir, "r", ids, hist, batches,
        if (trial == 2) 0 else 10000)
      assert(got === expected, s"trial $trial")
    }
  }
}
