package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.analytics.Graphs

/** Crash-and-recover for the MIXED streaming maintainer: remap,
  * override, tombstones, AND the added-edge layer must survive a DRIVER
  * restart via `persistDir`, not JVM memory — the r15 verdict's gap
  * (the mixed carrier is the production ingest shape, yet deferred
  * persistence to the single-op maintainers). The restart run is handed
  * deliberately WRONG `initialLabels` (every node a singleton) to prove
  * recovery reads the persisted state; runs under both compaction
  * regimes (bound 0 → state recovered from a compacted BASE + EDGES
  * epoch; default bound → from the tagged remap+override+tombstone
  * snapshot over the initial base, with the added-edge frames
  * reconstructed from their per-batch dirs). Add-only and remove-only
  * schedules (q207's and q215's streams) restart under the same two
  * regimes. The streams themselves
  * carry no state-store operators — all state lives in `persistDir` —
  * so the state-store backend is irrelevant by construction. */
class MixedPersistRestartSpec extends AnyFunSuite with SparkTestBase {

  /** Append `ops` as one more input file under `dir` and run the stream
    * to completion against `lbl`, persisting to `dir/_state`; returns the
    * final map. Successive calls share the checkpoint, so each replays
    * only the unprocessed files. */
  private def runPersisted(dir: String, ids: DataFrame,
      hist: Seq[(Long, Long)], bound: Int, ops: Seq[(String, Long, Long)],
      lbl: DataFrame): Map[Long, Long] = {
    import spark.implicits._
    ops.toDF("op", "a", "b").repartition(1)
      .write.mode("append").parquet(s"$dir/in")
    StreamingCcMixed.maintain(
        spark.readStream.schema("op STRING, a BIGINT, b BIGINT")
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/in"),
        lbl, hist.toDF("a", "b"), ids, s"$dir/_ckpt",
        compactBound = bound, persistDir = Some(s"$dir/_state"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def singletons(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), col("doc_id").as("cluster_id"))

  private def deleteTree(dir: String): Unit =
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })

  for ((regime, bound) <- Seq(("base-epoch", 0), ("snapshot", 10000)))
    test(s"[$regime] stop between batches, restart with wrong " +
        "initialLabels: merges, repairs, tombstones, and added edges " +
        "all recovered") {
      import spark.implicits._
      val dir =
        java.nio.file.Files.createTempDirectory("graft_mxpr").toString
      // history: {0,1}, {10,11}, {20,21}, isolated 30, 40; 50,51 unseen
      val ids = Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 40L, 50L, 51L)
        .toDF("doc_id")
      val hist = Seq((0L, 1L), (10L, 11L), (20L, 21L))
      val labels = Graphs.connectedComponents(ids, hist.toDF("a", "b"))
        .localCheckpoint()
      def run(ops: Seq[(String, Long, Long)], lbl: DataFrame) =
        runPersisted(dir, ids, hist, bound, ops, lbl)

      // phase 1: merge {0,1}+{10,11} via (1,10); rm 20 (splits {20,21});
      // add (50,51) — a brand-new component
      val phase1 = run(Seq(("add", 1L, 10L), ("rm", 20L, -1L),
        ("add", 50L, 51L)), labels)
      assert(phase1 === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
        21L -> 21L, 30L -> 30L, 40L -> 40L, 50L -> 50L, 51L -> 50L))

      // "crash": restart with singleton labels — only the persisted
      // state knows the phase-1 merge, repair, tombstone, and the ADDED
      // edge (1,10) (the phase-2 rm 0 repair MUST see it to keep
      // 1/10/11 connected after 0 leaves). The (40,20) add must DIE:
      // 20 is tombstoned — in the bound-0 regime it was folded into the
      // base by compaction, so this also pins the folded-removal
      // no-resurrection probe.
      val phase2 = run(Seq(("rm", 0L, -1L), ("add", 40L, 20L)),
        singletons(ids))
      assert(phase2 === Map(1L -> 1L, 10L -> 1L, 11L -> 1L, 21L -> 21L,
        30L -> 30L, 40L -> 40L, 50L -> 50L, 51L -> 50L),
        "restart lost persisted mixed state, dropped the recovered " +
          "added edge from the repair graph, or resurrected a removed " +
          "node")
      deleteTree(dir)
    }

  // the single-op schedules — an add-only stream (q207's) and a
  // remove-only stream (q215's) — under the same two regimes
  for ((regime, bound) <- Seq(("base-epoch", 0), ("snapshot", 10000))) {
    test(s"[add-only, $regime] stop between batches, restart with wrong " +
        "initialLabels: merges recovered") {
      import spark.implicits._
      val dir =
        java.nio.file.Files.createTempDirectory("graft_mxpr_add").toString
      // history: {0,1}, {10,11}, {20,21}, isolated 30; 40,41 are new
      // nodes the initial labels lack
      val ids = Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 40L, 41L).toDF("doc_id")
      val hist = Seq((0L, 1L), (10L, 11L), (20L, 21L))
      val labels = Graphs.connectedComponents(
        ids.where(col("doc_id") < 40L), hist.toDF("a", "b")).localCheckpoint()
      def run(ops: Seq[(String, Long, Long)], lbl: DataFrame) =
        runPersisted(dir, ids, hist, bound, ops, lbl)

      val phase1 = run(Seq(("add", 1L, 10L), ("add", 11L, 20L)), labels)
      assert(phase1 === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
        20L -> 0L, 21L -> 0L, 30L -> 30L, 40L -> 40L, 41L -> 41L))
      // "crash": only the persisted state knows the history components
      // and the phase-1 merges
      val phase2 = run(Seq(("add", 21L, 30L), ("add", 40L, 41L)),
        singletons(ids))
      assert(phase2 === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
        20L -> 0L, 21L -> 0L, 30L -> 0L, 40L -> 40L, 41L -> 40L),
        "restart lost persisted merges or replayed input non-idempotently")
      deleteTree(dir)
    }

    test(s"[rm-only, $regime] stop between batches, restart with wrong " +
        "initialLabels: repairs and tombstones recovered") {
      import spark.implicits._
      val dir =
        java.nio.file.Files.createTempDirectory("graft_mxpr_rm").toString
      val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L),
        (11L, 12L), (10L, 12L), (20L, 21L), (30L, 31L))
      val ids = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L, 21L, 30L, 31L,
        40L).toDF("doc_id")
      val labels = Graphs.connectedComponents(ids, edges.toDF("a", "b"))
        .localCheckpoint()
      def run(removals: Seq[Long], lbl: DataFrame) =
        runPersisted(dir, ids, edges, bound,
          removals.map(id => ("rm", id, -1L)), lbl)

      // phase 1: split the chain at 1, retire the triangle's canonical 10
      val phase1 = run(Seq(1L, 10L), labels)
      assert(phase1 === Map(0L -> 0L, 2L -> 2L, 3L -> 2L, 11L -> 11L,
        12L -> 11L, 20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L,
        40L -> 40L))
      // "crash": only the persisted state knows the components, the
      // phase-1 repairs and the phase-1 tombstones
      val phase2 = run(Seq(2L, 20L, 21L), singletons(ids))
      assert(phase2 === Map(0L -> 0L, 3L -> 3L, 11L -> 11L, 12L -> 11L,
        30L -> 30L, 31L -> 30L, 40L -> 40L),
        "restart lost persisted repairs/tombstones or resurrected a " +
          "removed node")
      deleteTree(dir)
    }
  }

  test("forced replay of a COMPACTING fold: the replayed batch is " +
      "skipped and its effects come from the recovered epoch — " +
      "nothing lost, nothing doubled") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_mxpr_rp").toString
    val ids = Seq(0L, 1L, 10L, 11L, 20L, 21L, 30L, 40L).toDF("doc_id")
    val hist = Seq((0L, 1L), (10L, 11L), (20L, 21L))
    val labels = Graphs.connectedComponents(ids, hist.toDF("a", "b"))
      .localCheckpoint()
    def run(ops: Seq[(String, Long, Long)], lbl: DataFrame) =
      runPersisted(dir, ids, hist, 0, ops, lbl)
    // batch 0 = [(add 1,10), (rm 20)] with bound 0 → a real compaction
    // at epoch 0 (base/0 + edges/0 hold the batch's full effect)
    val phase1 = run(Seq(("add", 1L, 10L), ("rm", 20L, -1L)), labels)
    assert(phase1 === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
      21L -> 21L, 30L -> 30L, 40L -> 40L))
    // crash after the state write, before the sink commit
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$dir/_ckpt/commits/0"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/_ckpt/commits/.0.crc"))
    // restart with singleton labels: batch 0 replays (skipped — its
    // merge and tombstone MUST come from the recovered base), then
    // batch 1 merges 30/40 and re-add of tombstoned 20 dies
    val phase2 = run(Seq(("add", 30L, 40L), ("add", 20L, 21L)),
      singletons(ids))
    assert(phase2 === Map(0L -> 0L, 1L -> 0L, 10L -> 0L, 11L -> 0L,
      21L -> 21L, 30L -> 30L, 40L -> 30L),
      "skipped replay lost the compacted batch's effects, or the " +
        "tombstoned id resurrected")
    deleteTree(dir)
  }

  test("recovery ignores base/edges epochs whose snapshot never landed " +
      "(torn compaction) and reconstructs added frames from their dirs") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_mxpr_tail").toString
    Seq((0L, 0L), (1L, 0L), (2L, 2L)).toDF("doc_id", "cluster_id")
      .write.parquet(s"$dir/base/-1")
    // batch 2's snapshot: remap (2→0), tombstone 5, no override
    Seq(("r", 2L, Option(0L)), ("t", 5L, Option.empty[Long]))
      .toDF("kind", "doc_id", "cluster_id")
      .write.parquet(s"$dir/state/2")
    Seq((1L, 2L)).toDF("__a", "__b").write.parquet(s"$dir/added/2")
    // torn compaction during batch 3 (base + edges written, snapshot
    // not): both orphans must be ignored
    Seq((0L, 99L)).toDF("doc_id", "cluster_id")
      .write.parquet(s"$dir/base/3")
    Seq((9L, 9L)).toDF("__a", "__b").write.parquet(s"$dir/edges/3")
    Seq((7L, 8L)).toDF("__a", "__b").write.parquet(s"$dir/added/3")
    val Some(rec) = StreamingCcMixed.loadPersisted(spark, dir)
    assert(!rec.baseIsUniverse)
    assert(rec.base.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === Map(0L -> 0L, 1L -> 0L, 2L -> 2L))
    assert(rec.edges.isEmpty, "orphan edges epoch leaked into recovery")
    assert(rec.added.map(_.collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq) === Seq(Seq((1L, 2L))),
      "added frames should include batch 2 only (batch 3 replays)")
    assert(rec.remap === Seq(2L -> 0L))
    assert(rec.overrideRows.isEmpty)
    assert(rec.tomb === Seq(5L))
  }

  test("a persistDir with snapshots but NO eligible base epoch fails " +
      "with an explicit message, not an opaque empty-max crash") {
    import spark.implicits._
    val dir =
      java.nio.file.Files.createTempDirectory("graft_mxpr_bad").toString
    Seq(("t", 0L, Option.empty[Long]))
      .toDF("kind", "doc_id", "cluster_id")
      .write.parquet(s"$dir/state/2")
    val ex = intercept[IllegalStateException] {
      StreamingCcMixed.loadPersisted(spark, dir)
    }
    assert(ex.getMessage.contains("no base epoch"))
  }
}
