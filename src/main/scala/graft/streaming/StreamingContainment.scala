package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.Trigger

import graft.dedup.Dedup

/** Streaming containment DECONTAMINATION — [[Dedup.containmentAcross]]
  * served as the natural production shape (the r14 verdict's missing
  * streaming twin, the q145 pattern applied to containment): a stream of
  * suspect/benchmark passages is probed per micro-batch against the
  * STATIC corpus prefix index ([[Dedup.containmentIndex]], prepared and
  * materialized once), and exact containment hits accumulate as
  * per-batch checkpointed frames.
  *
  * Every probe's prefix (pigeonhole over corpus-df-ordered grams),
  * candidates, integer size filter, and exact intersect verify depend
  * only on its OWN grams and the static index — no probe↔probe
  * interaction — so the result set is the union of per-batch results
  * however the stream is split (StreamingContainmentSpec pins the
  * batch-split invariance; q211 gates the streamed result against q209's
  * batch oracle verbatim: one ground truth, batch and streamed route).
  *
  * The probe stage needs a per-probe window (prefix ranks within each
  * probe's grams), which Structured Streaming's incremental planner
  * rejects — but the computation is per-probe STATELESS, so foreachBatch
  * runs the full batch operator on each micro-batch: the standard recipe
  * for rich stateless transforms. Exactly-once lands via the
  * batchId-keyed frame map (a replayed batch supersedes its own entry
  * with identical content); the result unions the frames in batch
  * order. */
object StreamingContainment {

  /** Run `probeStream` (any per-row schema `mkGrams` can shingle) to
    * completion under AvailableNow, probing each micro-batch against
    * `index`; returns all hits (probeIdCol, corpusIdCol, common,
    * containment). `mkGrams` turns a batch into the (probeIdCol, grams)
    * frame — shingling is per-document, so batch shingling matches the
    * batch operator's exactly. `workDir` must be fresh for each run: the
    * hits live only in this call's memory, so a checkpoint left by an
    * earlier run would skip its committed batches and lose their hits. */
  def run(probeStream: DataFrame, index: Dedup.ContainmentIndex,
      num: Int, den: Int, workDir: String,
      mkGrams: DataFrame => DataFrame,
      probeIdCol: String = "probe_id"): DataFrame = {
    val spark = probeStream.sparkSession
    val ckpt = new org.apache.hadoop.fs.Path(s"$workDir/_ckpt")
    require(!ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(ckpt),
      "StreamingContainment.run needs a fresh workDir for each run, but " +
        s"$ckpt already exists: a reused checkpoint skips the batches it " +
        "committed, and their hits are lost")
    // per-batch hit frames accumulate as checkpointed blocks keyed by
    // batchId — a replayed batch SUPERSEDES its earlier frame, the same
    // idempotence the r18 per-batchId parquet overwrite dirs provided,
    // without paying a parquet write per batch plus a directory-glob
    // read-back of every batch's files at the end (guide §6: the sink
    // and its re-listing cost more than the probes; the r19 probe put
    // ~1/3 of q211's wall in exactly those executions). Hit volume is
    // the same either way — it was already written and re-read whole.
    val results = scala.collection.mutable.LinkedHashMap
      .empty[Long, DataFrame]
    val q = probeStream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // The batch's grams are MATERIALIZED once (bounded: one
        // micro-batch of (id, grams) rows) before probing, for two
        // measured reasons (r18 plan dump): (1) containmentProbe
        // consumes its probe frame twice (prefix rows + verify gather),
        // so an unmaterialized batch re-shingled per consumer; (2) the
        // probe's emptiness guard and the explode's inferred
        // size(grams)>0 filter push BELOW any repartition with the
        // grams alias substituted, re-evaluating the whole shingle
        // expression per row on the batch's single source split — the
        // minhashSignature trap, foreachBatch edition. Checkpointed
        // grams are attributes, so the filter costs a size() probe and
        // the shingle pass runs exactly once, post-fan-out. (Partition
        // pins on the probe stages were also tried here — 2x the task
        // time for equal wall once grams were materialized; reverted.)
        val g = graft.analytics.Graphs.flatCheckpoint(mkGrams(batch.toDF()))
        try {
          val hits = graft.analytics.Graphs.flatCheckpoint(
            Dedup.containmentProbe(g, index, num, den, probeIdCol))
          results.remove(batchId)
            .foreach(graft.analytics.Graphs.freeLocalCheckpoint)
          results(batchId) = hits
        } finally graft.analytics.Graphs.freeLocalCheckpoint(g)
      }
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // an empty probe slice yields ZERO micro-batches under AvailableNow —
    // foreachBatch never runs; return the empty hit frame (same schema
    // via the batch operator over an empty probe frame)
    if (results.nonEmpty)
      results.toSeq.sortBy(_._1).map(_._2).reduce(_ unionAll _)
    else
      Dedup.containmentProbe(
        mkGrams(spark.createDataFrame(
          java.util.Collections.emptyList[Row](), probeStream.schema)),
        index, num, den, probeIdCol)
  }
}
