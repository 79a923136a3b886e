package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming passage-grain exact dedup — the incremental counterpart of
  * [[graft.dedup.Dedup.dedupUnits]] (q108): units stream in, each
  * distinct normalized unit KEEPS its first arrival and every later copy
  * is emitted as a drop decision, in the micro-batch it arrives.
  *
  * Semantics vs batch: the batch operator keeps the globally MINIMAL
  * (doc, idx) occurrence — an order the stream cannot know ahead of time
  * — so the streaming contract is keep-FIRST-ARRIVAL. When units arrive
  * in (doc, idx) order (an ingest replaying a sorted corpus), the two
  * agree exactly (StreamingUnitDedupSpec pins it); out-of-order arrival
  * keeps a different but equally-valid single representative per unit.
  * Decisions are emitted exactly once per unit occurrence and never
  * retracted — the append-sink shape.
  *
  * State: one boolean-sized entry per DISTINCT normalized unit (the key
  * IS the md5 digest — 32 chars however long the passage). Within a
  * micro-batch a digest's rows are decided in (doc, idx) order — the
  * group iterator's physical order is partition-dependent, so the sort
  * makes the intra-batch winner deterministic and equal to the batch
  * operator's. State is never expired: every distinct unit seen stays
  * in the store for the query's life, so a recurrence however late is
  * still dropped. */
object StreamingUnitDedup {

  final case class UnitRow(unitKey: String, docId: Long, idx: Long)
  final case class UnitDecision(docId: Long, idx: Long, unitKey: String,
      keep: Boolean)

  /** (unitKey, docId, idx) rows from a streaming (doc_id, idx, unit)
    * frame — the SAME normalization + digest as the batch operator, so
    * stream and batch group identically; a pure map stage. */
  def unitRows(units: DataFrame, docCol: String = "doc_id",
      idxCol: String = "unit_idx", unitCol: String = "unit")
      : Dataset[UnitRow] = {
    import units.sparkSession.implicits._
    units.select(
      md5(regexp_replace(trim(lower(col(unitCol))), "\\s+", " "))
        .as("unitKey"),
      col(docCol).cast("long").as("docId"),
      col(idxCol).cast("long").as("idx"))
      .as[UnitRow]
  }

  /** Keep/drop decision per unit occurrence, streamed — each occurrence
    * decided exactly once, in its arrival micro-batch. */
  def decisions(rows: Dataset[UnitRow]): Dataset[UnitDecision] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.unitKey)
      .flatMapGroupsWithState[Boolean, UnitDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[Boolean]) =>
          var seen = state.getOption.getOrElse(false)
          // (doc, idx) order within the batch: deterministic winner
          val out = it.toVector.sortBy(r => (r.docId, r.idx)).map { r =>
            val keep = !seen
            seen = true
            UnitDecision(r.docId, r.idx, key, keep)
          }
          state.update(seen)
          out.iterator
      }
  }
}
