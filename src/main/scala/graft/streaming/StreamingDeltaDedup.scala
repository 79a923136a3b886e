package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming incremental dedup — the streaming counterpart of
  * [[graft.dedup.Dedup.dedupDelta]]: a live ingest stream is scrubbed
  * against the STATIC digest index of an already-curated corpus (the
  * artifact a production pipeline persists between crawls), and
  * first-arrival dedup runs within the stream itself. The history check is
  * a STREAM-STATIC left join — evaluated per micro-batch against the
  * unchanged static frame, no state, no watermark — and only digests NOT
  * in history ever touch the state store: an in-history arrival is decided
  * (keep = false) statelessly, so lifetime state is one boolean per
  * distinct NOVEL document, not per arrival.
  *
  * Semantics vs batch: within one digest, `inHistory` is constant (same
  * digest ⇒ same index membership), so the batch rule "keep = not in
  * history AND minimal id" degrades only in WHICH single copy survives:
  * the stream keeps the first ARRIVAL (the only order a stream can know),
  * the batch the minimal id — identical when arrival follows id order
  * (StreamingDeltaDedupSpec pins it; q145 runs it under the driver gate).
  * Decisions are emitted exactly once per arrival, never retracted — the
  * append-sink shape. State is never expired: a novel digest stays in
  * the store for the query's life, so a later copy is always dropped.
  */
object StreamingDeltaDedup {

  final case class DeltaRow(unitKey: String, docId: Long, inHistory: Boolean)
  final case class DeltaDecision(docId: Long, inHistory: Boolean,
      keep: Boolean)

  /** Digest the delta stream and flag history membership via the
    * stream-static left join. `histIdx` is the digest index frame — any
    * frame with a `__k` md5 column (pass a corpus through
    * [[digests]] to build one). Normalization and the NULL-text guard
    * match the batch operator exactly, so stream and batch group
    * identically. */
  def rows(delta: DataFrame, histIdx: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[DeltaRow] = {
    import delta.sparkSession.implicits._
    delta.withColumn("__k", digestCol(idCol, textCol, "StreamingDeltaDedup"))
      .join(histIdx.select(col("__k")).distinct()
        .withColumn("__in_hist", lit(true)), Seq("__k"), "left_outer")
      .select(col("__k").as("unitKey"), col(idCol).cast("long").as("docId"),
        coalesce(col("__in_hist"), lit(false)).as("inHistory"))
      .as[DeltaRow]
  }

  /** The digest index of a curated corpus — what [[rows]] joins against;
    * persist this between runs instead of re-scanning history text. */
  def digests(corpus: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    corpus.select(digestCol(idCol, textCol, "StreamingDeltaDedup")
      .as("__k")).distinct()

  private def digestCol(idCol: String, textCol: String, who: String) = {
    val norm = regexp_replace(trim(lower(col(textCol))), "\\s+", " ")
    when(col(textCol).isNotNull, md5(norm)).otherwise(
      raise_error(concat(lit(s"$who: NULL $textCol at "),
        col(idCol).cast("string"))))
  }

  /** Keep/drop decision per arrival, streamed. Within a micro-batch a
    * digest's rows are decided in docId order (the group iterator's
    * physical order is partition-dependent; the sort makes the
    * intra-batch winner deterministic and equal to the batch operator's
    * min-id rule). In-history groups never write state. */
  def decisions(rows: Dataset[DeltaRow]): Dataset[DeltaDecision] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.unitKey)
      .flatMapGroupsWithState[Boolean, DeltaDecision](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[Boolean]) =>
          val batch = it.toVector.sortBy(_.docId)
          if (batch.head.inHistory) {
            // known digest: stateless drop — nothing enters the store
            batch.iterator.map(r =>
              DeltaDecision(r.docId, inHistory = true, keep = false))
          } else {
            var seen = state.getOption.getOrElse(false)
            val out = batch.map { r =>
              val keep = !seen
              seen = true
              DeltaDecision(r.docId, inHistory = false, keep)
            }
            state.update(seen)
            out.iterator
          }
      }
  }
}
