package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming EWMA — the online-feature counterpart of
  * [[graft.analytics.Recurrence.ewma]] (q196): events stream in per
  * entity, each arrival's exponentially weighted moving average
  * (`e_1 = x_1`, `e_i = α·x_i + (1−α)·e_{i−1}`) is emitted in its
  * micro-batch, and the carried state is EXACTLY ONE DOUBLE per key —
  * the canonical feature-store online aggregate (latest decayed value
  * per user/device/series), bounded regardless of stream length.
  *
  * Semantics vs batch: the batch operator folds in global (ts, id)
  * order; a stream folds in ARRIVAL order, sorted by (ts, id) within
  * each micro-batch (the group iterator's physical order is
  * partition-dependent, so the sort makes intra-batch folds
  * deterministic). When arrival order respects (ts, id) across batches
  * — an ingest replaying a time-ordered log, or the gate's single
  * AvailableNow batch — streamed equals batch exactly
  * (StreamingEwmaSpec pins both the 1-batch and split-stream cases).
  * Out-of-order arrivals fold where they land: the honest streaming
  * contract for a recurrence, stated rather than hidden (a watermark
  * + re-sort buffer would trade state for reordering tolerance).
  *
  * Emissions are append-mode, exactly once per event, never retracted.
  * `idleTtl` bounds lifetime state like the other streaming operators:
  * a key idle past the TTL is forgotten and its next event re-seeds
  * (`e = x`) — the stated loss is the decayed tail of a series that
  * went quiet for the TTL, which the decay had already shrunk
  * geometrically. */
object StreamingEwma {

  final case class EventRow(key: Long, ts: Long, id: Long, x: Double)
  final case class EwmaRow(key: Long, ts: Long, id: Long, x: Double,
      ewma: Double)

  /** Typed rows from a streaming events frame — pure map stage. A row
    * whose key, ts, id or value is null is dropped before the `EventRow`
    * decode, as the batch EWMA queries (q196, q201) drop it; it would
    * otherwise fail the query. */
  def eventRows(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", idCol: String = "event_id",
      valueCol: String = "value"): Dataset[EventRow] = {
    import events.sparkSession.implicits._
    events.select(col(keyCol).cast("long").as("key"),
      col(tsCol).cast("long").as("ts"), col(idCol).cast("long").as("id"),
      col(valueCol).cast("double").as("x"))
      .where(col("key").isNotNull && col("ts").isNotNull &&
        col("id").isNotNull && col("x").isNotNull)
      .as[EventRow]
  }

  /** Per-event EWMA, streamed; one double of state per key. */
  def attach(rows: Dataset[EventRow], alpha: Double,
      idleTtl: Option[java.time.Duration] = None): Dataset[EwmaRow] = {
    require(alpha > 0.0 && alpha < 1.0,
      s"StreamingEwma: alpha must be in (0,1), got $alpha")
    import rows.sparkSession.implicits._
    val timeoutConf =
      if (idleTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[Double, EwmaRow](
        OutputMode.Append, timeoutConf) {
        (key, it, state: GroupState[Double]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var e = state.getOption
            val out = it.toVector.sortBy(r => (r.ts, r.id)).map { r =>
              val next = e match {
                case Some(prev) => alpha * r.x + (1.0 - alpha) * prev
                case None => r.x
              }
              e = Some(next)
              EwmaRow(r.key, r.ts, r.id, r.x, next)
            }
            e.foreach(state.update)
            idleTtl.foreach(d => state.setTimeoutDuration(d.toMillis))
            out.iterator
          }
      }
  }
}
