package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.measures.SortedWindow

/** A numbered sample on a keyed series (the reference's CSV row, generalized
  * from the single global stream to per-key streams — SURVEY §2.5 Q8). */
case class Sample(key: Long, seq: Long, v: Double)

/** Alert record (reference Tuple4, with the constant `count` field replaced
  * by the window-end seq — SURVEY §2.5 Q7 deliberate deviation). */
case class StreamAlert(key: Long, seq: Long, stat: String, m: Double, thr: Double)

/** Ring-buffer state per key: a fixed n-slot array with `head` = the next
  * write slot and `count` ≤ n slots filled; chronological (oldest-first)
  * order is `buf((head + i) % n)` once full. This is the arrival ring of a
  * [[SortedWindow]], so the state holds n doubles per key whatever the
  * window's sorted copy costs to rebuild. `lastSeq` is the replay guard:
  * rows at or below it (late arrivals, or source replays that slipped past
  * checkpoint dedup) are skipped instead of being double-applied to the
  * window. */
case class Ring(buf: Array[Double], head: Int, count: Int, lastSeq: Long)

/** Count-based sliding window (size n, slide 1) for Structured Streaming —
  * the operator Spark lacks natively (SURVEY §7.4). countWindowAll(30,1)
  * semantics from StreamingJob.java:435, generalized to keyed streams. It
  * is the incremental form of the batch alert kernel
  * `AlertPipeline.windowAlerts` and runs the same fold:
  *
  *  - state per key = the [[Ring]] of the trailing ≤ n values;
  *  - on a key's first row in a micro-batch the ring is loaded into a
  *    [[SortedWindow]] (one sort of ≤ n values), the batch's rows are
  *    pushed in `seq` order (arrival order is the query contract; the
  *    explicit seq makes it restart-stable) and the ring is written back
  *    once at the end;
  *  - every push that leaves a full window evaluates the six measures and
  *    the threshold predicate with `SortedWindow.alerts`, the batch
  *    kernel's code, so both give the same alerts with bit-identical `m`;
  *  - a row whose `seq` is at or below its key's last pushed `seq` (a
  *    late row, a duplicate `seq`, a replay) is skipped by the
  *    [[Ring]]`.lastSeq` guard. The batch kernel instead requires `seq`
  *    unique within a key and fails on a duplicate, so the two agree
  *    only on input whose `seq` is unique per key and arrives in order.
  *
  * Checkpointing (a `checkpointLocation` on the sink) then gives restart
  * semantics the reference never had.
  */
object CountSlidingWindow {

  /** Thresholded alerts per window; thresholds are the 6-entry side table
    * (stats.csv analog) captured as a broadcast-sized map, a missing
    * statistic never alerts. */
  def alerts(ds: Dataset[Sample], thresholds: Map[String, Double], n: Int,
      shortfall: Double = 0.01): Dataset[StreamAlert] = {
    require(n >= 2, s"window size must be at least 2, got $n")
    val spark = ds.sparkSession
    import spark.implicits._
    val live = SortedWindow.cells(thresholds.get)
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[Ring, StreamAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[Sample], state: GroupState[Ring]) =>
          val window = new SortedWindow(n)
          var last = Long.MinValue
          state.getOption
            .filter(_.buf.length == n) // window size changed → reset state
            .foreach { r => window.load(r.buf, r.head, r.count); last = r.lastSeq }
          val out = Array.newBuilder[StreamAlert]
          it.toArray.sortBy(_.seq).foreach { s =>
            if (s.seq > last) { // replay/late-row guard (see Ring.lastSeq)
              window.push(s.v)
              last = s.seq
              out ++= window.alerts(live, shortfall)(StreamAlert(key, s.seq, _, _, _))
            }
          }
          val (buf, head, count) = window.arrivals
          state.update(Ring(buf, head, count, last))
          out.result().iterator
      }
  }
}
