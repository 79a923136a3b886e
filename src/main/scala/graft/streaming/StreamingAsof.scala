package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** Stream-static as-of attachment — the feature-SERVING shape of
  * [[graft.analytics.AsofJoin]]: every streamed row looks up the latest
  * static right-side value at or before its timestamp, from a per-key
  * ts-sorted index that rides a broadcast.
  *
  * Contract: the right side is a BOUNDED artifact relative to the stream
  * (a feature table, a config history, a price book) — the same
  * smallness assumption every broadcast dimension join makes, enforced
  * loudly by `maxIndexRows`. The lookup itself is a pure per-partition
  * map (binary search per row, no shuffle, no state store), so it runs
  * identically over a batch frame or a streaming one in append mode —
  * the spec proves batch equality with AsofJoin.asof, and the gated
  * query proves the streamed output hash-matches the batch oracle. */
object StreamingAsof {

  /** Append `outCol` (nullable DOUBLE) to `df`: the `valueCol` of the
    * latest `right` row with `right.tsCol <= df.tsCol` for the row's
    * `keyCol` (long key, long timestamps — the event-stream shape), with
    * [[graft.analytics.AsofJoin]]'s null contract: right rows with a NULL
    * key or ts are dropped before the index is built, a matched NULL
    * value is served as NULL, and streamed rows with a NULL key or ts,
    * keyed before any right row, or to an unseen key get NULL. */
  def attach(df: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, valueCol: String, outCol: String,
      maxIndexRows: Int = 1 << 22): DataFrame = {
    val rows = right
      .select(col(keyCol).cast("long").as("k"),
        col(tsCol).cast("long").as("t"), col(valueCol).cast("double").as("v"))
      .where(col("k").isNotNull && col("t").isNotNull)
      .collect()
    require(rows.length <= maxIndexRows,
      s"StreamingAsof: right side has ${rows.length} rows, past the " +
        s"$maxIndexRows broadcast-index bound — this is the SERVING " +
        "shape; use AsofJoin for table-vs-table joins")
    val idx: Map[Long, (Array[Long], Array[java.lang.Double])] = rows
      .groupBy(_.getLong(0))
      .map { case (k, g) =>
        val sorted = g.sortBy(_.getLong(1))
        k -> ((sorted.map(_.getLong(1)),
          sorted.map(_.getAs[java.lang.Double](2))))
      }
    val bc = df.sparkSession.sparkContext.broadcast(idx)
    val outSchema = df.schema.add(outCol, DoubleType, nullable = true)
    val (ki, ti) = (df.schema.fieldIndex(keyCol), df.schema.fieldIndex(tsCol))
    df.mapPartitions { it =>
      val m = bc.value
      it.map { r =>
        val v: java.lang.Double =
          if (r.isNullAt(ki) || r.isNullAt(ti)) null
          else m.get(r.getAs[Number](ki).longValue()) match {
            case Some((ts, vs)) =>
              val t = r.getAs[Number](ti).longValue()
              // rightmost i with ts(i) <= t
              var lo = 0
              var hi = ts.length - 1
              var ans = -1
              while (lo <= hi) {
                val mid = (lo + hi) >>> 1
                if (ts(mid) <= t) { ans = mid; lo = mid + 1 } else hi = mid - 1
              }
              if (ans >= 0) vs(ans) else null
            case None => null
          }
        Row.fromSeq(r.toSeq :+ v)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
