package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed exact global ranking.
  *
  * `Window.orderBy(x)` with no partition key collapses the whole table onto
  * one task — fine at 10⁵ rows, fatal at 10⁹. This helper gets the same
  * 1-based dense row numbering scalably:
  *
  *   repartitionByRange(sortCols)      — range shuffle, p ordered partitions
  *   sortWithinPartitions(sortCols)    — local sorts, fully parallel
  *   rdd.zipWithIndex                  — contiguous global index in partition
  *                                       order == total sort order
  *
  * Ties get arbitrary consecutive ranks (like row_number) — callers use
  * ranks only in tie-invariant aggregates (k-smallest means, rank-weighted
  * sums over equal values), so the choice never changes a result.
  */
object Ranks {

  /** Appends `rankCol` = 1-based position in the total order of `sortCols`. */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
      rankCol: String): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField(rankCol, LongType, nullable = false))
    val ranked = sorted.rdd.zipWithIndex().map { case (row, i) =>
      Row.fromSeq(row.toSeq :+ (i + 1))
    }
    spark.createDataFrame(ranked, schema)
  }
}
