package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-processing stage (≙ reference postProcessing/: countWarnings.py,
  * distributions.py): group-counts and fixed-width histograms over the alert
  * table. Pure DataFrame ops — at scale these are single shuffles on small
  * group cardinality. */
object AlertAnalytics {

  /** Alerts per (stat, key) — countWarnings.py:20-29's 6×7 table shape —
    * ordered by (stat, key). The count is partial on the map side; the
    * final counts are sorted in one partition, which needs no range
    * sampling job or second shuffle and is fine because the result has at
    * most |stats| × |keys| rows (42 for the paper job, 760 for q19 at
    * sf0.01). */
  def counts(alerts: DataFrame, keyCol: String = "user_id"): DataFrame =
    alerts.groupBy(col("stat"), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .coalesce(1)
      .sortWithinPartitions(col("stat"), col(keyCol))

  /** 10 equal-width bins of `value` per group (distributions.py:24-47):
    * bin edges from each group's own min/max, top edge closed. NULL
    * values are excluded (a NULL propagates through the bucket arithmetic
    * and `least(NULL, bins−1)` = bins−1 — it would silently count in the
    * TOP bucket); a constant-valued group (mn == mx → zero bin width, a
    * NULL division under non-ANSI) buckets to 0, not 9. */
  def histogram(alerts: DataFrame, groupCol: String = "stat",
      valueCol: String = "m", bins: Int = 10): DataFrame = {
    val rows = alerts.where(col(valueCol).isNotNull)
    val edges = rows.groupBy(col(groupCol))
      .agg(min(col(valueCol)).as("mn"), max(col(valueCol)).as("mx"))
    val bucket: Column = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(
        floor((col(valueCol) - col("mn")) / ((col("mx") - col("mn")) / bins))
          .cast("int"),
        lit(bins - 1)))
    rows.join(broadcast(edges), groupCol)
      .select(col(groupCol), bucket.as("bucket"))
      .groupBy(col(groupCol), col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col(groupCol), col("bucket"))
  }
}
