package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (as-of) join — the time-series / feature-store operator
  * Spark's join zoo lacks: for every left row, attach the LATEST right
  * row of the same key whose timestamp is ≤ the left row's (ties at
  * equal timestamps count as visible). The canonical uses: trades←quotes,
  * event←latest-model-score, request←latest-config.
  *
  * Scale shape — ONE shuffle, no range probe: both sides union into one
  * frame tagged by side, shuffle once on the key, and a single per-key
  * ordered window pass (`last(..., ignoreNulls)` over rows-unbounded-
  * preceding) carries the right row forward to the left rows after it.
  * This is the standard distributed as-of form: cost is
  * sort-within-partition, state is one struct, and skew behaves exactly
  * like any keyed aggregation (a hot key is one big sorted run, never a
  * nested loop). The naive alternatives both fail at 100 TB: a theta-join
  * `l.ts >= r.ts` is a per-key cross product, and a per-left-row
  * subquery probe is a join per row.
  *
  * Contract, that of SQL's `ASOF LEFT JOIN`:
  *   - the right side's value columns travel as ONE struct, so every
  *     attached value comes from the SAME latest right row, and that
  *     row's NULLs are attached as NULLs (never back-filled from an older
  *     row): `last(struct, ignoreNulls)` skips only the left rows, whose
  *     struct is null;
  *   - a right row with a NULL key column or a NULL timestamp matches
  *     nothing and is dropped before the union (unfiltered, a NULL
  *     timestamp sorts first and would be carried to every left row
  *     before the key's first real right row);
  *   - left rows before any right row, or with a NULL key or timestamp,
  *     get NULL (the honest answer; coalesce downstream if a default is
  *     wanted);
  *   - `right` must be UNIQUE per (key, ts) — pre-aggregate it (e.g. max
  *     per key+ts) if it is not; with duplicates the equal-ts winner
  *     would be partition-order-dependent, silently nondeterministic.
  */
object AsofJoin {

  /** As-of join `left` (any columns) with `right` (keyCols ++ tsCol ++
    * valueCols); every `valueCols` entry `c` lands on the left frame as
    * `asof_c`. `tsCol` must exist on both sides under the same name and
    * an ordered type. */
  def asof(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String]): DataFrame = {
    val u = unionTagged(left, right, keyCols, tsCol, valueCols)
    // right rows sort BEFORE left rows at an equal timestamp, so a value
    // stamped at exactly t is visible to a left row at t
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unpack(u.withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(w))
      .where(col("__isL") === 1), valueCols)
  }

  /** Skew-hardened [[asof]] — identical results (AsofJoinSpec proves
    * equality on random inputs across bucket widths), different physical
    * shape for a HOT KEY. The plain form sorts each key in ONE window
    * partition: a key holding 10⁹ rows of a 100 TB corpus becomes one
    * straggler task (or an OOM). Here time is cut into width-`bucket`
    * ranges and the carry of the same right-row struct runs in two
    * skew-bounded passes:
    *
    *   1. within (key, bucket): the same ordered carry — partitions are
    *      now (key, bucket), so a hot key spreads over its time range;
    *   2. across buckets: each bucket's LAST right row (one keyed
    *      `max_by(struct, ts)`) forms a per-key spine of at most
    *      #buckets rows; one window over the SPINE (not the rows)
    *      prefix-carries it, and left rows whose within-bucket carry is
    *      null take the spine's struct. A matched right row whose values
    *      are all null is still a non-null struct, so it never falls
    *      through to an earlier bucket.
    *
    * Cost: two extra exchanges on (key, bucket)-sized frames; the
    * per-key serial work drops from the key's row count to its bucket
    * count. Pick `bucket` so a busy key has ≫ partitions-many buckets
    * (e.g. an hour of ns for event streams). */
  def asofBucketed(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valueCols: Seq[String], bucket: Long): DataFrame = {
    require(bucket >= 1, s"AsofJoin: bucket width must be >= 1, got $bucket")
    val u = unionTagged(left, right, keyCols, tsCol, valueCols)
      .withColumn("__bkt", floor(col(tsCol) / lit(bucket)).cast("long"))
    val keyBkt = (keyCols :+ "__bkt").map(col)
    // pass 1: ordered carry WITHIN each (key, bucket)
    val wLocal = Window.partitionBy(keyBkt: _*)
      .orderBy(col(tsCol).asc, col("__isL").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = u
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(wLocal))
      .where(col("__isL") === 1)
    // pass 2: per-key spine of bucket-final right rows (left rows have no
    // ordering, so max_by skips them), prefix-carried over STRICTLY
    // EARLIER buckets (within-bucket rows came from pass 1)
    val wCarry = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__bkt").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = u.groupBy(keyBkt: _*)
      .agg(max_by(col("__rv"), when(col("__isL") === 0, col(tsCol)))
        .as("__bl"))
      .select(keyBkt :+
        last(col("__bl"), ignoreNulls = true).over(wCarry).as("__ci"): _*)
    // a left row with a NULL key or bucket has no spine row: keep it
    val filled = local.join(carry, keyCols :+ "__bkt", "left")
      .withColumn("__rv", coalesce(col("__rv"), col("__ci")))
    unpack(filled, valueCols)
  }

  /** Columns of the union frame that are not the left side's. */
  private val Internal = Set("__rv", "__isL", "__bkt", "__ci")

  /** Shared construction: both sides union-tagged into one frame —
    * (keys…, ts, left-only columns (null on right rows), `__rv`: the
    * struct of the right row's value columns (null on left rows),
    * `__isL`). */
  private def unionTagged(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String,
      valueCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "AsofJoin: need at least one key column")
    require(valueCols.nonEmpty, "AsofJoin: need at least one value column")
    valueCols.foreach(c => require(right.columns.contains(c),
      s"AsofJoin: right side lacks value column $c"))
    val leftOther =
      left.columns.toSeq.filterNot(c => keyCols.contains(c) || c == tsCol)
    valueCols.foreach(c => require(!left.columns.contains(s"asof_$c"),
      s"AsofJoin: left already has a column named asof_$c"))
    val lTypes = left.schema.fields.map(f => f.name -> f.dataType).toMap
    val keyTs: Seq[Column] = (keyCols :+ tsCol).map(col)
    val rv = struct(valueCols.map(col): _*)
    val l = left.select(keyTs ++ leftOther.map(col) :+
      lit(null).cast(right.select(rv).schema.head.dataType).as("__rv") :+
      lit(1).as("__isL"): _*)
    val r = right.where(keyTs.map(_.isNotNull).reduce(_ && _))
      .select(keyTs ++
        leftOther.map(c => lit(null).cast(lTypes(c)).as(c)) :+
        rv.as("__rv") :+ lit(0).as("__isL"): _*)
    l.unionByName(r)
  }

  /** The left rows of a carried union frame, each `valueCols` entry `c`
    * unpacked from the carried struct as `asof_c`. */
  private def unpack(df: DataFrame, valueCols: Seq[String]): DataFrame =
    df.select(df.columns.toSeq.filterNot(Internal).map(col) ++
      valueCols.map(c => col("__rv").getField(c).as(s"asof_$c")): _*)
}
