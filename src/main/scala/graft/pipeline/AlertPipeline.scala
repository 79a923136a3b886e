package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}

import graft.gen.PopulationStats
import graft.measures.SortedWindow

/** The reference's core dataflow (SURVEY §3.1), generalized Spark-first:
  * sliding count-window (size n, slide 1) per key over an ordered numeric
  * series → six statistics per full window → threshold shortfall alerts.
  *
  * The reference runs ONE global series at parallelism 1
  * (StreamingJob.java:431,435). Here the series key is a parameter, so a
  * million independent portfolios scale across executors; the reference
  * workload is the single-key special case (SURVEY §2.5 Q8).
  *
  * Two shapes of the same dataflow live here, and both run the one
  * measure fold, `SortedWindow.measures`:
  *  - [[windowAlerts]], the alert kernel both batch entry points run
  *    (`ReferencePipeline.alerts`, [[eventAlerts]]): one hash shuffle by
  *    key, one sort by (key, ord), then one walk per partition that slides
  *    a [[graft.measures.SortedWindow]] row by row, evaluates the six
  *    measures and the threshold predicate in the same loop and emits only
  *    alert rows;
  *  - [[windowed]] + [[withMeasures]]: a `collect_list` frame sorted by
  *    `sort_array`, then the fold over each window's array. The window
  *    queries q05–q09 and q33 use it.
  *
  * The thresholds come from `graft.gen.PopulationStats`, one job for the
  * samples' 7 series and for the events' one value column.
  */
object AlertPipeline {
  val WindowSize = 30
  val Shortfall = 0.01

  /** Adds `rn` (1-based row number per key) and `xs` (ascending-sorted array
    * of the trailing ≤n values), keeping only full windows (rn ≥ n).
    * One sort per window; all six measures derive from `xs`.
    *
    * A row whose `key`, `ord` or `x` is null is dropped BEFORE numbering,
    * as [[windowAlerts]] drops it (the reference's drop-malformed-at-parse
    * contract): row_number counts every row but collect_list silently
    * skips nulls, so an unguarded null `x` would leave 29 values in a
    * "30-row" window and corrupt all n windows covering it (divides by n,
    * shifted order statistics, misaligned rank weights). */
  def windowed(df: DataFrame, key: Column, ord: Column, x: Column,
      n: Int = WindowSize): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(ord)
    val wFrame = wOrd.rowsBetween(-(n - 1), 0)
    df.where(key.isNotNull && ord.isNotNull && x.isNotNull)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("xs", sort_array(collect_list(x).over(wFrame)))
      .where(col("rn") >= n)
  }

  /** Wide per-window measure table from a [[windowed]] result: the `keys`
    * columns, then `m_mean, m_median, m_q10, m_tail, m_sm1, m_sm2` (DOUBLE,
    * `Measures.names` order). One `mapPartitions` over the
    * `(keys…, xs)` projection runs `SortedWindow.measures` on each
    * window's already-sorted `xs`, so the measures are bit for bit those
    * of [[windowAlerts]]. Each `xs` must hold exactly `n` non-null values,
    * as [[windowed]] emits them.
    *
    * The tail mean of a window shorter than 10 is NaN (0.0 / 0), as in
    * the kernel; the Catalyst column form this replaced gave null there
    * with `spark.sql.ansi.enabled=false` and raised DIVIDE_BY_ZERO with it
    * on. */
  def withMeasures(windowedDf: DataFrame, keys: Seq[Column],
      n: Int = WindowSize): DataFrame = {
    require(n >= 2, s"window size must be at least 2, got $n")
    val input = windowedDf.select(keys :+ col("xs"): _*)
    val k = keys.length
    val schema = StructType(input.schema.take(k) ++ MeasureColumns.map(
      StructField(_, DoubleType, nullable = false)))
    input.mapPartitions { rows =>
      val xs = new Array[Double](n)
      val out = new Array[Double](MeasureColumns.length)
      rows.map { r =>
        val window = r.getSeq[Double](k)
        require(window.length == n, s"a window of ${window.length} values, not $n")
        window.copyToArray(xs)
        SortedWindow.measures(xs, n, out)
        Row.fromSeq((0 until k).map(r.get) ++ out)
      }
    }(Encoders.row(schema))
  }

  private val MeasureColumns =
    Seq("m_mean", "m_median", "m_q10", "m_tail", "m_sm1", "m_sm2")

  /** Threshold-shortfall alerts over the sliding count windows (size `n`,
    * slide 1) of each `key`'s series in `ord` order: each window's six
    * measures against their thresholds, under the reference's shortfall
    * predicate (`SortedWindow.alert`).
    *
    * Output: (key, ord, stat, m, thr), one row per alerting (window, stat);
    * `key` and `ord` keep their input types, `m` and `thr` are doubles.
    *
    * `thresholds` has columns `stat` and `thr`, and optionally the `key`
    * column: a keyed row applies to its key's series, a table without the
    * key column applies to every key. It is collected to the driver (the
    * reference's has 42 rows). Each (stat, key) cell may appear at most
    * once (`require`); a missing cell, a null `thr` or a threshold row
    * with a null key never alerts.
    *
    * Input contract: a row whose `key`, `ord` or `x` is null is dropped
    * before the walk, so it starts no series and fills no window slot;
    * `StreamingEventAlerts.alerts` drops the same rows.
    *
    * Plan: drop null `key`/`ord`/`x` → hash shuffle by key → sort within
    * partitions by (key, ord) → one `mapPartitions` walk that slides one [[SortedWindow]]
    * per key and evaluates measures and predicate in the same loop. There
    * is no window operator, array column, join or per-window sort; one
    * key's series is walked by one task. `ord` must be unique within a key,
    * as for [[windowed]]: tied rows would reach the window in the
    * shuffle's arrival order, so the walk fails (`require`, naming the
    * key and `ord`) on a duplicate instead of giving alerts that change
    * from run to run. The stream's side of this contract:
    * `CountSlidingWindow` skips a row at or below its key's last `seq`.
    *
    * Divisions by zero (the tail mean of a window shorter than 10; a
    * threshold of exactly −1) give no alert. */
  def windowAlerts(df: DataFrame, key: String, ord: String, x: String,
      thresholds: DataFrame, n: Int = WindowSize,
      shortfall: Double = Shortfall): DataFrame = {
    require(n >= 2, s"window size must be at least 2, got $n")
    val input = df.where(col(key).isNotNull && col(ord).isNotNull && col(x).isNotNull)
      .select(col(key), col(ord), col(x).cast(DoubleType))
    val keyed = thresholds.columns.contains(key)
    val cells = thresholdCells(thresholds, key, input.schema(0).dataType, keyed)
    val schema = StructType(input.schema.take(2) ++ Seq(
      StructField("stat", StringType, nullable = false),
      StructField("m", DoubleType, nullable = false),
      StructField("thr", DoubleType, nullable = false)))
    input
      .repartition(col(key))
      .sortWithinPartitions(key, ord)
      .mapPartitions { rows =>
        val window = new SortedWindow(n)
        var current: Any = null
        var lastOrd: Any = null
        var live: Array[(Int, Double)] = null // (stat index, threshold) of the current key
        rows.flatMap { r =>
          val k = r.get(0)
          val o = r.get(1)
          if (live == null || k != current) {
            current = k
            window.clear()
            val cellKey = if (keyed) k else AllKeys
            live = SortedWindow.cells(stat => cells.get((stat, cellKey)))
          } else {
            // tied rows would reach the window in shuffle-arrival order
            require(o != lastOrd, s"windowAlerts: duplicate $ord = $o " +
              s"within $key = $k; $ord must be unique within a key")
          }
          lastOrd = o
          window.push(r.getDouble(2))
          window.alerts(live, shortfall)((stat, m, t) => Row(k, o, stat, m, t))
        }
      }(Encoders.row(schema))
  }

  /** Key component of the cells of a threshold table without a key column. */
  private case object AllKeys

  /** The threshold table as a driver map (stat, key) → thr, the key cast to
    * the series key's type. */
  private def thresholdCells(thresholds: DataFrame, key: String,
      keyType: DataType, keyed: Boolean): Map[(String, Any), Double] = {
    val cols = Seq(col("stat").cast(StringType), col("thr").cast(DoubleType)) ++
      (if (keyed) Seq(col(key).cast(keyType)) else Nil)
    val cells = thresholds.select(cols: _*).collect()
      // a null stat or key joins no window
      .filter(r => !r.isNullAt(0) && !(keyed && r.isNullAt(2)))
      .map(r => (r.getString(0), if (keyed) r.get(2) else AllKeys) -> r)
    cells.groupBy(_._1).foreach { case ((stat, k), rs) =>
      require(rs.length == 1, s"threshold table has ${rs.length} rows for the cell " +
        s"(stat = '$stat'${if (keyed) s", $key = $k" else ""})")
    }
    cells.collect { case (cell, r) if !r.isNullAt(1) => cell -> r.getDouble(1) }.toMap
  }

  /** End-to-end alert query over the driver `events` table: per-user sliding
    * 30-row windows over `value`, thresholds = population statistics of the
    * whole value column (`PopulationStats.columnThresholds`), reference
    * alert predicate (SURVEY §2.5 Q6). Rows with a null `user_id`,
    * `event_id` or `value` are dropped, as [[windowAlerts]] states.
    * Output: (user_id, event_id, stat, m, thr). */
  def eventAlerts(events: DataFrame, n: Int = WindowSize): DataFrame = {
    // deliberately NOT cached: the threshold build (6 driver-side numbers;
    // PopulationStats caches nothing either) and the alert kernel each read
    // the source on their own, and callers that reuse the result cache IT
    // (the Caches "alerts" tag) — a cache here would pin the projected
    // source for the session lifetime, outside Caches.evict's reach
    val ev = events
      .select(col("user_id"), col("event_id"), col("value").cast("double").as("v"))
    // the 6-row (stat, thr) table has no user_id column, so every
    // threshold applies to every user's series
    windowAlerts(ev, "user_id", "event_id", "v",
      PopulationStats.columnThresholds(ev, col("v")), n, Shortfall)
  }
}
