package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}

import graft.measures.{Measures, SortedWindow}

/** The reference's core dataflow (SURVEY §3.1), generalized Spark-first:
  * sliding count-window (size n, slide 1) per key over an ordered numeric
  * series → six statistics per full window → threshold shortfall alerts.
  *
  * The reference runs ONE global series at parallelism 1
  * (StreamingJob.java:431,435). Here the series key is a parameter, so a
  * million independent portfolios scale across executors; the reference
  * workload is the single-key special case (SURVEY §2.5 Q8).
  *
  * Two shapes of the same dataflow live here:
  *  - [[windowAlerts]], the alert kernel both batch entry points run
  *    (`ReferencePipeline.alerts`, [[eventAlerts]]): one hash shuffle by
  *    key, one sort by (key, ord), then one walk per partition that slides
  *    a [[graft.measures.SortedWindow]] row by row, evaluates the six
  *    measures and the threshold predicate in the same loop and emits only
  *    alert rows;
  *  - [[windowed]] + [[withMeasures]], the declarative column form
  *    (`collect_list` frame → `sort_array` → [[Measures]] array folds).
  *    The window queries q04–q09 use it, and it is the test oracle of the
  *    kernel: both compute bit-identical measures.
  */
object AlertPipeline {
  val WindowSize = 30
  val Shortfall = 0.01

  /** Adds `rn` (1-based row number per key) and `xs` (ascending-sorted array
    * of the trailing ≤n values), keeping only full windows (rn ≥ n).
    * One sort per window; all six measures derive from `xs`.
    *
    * Null samples are dropped BEFORE numbering (the reference's
    * drop-malformed-at-parse contract): row_number counts every row but
    * collect_list silently skips nulls, so an unguarded null would leave
    * 29 values in a "30-row" window and corrupt all n windows covering it
    * (divides by n, shifted order statistics, misaligned rank weights). */
  def windowed(df: DataFrame, key: Column, ord: Column, x: Column,
      n: Int = WindowSize): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(ord)
    val wFrame = wOrd.rowsBetween(-(n - 1), 0)
    df.where(x.isNotNull)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("xs", sort_array(collect_list(x).over(wFrame)))
      .where(col("rn") >= n)
  }

  /** Wide per-window measure table from a [[windowed]] result: key cols +
    * one column per measure. The window mean is aliased in its own
    * projection before sm1/sm2 consume it — inlined into their
    * per-element lambdas it would be re-folded per element, turning O(n)
    * windows into O(n²). No cache is needed for that: CollapseProject
    * refuses to inline a non-cheap alias referenced more than once, so
    * the mean stays a materialized column (plan-audited); a cache here
    * would pin the full window table in executor storage for the session
    * lifetime, unreachable by Caches.evict. */
  def withMeasures(windowedDf: DataFrame, keys: Seq[Column],
      n: Int = WindowSize): DataFrame = {
    val base = windowedDf
      .select(keys :+ col("xs"): _*)
      .withColumn("m_mean", Measures.mean(col("xs"), n))
    base.select(keys ++ Seq(
      col("m_mean"),
      Measures.median(col("xs"), n).as("m_median"),
      Measures.q10(col("xs"), n).as("m_q10"),
      Measures.tailMean(col("xs"), n).as("m_tail"),
      Measures.sm1From(col("m_mean"), col("xs"), n).as("m_sm1"),
      Measures.sm2From(col("m_mean"), col("xs"), n).as("m_sm2")): _*)
  }

  /** Threshold-shortfall alerts over the sliding count windows (size `n`,
    * slide 1) of each `key`'s series in `ord` order: the fused form of
    * `withMeasures(windowed(…))` → `stack` unpivot → threshold join →
    * `Measures.alertPredicate`, with the same rows and bit-identical `m`.
    *
    * Output: (key, ord, stat, m, thr), one row per alerting (window, stat);
    * `key` and `ord` keep their input types, `m` and `thr` are doubles.
    *
    * `thresholds` has columns `stat` and `thr`, and optionally the `key`
    * column: a keyed row applies to its key's series, a table without the
    * key column applies to every key. It is collected to the driver (the
    * reference's has 42 rows). Each (stat, key) cell may appear at most
    * once (`require`); a missing cell, a null `thr` or a null key never
    * alerts.
    *
    * Plan: drop null `x` → hash shuffle by key → sort within partitions by
    * (key, ord) → one `mapPartitions` walk that slides one [[SortedWindow]]
    * per key and evaluates measures and predicate in the same loop. There
    * is no window operator, array column, join or per-window sort; one
    * key's series is walked by one task. `ord` must be unique within a key,
    * as for [[windowed]].
    *
    * Divisions by zero (the tail mean of a window shorter than 10; a
    * threshold of exactly −1) give no alert, as the column form does with
    * `spark.sql.ansi.enabled=false`; with ANSI on, the column form raises
    * DIVIDE_BY_ZERO instead. */
  def windowAlerts(df: DataFrame, key: String, ord: String, x: String,
      thresholds: DataFrame, n: Int = WindowSize,
      shortfall: Double = Shortfall): DataFrame = {
    require(n >= 2, s"window size must be at least 2, got $n")
    val input = df.where(col(x).isNotNull)
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
        var live: Array[(Int, Double)] = null // (stat index, threshold) of the current key
        rows.flatMap { r =>
          val k = r.get(0)
          if (live == null || k != current) {
            current = k
            window.clear()
            val cellKey = if (keyed) k else AllKeys
            live = SortedWindow.cells(stat => cells.get((stat, cellKey)))
          }
          window.push(r.getDouble(2))
          window.alerts(live, shortfall)((stat, m, t) => Row(k, r.get(1), stat, m, t))
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

  /** Population thresholds over a single value column `v` — the analog of
    * psd.R:26-70 / stats.csv: mean, exact median & 10th percentile
    * (interpolated), mean of the ⌊n/10⌋ smallest, SM1, SM2 (via the sorted
    * identity, O(n log n)).
    *
    * This is a one-time side-table build (6 numbers), the moral equivalent of
    * reading stats.csv — the global sort here is a threshold-build cost, not
    * a per-query cost; at 100 TB you would compute it once and persist it,
    * exactly as the reference persists stats.csv. The collected scalars feed
    * a 6-row DataFrame that downstream joins broadcast.
    */
  def populationThresholds(ev: DataFrame, vCol: String = "v"): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val v = col(vCol)
    // ONE ranked frame feeds both threshold passes (ranking is distributed —
    // range shuffle + zipWithIndex — never a one-task sort) and is cached so
    // the rank build and the source scan run once. Pass 2 depends on pass
    // 1's n and mean, so two driver actions is the floor; what matters is
    // that neither re-reads the source.
    val ranked = Ranks.withGlobalRank(ev, Seq(v), "thr_rn").cache()
    val head = ranked.agg(
      count(lit(1)), avg(v),
      expr(s"percentile($vCol, 0.5)"), expr(s"percentile($vCol, 0.1)")).head()
    val n = head.getLong(0)
    // below 10 rows k = n/10 = 0 and the smallest-decile aggregate is
    // NULL — fail with the actual contract instead of an opaque NPE at
    // row2.getDouble
    require(n >= 10,
      s"populationThresholds needs at least 10 non-null rows, got $n")
    val m = head.getDouble(1)
    val med = head.getDouble(2)
    val q = head.getDouble(3)
    val k = (n / 10).toInt
    // tail mean, MAD and the GMD rank-sum share the second pass; the
    // per-element (2i−n−1)·v form is kept bit-compatible with the oracle
    val row2 = ranked.agg(
      avg(when(col("thr_rn") <= k, v)),
      avg(abs(v - m)),
      sum((col("thr_rn") * 2 - (n + 1)).cast("double") * v)).head()
    val tail = row2.getDouble(0)
    val mad = row2.getDouble(1)
    val gsum = row2.getDouble(2)
    ranked.unpersist(blocking = false)
    Seq(
      Measures.Mean -> m,
      Measures.Median -> med,
      Measures.Q10 -> q,
      Measures.TailMean -> tail,
      Measures.Sm1 -> (m - mad / 2.0),
      Measures.Sm2 -> (m - gsum / (n.toDouble * n))
    ).toDF("stat", "thr")
  }

  /** End-to-end alert query over the driver `events` table: per-user sliding
    * 30-row windows over `value`, thresholds = population statistics of the
    * whole value column, reference alert predicate (SURVEY §2.5 Q6).
    * Output: (user_id, event_id, stat, m, thr). */
  def eventAlerts(events: DataFrame, n: Int = WindowSize): DataFrame = {
    // deliberately NOT cached: the threshold build (6 driver-side numbers;
    // populationThresholds caches and unpersists its own ranked frame) and
    // the alert kernel each scan the source once, and callers that reuse
    // the result cache IT (the Caches "alerts" tag) — a cache here would
    // pin the projected source for the session lifetime, outside
    // Caches.evict's reach
    val ev = events
      .select(col("user_id"), col("event_id"), col("value").cast("double").as("v"))
    // the 6-row (stat, thr) table has no user_id column, so every
    // threshold applies to every user's series
    windowAlerts(ev, "user_id", "event_id", "v",
      populationThresholds(ev.select(col("v"))), n, Shortfall)
  }
}
