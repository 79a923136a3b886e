package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.{Measures, MeasuresRef, MeasuresSpec}

/** `AlertPipeline.windowAlerts` (the fused sliding-window kernel) against
  * a plain-Scala oracle: each key's windows rebuilt from the collected
  * rows, `MeasuresRef.allFast`, the threshold cells and
  * `MeasuresRef.alert`. Rows must match as a multiset and every `m`/`thr`
  * bit for bit. (The case titles still say "column form", the oracle the
  * kernel was first checked against.) */
class WindowAlertsSpec extends AnyFunSuite with SparkTestBase {

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("seq", LongType),
    StructField("v", DoubleType)))

  /** Series of several lengths (some shorter than any tested n), values
    * drawn from a small grid so windows hold tied and repeated values,
    * one NaN sample, a +Inf and a −Inf sample two rows apart (the windows
    * holding both have a NaN mean), null samples, a null key, and a series
    * of signed zeros whose order statistics tell −0.0 from 0.0; the rows
    * reach the kernel shuffled across 3 input partitions. */
  private lazy val events: DataFrame = {
    val rnd = new scala.util.Random(42)
    val lengths = Seq(0L -> 90, 1L -> 75, 2L -> 60, 3L -> 8, 4L -> 29, 5L -> 40)
    val zeros = Seq(0.0, -0.0, 0.25, -0.0, 0.0, 0.5)
    val rows = lengths.flatMap { case (k, len) =>
      (1 to len).map { i =>
        val v: java.lang.Double =
          if (k == 0 && i == 40) Double.NaN
          else if (k == 5) zeros(i % zeros.length)
          else if (rnd.nextInt(12) == 0) null
          else (rnd.nextInt(21) - 10) / 20.0
        val x: java.lang.Double =
          if (k == 1 && i == 20) Double.PositiveInfinity
          else if (k == 1 && i == 22) Double.NegativeInfinity
          else v
        Row(k, i.toLong, x)
      }
    } ++ (1 to 45).map(i => Row(null, i.toLong, (rnd.nextInt(9) - 4) / 8.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rnd.shuffle(rows), 3), schema)
  }

  /** Per-(stat, key) thresholds near the series' measure range, so each
    * stat alerts on some windows and not others. Key 1 lacks its median
    * cell; key 2's mean threshold is NaN (above every number in Spark SQL,
    * so every window alerts); key 4's q10 threshold is null, which never
    * alerts; key 9 has no series. */
  private lazy val keyedThresholds: DataFrame = {
    val rows = for {
      (stat, s) <- Measures.names.zipWithIndex
      k <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 9L)
      if !(k == 1 && stat == Measures.Median)
    } yield {
      val thr: java.lang.Double =
        if (k == 2 && stat == Measures.Mean) Double.NaN
        else if (k == 4 && stat == Measures.Q10) null
        else -0.25 + 0.05 * s + 0.04 * k
      Row(stat, k, thr)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("stat", StringType),
        StructField("key", LongType), StructField("thr", DoubleType))))
  }

  private lazy val globalThresholds: DataFrame = {
    import spark.implicits._
    Measures.names.zipWithIndex.map { case (st, s) => (st, -0.2 + 0.06 * s) }
      .toDF("stat", "thr")
  }

  private def bits(rows: Seq[(Any, Long, String, Double, Double)]) = rows.map {
    case (k, s, stat, m, thr) => (Option(k), s, stat,
      java.lang.Double.doubleToLongBits(m), java.lang.Double.doubleToLongBits(thr))
  }.groupBy(identity).map { case (row, rs) => row -> rs.size }

  /** The kernel's alerts recomputed from the collected rows: a row with a
    * null key, `seq` or `v` is dropped; each key's full windows in `seq`
    * order get `MeasuresRef.allFast` and `MeasuresRef.alert` against their
    * threshold cell. A missing cell, a null `thr` or a null-key threshold
    * row never alerts. */
  private def oracle(thr: DataFrame, n: Int) = {
    val keyed = thr.columns.contains("key")
    val cells = thr.collect().toSeq
      .filter(r => !r.isNullAt(r.fieldIndex("thr")) && !(keyed && r.isNullAt(r.fieldIndex("key"))))
      .map(r => (r.getAs[String]("stat"), if (keyed) Some(r.getAs[Long]("key")) else None) ->
        r.getAs[Double]("thr"))
      .toMap
    val series = events.collect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
      .groupBy(_.getLong(0))
    bits(for {
      (k, rows) <- series.toSeq
      vs = rows.sortBy(_.getLong(1))
      end <- n - 1 until vs.size
      (stat, m) <- MeasuresSpec.reference(vs.slice(end + 1 - n, end + 1).map(_.getDouble(2)).toArray)
      t <- cells.get((stat, if (keyed) Some(k) else None))
      if MeasuresRef.alert(m, t, AlertPipeline.Shortfall)
    } yield (k, vs(end).getLong(1), stat, m, t))
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for {
    n <- Seq(4, 10, 30)
    parts <- Seq(1, 7)
    keyed <- Seq(true, false)
  } test(s"n=$n, $parts shuffle partitions, " +
      s"${if (keyed) "keyed" else "key-less"} thresholds: kernel = column form") {
    withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      val thr = if (keyed) keyedThresholds else globalThresholds
      val got = AlertPipeline.windowAlerts(events, "key", "seq", "v", thr, n)
      assert(got.schema.map(f => f.name -> f.dataType) === Seq("key" -> LongType,
        "seq" -> LongType, "stat" -> StringType, "m" -> DoubleType, "thr" -> DoubleType))
      val g = bits(got.collect().toSeq.map(r =>
        (r.get(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getDouble(4))))
      val w = oracle(thr, n)
      assert(w.nonEmpty)
      assert(g === w, s"kernel-only ${(g.keySet -- w.keySet).take(5)}, " +
        s"oracle-only ${(w.keySet -- g.keySet).take(5)}")
    }
  }

  test("every stat alerts somewhere, the NaN cell on every window, the " +
      "missing and null cells never") {
    val got = AlertPipeline.windowAlerts(events, "key", "seq", "v",
      keyedThresholds, 10).collect()
    assert(got.map(_.getString(2)).toSet === Measures.names.toSet)
    // key 2 holds no NaN sample, so m < NaN holds on each of its windows
    val key2Windows = events.where(col("key") === 2 && col("v").isNotNull)
      .count() - 9
    val nanCell = got.filter(r => r.get(0) == 2L && r.getString(2) == Measures.Mean)
    assert(nanCell.length === key2Windows)
    assert(nanCell.forall(_.getDouble(4).isNaN))
    assert(!got.exists(r => r.get(0) == 1L && r.getString(2) == Measures.Median))
    assert(!got.exists(r => r.get(0) == 4L && r.getString(2) == Measures.Q10))
    assert(!got.exists(r => r.get(0) == null))
  }

  test("a duplicate (key, ord) fails the walk, naming the key and ord") {
    // key 7 holds seq 3 twice: tied rows would reach the window in the
    // shuffle's arrival order, so the alerts could change from run to run
    val rows = (1L to 12L).map(i => Row(7L, i, i / 10.0)) :+ Row(7L, 3L, 0.9)
    val dup = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val ex = intercept[Exception] {
      AlertPipeline.windowAlerts(dup, "key", "seq", "v", globalThresholds, 4)
        .collect()
    }
    val msgs = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq
    assert(msgs.exists(_.contains("duplicate seq = 3 within key = 7")),
      msgs.mkString("\n"))
  }
}
