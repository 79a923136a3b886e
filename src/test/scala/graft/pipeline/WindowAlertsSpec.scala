package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.Measures

/** `AlertPipeline.windowAlerts` (the fused sliding-window kernel) against
  * its column-form oracle: `withMeasures(windowed)` → `stack` → threshold
  * join → `Measures.alertPredicate`. Rows must match as a multiset and
  * every `m`/`thr` bit for bit. */
class WindowAlertsSpec extends AnyFunSuite with SparkTestBase {

  private val schema = StructType(Seq(
    StructField("key", LongType), StructField("seq", LongType),
    StructField("v", DoubleType)))

  /** Series of several lengths (some shorter than any tested n), values
    * drawn from a small grid so windows hold tied and repeated values,
    * one NaN sample, null samples, a null key, and a series of signed
    * zeros whose order statistics tell −0.0 from 0.0; the rows reach the
    * kernel shuffled across 3 input partitions. */
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
        Row(k, i.toLong, v)
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

  private val unpivotMeasures = Measures.names
    .zip(Seq("m_mean", "m_median", "m_q10", "m_tail", "m_sm1", "m_sm2"))
    .map { case (st, c) => s"'$st', $c" }
    .mkString("stack(6, ", ", ", ") AS (stat, m)")

  /** The column form over the rows the kernel keeps: it drops a null key
    * (or `seq`) row, which `windowed` would number as one more series. */
  private def oracle(thr: DataFrame, n: Int): DataFrame = {
    val kept = events.where(col("key").isNotNull && col("seq").isNotNull)
    val meas = AlertPipeline.withMeasures(
      AlertPipeline.windowed(kept, col("key"), col("seq"), col("v"), n),
      Seq(col("key"), col("seq")), n)
    val on = if (thr.columns.contains("key")) Seq("stat", "key") else Seq("stat")
    meas.select(col("key"), col("seq"), expr(unpivotMeasures))
      .join(broadcast(thr), on)
      .where(Measures.alertPredicate(col("m"), col("thr"), AlertPipeline.Shortfall))
      .select(col("key"), col("seq"), col("stat"), col("m"), col("thr"))
  }

  private def bits(df: DataFrame) = df.collect().toSeq.map { r =>
    (Option(r.get(0)), r.getLong(1), r.getString(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)),
      java.lang.Double.doubleToLongBits(r.getDouble(4)))
  }.groupBy(identity).map { case (row, rs) => row -> rs.size }

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
    // below n = 10 the column form's tail mean divides by zero: null with
    // ANSI off (the kernel's contract), DIVIDE_BY_ZERO with it on
    val conf = Seq("spark.sql.shuffle.partitions" -> parts.toString) ++
      (if (n < 10) Seq("spark.sql.ansi.enabled" -> "false") else Nil)
    withConf(conf: _*) {
      val thr = if (keyed) keyedThresholds else globalThresholds
      val got = AlertPipeline.windowAlerts(events, "key", "seq", "v", thr, n)
      val want = oracle(thr, n)
      assert(got.schema.map(f => f.name -> f.dataType) ===
        want.schema.map(f => f.name -> f.dataType))
      val g = bits(got)
      val w = bits(want)
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
}
