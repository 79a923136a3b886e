package graft.measures

import org.apache.spark.sql.functions._
import org.scalatest.Assertions
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.pipeline.AlertPipeline

object MeasuresSpec extends Assertions {
  private def bits(ms: Seq[Double]) = ms.map(java.lang.Double.doubleToLongBits)

  /** `MeasuresRef.allFast` of one window, after asserting that it equals
    * the engine's fold bit for bit on it: the oracle of every kernel and
    * stream check, which relies on that equality. */
  def reference(xs: Array[Double]): Seq[(String, Double)] = {
    val want = MeasuresRef.allFast(xs)
    val sorted = xs.clone()
    java.util.Arrays.sort(sorted) // java.lang.Double.compare order
    assert(bits(xs.sorted.toSeq) === bits(sorted.toSeq), "xs.sorted is not Double.compare order")
    val fold = new Array[Double](Measures.names.length)
    SortedWindow.measures(sorted, xs.length, fold)
    assert(bits(want.map(_._2)) === bits(fold.toSeq),
      s"allFast ${want.map(_._2)} differs from the fold ${fold.toSeq} on ${xs.toSeq}")
    want
  }
}

class MeasuresSpec extends AnyFunSuite with SparkTestBase {

  private val N = 30

  /** All six measures of one window through `AlertPipeline.withMeasures`,
    * over a one-row frame whose `xs` is the sorted window. */
  private def engineAll(xs: Array[Double]): Seq[(String, Double)] = {
    import spark.implicits._
    val df = Seq((0L, xs.sorted.toSeq)).toDF("k", "xs")
    val row = AlertPipeline.withMeasures(df, Seq(col("k")), N).head()
    Measures.names.zipWithIndex.map { case (n, i) => n -> row.getDouble(1 + i) }
  }

  test("hand-computed fixture: 30 ascending integers") {
    // xs = 1..30: mean 15.5, median (15+16)/2, q10 = 4th smallest = 4,
    // tail = (1+2+3)/3 = 2
    val xs = (1 to 30).map(_.toDouble).toArray
    val got = engineAll(xs).toMap
    assert(got(Measures.Mean) === 15.5)
    assert(got(Measures.Median) === 15.5)
    assert(got(Measures.Q10) === 4.0)
    assert(got(Measures.TailMean) === 2.0)
    // sm1 = mean - sum|mean-x|/(2n); sum|15.5-x| over 1..30 = 2*(0.5+..+14.5)=225
    assert(math.abs(got(Measures.Sm1) - (15.5 - 225.0 / 60.0)) < 1e-12)
    // sm2 vs literal O(n^2) reference formula
    assert(math.abs(got(Measures.Sm2) - MeasuresRef.sm2(xs)) < 1e-9)
  }

  test("property: engine expressions equal the plain-Scala reference on random windows") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 25) {
      val scale = if (trial % 2 == 0) 0.1 else 100.0
      val xs = Array.fill(N)((rnd.nextDouble() * 2 - 1) * scale)
      val exp = MeasuresRef.all(xs).toMap
      val got = engineAll(xs).toMap
      for (name <- Measures.names) {
        assert(math.abs(got(name) - exp(name)) < 1e-9,
          s"trial $trial measure $name: got ${got(name)} expected ${exp(name)}")
      }
    }
  }

  test("MeasuresRef.allFast equals the engine fold bit for bit, signed zeros, " +
      "NaN and ±Inf included") {
    val rnd = new scala.util.Random(5)
    val special = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.1, -0.1)
    for (n <- Seq(2, 4, 10, 30, 1000); trial <- 1 to 20) {
      // one special value in eight, the rest from a tied grid or random
      val xs = Array.fill(n) {
        if (rnd.nextInt(8) == 0) special(rnd.nextInt(special.size))
        else if (trial % 2 == 0) (rnd.nextInt(9) - 4) / 8.0
        else (rnd.nextDouble() * 2 - 1) * 100.0
      }
      MeasuresSpec.reference(xs)
    }
    // a window of negative zeros keeps a positive-zero sum, as a fold from 0.0 does
    MeasuresSpec.reference(Array.fill(10)(-0.0))
    MeasuresSpec.reference(Array(Double.PositiveInfinity, Double.NegativeInfinity, 1.0, 2.0))
  }

  test("measure invariants: q10 <= median, tailMean <= q10's neighborhood, sm <= mean") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val xs = Array.fill(N)(rnd.nextDouble() * 10 - 5)
      val m = MeasuresRef.all(xs).toMap
      assert(m(Measures.Q10) <= m(Measures.Median))
      assert(m(Measures.TailMean) <= m(Measures.Q10))
      assert(m(Measures.Sm1) <= m(Measures.Mean))
      assert(m(Measures.Sm2) <= m(Measures.Mean))
    }
  }

  test("alert predicate boundaries (SURVEY §2.5 Q6)") {
    // m == thr: no alert (strict <)
    assert(!MeasuresRef.alert(0.05, 0.05))
    // shortfall exactly 0.01: alert (>= inclusive)
    val thr = 0.05
    val mExact = thr - 0.01 * (1 + thr)
    assert(MeasuresRef.alert(mExact, thr))
    // just under the shortfall: no alert
    assert(!MeasuresRef.alert(mExact + 1e-9, thr))
  }

  test("engine alert predicate column matches scala predicate") {
    // the engine's SortedWindow.alert and the oracle's MeasuresRef.alert,
    // each against the reference predicate as a Spark SQL column (a
    // division by zero is null there: try_divide)
    import spark.implicits._
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    val cases = Seq((0.05, 0.05), (0.0395, 0.05), (0.0396, 0.05), (-0.02, 0.01),
      (nan, 0.05), (0.05, nan), (nan, nan), (-2.0, -1.0), (0.5, -1.0),
      (-inf, 0.05), (-inf, -2.0), (0.05, inf), (inf, 0.05), (inf, inf),
      (-inf, -inf), (0.05, -inf), (-inf, inf), (-inf, nan), (inf, nan))
    val sql = cases.toDF("m", "thr").select(col("m"), col("thr"),
      coalesce(col("m") < col("thr") &&
        try_divide(col("thr") - col("m"), lit(1.0) + col("thr")) >= 0.01, lit(false)))
      .collect()
    assert(sql.length === cases.length)
    sql.foreach { r =>
      val (m, thr, want) = (r.getDouble(0), r.getDouble(1), r.getBoolean(2))
      assert(SortedWindow.alert(m, thr, 0.01) === want, s"engine, m = $m, thr = $thr")
      assert(MeasuresRef.alert(m, thr) === want, s"oracle, m = $m, thr = $thr")
    }
  }
}
