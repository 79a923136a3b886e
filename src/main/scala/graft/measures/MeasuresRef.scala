package graft.measures

/** The six [[Measures]] and the alert predicate in plain Scala,
  * transcribed directly from the reference formulas
  * (StreamingJob.java:184-234, 369-386). Oracle only: the tests and the
  * benchmark's result checks recompute windows with it; no engine path
  * calls it. The engine's one measure fold and alert predicate are
  * [[SortedWindow.measures]] and [[SortedWindow.alert]].
  *
  * sm2 is kept deliberately O(n²) here — it is the literal reference formula
  * and serves as the oracle for the O(n) sorted-identity version.
  */
object MeasuresRef {
  /** Folded left to right from 0.0, as the engine's fold sums a window
    * (so a window of −0.0s sums to 0.0). */
  def mean(xs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < xs.length) { s += xs(i); i += 1 }
    s / xs.length
  }

  /** Expects `xs` ascending-sorted. */
  def median(sorted: Array[Double]): Double = {
    val n = sorted.length
    (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
  }

  def q10(sorted: Array[Double]): Double = sorted(sorted.length / 10)

  def tailMean(sorted: Array[Double]): Double = {
    val k = sorted.length / 10
    var s = 0.0
    var i = 0
    while (i < k) { s += sorted(i); i += 1 }
    s / k
  }

  def sm1(xs: Array[Double]): Double = {
    val n = xs.length
    val m = mean(xs)
    var s = 0.0
    var i = 0
    while (i < n) { s += math.abs(m - xs(i)); i += 1 }
    m - s / (2.0 * n)
  }

  /** Literal O(n²) pairwise form, denominator 2n² (SURVEY §2.5 Q5). */
  def sm2(xs: Array[Double]): Double = {
    val n = xs.length
    val m = mean(xs)
    var s = 0.0
    var j = 0
    while (j < n) {
      var k = 0
      while (k < n) { s += math.abs(xs(j) - xs(k)); k += 1 }
      j += 1
    }
    m - s / (2.0 * n * n)
  }

  /** O(n) sorted-identity sm2, for oracles that recompute many windows (the
    * pairwise [[sm2]] is O(n²) per window). Mirrors the term order of the
    * engine's fold, [[SortedWindow.measures]] — `gsum = Σᵢ(2i−n−1)sᵢ`
    * folded left-to-right over the sorted array, then `m − gsum/n²` — so it
    * gives the engine's doubles, not merely ulp-close ones. Expects `xs`
    * ascending-sorted. */
  def sm2Sorted(sorted: Array[Double]): Double = {
    val n = sorted.length
    val m = mean(sorted)
    var g = 0.0
    var i = 0
    while (i < n) {
      g += (2 * (i + 1) - (n + 1)).toDouble * sorted(i)
      i += 1
    }
    m - g / (n.toDouble * n)
  }

  /** All six measures in reference order with the LITERAL O(n²) sm2;
    * `xs` need not be sorted. */
  def all(xs: Array[Double]): Seq[(String, Double)] = {
    val sorted = xs.sorted
    Seq(
      Measures.Mean -> mean(sorted),
      Measures.Median -> median(sorted),
      Measures.Q10 -> q10(sorted),
      Measures.TailMean -> tailMean(sorted),
      Measures.Sm1 -> sm1(sorted),
      Measures.Sm2 -> sm2(sorted))
  }

  /** All six measures with the O(n) sorted-identity sm2 (every measure
    * O(n) after the sort): bit for bit the engine's fold, signed zeros,
    * NaN and ±Inf included. `sorted` orders as `java.lang.Double.compare`
    * does: −0.0 before 0.0, NaN last. */
  def allFast(xs: Array[Double]): Seq[(String, Double)] = {
    val sorted = xs.sorted
    Seq(
      Measures.Mean -> mean(sorted),
      Measures.Median -> median(sorted),
      Measures.Q10 -> q10(sorted),
      Measures.TailMean -> tailMean(sorted),
      Measures.Sm1 -> sm1(sorted),
      Measures.Sm2 -> sm2Sorted(sorted))
  }

  /** The reference's shortfall predicate, `m < thr && (thr − m)/(1 + thr)
    * ≥ shortfall`, with Spark SQL's semantics, as the engine's
    * [[SortedWindow.alert]] has them: NaN sorts above every number and
    * equals itself (so a NaN threshold alerts on every non-NaN measure),
    * and the division by zero of a threshold of exactly −1 is null, so no
    * alert. */
  def alert(m: Double, thr: Double, shortfall: Double = 0.01): Boolean =
    sqlLess(m, thr) && 1.0 + thr != 0.0 && !sqlLess((thr - m) / (1.0 + thr), shortfall)

  private def sqlLess(a: Double, b: Double): Boolean =
    if (a.isNaN) false else b.isNaN || a < b
}
