package graft.measures

/** Plain-Scala mirror of [[Measures]], transcribed directly from the
  * reference formulas (StreamingJob.java:184-234). Oracle only: the tests
  * and the benchmark's result checks recompute windows with it; no engine
  * path calls it. The engine's one scalar measure fold and alert predicate
  * are [[SortedWindow.measures]] and [[SortedWindow.alert]].
  *
  * sm2 is kept deliberately O(n²) here — it is the literal reference formula
  * and serves as the oracle for the O(n) sorted-identity version.
  */
object MeasuresRef {
  def mean(xs: Array[Double]): Double = xs.sum / xs.length

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
    * pairwise [[sm2]] is O(n²) per window). Mirrors the batch
    * `Measures.sm2From` term order — `gsum = Σᵢ(2i−n−1)sᵢ` folded
    * left-to-right over the sorted array, then `m − gsum/n²` — so it gives
    * the engine's doubles, not merely ulp-close ones. Expects `xs`
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
    * O(n) after the sort). */
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

  /** The reference's shortfall predicate with Java's double comparisons:
    * unlike [[SortedWindow.alert]] (Spark SQL's), a NaN threshold never
    * alerts. Agrees with it on finite measures and thresholds other than −1. */
  def alert(m: Double, thr: Double, shortfall: Double = 0.01): Boolean =
    m < thr && (thr - m) / (1.0 + thr) >= shortfall
}
