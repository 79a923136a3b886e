package graft.measures

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** Pure-math ScalaCheck properties for the measure library (SURVEY §5.2):
  * the O(n) sorted-identity GMD must equal the literal O(n²) pairwise
  * reference formula, and the measure ordering invariants must hold, for
  * arbitrary windows. */
object MeasuresProps extends Properties("Measures") {

  private val window: Gen[Array[Double]] =
    Gen.containerOfN[Array, Double](30, Gen.choose(-0.1, 0.1))

  /** The sorted identity used by SortedWindow.measures / PopulationStats, in plain
    * Scala: Σⱼₖ|xⱼ−xₖ| = 2·Σᵢ(2i−n−1)sᵢ (i 1-based, s ascending). */
  private def sm2SortedIdentity(xs: Array[Double]): Double = {
    val n = xs.length
    val s = xs.sorted
    var g = 0.0
    var i = 1
    while (i <= n) { g += (2 * i - n - 1) * s(i - 1); i += 1 }
    MeasuresRef.mean(xs) - g / (n.toDouble * n)
  }

  property("sm2 sorted identity == O(n^2) pairwise formula") =
    forAll(window) { xs =>
      math.abs(sm2SortedIdentity(xs) - MeasuresRef.sm2(xs)) < 1e-12
    }

  property("ordering invariants: tail <= q10 <= median; sm1, sm2 <= mean") =
    forAll(window) { xs =>
      val m = MeasuresRef.all(xs).toMap
      m(Measures.TailMean) <= m(Measures.Q10) &&
        m(Measures.Q10) <= m(Measures.Median) &&
        m(Measures.Sm1) <= m(Measures.Mean) &&
        m(Measures.Sm2) <= m(Measures.Mean)
    }

  property("alert predicate monotone: lower m never clears an alerting threshold") =
    forAll(Gen.choose(-0.1, 0.1), Gen.choose(0.0, 0.05)) { (thr, drop) =>
      val m = thr - drop
      // if (thr, m) alerts then any smaller m' < m also alerts
      !MeasuresRef.alert(m, thr) || MeasuresRef.alert(m - 0.01, thr)
    }
}
