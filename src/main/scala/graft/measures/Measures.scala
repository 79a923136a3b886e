package graft.measures

/** The six window statistics of the reference engine: their names, in the
  * reference's fixed order. The engine computes them in one scalar fold
  * over an ascending window, [[SortedWindow.measures]]; [[MeasuresRef]] is
  * the plain-Scala oracle.
  *
  * Reference semantics (lapankrz/PSD-Project,
  * streamProcessing/psd/src/main/java/psd/StreamingJob.java):
  *  - mean:     StreamingJob.java:202-210
  *  - median:   (sorted[n/2-1] + sorted[n/2]) / 2 — StreamingJob.java:189
  *  - q10:      sorted[n/10] zero-based = 4th smallest of 30 —
  *              StreamingJob.java:190 (SURVEY §2.5 Q3: window-side order
  *              statistic, NOT R type-7 interpolation)
  *  - tailMean: mean of the n/10 smallest — StreamingJob.java:191-196
  *  - sm1:      mean − Σ|mean − x| / (2n) — StreamingJob.java:212-221
  *  - sm2:      mean − ΣⱼΣₖ|xⱼ − xₖ| / (2n²) — StreamingJob.java:223-234
  *              (denominator 2n² including j=k zero terms, SURVEY §2.5 Q5),
  *              computed with the sorted-array identity
  *                ΣⱼΣₖ|xⱼ−xₖ| = 2·Σᵢ (2i − n − 1)·sᵢ   (i 1-based, s sorted)
  *              at O(n) over the sorted window instead of O(n²).
  *
  * All six derive from ONE ascending window, so a full evaluation costs
  * one O(n) walk once the window is sorted.
  */
object Measures {
  val Mean = "mean"
  val Median = "median"
  val Q10 = "10th quantile"
  val TailMean = "mean of 10% smallest"
  val Sm1 = "security measure 1"
  val Sm2 = "security measure 2"
  /** Fixed measure order of the reference (psd.R:28-68 / stats.csv rows). */
  val names: Seq[String] = Seq(Mean, Median, Q10, TailMean, Sm1, Sm2)
}
