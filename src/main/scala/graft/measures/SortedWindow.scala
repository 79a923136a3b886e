package graft.measures

/** The trailing `n` values of one series, held twice: a ring in arrival
  * order and an ascending copy. Each [[push]] removes exactly one copy of
  * the value leaving the window and inserts the new one (binary search +
  * one `arraycopy` shift each), so sliding by one row costs O(n) moves and
  * allocates nothing — no per-window copy, sort or array.
  *
  * The ascending order is `java.lang.Double.compare`: −0.0 before 0.0 and
  * NaN last, the order `sort_array` gives a non-null double array. Values
  * equal under that order are bit-identical, so which copy leaves, and
  * where among its equals a new value goes, does not matter.
  *
  * [[measures]] folds the sorted window in the same order, with the same
  * operations and constants, as the [[Measures]] column expressions over
  * `sort_array(collect_list(x))`, so both paths give bit-identical doubles.
  */
final class SortedWindow(n: Int) {
  require(n >= 2, s"window size must be at least 2, got $n")

  private val ring = new Array[Double](n)
  private val sorted = new Array[Double](n)
  private var head = 0 // next ring slot to write = the oldest value once full
  private var size = 0

  def isFull: Boolean = size == n

  def clear(): Unit = { head = 0; size = 0 }

  def push(v: Double): Unit = {
    if (size == n) {
      val at = firstNotBelow(ring(head))
      System.arraycopy(sorted, at + 1, sorted, at, size - at - 1)
      size -= 1
    }
    ring(head) = v
    head = (head + 1) % n
    val at = firstNotBelow(v)
    System.arraycopy(sorted, at, sorted, at + 1, size - at)
    sorted(at) = v
    size += 1
  }

  private def firstNotBelow(v: Double): Int = {
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (java.lang.Double.compare(sorted(mid), v) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Writes the six measures of a full window into `out` in [[Measures.names]]
    * order. The tail mean of a window shorter than 10 is 0.0 / 0 = NaN
    * (null in the column form with ANSI off), which no threshold makes
    * [[SortedWindow.alert]] true for. */
  def measures(out: Array[Double]): Unit = {
    val k = n / 10
    var sum = 0.0
    var tail = 0.0
    var gsum = 0.0
    var i = 0
    while (i < n) {
      val x = sorted(i)
      sum += x
      if (i < k) tail += x
      gsum += (2 * (i + 1) - (n + 1)).toDouble * x
      i += 1
    }
    val mean = sum / n
    var dev = 0.0
    i = 0
    while (i < n) { dev += math.abs(mean - sorted(i)); i += 1 }
    out(0) = mean
    out(1) = (sorted(n / 2 - 1) + sorted(n / 2)) / 2.0
    out(2) = sorted(n / 10)
    out(3) = tail / k
    out(4) = mean - dev / (2.0 * n)
    out(5) = mean - gsum / (n.toDouble * n)
  }
}

object SortedWindow {
  /** `Measures.alertPredicate` on doubles, with Spark SQL's comparison
    * semantics: NaN sorts above every number and equals itself, and a
    * division by zero (a threshold of exactly −1) is null, so no alert. */
  def alert(m: Double, thr: Double, shortfall: Double): Boolean = {
    val d = 1.0 + thr
    sqlCompare(m, thr) < 0 && d != 0.0 && sqlCompare((thr - m) / d, shortfall) >= 0
  }

  private def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}
