package graft.measures

import scala.reflect.ClassTag

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
  * [[SortedWindow.measures]] is the engine's one fold of the six measures
  * over an ascending window. [[alerts]] runs it on the sorted copy, with
  * [[SortedWindow.alert]], for the batch alert kernel and the streaming
  * count-window operator alike; `AlertPipeline.withMeasures` runs it on
  * each `sort_array(collect_list(x))` window. The stream keeps only the
  * arrival ring between micro-batches ([[load]], [[arrivals]]).
  */
final class SortedWindow(n: Int) {
  require(n >= 2, s"window size must be at least 2, got $n")

  private val ring = new Array[Double](n)
  private val sorted = new Array[Double](n)
  private var head = 0 // next ring slot to write = the oldest value once full
  private var size = 0
  private val measured = new Array[Double](Measures.names.length)

  private def isFull: Boolean = size == n

  def clear(): Unit = { head = 0; size = 0 }

  /** Replaces the window by an arrival ring in this class's layout: `n`
    * slots, `head` the next slot to write and `count` slots filled (slots
    * `0 until count` while not full). The ascending copy is the filled
    * slots sorted by `java.util.Arrays.sort`, whose order is [[push]]'s. */
  def load(buf: Array[Double], head: Int, count: Int): Unit = {
    require(buf.length == n && count >= 0 && count <= n && head >= 0 && head < n,
      s"not a $n-slot ring: ${buf.length} slots, head $head, count $count")
    System.arraycopy(buf, 0, ring, 0, n)
    System.arraycopy(buf, 0, sorted, 0, count)
    java.util.Arrays.sort(sorted, 0, count)
    this.head = head
    size = count
  }

  /** A copy of the arrival ring with its `head` and `count`, as [[load]]
    * takes them. */
  def arrivals: (Array[Double], Int, Int) = (ring.clone(), head, size)

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

  /** The alerts of the current window: nothing until it is full, then
    * `alert(stat, m, thr)` for each `live` (stat index, thr) cell, in
    * order, whose measure [[SortedWindow.alert]] holds for. The measures
    * are evaluated only when some cell is live. */
  def alerts[A: ClassTag](live: Array[(Int, Double)], shortfall: Double)(
      alert: (String, Double, Double) => A): Array[A] =
    if (!isFull || live.isEmpty) Array.empty[A]
    else {
      SortedWindow.measures(sorted, n, measured)
      live.collect { case (s, t) if SortedWindow.alert(measured(s), t, shortfall) =>
        alert(SortedWindow.names(s), measured(s), t)
      }
    }
}

object SortedWindow {
  private val names = Measures.names.toArray

  /** The live cells of a threshold lookup: (stat index, thr) for each
    * statistic in [[Measures.names]] order that has a threshold. */
  def cells(thr: String => Option[Double]): Array[(Int, Double)] =
    names.indices.toArray.flatMap(s => thr(names(s)).map(s -> _))

  /** Writes the six measures of the full window `sorted(0 until n)`,
    * ascending in `java.lang.Double.compare` order, into `out` in
    * [[Measures.names]] order. Every sum folds left to right from 0.0 over
    * the ascending values, as `MeasuresRef.allFast` does. The tail mean of
    * a window shorter than 10 is 0.0 / 0 = NaN, which no threshold makes
    * [[SortedWindow.alert]] true for. */
  private[graft] def measures(sorted: Array[Double], n: Int, out: Array[Double]): Unit = {
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

  /** The reference's shortfall predicate (StreamingJob.java:369-386): alert
    * iff `m < thr && (thr − m)/(1 + thr) ≥ shortfall`, with Spark SQL's
    * comparison semantics: NaN sorts above every number and equals itself,
    * and a division by zero (a threshold of exactly −1) is null, so no
    * alert. */
  def alert(m: Double, thr: Double, shortfall: Double): Boolean = {
    val d = 1.0 + thr
    sqlCompare(m, thr) < 0 && d != 0.0 && sqlCompare((thr - m) / d, shortfall) >= 0
  }

  private def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)
}
