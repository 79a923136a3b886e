package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.{Measures, MeasuresSpec}

object CountSlidingWindowSpec extends org.scalatest.Assertions {
  /** A threshold far above any window measure for every stat: each full
    * window alerts on all six, so the alerts' `m` carry every measure. */
  val EveryMeasure: Map[String, Double] = Measures.names.map(_ -> 1e300).toMap

  /** `MeasuresRef.allFast` of every full window of each key's samples in
    * `seq` order: (key, seq, stat) → `doubleToLongBits(m)`. */
  def refMeasures(data: Seq[Sample], n: Int): Map[(Long, Long, String), Long] =
    data.groupBy(_.key).toSeq.flatMap { case (k, rows) =>
      val vs = rows.sortBy(_.seq)
      (n - 1 until vs.size).flatMap { end =>
        MeasuresSpec.reference(vs.slice(end + 1 - n, end + 1).map(_.v).toArray).map {
          case (stat, m) => (k, vs(end).seq, stat) -> java.lang.Double.doubleToLongBits(m)
        }
      }
    }.toMap

  /** [[EveryMeasure]] alerts as (key, seq, stat) → `doubleToLongBits(m)`;
    * fails on a duplicated cell or a threshold other than 1e300. */
  def measureBits(alerts: Seq[StreamAlert]): Map[(Long, Long, String), Long] = {
    assert(alerts.forall(_.thr == 1e300))
    val bits = alerts.map(a => (a.key, a.seq, a.stat) ->
      java.lang.Double.doubleToLongBits(a.m)).toMap
    assert(bits.size === alerts.size, "duplicate (key, seq, stat) alerts")
    bits
  }
}

class CountSlidingWindowSpec extends AnyFunSuite with SparkTestBase {
  import CountSlidingWindowSpec._

  private def samples(keys: Int, n: Int): Seq[Sample] = {
    val rnd = new scala.util.Random(99)
    for (k <- 0 until keys; i <- 0 until n)
      yield Sample(k.toLong, i.toLong, rnd.nextDouble() * 2 - 1)
  }

  test("streaming measures == batch measures, state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = samples(keys = 2, n = 45)
    val input = MemoryStream[Sample]
    val q = CountSlidingWindow.alerts(input.toDS(), EveryMeasure, 30)
      .writeStream.format("memory").queryName("m_out")
      .outputMode("append").start()
    try {
      // three micro-batches straddling the window-full boundary
      input.addData(data.filter(_.seq < 20))
      q.processAllAvailable()
      input.addData(data.filter(s => s.seq >= 20 && s.seq < 35))
      q.processAllAvailable()
      input.addData(data.filter(_.seq >= 35))
      q.processAllAvailable()
    } finally q.stop()

    val got = measureBits(spark.table("m_out").as[StreamAlert].collect())
    assert(got.size === 2 * (45 - 29) * 6)
    assert(got === refMeasures(data, 30))
  }

  test("replayed and late rows are skipped, not double-applied") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = samples(keys = 1, n = 40)
    val input = MemoryStream[Sample]
    val q = CountSlidingWindow.alerts(input.toDS(), EveryMeasure, 30)
      .writeStream.format("memory").queryName("r_out")
      .outputMode("append").start()
    val afterReplay = try {
      input.addData(data.take(35))
      q.processAllAvailable()
      // a replayed slice AND a late row: all at or below lastSeq → no-ops
      input.addData(data.slice(10, 20) :+ Sample(0L, 5L, 99.9))
      q.processAllAvailable()
      val n = spark.table("r_out").count()
      // the windows after the replay see the original values only
      input.addData(data.drop(35))
      q.processAllAvailable()
      n
    } finally q.stop()
    // only the original fires (seq 29..34), nothing from the replay batch
    assert(afterReplay === (35 - 29) * 6)
    val got = measureBits(spark.table("r_out").as[StreamAlert].collect())
    assert(got.keys.map(_._2).toSeq.distinct.sorted === (29L to 39L))
    assert(got === refMeasures(data, 30))
  }

  test("ring-buffer state holds at n=1000: semantics across micro-batches") {
    // The large-window shape check: the state is the n-slot arrival ring,
    // loaded and sorted once per key and micro-batch and slid by O(n) moves
    // per row, so a 1000-deep window over 3000 rows streams through in
    // fire-cost time. Semantics pinned against MeasuresRef, every window
    // and measure bit for bit.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val n = 1000
    val data = samples(keys = 1, n = 3000)
    val input = MemoryStream[Sample]
    val q = CountSlidingWindow.alerts(input.toDS(), EveryMeasure, n)
      .writeStream.format("memory").queryName("big_out")
      .outputMode("append").start()
    try {
      // two micro-batches straddling the window-full boundary
      input.addData(data.filter(_.seq < 1500))
      q.processAllAvailable()
      input.addData(data.filter(_.seq >= 1500))
      q.processAllAvailable()
    } finally q.stop()
    val got = measureBits(spark.table("big_out").as[StreamAlert].collect())
    assert(got.size === (3000 - (n - 1)) * 6)
    assert(got === refMeasures(data, n))
  }

  test("alerts start exactly at row 30 and respect thresholds") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val data = samples(keys = 1, n = 32)
    // thresholds far above any window mean -> every full window alerts on mean
    val thr = Map("mean" -> 1e6)
    val input = MemoryStream[Sample]
    val q = CountSlidingWindow.alerts(input.toDS(), thr, 30)
      .writeStream.format("memory").queryName("a_out")
      .outputMode("append").start()
    try {
      input.addData(data)
      q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("a_out").as[StreamAlert].collect()
    assert(alerts.map(_.seq).min === 29L)
    assert(alerts.length === 3) // seq 29,30,31 — mean only
    assert(alerts.forall(_.stat == "mean"))
  }
}
