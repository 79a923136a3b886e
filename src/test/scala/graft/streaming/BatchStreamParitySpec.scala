package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.Measures
import graft.pipeline.AlertPipeline

/** An events-table row; every column is nullable. */
case class ParityEvent(user_id: Option[Long], event_id: Option[Long], value: Option[Double])

/** The differential contract between the two alert paths: the same events
  * and the same key-less threshold table give the same alerts from the
  * streaming `StreamingEventAlerts.alerts`, fed in micro-batches, as from
  * the batch kernel `AlertPipeline.windowAlerts`, with `m` and `thr`
  * compared bit for bit. */
class BatchStreamParitySpec extends AnyFunSuite with SparkTestBase {

  /** Four users' series interleaved at random in event_id order: values on
    * a small grid (tied windows), one series of signed zeros, one NaN
    * sample, a +Inf and a −Inf sample four rows apart (the windows holding
    * both have a NaN mean), one null value, and one series shorter than
    * the window; plus a row with a null `user_id` and one with a null
    * `event_id`, which both paths drop. */
  private val events: Seq[ParityEvent] = {
    val rnd = new scala.util.Random(17)
    val zeros = Seq(0.0, -0.0, 0.25, -0.0, 0.0, -0.5)
    val series = Seq(1L -> 80, 2L -> 65, 3L -> 50, 4L -> 20).map { case (k, len) =>
      (1 to len).map { i =>
        val v =
          if (k == 1 && i == 40) Some(Double.NaN)
          else if (k == 2 && i == 33) None
          else if (k == 3) Some(zeros(i % zeros.length))
          else Some((rnd.nextInt(21) - 10) / 20.0)
        if (k == 2 && i == 36) Some(Double.PositiveInfinity)
        else if (k == 2 && i == 40) Some(Double.NegativeInfinity)
        else v
      }.map(k -> _)
    }
    // a random interleaving that keeps each series in order
    val order = rnd.shuffle(series.flatMap(s => Seq.fill(s.size)(s.head._1)))
    val next = scala.collection.mutable.Map(series.map(s => s.head._1 -> s.iterator): _*)
    val rows = order.zipWithIndex.map { case (k, i) =>
      ParityEvent(Some(k), Some(i + 1L), next(k).next()._2)
    }
    // in the second and third micro-batches
    rows.patch(100, Seq(ParityEvent(None, Some(1000L), Some(0.1))), 0)
      .patch(160, Seq(ParityEvent(Some(1L), None, Some(-0.4))), 0)
  }

  /** Near the measures' range, so each stat alerts on some windows and not
    * others; the mean cell is NaN, above every number in Spark SQL, so it
    * alerts on every window without a NaN sample. */
  private val thresholds: Map[String, Double] = Measures.names.zip(
    Seq(Double.NaN, 0.0, -0.35, -0.45, -0.12, -0.1)).toMap

  private def bits(rows: Seq[(Long, Long, String, Double, Double)]) = rows.map {
    case (k, s, stat, m, thr) => (k, s, stat,
      java.lang.Double.doubleToLongBits(m), java.lang.Double.doubleToLongBits(thr))
  }.groupBy(identity).map { case (row, rs) => row -> rs.size }

  // the nulls are a null value, a null `user_id` and a null `event_id`.
  // Every event_id is unique and arrives after its user's earlier ones.
  // The stream's replay guard skips a row at or below its user's last
  // event_id (a duplicate, or a late row); the batch kernel sorts a late
  // row into place and fails on a duplicate (WindowAlertsSpec). So
  // parity holds for unique, in-order ids only.
  test("stream alerts = batch kernel alerts bit for bit across micro-batch " +
      "seams, with a null, a NaN sample, signed zeros and a NaN threshold") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[ParityEvent]
    val q = StreamingEventAlerts.alerts(input.toDF(), thresholds)
      .writeStream.format("memory").queryName("parity_out")
      .outputMode("append").start()
    // four micro-batches; each seam falls inside the open windows of the
    // series already past 30 rows
    try Seq(0, 70, 140, 190, events.size).sliding(2).foreach { case Seq(lo, hi) =>
      input.addData(events.slice(lo, hi))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("parity_out").as[StreamAlert].collect().toSeq
      .map(a => (a.key, a.seq, a.stat, a.m, a.thr))

    val thrTable = thresholds.toSeq.toDF("stat", "thr")
    val ev: DataFrame = events.toDF()
      .select(col("user_id"), col("event_id"), col("value").cast("double").as("v"))
    val batch = AlertPipeline.windowAlerts(ev, "user_id", "event_id", "v", thrTable)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getDouble(4)))

    // the batch side exercises what the test is about
    val windows = events.filter(e => e.user_id.isDefined && e.event_id.isDefined)
      .groupBy(_.user_id).values
      .map(s => math.max(0, s.count(_.value.isDefined) - 29)).sum
    // 30 windows hold the NaN sample and 26 both infinities
    assert(batch.count(_._3 == Measures.Mean) === windows - 30 - 26)
    assert(batch.map(_._3).toSet === Measures.names.toSet)
    assert(batch.size < windows * Measures.names.size)
    assert(!batch.exists(_._1 == 4L))

    val (s, b) = (bits(streamed), bits(batch))
    assert(s === b, s"stream-only ${(s.keySet -- b.keySet).take(5)}, " +
      s"batch-only ${(b.keySet -- s.keySet).take(5)}")
  }
}
