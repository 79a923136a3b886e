package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.gen.PopulationStats
import graft.measures.MeasuresRef

class AlertPipelineSpec extends AnyFunSuite with SparkTestBase {

  private def sampleDf(n: Int, keys: Int = 1) = {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    (0 until keys).flatMap { k =>
      (0 until n).map(i => (k.toLong, i.toLong, rnd.nextDouble() * 2 - 1))
    }.toDF("key", "seq", "v")
  }

  test("windows emit only once full: first window at row 30 exactly") {
    val df = sampleDf(35)
    val w = AlertPipeline.windowed(df, col("key"), col("seq"), col("v"))
    val seqs = w.select("seq").collect().map(_.getLong(0)).sorted
    assert(seqs.head === 29L) // 0-based row 29 = 30th row
    assert(seqs.length === 6) // rows 30..35
  }

  test("fewer than 30 rows => no windows (fullWindowLoaded gate)") {
    val df = sampleDf(29)
    assert(AlertPipeline.windowed(df, col("key"), col("seq"), col("v")).count() === 0)
  }

  test("window measures match brute-force sliding slices, multiple keys") {
    val n = 40
    val df = sampleDf(n, keys = 3)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byKey = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.sortBy(_._2).map(_._3)
    }
    val meas = AlertPipeline.withMeasures(
      AlertPipeline.windowed(df, col("key"), col("seq"), col("v")),
      Seq(col("key"), col("seq"))).collect()
    assert(meas.length === 3 * (n - 29))
    meas.foreach { r =>
      val k = r.getLong(0)
      val s = r.getLong(1).toInt
      val window = byKey(k).slice(s - 29, s + 1)
      val exp = MeasuresRef.all(window).toMap
      graft.measures.Measures.names.zipWithIndex.foreach { case (name, i) =>
        assert(math.abs(r.getDouble(2 + i) - exp(name)) < 1e-9,
          s"key $k seq $s measure $name")
      }
    }
  }

  test("population thresholds on a known tiny column") {
    import spark.implicits._
    // v = 1..10: n=10, mean=5.5, median=5.5, q10=(n-1)*0.1 -> 1.9,
    // tail = mean of 1 smallest = 1, sm1 = 5.5 - (2*(0.5+..+4.5)/10)/2 = 5.5-1.25;
    // the null value is dropped before counting
    val df = ((1 to 10).map(v => Option(v.toDouble)) :+ None).toDF("v")
    val thr = PopulationStats.columnThresholds(df, col("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(thr.size === 6)
    assert(thr("mean") === 5.5)
    assert(thr("median") === 5.5)
    assert(math.abs(thr("10th quantile") - 1.9) < 1e-12)
    assert(thr("mean of 10% smallest") === 1.0)
    assert(math.abs(thr("security measure 1") - (5.5 - 1.25)) < 1e-12)
    // sm2: gsum = Σ(2i-11)*i over 1..10 = 165; 5.5 - 165/100
    assert(math.abs(thr("security measure 2") - (5.5 - 1.65)) < 1e-12)
  }

  test("alerts flow end-to-end on the sf0.001 events table") {
    val ev = graft.queries.Tables(spark, "/root/testdata/sf0.001", "events")
    val alerts = AlertPipeline.eventAlerts(ev)
    val n = alerts.count()
    assert(n > 0)
    // every alert satisfies the predicate on its own row
    val bad = alerts.where(!(col("m") < col("thr") &&
      (col("thr") - col("m")) / (lit(1.0) + col("thr")) >= 0.01)).count()
    assert(bad === 0)
  }
}
