package graft.pipeline

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.{Measures, MeasuresRef}

class ReferencePipelineSpec extends AnyFunSuite with SparkTestBase {

  private def writeTemp(name: String, lines: Seq[String]): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_ref").resolve(name)
    java.nio.file.Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  test("CSV → alerts end-to-end: reference format, alerts gated at row 30") {
    val rnd = new scala.util.Random(11)
    val samples = (1 to 40).map(_ =>
      (0 until 6).map(_ => f"${(rnd.nextDouble() * 2 - 1) * 0.1}%.6f")
        .mkString(","))
    val samplesPath = writeTemp("samples.csv",
      Seq("\"V1\",\"V2\",\"V3\",\"V4\",\"V5\",\"V6\"") ++ samples)
    // thresholds huge → every measure alerts on every full window
    val statsPath = writeTemp("stats.csv",
      (1 to 6).map(_ => (0 to 6).map(_ => "1000.0").mkString(",")))
    val alerts = ReferencePipeline.csvAlerts(spark, samplesPath, statsPath)
      .collect()
    // 11 full windows (rows 30..40) × 7 series × 6 measures
    assert(alerts.length === 11 * 7 * 6)
    assert(alerts.map(_.getAs[Int]("windowId")).min === 30)
    assert(alerts.map(_.getAs[Int]("assetNo")).distinct.sorted.toSeq === (0 to 6))

    // spot-check: window 30 of asset 0 mean equals brute force over rows 1..30
    val a0 = samples.map(_.split(",")(0).toDouble).take(30).toArray
    val exp = MeasuresRef.all(a0).toMap
    val got = alerts.filter(r => r.getAs[Int]("windowId") == 30 &&
      r.getAs[Int]("assetNo") == 0)
      .map(r => r.getAs[String]("stat") -> r.getAs[Double]("value")).toMap
    for (nm <- Measures.names)
      assert(math.abs(got(nm) - exp(nm)) < 1e-9, s"measure $nm")
  }

  test("no alerts when thresholds are far below all window measures") {
    val samples = (1 to 35).map(_ => "0.01,0.01,0.01,0.01,0.01,0.01")
    val samplesPath = writeTemp("s.csv", samples)
    val statsPath = writeTemp("t.csv",
      (1 to 6).map(_ => (0 to 6).map(_ => "-1000.0").mkString(",")))
    assert(ReferencePipeline.csvAlerts(spark, samplesPath, statsPath)
      .count() === 0)
  }

  /** 35 samples and a full (stat, assetNo) threshold table high enough
    * that every window alerts on every measure. */
  private def samplesAndThresholds() = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val samplesPath = writeTemp("s.csv", (1 to 35).map(_ =>
      (0 until 6).map(_ => f"${rnd.nextDouble() * 0.1}%.6f").mkString(",")))
    val samples = graft.sources.Sources.readSamplesCsv(spark, samplesPath)
    val cells = for (st <- Measures.names; a <- 0 to 6) yield (st, a, 1000.0)
    (samples, cells.toDF("stat", "assetNo", "thr"))
  }

  test("a duplicate (stat, assetNo) threshold row fails, naming the cell") {
    import spark.implicits._
    val (samples, thr) = samplesAndThresholds()
    val dup = thr.union(Seq((Measures.Sm2, 3, 999.0)).toDF("stat", "assetNo", "thr"))
    val e = intercept[IllegalArgumentException] {
      ReferencePipeline.alerts(samples, dup, 30, 0.01).collect()
    }
    assert(e.getMessage.contains(s"stat = '${Measures.Sm2}', assetNo = 3"),
      e.getMessage)
  }

  test("a missing (stat, assetNo) threshold cell yields no alerts for it") {
    val (samples, thr) = samplesAndThresholds()
    val missing = thr.where(!(col("stat") === Measures.Median && col("assetNo") === 2))
    val alerts = ReferencePipeline.alerts(samples, missing, 30, 0.01).collect()
    // 6 full windows × (7 series × 6 measures − the missing cell)
    assert(alerts.length === 6 * (7 * 6 - 1))
    assert(!alerts.exists(r => r.getAs[String]("stat") == Measures.Median &&
      r.getAs[Int]("assetNo") == 2))
  }
}
