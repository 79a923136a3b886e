package graft.gen

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.measures.Measures
import graft.sources.Sources

class GeneratorSpec extends AnyFunSuite with SparkTestBase {

  private val Stats = Seq(Measures.Mean, Measures.Median, Measures.Q10,
    Measures.TailMean, Measures.Sm1, Measures.Sm2)

  /** Sample rows a0..a5 (None = null) as a DataFrame. */
  private def frame(rows: Seq[Array[Option[Double]]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(r.toSeq.map(_.getOrElse(null)))): _*),
      StructType((0 until 6).map(i => StructField(s"a$i", DoubleType))))

  /** The 7 series of `rows` as the engine derives them (portfolio = the
    * same left-to-right weighted sum), nulls dropped. */
  private def series(rows: Seq[Array[Option[Double]]]): Seq[Array[Double]] =
    (0 until 6).map(i => rows.flatMap(_(i)).toArray) :+
      rows.filter(_.forall(_.isDefined)).map(r =>
        Sources.Weights.indices.map(i => r(i).get * Sources.Weights(i)).reduce(_ + _)).toArray

  /** The values `xs` (None = null) as a one-column frame `v`. */
  private def column(xs: Seq[Option[Double]]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(xs.map(x => Row(x.getOrElse(null))): _*),
      StructType(Seq(StructField("v", DoubleType))))

  /** Plain sorted-array oracle of the six statistics, in `Stats` order;
    * SM2 is the unbiased GMD 2Σ/(n(n−1)), or mean − Σ/n² for the column
    * form. */
  private def oracle(xs: Array[Double], columnForm: Boolean = false): Seq[Double] = {
    val s = xs.sorted
    val n = s.length
    val m = xs.sum / n
    def q(p: Double): Double = {
      val pos = p * (n - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      if (lo == hi) s(lo) else s(lo) * (hi - pos) + s(hi) * (pos - lo)
    }
    val k = n / 10
    val mad = xs.map(x => math.abs(x - m)).sum / n
    val gsum = s.indices.map(i => (2.0 * (i + 1) - n - 1) * s(i)).sum
    Seq(m, q(0.5), q(0.1), s.take(k).sum / k, m - mad / 2,
      if (columnForm) m - gsum / (n.toDouble * n) else 2 * gsum / (n.toDouble * (n - 1)))
  }

  /** Each statistic within 1e-12 relative to the larger of its own
    * magnitude and the series' (a constant series' GMD is 0). */
  private def assertClose(got: String => Double, xs: Array[Double],
      columnForm: Boolean, label: String): Unit = {
    val scale = xs.map(math.abs).max
    Stats.zip(oracle(xs, columnForm)).foreach { case (st, want) =>
      val v = got(st)
      assert(math.abs(v - want) <= 1e-12 * math.max(scale, math.abs(want)),
        s"$label n=${xs.length} $st: engine $v, oracle $want")
    }
  }

  /** The samples form vs the oracle, for each of the 7 series. */
  private def assertExact(rows: Seq[Array[Option[Double]]], label: String = ""): Unit = {
    val got = PopulationStats.thresholds(frame(rows)).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got.size === 42, label)
    series(rows).zipWithIndex.foreach { case (xs, a) =>
      assertClose(st => got((st, a)), xs, columnForm = false, s"$label asset $a")
    }
  }

  /** The column form vs the oracle over the non-null values of `xs`. */
  private def assertColumnExact(xs: Seq[Option[Double]], label: String = ""): Unit = {
    val got = PopulationStats.columnThresholds(column(xs), col("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.size === 6, label)
    assertClose(got, xs.flatten.toArray, columnForm = true, label)
  }

  /** Spark jobs started by `body`, which must leave nothing cached. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = "population-thresholds-jobs"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val cachedBefore = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "PopulationStats")
      try body
      finally sc.clearJobGroup()
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(sc.getPersistentRDDs.keySet === cachedBefore)
    jobs.get()
  }

  private def withShufflePartitions[T](p: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, p.toString)
    try body finally spark.conf.set(key, before)
  }

  private def uniformRows(n: Int, seed: Long, round: Boolean = false,
      constant: Option[Double] = None): Seq[Array[Option[Double]]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(Array.tabulate(6) { i =>
      val x = rng.nextDouble() * 0.2 - 0.1
      Some(if (i == 3 && constant.isDefined) constant.get
        else if (round) math.rint(x * 100) / 100 else x)
    })
  }

  test("samples respect truncation bounds and are deterministic per seed") {
    val df = Generator.sample(spark, 2000, partitions = 4, seed = 7).cache()
    val viol = df.where((0 until 6).map(i =>
      col(s"a$i") < -0.1 || col(s"a$i") > 0.1).reduce(_ || _)).count()
    assert(viol === 0)
    assert(df.count() === 2000)
    val again = Generator.sample(spark, 2000, partitions = 4, seed = 7)
    val h1 = df.agg(sum(col("a0")), sum(col("a3"))).head()
    val h2 = again.agg(sum(col("a0")), sum(col("a3"))).head()
    assert(h1.getDouble(0) === h2.getDouble(0))
    assert(h1.getDouble(1) === h2.getDouble(1))
    df.unpersist()
  }

  test("population statistics close to the reference stats.csv thresholds") {
    // Reference stats (dataGeneration/stats.csv): means ~1e-4, q10 ~ -0.0799
    // (near-uniform within the ±0.1 box since sd >> box width).
    val df = Generator.sample(spark, 20000, partitions = 8, seed = 42).cache()
    val thr = PopulationStats.thresholds(df).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(thr.size === 42)
    for (a <- 0 until 6) {
      assert(math.abs(thr(("mean", a))) < 0.005, s"mean asset $a = ${thr(("mean", a))}")
      assert(math.abs(thr(("10th quantile", a)) - (-0.0799)) < 0.005,
        s"q10 asset $a = ${thr(("10th quantile", a))}")
      // tail mean of a near-uniform(-0.1,0.1): mean of lowest decile ≈ -0.09
      assert(math.abs(thr(("mean of 10% smallest", a)) - (-0.09)) < 0.005)
      assert(thr(("security measure 1", a)) < thr(("mean", a)))
      assert(thr(("security measure 2", a)) > 0) // gmd is a positive spread
    }
    // portfolio series is a weighted combination → tighter spread
    assert(thr(("security measure 2", 6)) < thr(("security measure 2", 0)))
    df.unpersist()
  }

  test("PopulationStats on a tiny hand-computed table") {
    import spark.implicits._
    // single asset values 1..10 in a0, zeros elsewhere
    val df = (1 to 10).map(v =>
      (v.toDouble, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF("a0", "a1", "a2", "a3", "a4", "a5")
    val thr = PopulationStats.thresholds(df).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(thr(("mean", 0)) === 5.5)
    assert(thr(("median", 0)) === 5.5)
    assert(math.abs(thr(("10th quantile", 0)) - 1.9) < 1e-12)
    assert(thr(("mean of 10% smallest", 0)) === 1.0)
    assert(math.abs(thr(("security measure 1", 0)) - (5.5 - 1.25)) < 1e-12)
    // unbiased gmd of 1..10: 2*165/(10*9) = 11/3
    assert(math.abs(thr(("security measure 2", 0)) - 11.0 / 3) < 1e-12)
  }

  test("thresholds match a sorted-array oracle exactly (sizes, ties, constant, seams)") {
    for (n <- Seq(10, 25, 600, 20000)) {
      assertExact(uniformRows(n, seed = n), label = "plain")
      // rounded to 0.01: ~21 distinct values per series, heavy ties
      assertExact(uniformRows(n, seed = n + 1, round = true), label = "rounded")
    }
    // a3 constant: every rank target and the mean split land inside one run of ties
    assertExact(uniformRows(600, seed = 3, constant = Some(0.07)), label = "constant")
    // more range partitions than rows per series: quantile ranks, the tail
    // cut and the mean split fall on partition seams
    withShufflePartitions(64) {
      for (n <- Seq(10, 25, 600)) {
        assertExact(uniformRows(n, seed = 7 * n), label = "seams")
        assertExact(uniformRows(n, seed = 7 * n + 1, round = true), label = "seams rounded")
      }
    }
  }

  test("thresholds drop null values before the statistics") {
    val rows = uniformRows(40, seed = 11).zipWithIndex.map { case (r, i) =>
      if (i % 5 == 0) r.updated(0, None) else r
    }
    assertExact(rows)
    withShufflePartitions(16)(assertExact(rows))
  }

  test("thresholds need at least 10 non-null values per series") {
    val short = intercept[IllegalArgumentException] {
      PopulationStats.thresholds(frame(uniformRows(9, seed = 1)))
    }
    assert(short.getMessage.contains("at least 10 non-null values per series"))
    // 15 rows, 6 of them null in a2: series 2 (and the portfolio) keep 9
    val holes = uniformRows(15, seed = 2).zipWithIndex.map { case (r, i) =>
      if (i < 6) r.updated(2, None) else r
    }
    val e = intercept[IllegalArgumentException] {
      PopulationStats.thresholds(frame(holes))
    }
    assert(e.getMessage.contains("got 9 for assetNo 2"))
  }

  test("thresholds run a bounded number of jobs and leave nothing cached") {
    val df = frame(uniformRows(2000, seed = 5))
    val jobs = jobsOf(PopulationStats.thresholds(df).collect())
    // a sampling job for the range bounds, the shuffle, the count job and
    // the sorted walk (the rank-table build started 49)
    assert(jobs >= 1 && jobs <= 5, s"$jobs jobs")
  }

  test("column thresholds match a sorted-array oracle exactly (sizes, ties, constant, seams)") {
    for (n <- Seq(10, 25, 600, 20000)) {
      assertColumnExact(uniformRows(n, seed = n).map(_(0)), label = "plain")
      assertColumnExact(uniformRows(n, seed = n + 1, round = true).map(_(0)), label = "rounded")
    }
    // every rank target and the mean split land inside one run of ties
    assertColumnExact(Seq.fill(600)(Some(0.07)), label = "constant")
    withShufflePartitions(64) {
      for (n <- Seq(10, 25, 600)) {
        assertColumnExact(uniformRows(n, seed = 7 * n).map(_(0)), label = "seams")
        assertColumnExact(uniformRows(n, seed = 7 * n + 1, round = true).map(_(0)),
          label = "seams rounded")
      }
    }
  }

  test("column thresholds drop null values before the statistics") {
    val xs = uniformRows(40, seed = 11).map(_(0)).zipWithIndex.map { case (x, i) =>
      if (i % 5 == 0) None else x
    }
    assertColumnExact(xs)
    withShufflePartitions(16)(assertColumnExact(xs))
  }

  test("column thresholds need at least 10 non-null values") {
    val xs = uniformRows(12, seed = 3).map(_(0)).patch(0, Seq(None, None, None), 3)
    val e = intercept[IllegalArgumentException] {
      PopulationStats.columnThresholds(column(xs), col("v"))
    }
    assert(e.getMessage.contains("at least 10 non-null values per series"))
    assert(e.getMessage.contains("got 9 for column v"))
  }

  test("column thresholds run a bounded number of jobs and leave nothing cached") {
    val df = column(uniformRows(2000, seed = 5).map(_(0)))
    val jobs = jobsOf(PopulationStats.columnThresholds(df, col("v")).collect())
    assert(jobs >= 1 && jobs <= 5, s"$jobs jobs")
  }
}
