package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class SourcesSpec extends AnyFunSuite with SparkTestBase {

  private def writeTemp(name: String, lines: Seq[String]): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_src")
      .resolve(name)
    java.nio.file.Files.write(p, String.join("\n", lines: _*).getBytes)
    p.toString
  }

  test("samples CSV: header, garbage, wrong arity all silently dropped") {
    val path = writeTemp("samples.csv", Seq(
      "\"V1\",\"V2\",\"V3\",\"V4\",\"V5\",\"V6\"", // R header → drop
      "0.01,0.02,0.03,0.04,0.05,0.06", // valid → seq 1
      "garbage line", // drop (arity)
      "0.1,0.2,0.3,0.4,0.5", // drop (5 fields)
      "0.1,0.2,abc,0.4,0.5,0.6", // drop (non-numeric)
      "-0.01,-0.02,-0.03,-0.04,-0.05,-0.06", // valid → seq 2
      "1,2,3,4,5,6,7" // drop (7 fields)
    ))
    val df = Sources.readSamplesCsv(spark, path)
    val rows = df.orderBy("seq").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Double]("a0") === 0.01)
    assert(rows(0).getAs[Int]("seq") === 1)
    assert(rows(1).getAs[Double]("a5") === -0.06)
    assert(rows(1).getAs[Int]("seq") === 2)
  }

  /** Fields that stress the string → double parse: whitespace, overflow
    * and underflow, Java's d/f suffixes and hex floats, every Inf/NaN
    * spelling Spark's cast accepts and some it does not, NBSP, and plain
    * garbage. */
  private val Tokens = Seq(" 1.5", "1.5 ", "\t2.5\t", "1e400", "-1e400", "1e-400",
    "4.9e-324", "1d", "1f", "2D", "-3F", "0x1p3", "0x1.8p1", "-0X1P-2", "0x10",
    "Infinity", "-Infinity", "+Infinity", "infinity", "-INFINITY", "+infinity",
    " Infinity ", "inf", "+inf", "-inf", "INF", " -Inf ", "NaN", "nan", " NaN ",
    "-nan", "+nan", "", "1_000", "\u00a01", "1\u00a0", "abc", "1e", ".5", "5.",
    "-0", "+1")

  private val SampleSchema = StructType(
    (0 until 6).map(i => StructField(s"a$i", DoubleType)) :+
      StructField("seq", IntegerType, nullable = false))

  private def bits(r: Row): Seq[Long] =
    (0 until 6).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i)))

  test("samples CSV: the line parser matches Spark's try_cast parse") {
    val lines = Tokens.flatMap(t =>
      Seq(s"$t,0.5,0.5,0.5,0.5,0.5", s"0.5,0.5,0.5,0.5,0.5,$t")) ++ Seq(
      "\"V1\",\"V2\",\"V3\",\"V4\",\"V5\",\"V6\"",
      "0.1,0.2,0.3,0.4,0.5", // 5 fields
      "1,2,3,4,5,6,7", // 7 fields
      "0.1,0.2,0.3,0.4,0.5,0.6,", // trailing comma: 6 fields
      "0.1,0.2,0.3,0.4,0.5,0.6,,", // two trailing commas: 6 fields
      ",,,,,",
      "0.7,0.8,0.9,1.0,1.1,1.2")
    val path = writeTemp("tokens.csv", lines)
    // The oracle is the column parse this reader used before: an arity
    // check, then try_cast of each part. Spark's split maps limit 0 to −1
    // and so keeps trailing empty strings; Java's split(",", 0) drops
    // them, which the oracle gets by stripping the trailing commas first.
    val parts = split(regexp_replace(col("value"), ",+$", ""), ",", -1)
    val want = spark.read.text(path).coalesce(1)
      .select(parts.as("parts"))
      .where(size(col("parts")) === 6)
      .select((0 until 6).map(i =>
        expr(s"try_cast(parts[$i] AS DOUBLE)").as(s"a$i")): _*)
      .where((0 until 6).map(i => col(s"a$i").isNotNull).reduce(_ && _))
      .collect().map(bits).toSeq
    val df = Sources.readSamplesCsv(spark, path)
    assert(df.schema === SampleSchema)
    val got = df.collect().sortBy(_.getInt(6))
    assert(got.map(_.getInt(6)).toSeq === (1 to got.length))
    assert(got.map(bits).toSeq === want)
    // not vacuous: both verdicts occur, and the trailing-comma lines count
    assert(want.length > 40 && want.length < lines.length - 20, want.length)
    assert(got.count(r => bits(r) == Seq(0.1, 0.2, 0.3, 0.4, 0.5, 0.6)
      .map(java.lang.Double.doubleToRawLongBits)) === 2)
  }

  test("samples CSV: seq is 1..N in file order across many text splits") {
    val lines = (1 to 300).map { i =>
      if (i % 7 == 0) "garbage line"
      else if (i % 11 == 0) ""
      else s"$i,${i * 0.5},-0.25,1e-3,${-i},0.125"
    }
    val path = writeTemp("split.csv", lines)
    val statsPath = writeTemp("stats.csv", (1 to 6).map(r =>
      (0 to 6).map(a => s"0.$r$a").mkString(",")))
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "64") // lines straddle split seams, stats.csv too
    try {
      assert(spark.read.text(path).rdd.getNumPartitions > 100)
      assert(spark.read.text(statsPath).rdd.getNumPartitions > 1)
      val got = Sources.readSamplesCsv(spark, path).collect()
        .map(r => r.getInt(6) -> r.getDouble(0)).sortBy(_._1).toSeq
      val want = lines.zipWithIndex.collect {
        case (l, i) if l.contains(",") => (i + 1).toDouble
      }
      assert(got === want.indices.map(_ + 1).zip(want))
      val thr = Sources.readStatsCsv(spark, statsPath).collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
      assert(thr.size === 42)
      assert(thr(("mean", 0)) === 0.10)
      assert(thr(("security measure 2", 6)) === 0.66)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("stats CSV: 6 rows × 7 cols unpivot to 42 (stat, assetNo, thr)") {
    // measure order fixed by psd.R:28-68
    val path = writeTemp("stats.csv", (1 to 6).map(r =>
      (0 to 6).map(a => s"0.$r$a").mkString(",")))
    val df = Sources.readStatsCsv(spark, path)
    assert(df.count() === 42)
    val m = df.collect().map(r =>
      (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(m(("mean", 0)) === 0.10)
    assert(m(("median", 3)) === 0.23)
    assert(m(("security measure 2", 6)) === 0.66)
  }

  test("alert-log round-trip: parse(write(alerts)) is bit-identical (P1)") {
    import spark.implicits._
    // tricky values on purpose: scientific notation both signs, negative
    // zero-ish, stat names with spaces and digits (the real measure names)
    val alerts = Seq(
      (30, "mean", 0, 1.0e-4),
      (31, "10th quantile", 3, -0.0031415926535897933),
      (1000000, "security measure 1", 6, 1.23456789012345e18),
      (45, "mean of 10% smallest", 2, -7.0),
      (46, "security measure 2", 1, 4.9e-324) // Double.MinPositiveValue
    ).toDF("count", "stat", "assetNo", "value")
    val dir = java.nio.file.Files.createTempDirectory("graft_alertlog")
      .resolve("log").toString
    Sources.writeAlertLog(alerts, dir)
    val back = Sources.readAlertLog(spark, dir)
    assert(back.schema.fieldNames.toSeq ===
      Seq("count", "stat", "assetNo", "value"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getString(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    assert(back.collect().map(key).toSet === alerts.collect().map(key).toSet)
  }

  test("q91 round-trip equals the alert table exactly at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val q91 = graft.queries.Registry.byName("q91_alertlog_roundtrip")
      .run(spark, dir)
    val direct = graft.queries.AnalyticsQueries.cachedAlerts(spark, dir)
      .selectExpr("cast(event_id as int) as count", "stat",
        "cast(user_id as int) as assetNo", "m as value")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getInt(0), r.getString(1), r.getInt(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    val got = q91.collect().map(key)
    val want = direct.collect().map(key)
    assert(got.length === want.length) // no dropped / duplicated lines
    assert(got.toSet === want.toSet)
  }

  test("JSONL round-trip is bit-exact on hostile strings and nulls") {
    import spark.implicits._
    // quotes, backslashes, newline, tab, non-ASCII, empty string, and a
    // legitimately-NULL optional field — the escaping surface of to_json
    val rows = Seq(
      (1L, "plain text", Some("en")),
      (2L, "quote \" backslash \\ slash /", Some("de")),
      (3L, "newline\nand\ttab", None),
      (4L, "unicode é漢字🙂", Some("fr")),
      (5L, "", Some("en")))
    val df = rows.toDF("doc_id", "text", "lang")
    val path = java.nio.file.Files.createTempDirectory("graft_jsonl")
      .resolve("corpus").toString
    Sources.writeJsonl(df, path)
    val back = Sources.readJsonl(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING"),
      requiredCols = Seq("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)))).toSet
    assert(back === rows.toSet)
  }

  test("JSONL malformed lines are dropped, never nulled in (O2 contract)") {
    val path = writeTemp("corpus.json", Seq(
      """{"doc_id":1,"text":"good one","lang":"en"}""",
      "{not json at all", // syntax → drop
      """{"doc_id":"abc","text":"bad id type"}""", // uncoercible → drop
      """{"doc_id":2,"lang":"en"}""", // missing required text → drop
      """{"doc_id":null,"text":"null id"}""", // JSON null required → drop
      "", // blank line → drop
      """{"doc_id":3,"text":"also good"}""")) // missing OPTIONAL lang → keep
    val got = Sources.readJsonl(spark, path,
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING"),
      requiredCols = Seq("doc_id", "text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
    assert(got.toSeq === Seq(
      (1L, "good one", Some("en")), (3L, "also good", None)))
  }

  test("JSONL readJsonl rejects requiredCols outside the schema") {
    intercept[IllegalArgumentException] {
      Sources.readJsonl(spark, "/nonexistent",
        org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT"),
        requiredCols = Seq("text"))
    }
  }

  test("toSeries adds the weighted portfolio as series 6") {
    import spark.implicits._
    val df = Seq((1, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6))
      .toDF("seq", "a0", "a1", "a2", "a3", "a4", "a5")
    val s = Sources.toSeries(df).collect()
      .map(r => r.getInt(1) -> r.getDouble(2)).toMap
    assert(s(0) === 0.1)
    assert(s(5) === 0.6)
    val expected = 0.2 * 0.1 + 0.2 * 0.2 + 0.2 * 0.3 + 0.15 * 0.4 +
      0.15 * 0.5 + 0.1 * 0.6
    assert(math.abs(s(6) - expected) < 1e-12)
  }
}
