package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.StreamingAsof

class AsofJoinSpec extends AnyFunSuite with SparkTestBase {

  /** The one oracle, SQL's ASOF LEFT JOIN: each left (id, k, t) row gets
    * the value columns of the right row with the same key and the
    * largest ts <= t; a NULL key or ts on either side matches nothing,
    * and no match is all NULLs. */
  private def bruteForce(left: DataFrame, right: DataFrame,
      valueCols: Seq[String]): Map[Long, Seq[Any]] = {
    def opt(r: Row, c: String) = Option(r.getAs[Any](c)).map(_.asInstanceOf[Long])
    val rs = right.collect().toSeq
      .map(r => (opt(r, "k"), opt(r, "t"), valueCols.map(r.getAs[Any](_))))
    left.collect().map { r =>
      val (k, t) = (opt(r, "k"), opt(r, "t"))
      val hits = rs.filter { case (rk, rt, _) =>
        k.isDefined && rk == k && t.exists(tl => rt.exists(_ <= tl)) }
      r.getAs[Long]("id") ->
        (if (hits.isEmpty) Seq.fill(valueCols.size)(null) else hits.maxBy(_._2.get)._3)
    }.toMap
  }

  /** Checks `asof`, `asofBucketed` at several bucket widths and
    * `StreamingAsof.attach` (on a batch frame, one DOUBLE value column at
    * a time) against [[bruteForce]] on left (id, k, t) and right
    * (k, t, valueCols…); returns the oracle's answer. */
  private def checkAll(left: DataFrame, right: DataFrame,
      valueCols: Seq[String]): Map[Long, Seq[Any]] = {
    val expected = bruteForce(left, right, valueCols)
    def got(df: DataFrame, cols: Seq[String]) = df.collect()
      .map(r => r.getAs[Long]("id") -> cols.map(r.getAs[Any](_))).toMap
    val out = valueCols.map(c => s"asof_$c")
    assert(got(AsofJoin.asof(left, right, Seq("k"), "t", valueCols), out) ===
      expected, "asof")
    for (w <- Seq(1L, 7L, 64L, 100000L))
      assert(got(AsofJoin.asofBucketed(left, right, Seq("k"), "t", valueCols,
        bucket = w), out) === expected, s"asofBucketed, bucket width $w")
    valueCols.zipWithIndex.filter(c => right.schema(c._1).dataType == DoubleType)
      .foreach { case (c, i) =>
        assert(got(StreamingAsof.attach(left, right, "k", "t", c, "served"),
          Seq("served")) === expected.map { case (id, v) => id -> Seq(v(i)) },
          s"StreamingAsof.attach on $c")
      }
    expected
  }

  test("asof, bucketed, served == brute force: ties, misses, null keys, ts") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val left = Seq.tabulate(300)(i => (i.toLong,
        Option(rnd.nextInt(5).toLong), Option(rnd.nextInt(100).toLong))) ++
      Seq((1000L, Some(7L), Some(5L)), // before key 7's first real right row
        (1001L, Some(7L), Some(12L)),
        (1002L, None, Some(50L)),      // a null key matches nothing
        (1003L, Some(1L), None))       // a null ts matches nothing
    // unique (k, t), as the operator's contract requires; some values null
    val right = Seq.fill(200)((Option(rnd.nextInt(5).toLong),
        Option(rnd.nextInt(100).toLong),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextDouble())))
      .groupBy(r => (r._1, r._2)).values.map(_.head).toSeq ++
      Seq((Some(7L), Some(10L), Some(4.0)),
        (Some(7L), None, Some(3.0)),   // a null ts would sort first
        (None, Some(1L), Some(9.0)))   // a null key would meet key-less rows
    val expected = checkAll(left.toDF("id", "k", "t"),
      right.toDF("k", "t", "rv"), Seq("rv"))
    assert(expected.size === left.size)
    assert(expected(1000L) === Seq(null) && expected(1001L) === Seq(4.0))
    assert(expected(1002L) === Seq(null) && expected(1003L) === Seq(null))
    // misses, matched NULLs and values (at equal ts too) all occur among
    // the random rows
    val random = left.take(300).map(_._1)
    val matched = left.collect { case (id, Some(k), Some(t)) if right.exists(r =>
      r._1.contains(k) && r._2.exists(_ <= t)) => id }.toSet
    assert(random.exists(!matched(_)))
    assert(random.exists(id => matched(id) && expected(id) == Seq(null)))
    assert(random.exists(expected(_) != Seq(null)))
  }

  test("value columns come from the SAME latest right row; NULLs propagate") {
    import spark.implicits._
    // latest key-1 row at t=20 has a=NULL, b="new"; an older row at t=10
    // has a=1.0, b="old". A per-column carry would wrongly back-fill
    // a=1.0 from t=10 while taking b="new" from t=20 — and would fill
    // key 2's all-NULL latest row entirely from its older row.
    val right = Seq[(Option[Long], Option[Long], Option[Double], Option[String])](
      (Some(1L), Some(10L), Some(1.0), Some("old")),
      (Some(1L), Some(20L), None, Some("new")),
      (Some(2L), Some(5L), Some(7.0), Some("older")),
      (Some(2L), Some(10L), None, None)).toDF("k", "t", "a", "b")
    val left = Seq((1L, 1L, 25L), (2L, 1L, 15L), (3L, 2L, 15L), (4L, 3L, 15L))
      .toDF("id", "k", "t")
    val got = checkAll(left, right, Seq("a", "b"))
    assert(got(1L) === Seq(null, "new"),
      "matched row's NULL must propagate, not back-fill from an older row")
    assert(got(2L) === Seq(1.0, "old"))
    assert(got(3L) === Seq(null, null),
      "an all-NULL matched row still matches, hiding the older row")
    assert(got(4L) === Seq(null, null))
  }

  private def join(left: Seq[(Long, Long, String)],
      right: Seq[(Long, Long, Double)]): Map[Long, Option[Double]] = {
    import spark.implicits._
    AsofJoin.asof(
        left.toDF("id", "ts", "tag").withColumn("user", lit(1L)),
        right.toDF("user", "ts", "v").select(col("user"), col("ts"),
          col("v")),
        keyCols = Seq("user"), tsCol = "ts", valueCols = Seq("v"))
      .collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("asof_v")).map(_.asInstanceOf[Double]))
      .toMap
  }

  test("each left row sees the latest right value at or before its ts") {
    val got = join(
      left = Seq((1L, 5L, "a"), (2L, 10L, "b"), (3L, 14L, "c"),
        (4L, 15L, "d"), (5L, 99L, "e")),
      right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0)))
    assert(got == Map(
      1L -> None,         // before any right row: honest NULL
      2L -> Some(1.0),    // equal ts: the right row at 10 is visible
      3L -> Some(1.0),
      4L -> Some(2.0),
      5L -> Some(2.0)))
  }

  test("keys do not leak values across groups") {
    import spark.implicits._
    val left = Seq((1L, 7L, 20L), (2L, 9L, 20L), (3L, 7L, 30L))
      .toDF("id", "ts", "user")
    val right = Seq((20L, 7L, 0.5), (30L, 8L, 9.9)).toDF("user", "ts", "v")
    val got = AsofJoin.asof(left, right, Seq("user"), "ts", Seq("v"))
      .collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("asof_v"))).toMap
    assert(got == Map(1L -> Some(0.5), 2L -> Some(0.5), 3L -> None))
  }

  test("multiple value columns fill independently") {
    import spark.implicits._
    // each value column gets its own asof_ output, of its own type, all
    // taken from the latest right row
    val left = Seq((1L, 5L, 10L)).toDF("id", "k", "t")
    val right = Seq((5L, 3L, 1.0, "x"), (5L, 9L, 2.0, "y"))
      .toDF("k", "t", "v", "s")
    assert(checkAll(left, right, Seq("v", "s")) === Map(1L -> Seq(2.0, "y")))
  }

  test("rejects an asof_ output-name collision and a missing value col") {
    import spark.implicits._
    val left = Seq((1L, 1L, 1L, 0.0)).toDF("id", "ts", "user", "asof_v")
    val right = Seq((1L, 1L, 1.0)).toDF("user", "ts", "v")
    intercept[IllegalArgumentException] {
      AsofJoin.asof(left, right, Seq("user"), "ts", Seq("v"))
    }
    intercept[IllegalArgumentException] {
      AsofJoin.asof(left.drop("asof_v"), right, Seq("user"), "ts",
        Seq("nope"))
    }
  }

  test("bucketed variant equals the plain form on random inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val left = Seq.tabulate(300)(i => (i.toLong,
      rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong)).toDF("id", "user", "ts")
    val right = Seq.tabulate(80)(i =>
        (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i / 10.0))
      .toDF("user", "ts", "v")
      // enforce the unique-(key, ts) contract the operator documents
      .groupBy("user", "ts").agg(max("v").as("v"))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") ->
        Option(r.getAs[Any]("asof_v"))).toMap
    val plain = toMap(AsofJoin.asof(left, right, Seq("user"), "ts",
      Seq("v")))
    for (w <- Seq(1L, 7L, 64L, 100000L)) {
      val bucketed = toMap(AsofJoin.asofBucketed(left, right, Seq("user"),
        "ts", Seq("v"), bucket = w))
      assert(bucketed == plain, s"bucket width $w diverged")
    }
  }

  test("bucketed variant carries across empty buckets") {
    import spark.implicits._
    // right value at ts=1, left rows many buckets later with nothing in
    // between: the spine carry must bridge the gap
    val left = Seq((1L, 1000000L, 5L), (2L, 999L, 5L)).toDF("id", "ts", "user")
    val right = Seq((5L, 1L, 42.0)).toDF("user", "ts", "v")
    val got = AsofJoin.asofBucketed(left, right, Seq("user"), "ts",
        Seq("v"), bucket = 10)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Double]("asof_v")).toMap
    assert(got == Map(1L -> 42.0, 2L -> 42.0))
  }

  test("plans as ONE exchange + one window pass (no join operator)") {
    import spark.implicits._
    val left = spark.range(100).select(col("id"),
      (col("id") % 7).as("user"), (col("id") * 3).as("ts"))
    val right = spark.range(20).select((col("id") % 7).as("user"),
      (col("id") * 11).as("ts"), col("id").cast("double").as("v"))
    val plan = AsofJoin.asof(left, right, Seq("user"), "ts", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(exchanges == 1, s"expected one shuffle, got $exchanges:\n$plan")
    assert("Window".r.findAllIn(plan).size == 1,
      s"expected one window pass for both value columns:\n$plan")
  }
}
