package graft.gen

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType,
  StructField, StructType}

import graft.measures.Measures
import graft.sources.Sources

/** Population threshold job (≙ dataGeneration/psd.R:26-70, G2 in SURVEY
  * §2.3): the six statistics of each series over a whole table, the
  * stats.csv side table the alert predicate reads. Two entry points share
  * one job:
  *   - [[thresholds]]: the 7 series of the samples table (6 assets +
  *     weighted portfolio) → (stat, assetNo, thr), 42 rows;
  *   - [[columnThresholds]]: one value column as one series → (stat, thr),
  *     6 rows (the events thresholds of q10 and the streaming alerts).
  *
  * Scale design: count first, then one sorted walk. `(series, x)` is
  * range-partitioned into the session's `spark.sql.shuffle.partitions`
  * partitions, not sorted, so a long series spans many partitions (tasks)
  * instead of landing on one. Two jobs read the same shuffle output:
  *   1. The count job reads each (partition, series) piece's count and Σx.
  *      From these the driver knows every series' n and mean, the tail cut
  *      k = ⌊n/10⌋ and each piece's rank offset `off`, so it knows which
  *      piece holds each quantile rank before any value is sorted.
  *   2. The walk job copies each piece into a `double[]` of its counted
  *      size, sorts it (`java.util.Arrays.sort`) and in one loop answers the
  *      piece's share of every statistic: the values at its target ranks,
  *      the sum of its values among the k smallest, the count and sum of its
  *      values below the mean, and its GMD rank sum Σ(2(off+i)−n−1)·sᵢ.
  * The driver only adds the pieces' answers; each value is sorted once.
  * Exactness: Spark's range ordering treats −0.0 and 0.0 as equal and puts
  * NaN last, so equal keys share a partition; `Arrays.sort` orders by
  * `Double.compare`, which refines that order (−0.0 before 0.0) and also
  * puts NaN last. So partition order × in-array order is a total order of
  * each series, the values read at target ranks are exactly the sorted
  * array's order statistics, and every sum covers exactly the sorted-array
  * definition's terms; only the floating-point summation order differs.
  * Memory: a walk task holds its partition's values as doubles (8 bytes a
  * value), and one run of equal keys stays in one partition. Nothing is
  * cached. Faithful to psd.R semantics:
  *   - quantile: R type-7 (== Spark `percentile` interpolation): position
  *     p·(n−1), the bracketing order statistics lo/hi weighted
  *     lowerVal·(hi−position) + higherVal·(position−lo);
  *   - tail: mean of exactly the ⌊n/10⌋ smallest (psd.R:46-50);
  *   - SM1: mean − Σ|mean−x|/(2n) (psd.R:52-62), with
  *     Σ|m−x| = m·(2c − n) − 2S₍ₓ<ₘ₎ + S for c = #{x < m};
  *   - SM2: from the exact rank sum Σᵢ(2i−n−1)sᵢ, in one of two forms
  *     (see `gmd`).
  * Input contract: null values are dropped; every series needs at least 10
  * non-null values (`require`, naming the series), so the tail cut ⌊n/10⌋
  * selects at least one.
  */
object PopulationStats {

  private val Series = 7

  /** One series' statistics; `gsum` is the rank sum Σᵢ(2i−n−1)sᵢ. */
  private final case class Stats(n: Long, mean: Double, median: Double,
      q10: Double, tail: Double, sm1: Double, gsum: Double)

  /** One (partition, series) piece as the count job sees it. */
  private final case class Piece(part: Int, series: Int, cnt: Long, sum: Double)

  /** One (partition, series) piece as the walk reads it: its rank offset,
    * its count, the 0-based in-piece ranks to read, and how many of its
    * values are among the series' k smallest. */
  private final case class Target(series: Int, off: Long, cnt: Int,
      ranks: Array[Int], prefix: Int)

  /** A piece's answers: the values at its target ranks, the sum of its
    * first `prefix` values, the count and sum of its values below the mean,
    * and its share of the rank sum. */
  private final case class Answer(values: Array[Double], prefixSum: Double,
      below: Long, belowSum: Double, gsum: Double)

  // Two SM2 forms are in use until one is chosen (ROADMAP.md item 2(c),
  // SURVEY §2.5 Q5): the samples table emits sjstats::gmd, the unbiased
  // Gini mean difference (perfbench's `Oracle.thr` pins it); the value
  // column emits mean − Σ/n² (q10's DuckDB oracle pins it).
  private def gmd(s: Stats): Double = 2 * s.gsum / (s.n.toDouble * (s.n - 1).toDouble)
  private def meanLessGmd(s: Stats): Double = s.mean - s.gsum / (s.n.toDouble * s.n.toDouble)

  /** The six statistics in `Measures.names` order. */
  private def values(s: Stats, sm2: Stats => Double): Seq[Double] =
    Seq(s.mean, s.median, s.q10, s.tail, s.sm1, sm2(s))

  /** samples: columns a0..a5 → (stat, assetNo, thr), 6×7 rows. */
  def thresholds(samples: DataFrame): DataFrame = {
    val series = Sources.toSeries(samples.withColumn("seq", lit(0L)))
      .select(col("assetNo").as("series"), col("x").cast(DoubleType).as("x"))
    val stats = core(series, Series, a => s"assetNo $a")
    val rows = Measures.names.zipWithIndex.flatMap { case (stat, i) =>
      stats.zipWithIndex.map { case (st, s) => Row(stat, s, values(st, gmd)(i)) }
    }
    table(samples, rows, "assetNo" -> IntegerType)
  }

  /** The values of column `x` of `df` as one series → (stat, thr), 6 rows. */
  def columnThresholds(df: DataFrame, x: Column): DataFrame = {
    val stats = core(df.select(lit(0).as("series"), x.cast(DoubleType).as("x")), 1,
      _ => s"column $x").head
    table(df, Measures.names.zip(values(stats, meanLessGmd)).map { case (stat, v) => Row(stat, v) })
  }

  /** A local (stat, [key,] thr) relation. */
  private def table(df: DataFrame, rows: Seq[Row], key: (String, DataType)*): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(
      StructField("stat", StringType, nullable = false) +:
        key.map { case (k, t) => StructField(k, t, nullable = false) } :+
        StructField("thr", DoubleType, nullable = false)))

  /** The job: `input` has columns `series` (INT in [0, seriesCount)) and
    * `x` (DOUBLE); `name` names a series in the contract's message. */
  private def core(input: DataFrame, seriesCount: Int, name: Int => String): Seq[Stats] = {
    val spark = input.sparkSession
    val rows = input.where(col("x").isNotNull)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("series"), col("x"))
      .queryExecution.toRdd

    // job 1: count and Σx per (partition, series) piece
    val pieces = rows.mapPartitionsWithIndex { (part, it) =>
      val cnt = new Array[Long](seriesCount)
      val sum = new Array[Double](seriesCount)
      it.foreach { r =>
        val a = r.getInt(0)
        cnt(a) += 1; sum(a) += r.getDouble(1)
      }
      (0 until seriesCount).iterator.filter(cnt(_) > 0).map(a => Piece(part, a, cnt(a), sum(a)))
    }.collect().groupBy(_.series)

    // the driver: n, mean and rank offsets; then each piece's targets
    val n = Array.tabulate(seriesCount)(a => pieces.get(a).fold(0L)(_.map(_.cnt).sum))
    (0 until seriesCount).foreach(a => require(n(a) >= 10,
      s"PopulationStats needs at least 10 non-null values per series " +
        s"(the tail cut is ⌊n/10⌋), got ${n(a)} for ${name(a)}"))
    val total = Array.tabulate(seriesCount)(a => pieces(a).map(_.sum).sum)
    val mean = Array.tabulate(seriesCount)(a => total(a) / n(a))
    // type-7 quantile p: position p·(n−1) between two 0-based ranks
    def bracket(a: Int, p: Double): (Double, Long, Long) = {
      val pos = p * (n(a) - 1)
      (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
    }
    val targets = pieces.values.toSeq.flatMap { ps =>
      val inOrder = ps.sortBy(_.part)
      inOrder.zip(inOrder.scanLeft(0L)(_ + _.cnt)).map { case (Piece(p, a, cnt, _), off) =>
        require(cnt <= Int.MaxValue, s"partition $p holds $cnt values of ${name(a)}")
        val ranks = Seq(0.5, 0.1).flatMap { q => val (_, lo, hi) = bracket(a, q); Seq(lo, hi) }
          .filter(r => r >= off && r < off + cnt).map(r => (r - off).toInt).distinct
        p -> Target(a, off, cnt.toInt, ranks.toArray,
          math.min(math.max(n(a) / 10 - off, 0L), cnt).toInt)
      }
    }.groupMap(_._1)(_._2)

    // job 2: sort each piece once and answer its targets
    val parts = targets.keys.toSeq.sorted
    val answers = spark.sparkContext.runJob(rows,
      (ctx: TaskContext, it: Iterator[InternalRow]) =>
        walk(targets(ctx.partitionId()), seriesCount, n, mean, it), parts)
      .iterator.zip(parts.iterator).flatMap { case (as, p) => targets(p).zip(as) }.toSeq

    (0 until seriesCount).map { a =>
      val mine = answers.filter(_._1.series == a)
      val at = mine.flatMap { case (t, ans) =>
        t.ranks.iterator.map(_ + t.off).zip(ans.values.iterator)
      }.toMap
      def quantile(p: Double): Double = {
        val (pos, lo, hi) = bracket(a, p)
        if (lo == hi) at(lo) else at(lo) * (hi - pos) + at(hi) * (pos - lo)
      }
      val below = mine.map(_._2.below).sum
      val belowSum = mine.map(_._2.belowSum).sum
      val mad = (mean(a) * (2 * below - n(a)).toDouble - 2 * belowSum + total(a)) / n(a)
      Stats(n(a), mean(a), quantile(0.5), quantile(0.1),
        mine.map(_._2.prefixSum).sum / (n(a) / 10), mean(a) - mad / 2,
        mine.map(_._2.gsum).sum)
    }
  }

  /** The walk over one partition: each series' values into an array of
    * its counted size, sorted, then one loop per piece. */
  private def walk(targets: Seq[Target], seriesCount: Int, n: Array[Long],
      mean: Array[Double], it: Iterator[InternalRow]): Seq[Answer] = {
    val xs = new Array[Array[Double]](seriesCount)
    val fill = new Array[Int](seriesCount)
    targets.foreach(t => xs(t.series) = new Array[Double](t.cnt))
    it.foreach { r =>
      val a = r.getInt(0)
      xs(a)(fill(a)) = r.getDouble(1)
      fill(a) += 1
    }
    targets.map { t =>
      val v = xs(t.series)
      java.util.Arrays.sort(v)
      val m = mean(t.series)
      val coef = 2 * t.off + 1 - n(t.series) // 2(off + i + 1) − n − 1 at i = 0
      var prefixSum, belowSum, gsum = 0.0
      var below = 0L
      var i = 0
      while (i < v.length) {
        val x = v(i)
        if (i < t.prefix) prefixSum += x
        if (x < m) { below += 1; belowSum += x }
        gsum += (coef + 2L * i).toDouble * x
        i += 1
      }
      Answer(t.ranks.map(v(_)), prefixSum, below, belowSum, gsum)
    }
  }
}
