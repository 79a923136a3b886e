package graft.gen

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

import graft.measures.Measures
import graft.sources.Sources

/** Population threshold job (≙ dataGeneration/psd.R:26-70, G2 in SURVEY
  * §2.3): for each of the 7 series (6 assets + weighted portfolio) over the
  * full sample table, compute the six statistics → the stats.csv-shaped
  * table (stat, assetNo, thr).
  *
  * Scale design: one range-partitioned sorted pass. `(assetNo, x)` is
  * range-partitioned into the session's `spark.sql.shuffle.partitions`
  * partitions and sorted within each, so reading the partitions in index
  * order visits every series in ascending order, and a long series spans
  * many partitions (tasks) instead of landing on one. Equal keys always
  * share a partition, so only a run of ties stays on one task, and the
  * walks below stream it in O(1) memory.
  *   1. One walk emits a summary per (partition, series) piece — count, Σx,
  *      Σ(localRank·x), first and last value: at most p + 7 small records,
  *      collected to the driver.
  *   2. The driver turns them into n, mean and each piece's rank offset
  *      `off`; the GMD rank sum is exact from the summaries alone,
  *      Σᵢ(2i−n−1)sᵢ = Σ_pieces [2·(off·Σx + Σ lr·x) − (n+1)·Σx], since a
  *      piece's global ranks are exactly off + its local ranks.
  *   3. Every remaining statistic needs at most one value per target rank,
  *      one partial prefix sum, or one partial sum below the mean, and each
  *      lies in exactly one piece. Targets on a piece's first or last row
  *      come from the summaries; the rest are read by one job over only the
  *      partitions holding a target.
  * Exactness: partition order × in-partition order is the total order of
  * each series, so the values read at target ranks are exactly the sorted
  * array's order statistics and every sum covers exactly the sorted-array
  * definition's terms; only the floating-point summation order differs.
  * Nothing is cached and no rank table is built; the result is a 42-row
  * local relation. Faithful to psd.R semantics:
  *   - quantile: R type-7 (== Spark `percentile` interpolation): position
  *     p·(n−1), the bracketing order statistics lo/hi weighted
  *     lowerVal·(hi−position) + higherVal·(position−lo);
  *   - tail: mean of exactly the ⌊n/10⌋ smallest (psd.R:46-50);
  *   - SM1: mean − Σ|mean−x|/(2n) (psd.R:52-62), with
  *     Σ|m−x| = m·(2c − n) − 2S₍ₓ<ₘ₎ + S for c = #{x < m};
  *   - SM2 row: sjstats::gmd — the UNBIASED Gini mean difference
  *     2·Σᵢ(2i−n−1)sᵢ/(n(n−1)) (psd.R:64-68; SURVEY §2.5 Q5 keeps this
  *     as data, distinct from the window-side 2n² formula).
  * Input contract: null values are dropped (as `AlertPipeline.windowed`
  * does); every series needs at least 10 non-null values, so the tail cut
  * ⌊n/10⌋ selects at least one.
  */
object PopulationStats {

  private val Series = 7

  /** One series' run of rows inside one range partition, in sorted order. */
  private final case class Piece(part: Int, series: Int, cnt: Long, sum: Double,
      rankSum: Double, first: Double, last: Double)

  /** What one partition reads for one series: the values at local ranks
    * `ranks`, the sum of its first `prefix` values, and the count and sum
    * of the values below `cut` (NaN: none). */
  private final case class Probe(series: Int, ranks: Set[Long], prefix: Long, cut: Double)

  /** A probe's answers, filled in by one partition walk. */
  private final class Found(val probe: Probe) extends Serializable {
    val values = mutable.Map.empty[Long, Double]
    var prefixSum, belowSum = 0.0
    var below = 0L
  }

  /** samples: columns a0..a5 → (stat, assetNo, thr), 6×7 rows. */
  def thresholds(samples: DataFrame): DataFrame = {
    val spark = samples.sparkSession
    val sorted = Sources.toSeries(samples.withColumn("seq", lit(0L)))
      .select(col("assetNo"), col("x").cast("double").as("x"))
      .where(col("x").isNotNull)
      .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
        col("assetNo"), col("x"))
      .sortWithinPartitions(col("assetNo"), col("x"))
    val rows = sorted.queryExecution.toRdd
    val pieces = rows.mapPartitionsWithIndex(summarize).collect()
      .groupBy(_.series).map { case (s, ps) => s -> ps.sortBy(_.part) }
    val plans = (0 until Series).map { s =>
      val ps = pieces.getOrElse(s, Array.empty[Piece])
      val n = ps.map(_.cnt).sum
      require(n >= 10, s"PopulationStats.thresholds needs at least 10 non-null " +
        s"values per series (the tail cut is ⌊n/10⌋), got $n for assetNo $s")
      new SeriesPlan(s, ps, n)
    }
    val probes = plans.flatMap(_.probes).groupMap(_._1)(_._2)
    val parts = probes.keys.toSeq.sorted
    val found = spark.sparkContext.runJob(rows,
      (ctx: TaskContext, it: Iterator[InternalRow]) => lookup(probes(ctx.partitionId()), it),
      parts).iterator.zip(parts.iterator).flatMap { case (fs, part) =>
      fs.map(f => (part, f.probe.series) -> f)
    }.toMap
    val stats = plans.map(_.stats(found))
    val out = Seq(Measures.Mean, Measures.Median, Measures.Q10, Measures.TailMean,
      Measures.Sm1, Measures.Sm2).zipWithIndex.flatMap { case (stat, i) =>
      stats.zipWithIndex.map { case (st, s) => Row(stat, s, st(i)) }
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
      StructField("stat", StringType, nullable = false),
      StructField("assetNo", IntegerType, nullable = false),
      StructField("thr", DoubleType, nullable = false))))
  }

  /** Pass 1: one summary per series run in a sorted partition. */
  private def summarize(part: Int, it: Iterator[InternalRow]): Iterator[Piece] = {
    val out = mutable.ArrayBuffer.empty[Piece]
    var s = -1
    var cnt = 0L
    var sum, rankSum, first, last = 0.0
    def flush(): Unit = if (cnt > 0) out += Piece(part, s, cnt, sum, rankSum, first, last)
    it.foreach { r =>
      val a = r.getInt(0)
      val x = r.getDouble(1)
      if (a != s) {
        flush()
        s = a; cnt = 0; sum = 0; rankSum = 0; first = x
      }
      cnt += 1; sum += x; rankSum += cnt * x; last = x
    }
    flush()
    out.iterator
  }

  /** Pass 2 over one partition: answers its probes in one walk. */
  private def lookup(probes: Seq[Probe], it: Iterator[InternalRow]): Array[Found] = {
    val found = probes.map(p => p.series -> new Found(p)).toMap
    var s = -1
    var lr = 0L
    it.foreach { r =>
      val a = r.getInt(0)
      if (a != s) { s = a; lr = 0 }
      lr += 1
      found.get(a).foreach { f =>
        val x = r.getDouble(1)
        if (f.probe.ranks.contains(lr)) f.values(lr) = x
        if (lr <= f.probe.prefix) f.prefixSum += x
        if (x < f.probe.cut) { f.below += 1; f.belowSum += x }
      }
    }
    found.values.toArray
  }

  /** One series on the driver: its pieces in partition order, the targets
    * they leave open, and the six statistics once the targets are read. */
  private final class SeriesPlan(series: Int, ps: Array[Piece], n: Long) {
    private val offs = ps.scanLeft(0L)(_ + _.cnt)
    private val total = ps.map(_.sum).sum
    private val mean = total / n
    private val k = n / 10
    /** Type-7 position and its bracketing 0-based order statistics. */
    private def bracket(p: Double): (Double, Long, Long) = {
      val pos = p * (n - 1).toDouble
      (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
    }
    private val ranks = Seq(0.5, 0.1).flatMap { p =>
      val (_, lo, hi) = bracket(p)
      Seq(lo + 1, hi + 1)
    }
    /** Index of the piece holding 1-based rank r. */
    private def pieceOf(r: Long): Int = ps.indices.find(i => r <= offs(i + 1)).get
    private def inner(i: Int, r: Long): Boolean = r - offs(i) != 1 && r != offs(i + 1)
    private val tailPiece = pieceOf(k)
    private val straddle = ps.indexWhere(p => p.first < mean && mean <= p.last)

    /** (partition, probe) for every target the summaries do not answer. */
    def probes: Seq[(Int, Probe)] = {
      val need = mutable.Map.empty[Int, Probe]
      def at(i: Int)(f: Probe => Probe): Unit = need(i) =
        f(need.getOrElse(i, Probe(series, Set.empty, 0, Double.NaN)))
      ranks.foreach { r =>
        val i = pieceOf(r)
        if (inner(i, r)) at(i)(p => p.copy(ranks = p.ranks + (r - offs(i))))
      }
      if (k != offs(tailPiece + 1)) at(tailPiece)(_.copy(prefix = k - offs(tailPiece)))
      if (straddle >= 0) at(straddle)(_.copy(cut = mean))
      need.toSeq.map { case (i, p) => ps(i).part -> p }
    }

    /** mean, median, q10, tail, SM1, SM2 — the `Measures` stat order. */
    def stats(found: Map[(Int, Int), Found]): Seq[Double] = {
      def read(i: Int): Found = found((ps(i).part, series))
      def value(r: Long): Double = {
        val i = pieceOf(r)
        if (r - offs(i) == 1) ps(i).first
        else if (r == offs(i + 1)) ps(i).last
        else read(i).values(r - offs(i))
      }
      def quantile(p: Double): Double = {
        val (pos, lo, hi) = bracket(p)
        if (lo == hi) value(lo + 1)
        else value(lo + 1) * (hi - pos) + value(hi + 1) * (pos - lo)
      }
      val tailSum = ps.take(tailPiece).map(_.sum).sum +
        (if (k == offs(tailPiece + 1)) ps(tailPiece).sum else read(tailPiece).prefixSum)
      val fullBelow = ps.takeWhile(_.last < mean)
      val split = Option.when(straddle >= 0)(read(straddle))
      val below = fullBelow.map(_.cnt).sum + split.fold(0L)(_.below)
      val belowSum = fullBelow.map(_.sum).sum + split.fold(0.0)(_.belowSum)
      val mad = (mean * (2 * below - n).toDouble - 2 * belowSum + total) / n
      val gsum = ps.indices.map { i =>
        val p = ps(i)
        2 * (offs(i) * p.sum + p.rankSum) - (n + 1).toDouble * p.sum
      }.sum
      // n as double BEFORE the multiply: long n·(n−1) overflows past n ≈ 3.04e9
      Seq(mean, quantile(0.5), quantile(0.1), tailSum / k, mean - mad / 2,
        2 * gsum / (n.toDouble * (n - 1).toDouble))
    }
  }
}
