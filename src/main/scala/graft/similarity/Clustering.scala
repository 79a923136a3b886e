package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Full-corpus Lloyd k-means as relational algebra — the general
  * clustering operator beside the sample-trained quantizers in
  * [[Similarity]] (IVF/PQ train on bounded samples; Lloyd here assigns and
  * updates over the WHOLE corpus, the shape used for SemDeDup-style
  * cluster-then-prune curation and mixture analysis).
  *
  * Scale shape, per round: assignment is a PURE MAP stage — the k×d
  * centroid table is a driver-scalar-sized literal baked into one codegen'd
  * expression (the broadcast-centroids pattern every distributed k-means
  * uses), so no join and no shuffle touches the corpus. The update is one
  * keyed aggregate over (cluster, dim) with map-side partials — exactly k·d
  * rows cross the exchange regardless of corpus size — and the collect that
  * follows is k·d longs (same driver-scalar contract as the IVF/PQ
  * codebooks). The corpus-sized quantized frame has STATIC lineage (scan +
  * project), so each round re-derives it from the source scan — nothing
  * iterated is corpus-sized, which is why this loop needs no checkpoint
  * barrier (contrast `Spectral.topEigen`, whose accumulator is itself a
  * frame).
  *
  * Determinism contract (what lets a DuckDB oracle replay the run
  * bit-for-bit): all arithmetic is INTEGER-exact. Vectors are quantized to
  * ⌊x·scale⌋ once up front; distances are integer sums of squares;
  * centroid updates floor-divide integer sums (Math.floorDiv — identical
  * to SQL floor(sum/cnt) at these magnitudes); the argmin encodes
  * (distance, cluster) into ONE long — dist·2²⁰ + cid — so ties break
  * toward the smaller cluster id in both engines by construction. Float
  * k-means argmins flip across engines on ULP-level summation-order noise;
  * quantized k-means trades ~1/scale of resolution for cross-engine
  * reproducibility, the right trade for a curation pipeline that must be
  * re-runnable.
  */
object Clustering {

  /** cid occupies the low CidBits of the encoded (dist, cid) long. */
  private val CidBits = 20
  private val CidCap = 1L << CidBits

  /** Largest dist2 the (dist, cid) long encoding can carry without
    * overflow: dist·2²⁰ + cid must stay below Long.MaxValue. */
  private val MaxEncodableDist = (Long.MaxValue - (CidCap - 1)) / CidCap

  /** ⌊√Long.MaxValue⌋, slack-adjusted down so root·root provably fits —
    * the building block for the clusterPrune product guards. */
  private val LongRoot = 3037000498L

  /** Every centroid label must fit the low CidBits of the (dist, cid)
    * encoding — a label >= 2²⁰ or negative would silently corrupt every
    * downstream argmin instead of failing loudly. [[lloydCentroids]]'
    * seeds and caller-supplied sets ([[assign]], [[assignTopM]]) go
    * through here. */
  private def requireEncodableCids(cents: Seq[(Long, Array[Long])]): Unit =
    cents.foreach { case (cid, _) =>
      require(cid >= 0 && cid < CidCap,
        s"cluster label $cid outside [0, $CidCap) — the (dist, cid) " +
          "encoding needs small non-negative cluster ids")
    }

  /** Encode (dist2, cid) into one long, failing LOUDLY per row if dist2
    * exceeds the 2⁴³-ish encodable ceiling (reachable only when
    * scale²·dims·magnitude² outgrows the testdata envelope — a silent
    * wrap here would corrupt every argmin downstream). Codegen'd: one
    * branch + integer multiply-add per (row, centroid). */
  private def encode(dist2: Column, cid: Long): Column =
    when(dist2 <= lit(MaxEncodableDist), dist2 * lit(CidCap) + lit(cid))
      .otherwise(raise_error(concat(
        lit(s"Clustering: dist2 > $MaxEncodableDist overflows the " +
          "(dist,cid) encoding — lower `scale` (dist2 grows as " +
          "dims*(2*scale*|x|)^2); got dist2="), dist2.cast("string"))))

  /** Quantized integer vector: element i = ⌊vec(i)·scale⌋ (floor, not
    * round — floats exactly on a rounding boundary would tie-break
    * differently across engines; floor never ties). */
  def quantized(vecCol: Column, scale: Int): Column =
    transform(vecCol, x => floor(x.cast("double") * lit(scale)).cast("long"))

  /** Lloyd k-means over `vecs(idCol, vecCol: array<float|double>)`.
    * Seeds: the k vectors with smallest id, each cluster labeled by its
    * seed's id (deterministic, init-order-free). `rounds` assignment
    * passes run with a centroid update between consecutive passes: the
    * first `rounds − 1` are [[lloydCentroids]]' updates, the last is
    * [[assign]] against the centroids they leave. A cluster that loses
    * every member simply drops out of later rounds (standard Lloyd
    * degeneracy; the seed ids make the loss visible).
    *
    * Returns (idCol, cluster, dist2) — the final assignment with its
    * squared quantized distance. */
  def lloyd(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 4, rounds: Int = 3,
      scale: Int = 1000): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k >= 1, rounds >= 1; got $k/$rounds")
    assign(vecs, lloydCentroids(vecs, idCol, vecCol, k, rounds - 1, scale),
      idCol, vecCol, scale)
  }

  /** Final centroids of a [[lloyd]] run — (cluster, quantized vector),
    * for callers that assign separately (multi-probe assignment,
    * serving). `rounds` here counts UPDATE rounds (lloyd with
    * `rounds = r` assigns against the centroids this returns for
    * `updates = r − 1`). */
  def lloydCentroids(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", k: Int = 4, updates: Int = 1,
      scale: Int = 1000): Seq[(Long, Array[Long])] = {
    require(k >= 1 && updates >= 0, s"need k >= 1, updates >= 0")
    val q = quantizedFrame(vecs, idCol, vecCol, scale)
    // seeds: k smallest ids — k·d longs on the driver, the same
    // scalar-size contract as the IVF/PQ codebook collects
    var cents: Seq[(Long, Array[Long])] = q.orderBy(col(idCol)).limit(k)
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toSeq
    requireEncodableCids(cents) // update rounds preserve labels, so this holds throughout
    var r = 0
    while (r < updates) {
      // update: one (cluster, dim) keyed aggregate, k·d rows out
      val updated = q
        .withColumn("__cid", pmod(encodedDists(cents).reduce(least(_, _)),
          lit(CidCap)))
        .select(col("__cid"), posexplode(col("__q")).as(Seq("__d", "__v")))
        .groupBy(col("__cid"), col("__d"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      cents = updated.groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val byDim = rows.map(row => row.getInt(1) ->
            Math.floorDiv(row.getLong(2), row.getLong(3))).toMap
          cid -> Array.tabulate(byDim.size)(byDim)
        }
        .toSeq.sortBy(_._1)
      r += 1
    }
    cents
  }

  /** Single-cell assignment against a FROZEN centroid set — [[lloyd]]'s
    * final stage exposed for index MAINTENANCE: a delta batch lands in an
    * already-trained index by pure assignment (one codegen'd map stage,
    * no training pass touches the history), the same way a production
    * IVF serves inserts between retrains. Returns (idCol, cluster,
    * dist2); `assign(vecs, lloydCentroids(vecs, updates = r − 1))` is
    * what `lloyd(vecs, rounds = r)` runs (spec-pinned bit-identical), so
    * the quantized dist2 doubles as the drift signal: a delta population
    * whose per-cell mean dist2 outruns the history's is the integer-exact
    * retrain trigger (q203). */
  def assign(vecs: DataFrame, cents: Seq[(Long, Array[Long])],
      idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Int = 1000): DataFrame = {
    require(cents.nonEmpty, "assign needs at least one centroid")
    requireEncodableCids(cents)
    // dist2 extraction is a pure integer shift — the earlier double
    // .divide form lost low bits past 2⁵³-total, silently, at scales the
    // encoding itself still supports
    quantizedFrame(vecs, idCol, vecCol, scale)
      .withColumn("__comb", encodedDists(cents).reduce(least(_, _)))
      .select(col(idCol),
        pmod(col("__comb"), lit(CidCap)).as("cluster"),
        shiftright(col("__comb"), CidBits).as("dist2"))
  }

  /** Multi-probe assignment: each vector's `m` NEAREST clusters (rank
    * 1..m by the same encoded integer argmin as [[lloyd]] — sorting the
    * per-centroid encoded longs makes rank order deterministic including
    * ties). The SemDeDup boundary fix: a near-dup pair split across a
    * cluster boundary shares a cluster again once both sides carry their
    * top-2 — q75's multi-probe idea on the k-means index. Pure map
    * stage; output one row per (vector, probed cluster). */
  def assignTopM(vecs: DataFrame, cents: Seq[(Long, Array[Long])],
      m: Int, idCol: String = "vec_id", vecCol: String = "embedding",
      scale: Int = 1000): DataFrame = {
    require(m >= 1 && m <= cents.length,
      s"m must be in [1, ${cents.length}], got $m")
    requireEncodableCids(cents)
    val encs = array(encodedDists(cents): _*)
    quantizedFrame(vecs, idCol, vecCol, scale)
      .select(col(idCol),
        posexplode(slice(sort_array(encs), 1, m)).as(Seq("__r", "__enc")))
      .select(col(idCol), (col("__r") + 1).as("rank"),
        pmod(col("__enc"), lit(CidCap)).as("cluster"))
  }

  /** (idCol, `__q`): each vector quantized once, a static-lineage
    * projection of the source scan. */
  private def quantizedFrame(vecs: DataFrame, idCol: String, vecCol: String,
      scale: Int): DataFrame =
    vecs.select(col(idCol), quantized(col(vecCol), scale).as("__q"))

  /** One encoded (dist2, cid) long per centroid for the `__q` column.
    * Native codegen'd kernel (graft.functions.SqDistLong): the HOF
    * aggregate(zip_with(...)) form pays an interpreted lambda frame per
    * ELEMENT — k centroids × d dims per row on the hot path. Integer
    * addition is associative, so results are bit-identical. */
  private def encodedDists(cents: Seq[(Long, Array[Long])]): Seq[Column] =
    cents.map { case (cid, cq) =>
      encode(graft.functions.SqDistLong(col("__q"), typedLit(cq)), cid)
    }

  /** The SemDeDup prune step (Abbas et al., public method) composed over
    * [[lloyd]]'s output: within each cluster, a vector is DROPPED when its
    * cosine with any smaller-id cluster-mate reaches `tauNum/tauDen` —
    * keep-min-id, the deterministic one-representative rule. The cosine
    * test is INTEGER-exact over the same ⌊x·scale⌋ quantization as the
    * clustering: cos(a,b) ≥ τ ⟺ dot > 0 ∧ tauDen²·dot² ≥ tauNum²·|a|²·|b|²
    * — no square roots, no float accumulation, so the decision replays
    * bit-for-bit in a SQL oracle (q147).
    *
    * Scale shape: the pair join is CLUSTER-KEYED — per-pair work is
    * bounded by the largest cluster, never corpus² (the published recipe
    * scales k with the corpus precisely so clusters stay bounded; callers
    * own that knob). One keyed equi-join + one distinct over dropped ids +
    * one membership join; norms ride the vector rows, precomputed once.
    *
    * Returns (idCol, cluster, keep). */
  def clusterPrune(vecs: DataFrame, assign: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      tauNum: Long = 4, tauDen: Long = 5, scale: Int = 1000): DataFrame = {
    require(tauNum >= 0 && tauDen > 0 && tauNum <= tauDen,
      s"cosine threshold $tauNum/$tauDen outside [0, 1]")
    require(tauDen <= 1000000L, // keeps tauDen² (driver-side) exact
      s"tauDen $tauDen past 10^6 — more threshold resolution than the " +
        "quantization can distinguish, and tauDen^2 would near the Long " +
        "ceiling")
    val q = quantizedFrame(vecs, idCol, vecCol, scale)
      .withColumn("__n2",
        graft.functions.DotProductLong(col("__q"), col("__q")))
      .join(assign.select(col(idCol), col("cluster")), Seq(idCol))
    val a = q.select(col(idCol).as("__id_a"), col("__q").as("__qa"),
      col("__n2").as("__na"), col("cluster"))
    val b = q.select(col(idCol).as("__id_b"), col("__q").as("__qb"),
      col("__n2").as("__nb"), col("cluster"))
    // Overflow guards for the all-integer cosine test: dot grows as
    // dims·scale², so tauDen²·dot² (and tauNum²·na·nb) can pass the Long
    // ceiling on wider/larger-scale vectors than the testdata. A silent
    // wrap would FLIP prune decisions; instead each side is bounded so
    // its product provably fits, and out-of-bound rows raise.
    val maxSafeDot = LongRoot / math.max(tauDen, 1L)
    val maxSafeNorm = LongRoot / math.max(tauNum, 1L)
    val cosineAtLeastTau =
      when(col("__dot") <= lit(0L), lit(false))
        .when(col("__dot") <= lit(maxSafeDot) &&
            col("__na") <= lit(maxSafeNorm) &&
            col("__nb") <= lit(maxSafeNorm),
          lit(tauDen * tauDen) * col("__dot") * col("__dot") >=
            lit(tauNum * tauNum) * col("__na") * col("__nb"))
        .otherwise(raise_error(concat(
          lit("Clustering.clusterPrune: integer cosine test would " +
            "overflow Long (dims*scale^2 too large) — lower `scale`; " +
            "got dot="), col("__dot").cast("string"),
          lit(" na="), col("__na").cast("string"),
          lit(" nb="), col("__nb").cast("string"))).cast("boolean"))
    val dropped = a.join(b, Seq("cluster"))
      .where(col("__id_a") < col("__id_b"))
      .withColumn("__dot",
        graft.functions.DotProductLong(col("__qa"), col("__qb")))
      .where(cosineAtLeastTau)
      .select(col("__id_b").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    q.join(dropped, Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster"),
        coalesce(!col("__dup"), lit(true)).as("keep"))
  }
}
