package graft.analytics

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Link-graph analytics as iterative join-aggregation — the provenance
  * weighting step of web-corpus curation (crawl pipelines rank hosts by
  * link centrality and feed the score into source mixing/filtering;
  * PageRank is the canonical member, Page et al. 1999 — public method).
  *
  * Everything is node- or edge-keyed Dataframe algebra: per iteration ONE
  * equi-join of the normalized edge table with the current rank vector
  * and ONE keyed aggregate per destination — the sparse-matrix × vector
  * product in relational form. No driver-side state: node count and
  * dangling mass ride as broadcast 1-row frames. At 100 TB-corpus scale
  * (host graph: ~10⁸ nodes, ~10¹⁰ edges) each iteration is a standard
  * keyed shuffle; rank state is node-sized. For many iterations callers
  * should checkpoint the rank frame every few rounds to cut the growing
  * lineage — the fixed small iteration counts used here (3) keep the
  * plan shallow enough that one job executes it whole. */
object Graphs {

  /** Weighted PageRank over `edges` (src, dst, w). Out-probabilities are
    * w normalized by each src's total out-weight; dangling mass (nodes
    * with no out-edges) redistributes uniformly; teleport is the
    * standard (1−damping)/n. Returns (node, r) after `iters` rounds
    * from the uniform start — fixed-iteration (not
    * convergence-tested), so the result is a pure deterministic
    * function of the graph.
    *
    * PERSIST `edges` before calling: nodes, out-weights, normalized
    * edges, and every iteration's dangling/contribution pass all
    * re-derive from it — an unpersisted expensive edge build re-executes
    * ~4× per iteration (q133 measured 3.9 s → 0.6 s at sf0.1 from this
    * alone).
    *
    * The rank frame itself is localCheckpoint'ed every round (the
    * Spectral.topEigen lesson one module over): each iteration references
    * the previous ranks THREE times (dangling mass, contributions, and
    * through the new ranks), so the unbarriered logical plan grows ~3^k
    * and the stage count with it — measured 10.5 s → ~1 s at q133's
    * 25-node graph, where the arithmetic is trivial and ALL the cost was
    * plan/stage explosion. Rank state is node-sized, the right thing to
    * materialize. */
  def pageRank(edges: DataFrame, iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col("src"), col("dst"), col("w").cast("double"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nn = nodes.agg(count(lit(1)).cast("double").as("n"))
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val ne = e.join(outw, "src")
      .select(col("src"), col("dst"), (col("w") / col("outw")).as("p"))
    val srcs = e.select(col("src")).distinct()

    // every frame below descends from `e`, so joins between them are
    // self-joins — explicit aliases keep attribute resolution unambiguous
    val initRanks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    var ranks = initRanks
    for (_ <- 1 to iters) {
      val prevRanks = ranks
      val dang = ranks.alias("rk")
        .join(srcs.alias("sr"), col("rk.node") === col("sr.src"),
          "left_anti")
        .agg(coalesce(sum(col("r")), lit(0.0)).as("dang"))
      val contrib = ne.alias("ne")
        .join(ranks.alias("rk"), col("ne.src") === col("rk.node"))
        .groupBy(col("ne.dst").as("dst"))
        .agg(sum(col("ne.p") * col("rk.r")).as("s"))
      ranks = nodes.alias("nd").crossJoin(broadcast(nn))
        .crossJoin(broadcast(dang))
        .join(contrib.alias("cb"), col("nd.node") === col("cb.dst"),
          "left")
        .select(col("nd.node").as("node"),
          (lit(1.0 - damping) / col("n") + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("dang") / col("n")))
            .as("r"))
      ranks = flatCheckpoint(ranks) // eager: materialized before prev freed
      // the superseded |V|-row rank frame's checkpoint blocks — freed
      // explicitly, Dataset.unpersist is a no-op for them. ONLY frames
      // this loop checkpointed: their plan is a single LogicalRDD leaf
      // (ours). The INITIAL ranks frame is exempt — its un-truncated
      // plan reaches the caller's inputs, and a caller-checkpointed
      // edges frame would have ITS blocks destroyed mid-iteration.
      if (prevRanks ne initRanks) freeLocalCheckpoint(prevRanks)
    }
    ranks
  }

  /** [[pageRank]] solved ON THE DRIVER for dimension-bounded graphs —
    * the bounded-collect class ([[graft.plans.CollectAudit]]'s ≤4500-row
    * discipline; the same shape as the spectral Gram solve and the
    * retract-parts union-find): a graph keyed by a DIMENSION (nations,
    * sources, languages) has schema-bounded cardinality, and iterating
    * it distributively pays ~5 driver-synchronized jobs per iteration
    * (measured ~1 s/iteration of pure orchestration on a 25-node graph,
    * q133) to move numbers that fit in one array. The collect is
    * limit-probed: one row past `maxEdges` aborts LOUDLY — this is
    * explicitly NOT a path for corpus-keyed graphs, which keep the
    * distributed loop.
    *
    * Arithmetic is the distributed version's formula term for term; only
    * floating SUMMATION ORDER differs (deterministic source order here vs
    * partition order there) — the same plan-independence class every
    * round-6 gate already absorbs for engine-vs-oracle comparison (see
    * FpAudit). GraphsSpec pins local-vs-distributed equality at 6dp. */
  def pageRankLocal(edges: DataFrame, iters: Int,
      damping: Double = 0.85, maxEdges: Int = 4096): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val rows = edges.select(col("src"), col("dst"), col("w").cast("double"))
      .limit(maxEdges + 1).collect()
    require(rows.length <= maxEdges,
      s"pageRankLocal: graph exceeds $maxEdges edges — this solver is " +
        "for dimension-bounded graphs only; use pageRank (distributed)")
    val es = rows.map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      .sortBy(e => (e._1, e._2)) // deterministic summation order
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.length.toDouble
    val outw = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val ne = es.map { case (s, d, w) => (s, d, w / outw(s)) }
    val srcSet = outw.keySet
    var r = nodes.map(x => x -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dang = nodes.filterNot(srcSet).map(r).sum
      val contrib = ne.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _, p) => p * r(s) }.sum
      }
      r = nodes.map(x => x ->
        ((1.0 - damping) / n + damping *
          (contrib.getOrElse(x, 0.0) + dang / n))).toMap
    }
    import spark.implicits._
    nodes.map(x => (x, r(x))).toSeq.toDF("node", "r")
  }

  /** Connected components by ALTERNATING star contraction (large-star /
    * small-star — Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond", a public method): returns (idCol, cluster_id) where
    * cluster_id is the component's minimum id — the exact contract of
    * [[graft.dedup.Dedup.clusters]], which this replaces when component
    * DIAMETER is the risk. Min-label propagation needs diameter-many
    * rounds (a 10⁶-node chain of pairwise near-dups — a crawl of
    * boilerplate pages — needs 10⁶ rounds); star contraction converges in
    * O(log²) rounds worst-case, ~log in practice, because both operations
    * rewire nodes DIRECTLY to their neighborhood minimum, halving star
    * depth per round instead of walking it.
    *
    * Each round is two shuffle-bounded relational steps on the EDGE set
    * (never an adjacency list, so a 10⁸-degree hub never materializes in
    * one task):
    *   large-star: for every node x over both orientations, link each
    *     strictly-larger neighbor y to m = min(N(x) ∪ {x}) — one keyed
    *     min + one equi-join back on x;
    *   small-star: on the (u > v)-oriented result, link every smaller
    *     neighbor and u itself to m = min(N⁻(u) ∪ {u}) — same shape.
    * The convergence test is EXACT set equality (|next| == |prev| and
    * next ∖ prev = ∅ — equivalent for distinct sets), not a hash
    * heuristic: a premature stop would silently mislabel components.
    * Edges are lazily localCheckpoint'ed per round and materialized by
    * the count — ONE driver-synchronized job per round (plus the
    * difference scan only on rounds whose counts already match), the
    * Spectral/pageRank re-derivation lesson without r13's three-barrier
    * contention cost. */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 30): DataFrame =
    ccWithRounds(ids, pairs, idCol, maxRounds)._1

  /** [[connectedComponents]] plus the round count it converged in —
    * exposed so specs and the PLANS elasticity table can pin the
    * O(log n)-vs-diameter claim with a measured number. */
  private[graft] def ccWithRounds(ids: DataFrame, pairs: DataFrame,
      idCol: String, maxRounds: Int): (DataFrame, Int) = {
    // lazy checkpoint + count: ONE job materializes the round's edge set
    // AND returns its size (eager localCheckpoint would run a separate
    // materialization job first — at 10¹⁰ edges the extra per-round
    // driver barrier is pure contention, the r13 q171 lesson)
    var edges = flatCheckpoint(
      pairs.toDF("a", "b").where(col("a") =!= col("b"))
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .distinct(), eager = false)
    var prevCount = edges.count()
    var rounds = 0
    var converged = prevCount == 0L
    while (!converged && rounds < maxRounds) {
      // large-star
      val nbrs = edges.select(col("u").as("x"), col("v").as("y"))
        .unionAll(edges.select(col("v").as("x"), col("u").as("y")))
      val mins = nbrs.groupBy(col("x"))
        .agg(min(col("y")).as("__mn"))
        .select(col("x"), least(col("x"), col("__mn")).as("m"))
      val ls = nbrs.join(mins, "x")
        .where(col("y") > col("x") && col("y") =!= col("m"))
        .select(col("y").as("u"), col("m").as("v"))
        .distinct()
      // small-star (input and output both (u > v)-oriented)
      val minsS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = flatCheckpoint(ls.join(minsS, "u")
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionAll(minsS.select(col("u"), col("m").as("v")))
        .distinct(), eager = false)
      val nextCount = next.count() // materializes the lazy checkpoint too
      // set equality: both sides are distinct, so equal counts plus an
      // empty one-sided difference suffice — one scan of each
      // checkpointed set, vs the old unionAll.distinct().count() that
      // re-shuffled BOTH sets and recounted. The expensive leg only runs
      // when the cheap count test already matches (&& is lazy).
      converged = nextCount == prevCount && next.exceptAll(edges).isEmpty
      freeLocalCheckpoint(edges) // superseded round's blocks; final set
      edges = next               // stays alive for the labels frame below
      prevCount = nextCount
      rounds += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Graphs.connectedComponents: star contraction did not converge " +
          s"after $maxRounds rounds — at O(log n) expected rounds this " +
          s"means a pathological input, not a deep component; raise " +
          s"maxRounds only after inspecting the edge set")
    // fixed point: edges form stars (x, root-of-component); min() per u is
    // belt-and-braces — at the fixed point each u has exactly one root
    val labels = ids.select(col(idCol))
      .join(edges.groupBy(col("u")).agg(min(col("v")).as("__root")),
        col(idCol) === col("u"), "left")
      .select(col(idCol),
        coalesce(col("__root"), col(idCol)).as("cluster_id"))
    (labels, rounds)
  }

  /** localCheckpoint with TRUNCATED origin statistics — the fix for a
    * compounding-planning-cost defect the 24-fold mixed-maintenance
    * elasticity probe exposed (round 16): `Dataset.localCheckpoint`
    * preserves the source plan's `sizeInBytes` in the resulting
    * LogicalRDD, and Catalyst's size-only estimator MULTIPLIES child
    * sizes through every inner/outer join — so a checkpointed frame
    * whose lineage held J joins carries a ~J·19-digit BigInt, the next
    * round's plan multiplies those, its checkpoint preserves the
    * product, and digits DOUBLE per iteration/fold. After ~10 folds
    * the "planning" step is minutes of BigInteger.multiplyToomCook3
    * (measured: per-batch fold wall 13 s → 29 s → 104 s → 821 s on a
    * fixed corpus — a pure driver-side stats artifact, zero executor
    * work). Rewrapping the checkpointed RDD in a fresh LogicalRDD with
    * NO origin stats resets the leaf to the conf default, bounding
    * every downstream plan's stats at (#joins in THAT plan) digits —
    * per-fold planning cost becomes flat (the probe's early/late
    * per-batch means agree). Broadcast decisions are unaffected: every
    * deliberately-broadcast frame in this codebase is hinted
    * explicitly, and the garbage product stats were never broadcastable
    * anyway. Frees nothing and keeps the same checkpoint blocks, so
    * [[freeLocalCheckpoint]] on the result works unchanged. */
  private[graft] def flatCheckpoint(df: DataFrame,
      eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager)
    cp.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val session = cp.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(session,
          lr.copy(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            session, None, None))
      case _ => cp
    }
  }

  /** Free the block-manager storage behind a localCheckpoint'd frame.
    * `Dataset.unpersist` only clears CacheManager entries, but
    * localCheckpoint persists the UNDERLYING RDD directly — without this,
    * a superseded round's blocks linger until the ContextCleaner's
    * weak-reference GC happens to fire (unbounded in a long-lived
    * session). Walks the analyzed plan's LogicalRDD leaves; no-op on
    * frames without them. Never call it on a frame still consumed
    * downstream. */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** INCREMENTAL connected components: fold a DELTA edge batch into the
    * label table of an already-solved history graph, touching the delta
    * and the labels — never the history's edge set. The incremental-CC
    * member of the delta family (delta-dedup `Dedup.dedupDelta`,
    * delta-IVF `Clustering.assign`): a crawl's near-dup graph at 100 TB
    * has |E| ≫ |V| edges accumulated over months; re-running full CC per
    * ingest batch re-shuffles all of them, when connectivity-wise the
    * standing labels ARE the history (each component contracted to its
    * root — contraction preserves connectivity, so CC(labels-as-star-
    * edges ∪ delta) = CC(history ∪ delta)).
    *
    * Algorithm (cost ∝ |delta| + one labels pass, never |E_history|):
    *   1. resolve each delta endpoint to its history root via one
    *      key-partitioned join against `labels` (an id absent from
    *      labels is a NEW node and roots to itself);
    *   2. contract: the delta induces a ROOT graph of ≤ 2·|delta| nodes;
    *      run star-contraction CC on that tiny graph alone — its labels
    *      are a root→newRoot remap, and only roots the delta touches
    *      appear in it;
    *   3. relabel: broadcast the remap and map every id's old root
    *      through it (absent = untouched component, label unchanged).
    *      New nodes enter with their own id as the old root.
    *
    * Labels stay CANONICAL (cluster_id = min member id): history roots
    * are the min of their component, a new node's root is itself, and
    * the contracted CC labels each merged group by its min root — so
    * `ccDelta(cc(histIds, histEdges), deltaEdges, allIds)` is row-equal
    * to `connectedComponents(allIds, histEdges ∪ deltaEdges)`
    * (GraphsSpec pins it; q206 gates it against the recursive-CTE
    * oracle). `ids` must cover every node of history ∪ delta.
    *
    * Returns (idCol, cluster_id). */
  def ccDelta(labels: DataFrame, deltaPairs: DataFrame, ids: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 30): DataFrame =
    composeLabels(labels,
      Some(ccDeltaRemap(labels, None, deltaPairs, idCol, maxRounds)),
      ids, idCol)

  /** Steps 1–2 of [[ccDelta]], factored so the streaming maintainer can
    * MERGE-ON-READ instead of rewriting the corpus per batch: compute the
    * touched-roots-only remap (`__cn` old current root → `__new` new
    * canonical root, identity rows dropped) for one delta batch against a
    * TWO-LAYER label view — the persisted `base` label table plus the
    * small accumulated `remap` from batches folded since base was last
    * compacted. Endpoint resolution: base root (own id for a node absent
    * from base), then the accumulated remap re-points roots that earlier
    * deltas already merged. The contracted CC runs on ≤ 2·|delta| nodes
    * regardless of corpus size; `base` is only SCANNED (broadcast-join
    * lookup of the batch's endpoints — no shuffle or rewrite of base).
    *
    * The contracted graph is solved with a DRIVER-side union-find over
    * the collected rooted pairs (round 16): the pairs are ≤ |delta| rows
    * — the SAME bounded-collect class as the remap every caller already
    * collects — and solving a ≤ 2·|delta|-node graph with a
    * star-contraction LOOP paid ~6 driver-synchronized Spark jobs per
    * fold where one collect suffices; at minute-grain batches that fixed
    * overhead, not data volume, dominated the maintainers' per-fold
    * wall. Labels stay canonical (min member id — the union-find
    * carries each set's min), so the result is row-identical
    * (GraphsSpec's ccDelta equivalences pin it). `maxRounds` is unused
    * since the union-find replaced the loop; kept for source
    * compatibility. */
  /** Driver-side union-find with CANONICAL min representatives —
    * shared by the delta remap and the small-blast-radius retract
    * repair. Canonicalization MUST match the distributed paths' min():
    * Comparable.compareTo diverges (Java String is UTF-16 code-unit
    * order; Spark min() on strings is UTF8String code-point order —
    * supplementary characters sort differently) and throws on
    * non-Comparable ids (binary digests), so comparisons go through
    * Spark's interpreted ordering on the column's INTERNAL
    * representation. Binary ids also need value-equality map keys
    * (Array[Byte] hashes by reference): the structure runs over
    * wrapped keys with a key → external-value table for emission. */
  /** Value-equality map key for a driver-side id: binary digests
    * (Array[Byte]) hash by reference, so they wrap; everything else is
    * already value-keyed. Shared by every driver-side id set/map. */
  private[graft] def wrapKey(x: Any): Any = x match {
    case b: Array[Byte] =>
      scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case o => o
  }

  private final class DriverUnionFind(
      dt: org.apache.spark.sql.types.DataType) {
    private val toCatalyst =
      org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(dt)
    private val ord = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(dt)
    private val orig = mutable.HashMap.empty[Any, Any]
    private val parent = mutable.HashMap.empty[Any, Any]
    private def key(x: Any): Any = wrapKey(x)
    /** Register a node (idempotent); returns its internal key. */
    def add(x: Any): Any = {
      val k = key(x)
      orig.getOrElseUpdate(k, x)
      k
    }
    private def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    private def lt(a: Any, b: Any): Boolean =
      ord.compare(toCatalyst(orig(a)), toCatalyst(orig(b))) < 0
    def union(a: Any, b: Any): Unit = {
      val (ra, rb) = (find(add(a)), find(add(b)))
      if (ra != rb) {
        // min-id representative keeps labels canonical
        if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    /** (changed root → new root) rows — identity rows dropped. */
    def remapRows: Seq[org.apache.spark.sql.Row] = parent.keys.toSeq
      .map(k => k -> find(k))
      .filter { case (k, v) => k != v } // absent = unchanged
      .map { case (k, v) =>
        org.apache.spark.sql.Row(orig(k), orig(v)) }
    /** (node → canonical root) rows for EVERY registered node —
      * singletons label themselves. */
    def labelRows: Seq[org.apache.spark.sql.Row] = orig.keys.toSeq
      .map(k => org.apache.spark.sql.Row(orig(k), orig(find(k))))
  }

  def ccDeltaRemap(base: DataFrame, remap: Option[DataFrame],
      deltaPairs: DataFrame, idCol: String = "doc_id",
      maxRounds: Int = 30): DataFrame = {
    val spark = deltaPairs.sparkSession
    val idType = base.schema(idCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__cn", idType),
      org.apache.spark.sql.types.StructField("__new", idType)))
    def mk(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
    // 1. collect the batch pairs ONCE (≤ |delta| rows — the SAME
    // bounded class as the rooted pairs this function always
    // collected) and probe `base` for only their endpoints' roots:
    // one broadcast-semi lookup instead of the two label-view-side
    // joins that re-executed (and at scale shuffled) the composed
    // member layer per fold — the fold loops' job count was dominated
    // by exactly this (r17 verdict next-round #2).
    val pairRows = deltaPairs.toDF("__a", "__b").collect()
    if (pairRows.isEmpty) return mk(Seq.empty)
    val eps = {
      val seen = mutable.LinkedHashMap.empty[Any, Any]
      for (r <- pairRows; x <- Seq(r.get(0), r.get(1)))
        seen.getOrElseUpdate(wrapKey(x), x)
      seen.values.toSeq
    }
    val epDf = spark.createDataFrame(
      java.util.Arrays.asList(
        eps.map(org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__n", idType))))
    val rootOf = base
      .select(col(idCol).as("__n"), col("cluster_id").as("__r"))
      .join(broadcast(epDf), Seq("__n"), "left_semi")
      .collect().map(r => wrapKey(r.get(0)) -> r.get(1)).toMap
    // the accumulated remap is a bounded local frame in every caller —
    // its collect is a driver-side LocalTableScan, not a job
    val remapOf = remap.map(_.collect()
        .map(r => wrapKey(r.get(0)) -> r.get(1)).toMap)
      .getOrElse(Map.empty[Any, Any])
    // 2. endpoint -> base root (new node -> itself) -> accumulated
    // remap, then union-find over the contracted root graph
    // (≤ 2·|delta| nodes), all driver-side
    def resolve(x: Any): Any = {
      val r0 = rootOf.getOrElse(wrapKey(x), x)
      remapOf.getOrElse(wrapKey(r0), r0)
    }
    val uf = new DriverUnionFind(idType)
    for (row <- pairRows)
      uf.union(resolve(row.get(0)), resolve(row.get(1)))
    mk(uf.remapRows)
  }

  /** DECREMENTAL connected components — the deletion/takedown path the
    * add-only [[ccDelta]] cannot answer (r14 verdict gap #1): remove a
    * node set from the near-dup graph and repair the standing label
    * table by recomputing ONLY the components the removal touches.
    * Deleting a node can split its component (it may be a cut vertex)
    * and can retire its canonical min-id, so unlike the additive fold
    * there is no contraction shortcut — but the blast radius is exactly
    * the affected components, never the graph:
    *
    *   1. affected = the removed nodes' cluster_ids (≤ |removals| values,
    *      broadcast);
    *   2. the affected components' RETAINED members re-solve CC over the
    *      edges with both endpoints retained-and-affected (edges never
    *      cross components, so one endpoint membership test per side is
    *      also a component test; the edge scan is read-only and pruned
    *      by the broadcast — at scale an endpoint-partitioned edge table
    *      makes it a point lookup);
    *   3. every other component's labels pass through UNREAD, and
    *      removed ids simply vanish from the map.
    *
    * Labels stay canonical (min RETAINED member id), so the result is
    * row-equal to `connectedComponents(ids ∖ removed, edges ∖ touching
    * removed)` — GraphsSpec pins split/handoff/vanish shapes, q213 gates
    * it against exactly that full-recompute oracle. `labels` must cover
    * every node; returns (idCol, cluster_id) over the retained nodes. */
  def ccRetract(labels: DataFrame, pairs: DataFrame, removed: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 30): DataFrame = {
    val (resolved, affected) =
      ccRetractParts(labels, pairs, removed, idCol, maxRounds)
    labels.join(affected, Seq("cluster_id"), "left_anti")
      .select(col(idCol), col("cluster_id"))
      .unionAll(resolved)
  }

  /** The repair half of [[ccRetract]], factored so the streaming cluster-map
    * maintainer ([[graft.streaming.StreamingCcMixed]]) can accumulate
    * ONLY the repaired labels as a bounded override table instead of
    * rewriting the corpus per batch: returns (resolved labels for the
    * affected components' RETAINED members — the only rows whose labels
    * can change, bounded by the removal's blast radius — and the
    * broadcast affected cluster_id set for the caller's pass-through
    * anti-join). */
  def ccRetractParts(labels: DataFrame, pairs: DataFrame,
      removed: DataFrame, idCol: String = "doc_id", maxRounds: Int = 30)
      : (DataFrame, DataFrame) = {
    val r = ccRetractRepair(labels, pairs, removed, idCol, maxRounds)
    (r.resolved, r.affected)
  }

  /** Everything one retraction repair yields: the affected cluster set
    * (a bounded local relation, broadcast-ready, plus its driver-side
    * values) and the repaired labels. `resolvedRows` is Some exactly
    * when the repair was solved by the driver union-find (the common
    * bounded blast radius) — the streaming maintainers then merge
    * their override ledgers with ZERO further jobs, where the pre-r19
    * folds paid a localCheckpoint + count per fold on rows the driver
    * already held. */
  private[graft] final case class RetractRepair(resolved: DataFrame,
      affected: DataFrame, resolvedRows: Option[Seq[Row]],
      affectedVals: Seq[Any])

  private[graft] def ccRetractRepair(labels: DataFrame, pairs: DataFrame,
      removed: DataFrame, idCol: String = "doc_id", maxRounds: Int = 30,
      removedVals: Option[Seq[Any]] = None): RetractRepair = {
    val spark = labels.sparkSession
    val idType = labels.schema(idCol).dataType
    val clusterType = labels.schema("cluster_id").dataType
    def localDf(rows: Seq[Row], name: String,
        t: org.apache.spark.sql.types.DataType): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(name, t))))
    val rem = broadcast(removed.select(col(idCol)).distinct())
    val affPlan = labels.join(rem, idCol)
      .select(col("cluster_id")).distinct()
    // the affected cluster set is ≤ |removals| values — collected once
    // into a local relation so its consumers (the keep filter here, the
    // caller's pass-through anti-join, the caller's dead-remap-entry
    // drop) don't each re-execute the label-view scan. When the caller
    // holds the removal values driver-side (every streaming maintainer
    // does — takedown batches are the bounded-collect class), ONE fused
    // probe collects the affected components' full membership, removed
    // rows included: the distinct cluster values ARE the affected set
    // (every affected component still shows ≥ 1 row — its removed
    // member — because `labels` is the pre-removal view), and the
    // retained members are a driver-side filter away. That replaces
    // the two label-view executions (affected collect, keep
    // limit-probe) the r18 shape paid per fold with one.
    var affRows: Seq[Row] = null
    var smallMembers: Option[Seq[Row]] = None
    var probedSmall = false
    removedVals.foreach { rv =>
      val probe = labels.join(broadcast(affPlan), "cluster_id")
        .select(col("cluster_id"), col(idCol))
        .limit(2 * RetractSolveBound + 1).collect()
      if (probe.length <= 2 * RetractSolveBound) {
        probedSmall = true
        val seen = mutable.LinkedHashMap.empty[Any, Any]
        probe.foreach(r =>
          seen.getOrElseUpdate(wrapKey(r.get(0)), r.get(0)))
        affRows = seen.values.toSeq.map(Row(_))
        val rvW = rv.map(wrapKey).toSet
        val retained = probe.iterator
          .filterNot(r => rvW.contains(wrapKey(r.get(1))))
          .map(r => Row(r.get(1))).toSeq
        if (retained.length <= RetractSolveBound)
          smallMembers = Some(retained)
      }
      // a truncated probe proves nothing about the affected set —
      // fall through to the two-execution path below
    }
    if (!probedSmall)
      affRows = labels.join(rem, idCol)
        .select(col("cluster_id")).distinct().collect().toSeq
    val affected =
      broadcast(localDf(affRows, "cluster_id", clusterType))
    // retained members of affected components
    val keep = labels.join(affected, "cluster_id")
      .join(rem, Seq(idCol), "left_anti")
      .select(col(idCol))
    // ADAPTIVE small-case solve: a takedown's blast radius is usually a
    // handful of components, and re-solving it with the distributed
    // star-contraction loop pays ~20 driver-synchronized jobs per
    // repair (the ccDeltaRemap lesson, remove-leg edition — q216's
    // fold profile showed 411 jobs dominated by exactly this). When
    // BOTH the retained members and the affected edge set fit the
    // bounded-collect ceiling, one collect each + a driver union-find
    // replaces the loop, with labels canonical by the same Spark
    // interpreted ordering the distributed min() uses — row-identical
    // by construction (GraphsSpec pins equality on random graphs; the
    // oracles of q213/q215/q216 gate it end-to-end). A giant affected
    // component (dense near-dup clique: members² edges) falls back to
    // the distributed loop unchanged — the limit probes cost one
    // bounded job each, noise next to the loop they replace.
    val memberRows: Seq[Row] = smallMembers.getOrElse {
      if (probedSmall) null // fused probe already proved > bound
      else {
        val mr = keep.limit(RetractSolveBound + 1).collect().toSeq
        if (mr.length <= RetractSolveBound) mr else null
      }
    }
    val affectedVals = affRows.map(_.get(0))
    if (memberRows != null) {
      // the collected member set IS the edge filter: a bounded local
      // relation with exact size stats, broadcast to the edge scan —
      // the `keep` plan (a multi-join pass over the composed label
      // view) executes once, not once per consumer, and the edge
      // layer is pruned map-side instead of shuffled (r17 verdict
      // next-round #2)
      val keepDf = localDf(memberRows, idCol, idType)
      val e = pairs.toDF("__a", "__b")
        .join(broadcast(keepDf.select(col(idCol).as("__a"))),
          Seq("__a"), "left_semi")
        .join(broadcast(keepDf.select(col(idCol).as("__b"))),
          Seq("__b"), "left_semi")
        .select(col("__a"), col("__b"))
      val edgeRows = e.limit(RetractSolveBound + 1).collect()
      if (edgeRows.length <= RetractSolveBound) {
        val uf = new DriverUnionFind(idType)
        memberRows.foreach(r => uf.add(r.get(0)))
        edgeRows.foreach(r => uf.union(r.get(0), r.get(1)))
        // cluster_id is a member id (canonical = min member), so both
        // fields are idType — the same schema connectedComponents emits
        val labelRows = uf.labelRows
        val resolved = spark.createDataFrame(
          java.util.Arrays.asList(labelRows: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(idCol, idType),
            org.apache.spark.sql.types.StructField("cluster_id",
              idType))))
        return RetractRepair(resolved, affected, Some(labelRows),
          affectedVals)
      }
      // dense blast radius (members² edges): distributed loop over the
      // already-pruned edge set, member list still the collected one
      return RetractRepair(
        connectedComponents(keepDf, e, idCol, maxRounds), affected,
        None, affectedVals)
    }
    // giant member set: fully distributed, plan-side filters
    val e = pairs.toDF("__a", "__b")
      .join(keep.select(col(idCol).as("__a")), "__a")
      .join(keep.select(col(idCol).as("__b")), "__b")
      .select(col("__a"), col("__b"))
    RetractRepair(connectedComponents(keep, e, idCol, maxRounds),
      affected, None, affectedVals)
  }

  /** Collect ceiling for [[ccRetractParts]]' small-case repair — under
    * CollectBoundSpec's registry gate (4500) by margin. */
  private val RetractSolveBound = 4000

  /** Step 3 of [[ccDelta]]: every id's label through (base, remap) —
    * base root first (own id for new nodes), then the broadcast remap
    * ([[remapLabels]]) re-points roots that the delta merged; absent from
    * both = untouched singleton / component. One map-side pass over
    * `ids`. */
  def composeLabels(base: DataFrame, remap: Option[DataFrame],
      ids: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val lbl = base.select(col(idCol).as("__n"), col("cluster_id").as("__r"))
    // precedence: remapped touched root > base root > own id (new node)
    val withBase = ids.select(col(idCol))
      .join(lbl, col(idCol) === col("__n"), "left")
      .select(col(idCol), coalesce(col("__r"), col(idCol)).as("cluster_id"))
    remap.fold(withBase)(remapLabels(withBase, _, idCol))
  }

  /** Re-point every (idCol, cluster_id) label through the broadcast root
    * `remap` (`__cn` old root → `__new` new root); a label absent from
    * the remap stays. `labels.cluster_id` must be non-null. */
  private[graft] def remapLabels(labels: DataFrame, remap: DataFrame,
      idCol: String): DataFrame =
    labels.join(broadcast(remap), col("cluster_id") === col("__cn"), "left")
      .select(col(idCol),
        coalesce(col("__new"), col("cluster_id")).as("cluster_id"))

  /** Exact per-node triangle counts by DEGREE-ORDERED wedge join (the
    * standard scalable algorithm — Suri & Vassilvitskii 2011's
    * MapReduce form, public): orient every edge from its lower
    * (degree, id) endpoint to the higher, so each node's OUT-degree is
    * O(√m) even for a hub whose raw degree is the whole graph; wedges
    * (two out-edges of one node) then total O(m^1.5) instead of Σdeg²,
    * and each triangle is found exactly once as wedge (b≺c under the
    * same total order) + closing oriented edge b→c. In a near-dup graph
    * triangle participation is the clique-density diagnostic: a doc in
    * many triangles sits inside a duplication CROWD, not a chance pair.
    *
    * Three self-equi-joins on node keys, one keyed aggregate — no
    * adjacency list ever materializes in a task. Returns (idCol,
    * n_triangles) for nodes in ≥1 triangle. */
  def triangleCounts(pairs: DataFrame, idCol: String = "doc_id")
      : DataFrame = {
    // e0 sits under FOUR consumers (degree count + the keyed join) and
    // `e` under three (both wedge legs + the closing join): without the
    // barriers the caller's whole edge lineage — for q180 the LSH
    // candidate+verify pipeline — re-executes once per consumer
    // (measured as ~28 duplicate concurrent stages, >2× the query).
    // Materialize each ONCE; the superseded checkpoint blocks are freed
    // before returning the (node-sized, materialized) result.
    val e0 = flatCheckpoint(
      pairs.toDF("a", "b").where(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b"))
        .distinct())
    val deg = e0.select(col("a").as("n")).unionAll(e0.select(col("b")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val keyed = e0
      .join(deg.select(col("n").as("a"), col("d").as("__da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("__db")), "b")
    // total order (degree, id): struct comparison is lexicographic
    val aFirst = struct(col("__da"), col("a")) < struct(col("__db"), col("b"))
    val e = flatCheckpoint(keyed.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("__db")).otherwise(col("__da")).as("__dd")))
    val w1 = e.select(col("src"), col("dst").as("__x"),
      col("__dd").as("__dx"))
    val w2 = e.select(col("src"), col("dst").as("__y"),
      col("__dd").as("__dy"))
    val wedges = w1.join(w2, "src")
      .where(struct(col("__dx"), col("__x")) <
        struct(col("__dy"), col("__y")))
    val tris = wedges.join(
      e.select(col("src").as("__x"), col("dst").as("__y")),
      Seq("__x", "__y"))
    val out = flatCheckpoint(
      tris.select(explode(array(col("src"), col("__x"), col("__y")))
          .as(idCol))
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_triangles")))
    freeLocalCheckpoint(e0)
    freeLocalCheckpoint(e)
    out
  }
}
