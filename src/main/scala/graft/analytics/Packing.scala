package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard packing: assign each document to a fixed-token-budget
  * shard.
  *
  * The contract is concatenate-and-cut — documents are laid out in a
  * deterministic global order, the token stream is cut every `budget`
  * tokens, and a document belongs to the shard where it BEGINS (documents
  * are not split; a long document may run past its shard's cut, which is
  * the standard greedy sequence-packing behavior).
  *
  * The global running sum this needs is exactly the operation that does
  * NOT scale as `Window.orderBy(key)` — an empty partition spec collapses
  * the corpus onto one task. This is the two-phase distributed prefix sum
  * instead (the graft.queries.Ranks.withGlobalRank shape, in pure DataFrame
  * operations):
  *
  *   1. `repartitionByRange(orderCol)` — p range-ordered partitions;
  *      partition i holds keys strictly below partition i+1's.
  *   2. running sum WITHIN each partition — a keyed window, fully parallel.
  *   3. per-partition totals (p rows — a scalar-sized, legitimate driver
  *      collect) → exclusive prefix offsets, broadcast-joined back.
  *
  * All integer arithmetic end to end: results are deterministic and
  * engine-exact regardless of partition boundaries (the offsets are
  * computed from actual content, so the sampling inside
  * repartitionByRange never changes the output).
  */
object Packing {

  /** Appends `shardCol` = 0-based shard index under `budget`-token greedy
    * packing of `weightCol` in ascending `orderCol` order. `weightCol`
    * must be an integral type (the prefix sum stays exact); `orderCol`
    * must be a UNIQUE key — with duplicates the layout order of the tied
    * rows is arbitrary, so their shard split is valid for SOME tie order
    * but not reproducible across runs (the running sum uses a ROWS frame,
    * so ties never share a cumulative value — the default RANGE frame
    * would hand every tied row the sum INCLUDING all its peers and
    * misplace whole tie groups past their true shard). */
  def packByBudget(df: DataFrame, orderCol: String, weightCol: String,
      budget: Long, shardCol: String = "shard_id",
      numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val p =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // localCheckpoint FREEZES the range partitioning: repartitionByRange
    // samples its bounds with a per-execution seed, and the offsets job
    // and the final result job are separate executions — without the
    // checkpoint they can disagree on which partition a row lands in,
    // silently corrupting the prefix sum (observed at sf0.1). Checkpointed,
    // both jobs read the SAME materialized partitions, and the window
    // runs once.
    // Fail loudly on invalid weights (the weightedPriority contract): a
    // NULL weight would be skipped by the window sum and silently NULL
    // this row's shard; a negative one breaks the monotone prefix-sum →
    // shard mapping with no error at all.
    val checkedWeight = when(col(weightCol) >= 0, col(weightCol))
      .otherwise(raise_error(concat(
        lit(s"packByBudget: $weightCol must be non-null and >= 0, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL")),
        lit(s" at $orderCol="), col(orderCol).cast("string"))))
    val local = df.withColumn(weightCol, checkedWeight)
      .repartitionByRange(p, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lc",
        sum(col(weightCol)).over(
          Window.partitionBy(col("__pid")).orderBy(col(orderCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    // phase 2→3: per-partition totals, exclusive-prefix-summed on the
    // driver (p longs), rejoined as a broadcast side table
    val totals = local.groupBy(col("__pid"))
      .agg(max(col("__lc")).as("__t"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val offsets = (0 until p).scanLeft(0L) { (acc, i) =>
      acc + totals.getOrElse(i, 0L)
    }.init.zipWithIndex.map { case (off, pid) => (pid, off) }
      .toDF("__pid", "__off")
    local.join(broadcast(offsets), "__pid")
      // integer floor division end to end (operands are non-negative):
      // a double cast would lose low bits past 2^53 of global offset and
      // misplace documents near shard cuts — exactly the magnitudes a
      // byte-weighted 100 TB corpus reaches
      .withColumn("__start", col("__lc") + col("__off") - col(weightCol))
      .withColumn(shardCol, expr(s"__start DIV ${budget}L"))
      .drop("__pid", "__lc", "__off", "__start")
  }

  /** Budgeted take PER GROUP — the data-mixing primitive: lay each
    * group's rows out in ascending `orderCol` order and keep the prefix
    * that BEGINS before the group's `budget` (same begins-before-the-cut
    * convention as [[packByBudget]]). This is how a training mix takes
    * "N tokens from each source" deterministically at corpus scale.
    *
    * The naive shape — `Window.partitionBy(group).orderBy(order)` — sorts
    * EACH WHOLE GROUP on one task; with source-level groups a group is
    * billions of documents and the job dies on the biggest one. This is
    * the grouped two-phase distributed prefix sum instead:
    * `repartitionByRange(group, order)` gives p range partitions (a group
    * spans several when large, each sorted locally in parallel), the
    * running sum runs within (partition, group), and the per-(partition,
    * group) totals — at most p + n_groups − 1 rows, partitions hold
    * contiguous (group, order) ranges — prefix-sum per group through a
    * TINY keyed window (≤ p rows per group) and broadcast back. Unlike
    * [[packByBudget]] there is NO driver collect at all: the offset
    * table never leaves the cluster.
    *
    * Appends `startCol` (the row's within-group start offset) and keeps
    * rows with `startCol < budget`. Same contracts as [[packByBudget]]:
    * integral non-negative weights (validated loudly), `orderCol` unique
    * WITHIN each group. */
  def takeByBudgetPerGroup(df: DataFrame, groupCol: String,
      orderCol: String, weightCol: String, budget: Long,
      startCol: String = "tok_start", numPartitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = df.sparkSession
    val p =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val checkedWeight = when(col(weightCol) >= 0, col(weightCol))
      .otherwise(raise_error(concat(
        lit(s"takeByBudgetPerGroup: $weightCol must be non-null and >= 0, " +
          "got "),
        coalesce(col(weightCol).cast("string"), lit("NULL")),
        lit(s" at $orderCol="), col(orderCol).cast("string"))))
    // a NULL group would survive the window (partitionBy groups NULLs
    // together) but vanish at the non-null-safe offsets equi-join —
    // neither kept nor budget-rejected; reject it loudly instead
    val checkedGroup = when(col(groupCol).isNotNull, col(groupCol))
      .otherwise(raise_error(concat(
        lit(s"takeByBudgetPerGroup: $groupCol must be non-null, NULL at " +
          s"$orderCol="), col(orderCol).cast("string"))))
    // localCheckpoint freezes the sampled range bounds across the totals
    // job and the result job (see packByBudget — without it the two
    // executions can disagree on row placement and corrupt the sum)
    val local = df.withColumn(weightCol, checkedWeight)
      .withColumn(groupCol, checkedGroup)
      .repartitionByRange(p, col(groupCol), col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__lc",
        sum(col(weightCol)).over(
          Window.partitionBy(col("__pid"), col(groupCol))
            .orderBy(col(orderCol))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint()
    val offsets = local.groupBy(col("__pid"), col(groupCol))
      .agg(max(col("__lc")).as("__t"))
      .withColumn("__off",
        coalesce(sum(col("__t")).over(
          Window.partitionBy(col(groupCol)).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col(groupCol), col("__off"))
    local.join(broadcast(offsets), Seq("__pid", groupCol))
      .withColumn(startCol, col("__lc") + col("__off") - col(weightCol))
      .where(col(startCol) < budget)
      .drop("__pid", "__lc", "__off")
  }
}
