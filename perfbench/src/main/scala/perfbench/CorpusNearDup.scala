package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, length}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.dedup.Dedup
import graft.sources.Sources

/** Near-duplicate detection over a generated corpus as a closed loop:
  * shingles → MinHash bands → LSH candidates → exact Jaccard → connected
  * components → one canonical document per cluster (the longest, then the
  * lowest id).
  *
  * Chosen because none of the alert code runs, so the dedup and function
  * layers do all the work; it wastes work in a measurable way (candidates
  * against verified pairs), and its component rounds are bound by the
  * driver rather than by tasks.
  *
  * Checks: the exact Jaccard of a seeded sample of output pairs,
  * recomputed on the driver from the generated text; every verified pair
  * inside one cluster; every cluster labelled by its lowest id; every
  * canonical pick; and recall of the planted near-duplicates. */
object CorpusNearDup {
  val Threshold = 0.5
  val Docs = 2000
  val TinyDocs = 300
  val SamplePairs = 200
  /** Recall of planted pairs below this means detection is broken, not
    * merely unlucky: MinHash with these bands finds ~95% of them. */
  val MinRecall = 0.8

  def run(ctx: Ctx): Unit = {
    val n = if (ctx.tiny) TinyDocs else Docs
    val path = new File(ctx.work, "docs.jsonl").getPath
    val docs = ctx.generate { seed =>
      val d = Corpus.generate(n, seed)
      val g = new Digest
      d.foreach { x => g.add(x.doc_id); g.add(x.text) }
      (d, g.hex)
    } { d =>
      // the generated text is lowercase words and spaces: nothing to escape
      Files.write(Paths.get(path),
        d.toSeq.map(x => s"""{"doc_id":${x.doc_id},"text":"${x.text}"}""").asJava)
    }
    ctx.timeSetup("warmup")((1 to Ctx.WarmupJobs).foreach(_ => iteration(ctx.spark, path).free()))

    var recall = 0.0
    def checked(i: Int, r: Result): Unit = {
      ctx.out.attempted += 1
      val (bad, rec) = check(ctx, docs, r, i)
      recall = rec
      if (bad.nonEmpty) {
        ctx.out.failed += 1
        bad.foreach(ctx.out.fail)
      }
    }

    val runs = Stats.closedLoop(ctx.jobs, ctx.maxSeconds)(_ => iteration(ctx.spark, path)) {
      (i, r) => checked(i, r); r.free()
    }
    val times = ctx.keepClean(runs)(_._2).map(_._1)
    val e = ctx.out.endToEnd
    e("rows_per_s") = n / Stats.median(times)
    e("alert_latency_p50_ms") = Stats.quantile(times, 0.5) * 1e3
    e("alert_latency_p95_ms") = Stats.quantile(times, 0.95) * 1e3
    Console.err.println(f"[perfbench] corpus_neardup: ${times.length} iterations, job seconds " +
      times.map(t => f"$t%.3f").mkString(" ") + f", planted-pair recall $recall%.4f")
    ctx.out.perLayer("dedup.planted_recall") = recall
    if (ctx.trace) traced(ctx, path, Stats.median(times), checked)
  }

  /** A job's output plus the cluster labels, kept for the check. */
  final case class Result(pairs: Array[Row], canonical: Array[Row], labels: DataFrame,
      cached: Seq[DataFrame]) {
    def free(): Unit = {
      Checkpoints.free(labels)
      cached.foreach(_.unpersist())
      cached.foreach(Checkpoints.free)
    }
  }

  private val Schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The corpus as the engine's JSONL source reads it. */
  private def docsFrame(spark: SparkSession, path: String): DataFrame =
    Sources.readJsonl(spark, path, Schema, Seq("doc_id", "text"))

  private def canonical(labels: DataFrame, docs: DataFrame): DataFrame =
    Dedup.canonicalPerCluster(
      labels.join(docs.select(col("doc_id"), length(col("text")).as("len")), "doc_id"),
      "cluster_id", Seq(-col("len"), col("doc_id")), Seq("doc_id"))
      .where(col("n_members") > 1)

  /** One job. Shingles, bands and verified pairs are cached, as the
    * engine's own dedup queries do: each is read twice, and an uncached
    * shingle column is re-tokenized for every gram it builds. */
  def iteration(spark: SparkSession, path: String): Result = {
    val docs = docsFrame(spark, path)
    val grams = Dedup.shingles(docs).cache()
    val bands = Dedup.minhashBands(grams).cache()
    val pairs = Dedup.jaccardVerify(Dedup.lshCandidates(bands), grams)
      .where(col("jaccard") >= Threshold).cache()
    val pairRows = pairs.collect()
    val labels = Dedup.clusters(docs.select("doc_id"), pairs.select("id_a", "id_b"))
    Result(pairRows, canonical(labels, docs).collect(), labels, Seq(grams, bands, pairs))
  }

  private def traced(ctx: Ctx, path: String, untracedS: Double,
      checked: (Int, Result) => Unit): Unit = {
    val tr = ctx.tracer
    tr.activate()
    val spark = ctx.spark
    var counts = (0L, 0L)
    val from = tr.snapshot()
    val t0 = System.nanoTime()
    val runs = Stats.closedLoop(ctx.jobs, ctx.maxSeconds) { i =>
      tr.run = i
      tr.span("iteration") {
        val docs = docsFrame(spark, path)
        val grams = tr.span("dedup.shingles")(Dedup.shingles(docs).localCheckpoint(eager = true))
        val bands = tr.span("dedup.minhash")(Dedup.minhashBands(grams).localCheckpoint(eager = true))
        val cands = tr.span("dedup.candidates")(Dedup.lshCandidates(bands).localCheckpoint(eager = true))
        val pairs = tr.span("dedup.verify") {
          Dedup.jaccardVerify(cands, grams).where(col("jaccard") >= Threshold).localCheckpoint(eager = true)
        }
        val labels = tr.span("dedup.clusters") {
          Dedup.clusters(docs.select("doc_id"), pairs.select("id_a", "id_b"))
        }
        val canon = tr.span("dedup.canonical")(canonical(labels, docs).collect())
        (Result(pairs.collect(), canon, labels, Seq(grams, bands, cands, pairs)), cands)
      }
    } { case (i, (r, cands)) =>
      counts = (cands.count(), r.pairs.length.toLong)
      checked(i, r)
      r.free()
    }
    val times = Stats.clean(runs)(_._2).map(_._1)
    val wall = (System.nanoTime() - t0) / 1e9
    val l = ctx.out.perLayer
    l ++= tr.sparkMetrics(from, wall, ctx.cores)
    Seq("shingles", "minhash", "candidates", "verify", "clusters", "canonical")
      .foreach(s => l(s"dedup.${s}_s") = tr.medianSelfS(s"dedup.$s"))
    l("dedup.candidates") = counts._1.toDouble
    l("dedup.pairs") = counts._2.toDouble
    l("dedup.verify_yield") = counts._2.toDouble / counts._1
    l("bench.trace_overhead") = Stats.median(times) / untracedS
  }

  /** Problems found in one job's output, and the planted-pair recall. */
  private def check(ctx: Ctx, docs: Array[Doc], r: Result, iter: Int): (Seq[String], Double) = {
    val bad = Seq.newBuilder[String]
    val text = docs.map(d => d.doc_id -> d.text).toMap
    val rng = new Rng(ctx.seed * 31 + iter)
    val pairs = r.pairs.map(p => (p.getLong(0), p.getLong(1), p.getDouble(2)))
    val sample = if (pairs.isEmpty) Seq.empty else Seq.fill(SamplePairs)(pairs(rng.int(pairs.length)))
    sample.distinct.foreach { case (a, b, j) =>
      val jj = if (ctx.corrupt && iter == 0) j + 0.01 else j
      val exact = Corpus.jaccard(text(a), text(b))
      if (math.abs(exact - jj) > 1e-12 || exact < Threshold)
        bad += s"pair ($a, $b): engine jaccard $jj, exact $exact"
    }
    val label = r.labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    if (label.size != docs.length) bad += s"${label.size} labels for ${docs.length} documents"
    pairs.foreach { case (a, b, _) =>
      if (label.get(a) != label.get(b)) bad += s"pair ($a, $b) split across clusters"
    }
    val members = label.toSeq.groupBy(_._2).map { case (c, m) => c -> m.map(_._1) }
    members.foreach { case (c, m) =>
      if (c != m.min) bad += s"cluster $c is not labelled by its lowest id ${m.min}"
    }
    val multi = members.filter(_._2.size > 1)
    if (r.canonical.length != multi.size)
      bad += s"${r.canonical.length} canonical rows for ${multi.size} clusters"
    r.canonical.foreach { c =>
      val m = members.getOrElse(c.getLong(0), Seq.empty)
      val best = if (m.isEmpty) -1L else m.minBy(id => (-text(id).length, id))
      if (c.getLong(1) != m.size || c.getLong(2) != best)
        bad += s"cluster ${c.getLong(0)}: canonical ${c.getLong(2)} of ${c.getLong(1)}, expected $best of ${m.size}"
    }
    val planted = docs.filter(_.source > 0)
    val found = planted.count(d => label.get(d.doc_id) == label.get(d.source))
    val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.length
    if (recall < MinRecall) bad += f"planted-pair recall $recall%.3f below $MinRecall"
    (bad.result().take(10), recall)
  }
}
