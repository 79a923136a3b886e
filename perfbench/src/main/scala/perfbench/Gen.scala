package perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded random source. Every generator draws from one of these on one
  * thread, so a seed fixes the input bit for bit on any machine. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  private var spare = Double.NaN

  def uniform(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)

  /** Marsaglia polar method; written out so the stream does not depend on
    * the JDK's own gaussian algorithm. */
  def gaussian(): Double =
    if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
    else {
      var u, v, s = 0.0
      while ({
        u = 2 * uniform() - 1; v = 2 * uniform() - 1; s = u * u + v * v
        s >= 1 || s == 0
      }) ()
      val f = math.sqrt(-2 * math.log(s) / s)
      spare = v * f
      u * f
    }

  /** Gamma(shape, rate 1) for shape >= 1 (Marsaglia–Tsang). */
  def gamma(shape: Double): Double = {
    val d = shape - 1.0 / 3
    val c = 1 / math.sqrt(9 * d)
    var out = Double.NaN
    while (out.isNaN) {
      val x = gaussian()
      val v = math.pow(1 + c * x, 3)
      if (v > 0) {
        val u = uniform()
        if (math.log(u) < x * x / 2 + d - d * v + d * math.log(v)) out = d * v
      }
    }
    out
  }
}

/** Zipf(s) over ranks 1..n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(k => math.pow(k + 1.0, -s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(rng: Rng): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.uniform())
    math.min(if (i >= 0) i else -i - 1, n - 1) + 1
  }
}

/** SHA-256 over whatever the generator feeds it; the hex digest is the
  * run's input identity. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def add(x: Long): Unit = md.update(java.nio.ByteBuffer.allocate(8).putLong(x).array())
  def add(x: Double): Unit = add(java.lang.Double.doubleToLongBits(x))
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Six-asset returns from the reference generator's model (psd.R:4-19):
  * a multivariate Student-t (μ, Σ, df = 4) truncated to the ±0.1 box,
  * drawn by Gibbs sampling as R's `rtmvt(..., algorithm = "gibbs")` does
  * (burn-in, no thinning, so consecutive rows are correlated the way the
  * reference's samples.csv is). */
object Samples {
  val Mu: Array[Double] = Array(0.002, 0.004, 0.003, 0.002, 0.001, 0.003)
  val Sigma: Array[Array[Double]] = Array(
    Array(36, -2, -6, -1, 13, -1),
    Array(-2, 1, -1, 0, -1, -1),
    Array(-6, -1, 9, 1, 5, 0),
    Array(-1, 0, 1, 1, -1, 0),
    Array(13, -1, 5, -1, 25, -6),
    Array(-1, -1, 0, 0, -6, 4)).map(_.map(_.toDouble))
  val Df = 4.0
  val Lo = -0.1
  val Hi = 0.1
  private val BurnIn = 100

  def generate(n: Int, seed: Long): Array[Array[Double]] = {
    val d = Mu.length
    val omega = invert(Sigma)
    val rng = new Rng(seed)
    val x = Mu.clone()
    def sweep(): Unit = {
      var q = 0.0
      for (i <- 0 until d; j <- 0 until d)
        q += (x(i) - Mu(i)) * omega(i)(j) * (x(j) - Mu(j))
      val w = rng.gamma((Df + d) / 2) / ((Df + q) / 2)
      for (i <- 0 until d) {
        var shift = 0.0
        for (j <- 0 until d if j != i) shift += omega(i)(j) * (x(j) - Mu(j))
        val m = Mu(i) - shift / omega(i)(i)
        val s = 1 / math.sqrt(w * omega(i)(i))
        x(i) = truncatedNormal(rng, m, s)
      }
    }
    for (_ <- 0 until BurnIn) sweep()
    Array.fill(n) { sweep(); x.clone() }
  }

  /** Rejection from the uniform on [Lo, Hi]. The conditional scale of this
    * model is always wider than the box, so acceptance stays high. */
  private def truncatedNormal(rng: Rng, m: Double, s: Double): Double = {
    val peak = math.min(math.max(m, Lo), Hi)
    var out = Double.NaN
    while (out.isNaN) {
      val x = Lo + (Hi - Lo) * rng.uniform()
      val logAccept = ((peak - m) * (peak - m) - (x - m) * (x - m)) / (2 * s * s)
      if (math.log(rng.uniform()) <= logAccept) out = x
    }
    out
  }

  private def invert(m: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m.length
    val a = Array.tabulate(n, 2 * n)((i, j) =>
      if (j < n) m(i)(j) else if (j - n == i) 1.0 else 0.0)
    for (c <- 0 until n) {
      val p = (c until n).maxBy(r => math.abs(a(r)(c)))
      val t = a(p); a(p) = a(c); a(c) = t
      val pv = a(c)(c)
      for (j <- 0 until 2 * n) a(c)(j) /= pv
      for (r <- 0 until n if r != c) {
        val f = a(r)(c)
        for (j <- 0 until 2 * n) a(r)(j) -= f * a(c)(j)
      }
    }
    Array.tabulate(n, n)((i, j) => a(i)(j + n))
  }

  /** samples.csv as R's write.csv leaves it: a quoted header line (the
    * engine's parser drops it, as the reference's Splitter does) and one
    * line of six doubles per sample. */
  def csvLines(rows: Array[Array[Double]]): Iterator[String] =
    Iterator("\"V1\",\"V2\",\"V3\",\"V4\",\"V5\",\"V6\"") ++
      rows.iterator.map(_.mkString(","))
}

/** One keyed event of the streaming workload; `eventId` is the global
  * arrival order, so each key's events also arrive in `eventId` order. */
case class Ev(event_id: Long, user_id: Long, value: Double)

/** Keyed events: keys Zipf(1.1) over `keys` users (hot keys are scattered
  * over the id space by a seeded permutation), values heavy-tailed
  * returns (Student-t, df = 4, scaled and clipped to ±0.1). */
object Events {
  val ZipfS = 1.1

  def generate(n: Int, keys: Int, seed: Long): Array[Ev] = {
    val rng = new Rng(seed)
    val zipf = new Zipf(keys, ZipfS)
    val perm = Array.range(1, keys + 1)
    for (i <- keys - 1 to 1 by -1) {
      val j = rng.int(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    Array.tabulate(n) { i =>
      val t = rng.gaussian() / math.sqrt(rng.gamma(2.0) / 2.0)
      Ev(i + 1L, perm(zipf.sample(rng) - 1).toLong,
        math.max(-0.1, math.min(0.1, 0.02 * t)))
    }
  }
}

/** A generated document and, when it was planted as a near-duplicate,
  * the earlier document it was copied from. */
case class Doc(doc_id: Long, text: String, source: Long)

/** Documents of 150–400 tokens from a Zipf vocabulary; a share of them are
  * planted near-duplicates of an earlier document (which may itself be a
  * copy, so chains occur, up to [[Corpus.MaxDepth]] deep) with a small
  * fraction of tokens edited. */
object Corpus {
  val VocabSize = 20000
  val ZipfS = 1.0
  val DupShare = 0.2
  val EditRate = 0.03
  /** Copies of copies go at most this deep. Min-label propagation needs
    * one round per level, so a depth cap (reached by many chains at these
    * sizes) keeps the component rounds the same for every seed. */
  val MaxDepth = 3

  def generate(n: Int, seed: Long): Array[Doc] = {
    val rng = new Rng(seed)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < VocabSize)
        seen += Iterator.fill(3 + rng.int(7))(('a' + rng.int(26)).toChar).mkString
      seen.toArray
    }
    val zipf = new Zipf(VocabSize, ZipfS)
    def word(): String = vocab(zipf.sample(rng) - 1)
    val toks = new Array[Array[String]](n)
    val depth = new Array[Int](n)
    val out = new Array[Doc](n)
    for (i <- 0 until n) {
      val src =
        if (i > 0 && rng.uniform() < DupShare) {
          var j = rng.int(i)
          while (depth(j) >= MaxDepth) j = rng.int(i)
          j
        } else -1
      if (src >= 0) depth(i) = depth(src) + 1
      toks(i) =
        if (src < 0) Array.fill(150 + rng.int(251))(word())
        else {
          val b = Array.newBuilder[String]
          toks(src).foreach { t =>
            val u = rng.uniform()
            if (u < EditRate / 3) () // delete
            else if (u < 2 * EditRate / 3) b += word() // substitute
            else if (u < EditRate) { b += t; b += word() } // insert
            else b += t
          }
          b.result()
        }
      out(i) = Doc(i + 1L, toks(i).mkString(" "), if (src < 0) 0L else src + 1L)
    }
    out
  }

  /** Distinct word 3-gram shingles, tokenized as `Dedup.tokens` does. */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
    if (t.length < 3) Set.empty
    else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val x = shingles(a)
    val y = shingles(b)
    val common = x.count(y.contains)
    common.toDouble / (x.size + y.size - common)
  }
}
