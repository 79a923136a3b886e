package perfbench

object Stats {
  /** Linear-interpolation quantile (R type 7), `p` in [0, 1]. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** splitmix64 finalizer: the per-row hash of order-independent digests. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Runs `job` and then, untimed, `check` on its result, `jobs` times,
    * and more while none of them ran on an uncontended host (see [[Steal]]),
    * until `maxSeconds` have passed. The job count does not depend on how
    * fast the jobs are, so two commits are measured on the same work.
    * Returns each job's wall time in seconds and the share of CPU stolen
    * during it. */
  def closedLoop[T](jobs: Int, maxSeconds: Double)(job: Int => T)(
      check: (Int, T) => Unit): Seq[(Double, Double)] = {
    val t0 = System.nanoTime()
    val runs = Seq.newBuilder[(Double, Double)]
    var clean = 0
    var i = 0
    while (i < jobs || (clean == 0 && (System.nanoTime() - t0) / 1e9 < maxSeconds)) {
      val s = System.nanoTime()
      val out = job(i)
      val e = System.nanoTime()
      check(i, out)
      val st = Steal.share(s, e)
      if (st <= Steal.Limit) clean += 1
      runs += (((e - s) / 1e9, st))
      i += 1
    }
    runs.result()
  }

  /** The samples taken on an uncontended host, or, if none was, the one
    * taken on the least contended host. */
  def clean[T](xs: Seq[T])(steal: T => Double): Seq[T] = {
    val ok = xs.filter(x => steal(x) <= Steal.Limit)
    if (ok.nonEmpty || xs.isEmpty) ok else Seq(xs.minBy(steal))
  }
}

/** CPU time the hypervisor gave to other guests ("steal" in /proc/stat),
  * sampled every 50 ms by a daemon thread. On a shared host it comes and
  * goes by the minute and slows every phase it overlaps, so measurements
  * taken while more than [[Limit]] of the CPU was stolen are left out of
  * the medians when clean ones exist; the share and the number left out
  * are reported. Reads 0 where /proc/stat does not exist. */
object Steal {
  val Limit = 0.05
  private val stat = new java.io.File("/proc/stat")
  private val samples = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()

  private def read(): (Long, Long) =
    if (!stat.exists()) (0L, 1L)
    else {
      val src = scala.io.Source.fromFile(stat)
      try {
        val f = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    }

  private def record(): Unit = {
    val (st, tot) = read()
    val now = System.nanoTime()
    samples.synchronized(samples += ((now, st, tot)))
  }

  def start(): Unit = {
    record()
    val t = new Thread(() => while (true) { Thread.sleep(50); record() }, "perfbench-steal")
    t.setDaemon(true)
    t.start()
  }

  /** Share of all CPU time stolen between two `System.nanoTime` instants,
    * over the sample interval that covers them. */
  def share(t0: Long, t1: Long): Double = {
    record()
    samples.synchronized {
      val a = samples.lastIndexWhere(_._1 <= t0) max 0
      val b = samples.indexWhere(_._1 >= t1) match { case -1 => samples.size - 1; case j => j }
      val (_, s0, n0) = samples(a)
      val (_, s1, n1) = samples(b)
      if (n1 > n0) (s1 - s0).toDouble / (n1 - n0) else 0.0
    }
  }
}
