package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `run` groups the spans of one operation (one batch
  * iteration or one streaming phase); `parent` is the enclosing span's id
  * (0 for none). */
case class Span(id: Int, name: String, parent: Int, run: Int,
    startNs: Long, endNs: Long)

/** Task counters of finished tasks. */
final class TaskTotals {
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0

  def add(o: TaskTotals, sign: Int = 1): Unit = {
    runMs += sign * o.runMs; gcMs += sign * o.gcMs
    shuffleWriteBytes += sign * o.shuffleWriteBytes
    spillBytes += sign * o.spillBytes; tasks += sign * o.tasks
  }
}

/** Counts every finished task, in total and per job group; a span sets its
  * id as the job group, so a task is booked to the span that submitted its
  * job. Listener events arrive on Spark's bus thread; readers drain the bus
  * first ([[Tracer.drain]]). */
final class TaskLedger extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  val total = new TaskTotals
  val byGroup: mutable.Map[String, TaskTotals] = mutable.Map()
  /** Task run times per stage, in stage-completion order. */
  val stageTaskMs: mutable.LinkedHashMap[Int, mutable.ArrayBuffer[Long]] =
    mutable.LinkedHashMap()
  var jobs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = new TaskTotals
      t.runMs = m.executorRunTime
      t.gcMs = m.jvmGCTime
      t.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
      t.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      t.tasks = 1
      total.add(t)
      byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new TaskTotals).add(t)
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
    }
  }
}

/** In-memory span recorder for the traced run. Until [[activate]] is
  * called (and always in an untraced run) [[span]] only runs its body and
  * no listener is registered, so untraced work pays nothing for tracing.
  * Spans are written out once, at exit. */
final class Tracer(sc: SparkContext, val on: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  private var active = false
  /** The operation the next spans belong to. */
  var run = 0
  val ledger = new TaskLedger

  def activate(): Unit = if (on && !active) {
    sc.addSparkListener(ledger)
    active = true
  }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, run, t0, System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Span duration minus the part of it that its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    kids.foreach { case (a, b) =>
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e6
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Median self time in seconds of the spans named `name`; 0 if none ran. */
  def medianSelfS(name: String): Double = {
    val xs = named(name).map(selfMs)
    if (xs.isEmpty) 0.0 else Stats.median(xs) / 1e3
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit =
    if (active && !sc.isStopped) org.apache.spark.BenchBus.drain(sc)

  /** A point-in-time copy of the ledger, to difference two of them. */
  def snapshot(): (TaskTotals, Int, Set[Int]) = {
    drain()
    ledger.synchronized {
      val t = new TaskTotals
      t.add(ledger.total)
      (t, ledger.jobs, ledger.stageTaskMs.keySet.toSet)
    }
  }

  /** The spark.* layer metrics over the interval between snapshot `from`
    * and now, which lasted `wallS` seconds on `cores` cores. */
  def sparkMetrics(from: (TaskTotals, Int, Set[Int]), wallS: Double,
      cores: Int): Map[String, Double] = {
    val (t0, jobs0, stages0) = from
    val (t1, jobs1, _) = snapshot()
    t1.add(t0, -1)
    val skew = ledger.synchronized {
      val fresh = ledger.stageTaskMs.filter { case (id, _) => !stages0.contains(id) }
      if (fresh.isEmpty) 0.0
      else {
        val heaviest = fresh.values.maxBy(_.sum)
        val med = Stats.median(heaviest.map(_.toDouble).toSeq)
        if (med > 0) heaviest.max / med else heaviest.max.toDouble.max(1.0)
      }
    }
    Map(
      "spark.task_s" -> t1.runMs / 1e3,
      "spark.task_busy_ratio" -> t1.runMs / 1e3 / (wallS * cores),
      "spark.task_skew" -> skew,
      "spark.shuffle_write_mb" -> t1.shuffleWriteBytes / 1e6,
      "spark.spill_mb" -> t1.spillBytes / 1e6,
      "spark.gc_s" -> t1.gcMs / 1e3,
      "spark.jobs" -> (jobs1 - jobs0).toDouble)
  }

  def toJson(runId: String): String = {
    drain()
    val rows = spans.map { s =>
      val t = ledger.synchronized(ledger.byGroup.get(s.id.toString))
      s"""{"run_id":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.run},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ms":${selfMs(s)},"task_ms":${t.map(_.runMs).getOrElse(0L)},""" +
        s""""tasks":${t.map(_.tasks).getOrElse(0)}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}
