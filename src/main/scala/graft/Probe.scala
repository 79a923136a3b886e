package graft

import graft.queries.Registry

/** Dev measurement probe (guide §1): time one registry query repeatedly
  * under Bench's session shape ([[Bench.harnessSession]]) with arbitrary
  * conf overrides applied on top, to
  * attribute fixed per-stage overhead (planning, AQE re-optimization,
  * scheduling) vs data work. Not part of the driver contract.
  * Usage: Probe <query> [reps] [k=v,k=v,...] */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val confs = (if (args.length > 2) args(2) else "").split(',')
      .filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split('=');
        (k, v)
      }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val b = Bench.harnessSession("graft-probe")
    confs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = Registry.byName(name)
    // one warmup like Bench's
    Registry.byName.get("q01_pricing_summary")
      .foreach(w => w.run(spark, sfDir).count())
    // per-job accounting for the LAST rep: job wall + summed task time
    // tell driver/planning gaps (wall >> tasks) apart from compute
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val taskMs = new java.util.concurrent.atomic.AtomicLong()
    var listening = false
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (listening) jobs.put(j.jobId, (j.time, 0L))
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (listening) Option(jobs.get(j.jobId)).foreach { case (s, _) =>
            jobs.put(j.jobId, (s, j.time))
          }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (listening && t.taskInfo != null)
            taskMs.addAndGet(t.taskInfo.duration)
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = if (listening) {
          val i = sc.stageInfo
          val wall = (for {s <- i.submissionTime; e <- i.completionTime}
            yield e - s).getOrElse(0L)
          if (wall > 100)
            println(f"[probe]   stage ${i.stageId} '${i.name.take(60)}' " +
              f"tasks=${i.numTasks} wall=${wall / 1e3}%.2f s")
        }
      })
    // SPARK_PROBE_SQL: dump every SQL execution's physical plan during
    // the last rep — the way to see per-micro-batch plans a foreachBatch
    // stream runs (the final frame's executedPlan shows only the
    // read-back query)
    if (sys.env.contains("SPARK_PROBE_SQL"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onOtherEvent(
              e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
            e match {
              case s: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionStart if listening =>
                println(s"[probe-sql] === execution ${s.executionId} " +
                  s"${s.description.take(80)}\n${s.physicalPlanDescription}")
              case _ => ()
            }
        })
    // SPARK_PROBE_EXEC: per-SQL-execution wall times for the last rep —
    // execution wall INCLUDES driver-side planning/scheduling gaps that
    // job-wall misses, so (exec wall − its jobs' wall) attributes the
    // fixed per-execution overhead the streaming folds pay
    val execs = new java.util.concurrent.ConcurrentHashMap[
      Long, (String, Long, Long)]()
    if (sys.env.contains("SPARK_PROBE_EXEC"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onOtherEvent(
              e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
            e match {
              case s: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionStart if listening =>
                execs.put(s.executionId,
                  (s.physicalPlanDescription.linesIterator
                    .filter(l => l.contains("(1)") || l.contains("Scan") ||
                      l.contains("Aggregate") || l.contains("Join"))
                    .take(2).mkString(" | ").take(100) + " @ " +
                    s.description.take(60), s.time, 0L))
              case s: org.apache.spark.sql.execution.ui
                  .SparkListenerSQLExecutionEnd if listening =>
                Option(execs.get(s.executionId)).foreach {
                  case (d, t0, _) => execs.put(s.executionId, (d, t0, s.time))
                }
              case _ => ()
            }
        })
    // SPARK_PROBE_STREAM: per-micro-batch progress (input rows, state
    // rows, duration split) for every streaming query — the way to see
    // where a stateful stream's batches spend their wall
    if (sys.env.contains("SPARK_PROBE_STREAM"))
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          override def onQueryStarted(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: org.apache.spark.sql.streaming
              .StreamingQueryListener.QueryProgressEvent): Unit = {
            val p = e.progress
            val st = p.stateOperators.map(s =>
              s"state(rows=${s.numRowsTotal}, upd=${s.numRowsUpdated}, " +
                s"commitMs=${s.allUpdatesTimeMs}/${s.commitTimeMs})")
              .mkString(" ")
            println(s"[probe-stream] batch=${p.batchId} " +
              s"rows=${p.numInputRows} durMs=${p.durationMs} $st")
          }
        })
    (1 to reps).foreach { i =>
      if (i == reps) { listening = true }
      val t0 = System.nanoTime()
      val df = q.run(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name rep$i $dt%.3f s")
      if (i == reps && sys.env.contains("SPARK_PROBE_PLAN"))
        println(df.queryExecution.executedPlan.toString)
    }
    listening = false
    import scala.jdk.CollectionConverters._
    val js = jobs.asScala.toSeq.sortBy(_._1)
    val jobWall = js.map { case (_, (s, e)) => (e - s).max(0L) }.sum
    val spans = js.map { case (_, (s, e)) => (s, e.max(s)) }.sortBy(_._1)
    val covered = spans.foldLeft((0L, 0L)) { case ((cov, hi), (s, e)) =>
      (cov + (e - hi.max(s)).max(0L), hi.max(e))
    }._1
    println(f"[probe] last rep: ${js.size} jobs, job-wall sum " +
      f"${jobWall / 1e3}%.2f s (union ${covered / 1e3}%.2f s), task-time " +
      f"sum ${taskMs.get() / 1e3}%.2f s")
    js.foreach { case (id, (s, e)) =>
      if (e - s > 100) println(f"[probe]   job $id: ${(e - s) / 1e3}%.2f s")
    }
    if (sys.env.contains("SPARK_PROBE_EXEC")) {
      val es = execs.asScala.toSeq.sortBy(_._1)
      val sum = es.map { case (_, (_, s, e)) => (e - s).max(0L) }.sum
      println(f"[probe] last rep: ${es.size} sql executions, wall sum " +
        f"${sum / 1e3}%.2f s")
      es.foreach { case (id, (d, s, e)) =>
        println(f"[probe-exec]   $id%4d ${(e - s).max(0L) / 1e3}%6.3f s  $d")
      }
    }
    spark.stop()
  }
}
