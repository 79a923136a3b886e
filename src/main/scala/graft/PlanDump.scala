package graft

import java.nio.file.{Files, Paths}

import graft.queries.Registry

/** Measurement harness (guide §1/§7.2): dump `.explain("formatted")` for
  * registry queries under Bench's own session ([[Bench.harnessSession]]:
  * local[$SPARK_GRAFT_CPUS], shuffle.partitions=cpus, AQE on), so the
  * committed plan artifacts reflect what the bench actually executes.
  * Usage: PlanDump <outDir> [namePrefix[,prefix...]] — one
  * <outDir>/<query>.txt per query. Not part of the driver contract. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val prefixes =
      (if (args.length > 1) args(1) else "").split(',').toSeq.filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.harnessSession("graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    Registry.all
      .filter(q => prefixes.isEmpty || prefixes.exists(q.name.startsWith))
      .foreach { q =>
        try {
          val plan = q.run(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), plan)
          println(s"[plandump] wrote ${q.name}")
        } catch { case e: Throwable =>
          println(s"[plandump] ${q.name} FAILED: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
