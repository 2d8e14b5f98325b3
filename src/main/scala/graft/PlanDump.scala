package graft

import org.apache.spark.sql.execution.FormattedMode
import scala.util.control.NonFatal

/** Dev harness (not part of the shipped surface, like [[Scratch]]):
  * print one named query's formatted physical plan — the source of the
  * PLANS.md sections. Usage: runMain graft.PlanDump <queryName> [sfDir]
  *
  * Batch mode (one JVM, many dumps — the r21 optimization-evidence
  * loop): a comma-separated name list plus an output directory writes
  * `<outDir>/<name><suffix>.txt` per query instead of printing.
  * Usage: runMain graft.PlanDump <q1,q2,..> <sfDir> <outDir> [suffix] */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDump <queryName[,name2,..]> [sfDir] [outDir] [suffix]")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = AdtContext.session()
    spark.sparkContext.setLogLevel("ERROR")
    val names = args(0).split(',').toSeq
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else ""
    names.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case NonFatal(e) => s"PLAN FAILED: ${e.getMessage}" }
      outDir match {
        case Some(dir) =>
          val p = java.nio.file.Paths.get(dir, s"$name$suffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, plan + "\n")
          println(s"[plandump] wrote $p")
        case None =>
          println("=====PLAN=====")
          println(plan)
      }
      // per-query caches must not leak into the next dump
      AdtContext.sweepCaches(spark)
    }
    spark.stop()
  }
}
