package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev harness: time one named query in isolation (not part of the
  * shipped surface). Usage: runMain graft.Scratch <queryName> [sfDir] [n]
  *
  * Prints per-rep wall seconds plus scheduler-shape counters (jobs /
  * stages / tasks and summed executor time) — at small SFs the bench is
  * dominated by orchestration, not data volume, so the counters say
  * WHICH kind of overhead a slow query pays (guide §1: measure first). */
object Scratch {
  def main(args: Array[String]): Unit = {
    // comma-separated names time several queries in one JVM (r21 loop)
    val names = (if (args.nonEmpty) args(0) else "q42_dedup_minhash_lsh")
      .split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = AdtContext.session()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val execMs = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) {
          execMs.addAndGet(t.taskMetrics.executorRunTime)
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
        }
      }
    })
    // after the LAST rep of each query, print the executed (post-AQE)
    // plan with runtime metrics — the no-UI replacement for the SQL tab
    val lastQe = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = lastQe.set(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    // warmup on q1 to absorb codegen start-up
    SparkEntry.queries("q1_agg")(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    names.foreach { name =>
      (1 to reps).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); execMs.set(0L)
        gcMs.set(0L); cpuNs.set(0L)
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir).write
          .format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; give them a beat
        Thread.sleep(200L)
        println(f"[scratch] $name rep$i: $secs%.2f s  " +
          f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
          f"execRun=${execMs.get / 1000.0}%.2f s " +
          f"cpu=${cpuNs.get / 1e9}%.2f s gc=${gcMs.get / 1000.0}%.2f s")
        if (i == reps && lastQe.get != null)
          println(AdtContext.planWithMetrics(lastQe.get.executedPlan))
        AdtContext.sweepCaches(spark)
      }
    }
    spark.stop()
  }
}
