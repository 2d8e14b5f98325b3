package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The timed half of the benchmark. `run.py` generates a plan from the
  * seed (statements, kernel order, commit sequence), starts this JVM
  * with it, and checks the outputs afterwards; this side only builds the
  * session, sets up, executes the plan as one closed-loop client (the
  * next operation starts when the previous one returns), times every
  * operation from outside the engine's public entry points, and writes
  * what it saw to the run directory.
  *
  * Usage: perfbench.Main <plan.json> <outDir> [<plan.json> <outDir> …]
  *        perfbench.Main --dump-oracle <names,…> <out.json>
  * Several plans run one after another in the same JVM; `run.py` does
  * that once per build to record its class-data archive. */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    if (args(0) == "--dump-oracle") {
      val names = args(1).split(',').toSeq
      val sql = graft.SparkEntry.oracleSql
      Out.write(new File(args(2)),
        names.flatMap(n => sql.get(n).map(n -> _)).toMap)
      return
    }
    args.grouped(2).foreach { case Array(plan, out) => runPlan(new File(plan), new File(out)) }
  }

  /** Set up, run and record one plan. */
  def runPlan(planFile: File, out: File): Unit = {
    val plan = mapper.readTree(planFile)
    out.mkdirs()
    val workload = plan.get("workload").asText() match {
      case "interactive" => new Interactive(plan, out)
      case "kernels" => new Kernels(plan, out)
      case "delta_lifecycle" => new Lifecycle(plan, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val tr = new Tracer(plan.get("trace").asInt() == 1)
    val runDir = new File(plan.get("run_dir").asText())
    val cpus = plan.get("cpus").asInt()

    // Set-up is repeated and the median reported: each round builds a
    // fresh session over fresh per-round directories (temp, fixtures,
    // warehouse), so no round reuses another's leftovers. The last
    // round's session and tables are the ones measured.
    val rounds = plan.get("setups").asInt()
    var spark: SparkSession = null
    val setupS = (1 to rounds).map { i =>
      val dir = new File(runDir, s"setup$i")
      val t0 = System.nanoTime()
      spark = Main.session(cpus, dir)
      workload.setup(spark, dir)
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[setup] round $i%d $s%.2f s")
      if (i < rounds) {
        spark.stop()
        Out.deleteTree(dir)
      }
      s
    }

    val listener = new ExecListener
    if (tr.enabled) spark.sparkContext.addSparkListener(listener)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ops = workload.run(spark, tr)
    val phaseMs = (System.nanoTime() - t0) / 1e6
    val t1Ms = System.currentTimeMillis()
    val extra = workload.finish(spark)

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "phase_ms" -> phaseMs,
      "ops" -> ops.map(_.toMap)) ++ extra
    // stopping drains the listener bus, so every job and task event of
    // the measured phase has reached the listener before it is read
    spark.stop()
    if (tr.enabled) {
      result("layers") = Out.layers(tr, listener, t0Ms, t1Ms, cpus)
      Out.spans(tr, new File(out, "spans.json"))
    }
    result("peak_rss_mb") = Out.peakRssMb()
    Out.write(new File(out, "result.json"), result)
  }

  /** One engine session as the benchmark runs it: `local[N]` with
    * N = the cores given, shuffle partitions = N, the engine's own
    * session confs (AdtContext.engineConfs) and the adaptive settings of
    * `graft.Bench`; temp, local and warehouse directories under `dir`. */
  def session(cpus: Int, dir: File): SparkSession = {
    val tmp = new File(dir, "tmp")
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    val spark = graft.AdtContext.engineConfs(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between operations: drop cached frames and persisted RDDs, as
    * `graft.Bench` does, so no operation is served by another's cache. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def long(n: JsonNode, k: String): Long = n.get(k).asLong()
  def elems(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}

/** One timed operation as the checker sees it. `result` carries what the
  * checker compares (rows, digests); a failed operation keeps its time
  * out of every latency figure, `run.py` filters on `ok`. */
final case class OpRecord(id: Int, kind: String, name: String, ok: Boolean,
    ms: Double, err: String, result: Map[String, Any]) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "kind" -> kind, "name" -> name, "ok" -> ok, "ms" -> ms) ++
      Option(err).map("err" -> _) ++ result
}

trait Workload {
  def setup(spark: SparkSession, dir: File): Unit
  def run(spark: SparkSession, tr: Tracer): Seq[OpRecord]
  def finish(spark: SparkSession): Map[String, Any] = Map.empty

  /** Time one operation; a non-fatal exception marks it failed. */
  protected def timed(tr: Tracer, id: Int, kind: String, name: String)(
      body: => Map[String, Any]): OpRecord = {
    val t0 = System.nanoTime()
    val rec =
      try {
        val r = tr.operation(id, kind)(body)
        OpRecord(id, kind, name, ok = true, (System.nanoTime() - t0) / 1e6, null, r)
      } catch {
        case NonFatal(e) =>
          val ms = (System.nanoTime() - t0) / 1e6
          OpRecord(id, kind, name, ok = false, ms,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), Map.empty)
      }
    println(f"[op] $id%d $kind%s $name%s ${rec.ms}%.1f ms${if (rec.ok) "" else " FAILED " + rec.err}")
    rec
  }
}

object Out {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case null => null
    case n: java.lang.Number => n
    case b: java.lang.Boolean => b
    case s: String => s
    case other => other.toString
  }

  def write(f: File, v: Any): Unit =
    Files.write(f.toPath, Main.mapper.writeValueAsBytes(toJava(v)))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  def peakRssMb(): Double =
    scala.util.Try {
      val line = new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8)
        .split('\n').find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)

  /** The executor-layer numbers of a traced run, plus tracer counts. */
  def layers(tr: Tracer, l: ExecListener, t0Ms: Long, t1Ms: Long,
      cpus: Int): Map[String, Double] = {
    val wall = (t1Ms - t0Ms).toDouble
    tr.counts.toMap ++ Map(
      "exec.jobs" -> l.jobs.toDouble,
      "exec.stages" -> l.stages.toDouble,
      "exec.tasks" -> l.tasks.toDouble,
      "exec.task_run_ms" -> l.taskRunMs.toDouble,
      "exec.task_cpu_ms" -> l.taskCpuNs / 1e6,
      "exec.gc_ms" -> l.gcMs.toDouble,
      "exec.deser_ms" -> l.deserMs.toDouble,
      "exec.shuffle_read_bytes" -> l.shuffleRead.toDouble,
      "exec.shuffle_write_bytes" -> l.shuffleWrite.toDouble,
      "exec.spill_bytes" -> l.spill.toDouble,
      "exec.driver_gap_ms" -> (wall - l.busyMs(t0Ms, t1Ms)),
      "exec.utilization" -> l.taskRunMs / (wall * cpus),
      "trace.overhead_ms" -> tr.overheadMs)
  }

  /** Spans as `[id, parent, op, name, start_us, end_us]` rows. */
  def spans(tr: Tracer, f: File): Unit =
    write(f, Map("spans" -> tr.spans.map(s =>
      Seq(s.id, s.parent, s.op, s.name, s.startNs / 1000, s.endNs / 1000)).toSeq))
}
