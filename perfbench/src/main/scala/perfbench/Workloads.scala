package perfbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{AdtContext, SparkEntry, Tables}
import graft.sources.{DeltaReader, DeltaWriter, Fixtures}

/** `interactive`: adt's own use. Seeded statements go through
  * `AdtContext.sql` and are collected, as the CLI's `view`/`schema`/
  * `execute` do; fixture paths in the plan are `{fx:name}` placeholders
  * resolved after set-up, `{sf}` is the corpus directory. */
final class Interactive(plan: JsonNode, out: File) extends Workload {
  private val sf = Main.str(plan, "sf_dir")
  private var ctx: AdtContext = _
  private var fixtures = Map.empty[String, String]

  def setup(spark: SparkSession, dir: File): Unit = {
    ctx = new AdtContext(spark)
    val fx = new File(dir, "fixtures")
    def at(name: String) = new File(fx, name).getAbsolutePath
    val orders = Tables.t(spark, sf, "orders")
    orders.write.partitionBy("o_orderpriority").parquet(at("orders_part"))
    Tables.t(spark, sf, "customer").coalesce(1).write.json(at("customer_json"))
    // a partitioned Delta table with deletion vectors and a checkpoint:
    // its rows are exactly orders WHERE o_orderkey % 7 <> 0
    DeltaWriter.overwrite(orders, at("orders_delta"), partitionBy = Seq("o_orderpriority"))
    DeltaWriter.deleteWithVectors(spark, at("orders_delta"), col("o_orderkey") % 7 === 0)
    DeltaWriter.checkpoint(spark, at("orders_delta"))
    // an unpartitioned two-commit Delta table: all of supplier
    val supplier = Tables.t(spark, sf, "supplier")
    DeltaWriter.append(supplier.filter(col("s_suppkey") % 2 === 0), at("supplier_delta"))
    DeltaWriter.append(supplier.filter(col("s_suppkey") % 2 =!= 0), at("supplier_delta"))
    fixtures = Map(
      "nation_csv" -> Fixtures.nationCsv(spark, sf),
      "nation_arrow" -> Fixtures.nationArrow(spark, sf),
      "customer_json" -> at("customer_json"),
      "orders_part" -> at("orders_part"),
      "orders_delta" -> at("orders_delta"),
      "supplier_delta" -> at("supplier_delta"))
    // warm-up through the SQL front end: one scan, one aggregation
    ctx.sql(s"SELECT o_orderpriority, count(*) FROM parquet.`$sf/orders.parquet` " +
      "GROUP BY o_orderpriority").collect()
  }

  private def resolve(sql: String): String =
    fixtures.foldLeft(sql.replace("{sf}", sf)) { case (s, (k, v)) =>
      s.replace(s"{fx:$k}", v)
    }

  def run(spark: SparkSession, tr: Tracer): Seq[OpRecord] = {
    val stmts = Main.elems(plan.get("statements"))
    val ends = Main.elems(plan.get("round_ends")).map(_.asInt()).toSet
    val seconds = plan.get("seconds").asDouble()
    val t0 = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    // whole rounds, until --seconds have passed
    while (recs.size < stmts.size &&
        !(ends(recs.size) && (System.nanoTime() - t0) / 1e9 >= seconds)) {
      val st = stmts(recs.size)
      val kind = Main.str(st, "kind")
      val sql = resolve(Main.str(st, "sql"))
      val delta = Option(st.get("delta")).filterNot(_.isNull).map(_.asText())
      recs += timed(tr, recs.size, "statement", kind) {
        delta.foreach(t => tr.probe(Lifecycle.probeSnapshot(spark, tr, fixtures(t))))
        val df = tr.span(if (kind == "ddl") "adtcontext.ddl" else "adtcontext.sql")(
          ctx.sql(sql))
        val rows = tr.span("exec.collect")(df.collect())
        tr.add("adtcontext.calls", 1)
        tr.probe(Interactive.planPhases(tr, df))
        Map("cols" -> df.columns.toSeq, "n" -> rows.length,
          "rows" -> rows.take(200).map(_.toSeq.map(Interactive.cell)).toSeq)
      }
      Main.clearCaches(spark)
    }
    recs.toSeq
  }

  override def finish(spark: SparkSession): Map[String, Any] =
    Map("fixtures" -> fixtures)
}

object Interactive {
  def cell(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(cell)
    case r: Row => r.toSeq.map(cell)
    case other => other
  }

  /** The planner phases Spark's own tracker measured for this frame, as
    * spans under the current operation plus summed counts. */
  def planPhases(tr: Tracer, df: DataFrame): Unit =
    df.queryExecution.tracker.phases.foreach { case (phase, p) =>
      tr.recordEpoch(s"plan.$phase", p.startTimeMs, p.endTimeMs)
      tr.add(s"plan.${phase}_ms", p.durationMs.toDouble)
    }
}

/** `kernels`: one pass over a fixed set of heavy pipeline kernels from
  * `SparkEntry.queries`, in the plan's (seeded) order. Each kernel's frame
  * is built, then written as parquet for the oracle check. */
final class Kernels(plan: JsonNode, out: File) extends Workload {
  private val sf = Main.str(plan, "sf_dir")
  private val results = new File(out, "kernels")
  private var fns = Map.empty[String, (SparkSession, String) => DataFrame]

  def setup(spark: SparkSession, dir: File): Unit = {
    fns = SparkEntry.queries
    // JIT and codegen warm-up, as graft.Bench does before its clock, plus
    // a join, both written as parquet the way the kernels are: otherwise
    // whichever kernel the seed puts first pays for warming the shuffle
    // join and the parquet writer (about 1 s at local[4])
    Seq("q1_agg", "q3_join").foreach { q =>
      fns(q)(spark, sf).write.parquet(new File(dir, s"warmup/$q").getAbsolutePath)
    }
  }

  /** Whole passes, until --seconds have passed. */
  def run(spark: SparkSession, tr: Tracer): Seq[OpRecord] = {
    val names = Main.elems(plan.get("kernels")).map(_.asText())
    val seconds = plan.get("seconds").asDouble()
    val t0 = System.nanoTime()
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    while (recs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds)
      names.foreach { name =>
        val out = new File(results, s"${recs.size}-$name").getAbsolutePath
        recs += timed(tr, recs.size, "kernel", name) {
          val df = tr.span("queries.build")(fns(name)(spark, sf))
          tr.span("queries.exec")(df.write.parquet(out))
          Map("path" -> out)
        }
        Main.clearCaches(spark)
        System.gc()
      }
    recs.toSeq
  }
}

/** `delta_lifecycle`: a Delta table with the change data feed on,
  * seeded from `orders`, takes the plan's commit sequence (append /
  * merge upsert / deletion-vector delete / update, a compaction and a
  * checkpoint at fixed strides); every commit is followed by a
  * snapshot + load read whose digest the checker compares with its own
  * model of the table. The run ends with one bounded change-feed
  * catch-up whose folded digest must equal the final snapshot's. */
final class Lifecycle(plan: JsonNode, out: File) extends Workload {
  private val sf = Main.str(plan, "sf_dir")
  private var path: String = _
  private var ckpt: String = _
  private var bytesAtStart = 0L

  def setup(spark: SparkSession, dir: File): Unit = {
    path = new File(dir, "lifecycle_table").getAbsolutePath
    ckpt = new File(dir, "stream_checkpoint").getAbsolutePath
    val base = plan.get("base")
    val orders = Tables.t(spark, sf, "orders")
      .filter(pmod(col("o_orderkey"), lit(Main.long(base, "mod"))) === Main.long(base, "res"))
    DeltaWriter.overwrite(Lifecycle.project(orders), path,
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    Lifecycle.digest(DeltaReader.load(spark, path))
    bytesAtStart = Out.treeBytes(new File(path))
  }

  private def frame(spark: SparkSession, rows: JsonNode): DataFrame = {
    val rs = Main.elems(rows).map { r =>
      Row(r.get(0).asLong(), r.get(1).asLong(), r.get(2).asText(),
        r.get(3).asLong(), r.get(4).asText())
    }
    spark.createDataFrame(java.util.Arrays.asList(rs: _*), Lifecycle.schema)
  }

  private def commit(spark: SparkSession, tr: Tracer, c: JsonNode): Long = {
    def range: Column =
      col("o_orderkey") >= Main.long(c, "lo") && col("o_orderkey") < Main.long(c, "hi")
    Main.str(c, "kind") match {
      case "append" =>
        tr.span("deltawriter.append")(DeltaWriter.append(frame(spark, c.get("rows")), path))
      case "merge" =>
        tr.span("deltawriter.merge")(
          DeltaWriter.merge(frame(spark, c.get("rows")), path, Seq("o_orderkey")))
      case "delete" =>
        tr.span("deltawriter.delete_dv")(DeltaWriter.deleteWithVectors(spark, path, range))
      case "update" =>
        val pred = range && pmod(col("o_custkey"), lit(Main.long(c, "mod"))) === Main.long(c, "res")
        tr.span("deltawriter.update")(DeltaWriter.update(spark, path, pred,
          Map("cents" -> (col("cents") + Main.long(c, "add")),
            "o_orderstatus" -> lit("U"))))
      case "compact" =>
        tr.span("deltawriter.compact")(DeltaWriter.compact(spark, path))
    }
  }

  def run(spark: SparkSession, tr: Tracer): Seq[OpRecord] = {
    val every = plan.get("checkpoint_every").asInt()
    val recs = mutable.ArrayBuffer.empty[OpRecord]
    Main.elems(plan.get("commits")).zipWithIndex.foreach { case (c, i) =>
      val kind = Main.str(c, "kind")
      recs += timed(tr, recs.size, "commit", kind) {
        val v = commit(spark, tr, c)
        tr.probe(Lifecycle.countCommit(tr, path, v))
        Map("version" -> v)
      }
      if ((i + 1) % every == 0)
        recs += timed(tr, recs.size, "checkpoint", "checkpoint") {
          Map("version" -> tr.span("deltawriter.checkpoint")(DeltaWriter.checkpoint(spark, path)))
        }
      recs += timed(tr, recs.size, "read", "read") {
        val snap = tr.span("deltareader.snapshot")(DeltaReader.snapshot(spark, path))
        tr.probe(Lifecycle.countSnapshot(tr, path, snap))
        val df = tr.span("deltareader.load")(DeltaReader.load(spark, path))
        Map("after" -> i, "digest" -> tr.span("exec.collect")(Lifecycle.digest(df)))
      }
      Main.clearCaches(spark)
    }
    recs += timed(tr, recs.size, "stream", "cdf_catchup")(catchUp(spark, tr))
    recs.toSeq
  }

  /** One bounded change-feed catch-up from version 0, paced by
    * maxFilesPerTrigger; each micro-batch's signed digest is folded on
    * the driver (inserts and post-images count +1, deletes and
    * pre-images -1). */
  private def catchUp(spark: SparkSession, tr: Tracer): Map[String, Any] = {
    val fold = Array(0L, 0L, 0L, 0L)
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val batch: (DataFrame, Long) => Unit = (df, _) => {
      val r = df.agg(sum(sign), sum(sign * col("o_orderkey")), sum(sign * col("cents")),
        sum(sign * Lifecycle.fingerprint)).collect()(0)
      (0 until 4).foreach(k => fold(k) += (if (r.isNullAt(k)) 0L else r.getLong(k)))
    }
    val q = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("stopAtLatest", "true")
      .option("maxFilesPerTrigger", plan.get("max_files_per_trigger").asText())
      .load(path)
      .writeStream.foreachBatch(batch)
      .option("checkpointLocation", ckpt)
      .start()
    try q.processAllAvailable() finally q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    if (tr.enabled) progress.foreach { p =>
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      tr.recordEpoch("stream.batch", start, start + ms("triggerExecution").toLong)
      tr.add("stream.batches", 1)
      tr.add("stream.rows", p.numInputRows.toDouble)
      tr.add("stream.get_batch_ms", ms("getBatch"))
      tr.add("stream.add_batch_ms", ms("addBatch"))
      tr.add("stream.query_planning_ms", ms("queryPlanning"))
    }
    Map("fold" -> fold.toSeq, "rows" -> progress.map(_.numInputRows).sum,
      "batches" -> progress.length)
  }

  override def finish(spark: SparkSession): Map[String, Any] = {
    val snap = DeltaReader.snapshot(spark, path)
    Map("table_bytes_start" -> bytesAtStart,
      "table_bytes_end" -> Out.treeBytes(new File(path)),
      "live_bytes_end" -> snap.files.map(_.size).sum)
  }
}

object Lifecycle {
  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("cents", LongType),
    StructField("o_orderpriority", StringType)))

  def project(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderpriority"))

  /** A per-row integer fingerprint the checker recomputes exactly. */
  def fingerprint: Column =
    pmod(col("o_orderkey") * 1000003L + col("cents") * 7919L +
      ascii(col("o_orderstatus")).cast("long") * 131L +
      ascii(col("o_orderpriority")).cast("long") * 17L, lit(2147483629L))

  /** (rows, Σ key, Σ cents, Σ fingerprint): an order-insensitive digest. */
  def digest(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), sum(col("o_orderkey")), sum(col("cents")),
      sum(fingerprint)).collect()(0)
    (0 until 4).map(k => if (r.isNullAt(k)) 0L else r.getLong(k))
  }

  private val mapper = Main.mapper

  /** Log files a snapshot at the latest version replays: the newest
    * checkpoint's parts plus every JSON commit after it (counted by
    * listing `_delta_log`). */
  def logFilesToReplay(path: String): Int = {
    val names = Option(new File(path, "_delta_log").listFiles()).toSeq.flatten.map(_.getName)
    def ver(n: String) = n.takeWhile(_.isDigit).toLong
    val cps = names.filter(_.contains(".checkpoint.")).map(ver)
    val cp = if (cps.isEmpty) -1L else cps.max
    names.count(n => n.endsWith(".json") && n.head.isDigit && ver(n) > cp) +
      names.count(n => n.contains(".checkpoint.") && ver(n) == cp)
  }

  def countSnapshot(tr: Tracer, path: String, snap: DeltaReader.Snapshot): Unit = {
    tr.add("deltareader.snapshot_calls", 1)
    tr.add("deltareader.live_files", snap.files.size.toDouble)
    tr.add("deltareader.log_files_replayed", logFilesToReplay(path).toDouble)
  }

  /** A snapshot made only to attribute the statement's Delta log replay. */
  def probeSnapshot(spark: SparkSession, tr: Tracer, path: String): Unit =
    countSnapshot(tr, path, tr.span("deltareader.snapshot")(DeltaReader.snapshot(spark, path)))

  /** Files added and removed, and bytes written, by commit `v`, read
    * from its log entry. */
  def countCommit(tr: Tracer, path: String, v: Long): Unit = {
    val f = new File(new File(path, "_delta_log"), f"$v%020d.json")
    java.nio.file.Files.readAllLines(f.toPath).forEach { line =>
      val a = mapper.readTree(line)
      if (a.has("add")) {
        tr.add("deltawriter.files_added", 1)
        tr.add("deltawriter.bytes_written", a.get("add").get("size").asDouble())
      } else if (a.has("cdc")) {
        tr.add("deltawriter.bytes_written", a.get("cdc").get("size").asDouble())
      } else if (a.has("remove")) tr.add("deltawriter.files_removed", 1)
    }
  }
}
