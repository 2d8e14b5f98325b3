package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.sources.Ddl

/** The library seam mirroring `ADTContext::sql`
  * (/root/reference/crates/core/src/context.rs:85-105): one entry point
  * that accepts either our `CREATE EXTERNAL TABLE` DDL (intercepted, like
  * the reference intercepts `LogicalPlan::Ddl` to register object stores,
  * context.rs:85-91) or any Spark SQL statement.
  *
  * Direct-URL tables (`enable_url_table`, context.rs:55) need no shim:
  * Spark natively supports ``SELECT * FROM parquet.`/path` ``.
  */
final class AdtContext(val spark: SparkSession) {

  // a consumer may construct the context around its OWN session
  // (bypassing [[AdtContext.build]]); the engine-required session conf
  // must still hold or id-column-mapped delta reads silently null-fill
  // (Spark's field-id matching defaults off). Session-level and inert
  // for every non-id-mapped read — see [[AdtContext.engineConfs]].
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** DDL registers the table and yields an empty relation (the reference
    * prints an empty batch for DDL, main.rs:23-28); `EXPLAIN ANALYZE`
    * executes the statement and returns the metric-annotated physical
    * plan (DataFusion `AnalyzeExec` parity — reachable through
    * `ADTContext::sql`); statements touching `information_schema.*` are
    * rewritten onto catalog-backed temp views (context.rs:27 parity);
    * postgres-dialect regex operators (`~`, `!~`, `SIMILAR TO`, …) are
    * rewritten onto Spark spellings ([[SqlCompat]] — the reference's
    * postgres sqlparser dialect, context.rs:29, makes them reachable);
    * everything else is Spark SQL, parsed with standard-conforming
    * string literals (postgres/DataFusion treat `\` in a literal as a
    * literal character; Spark's default escape mode would silently eat
    * the regex backslashes [[SqlCompat]] emits for `SIMILAR TO '1\%'`
    * or an ordinary `.`). */
  def sql(statement: String): DataFrame =
    if (Ddl.matches(statement)) {
      Ddl.register(spark, Ddl.parse(statement))
      spark.emptyDataFrame
    } else if (graft.sources.Dml.matches(statement)) {
      // DML over DDL-registered delta tables (DELETE/UPDATE/MERGE →
      // DeltaWriter verbs); dialect rewrite applies so pg-style
      // operators work in DML predicates, and MERGE's USING source
      // runs back through THIS context
      graft.sources.Dml.execute(spark,
        graft.sources.Dml.parse(SqlCompat.rewrite(statement)), q => sql(q))
      spark.emptyDataFrame
    } else if (AdtContext.ShowTblProps.findFirstMatchIn(statement).isDefined) {
      // table properties from the delta metaData configuration (CHECK
      // constraints, column-mapping mode, …) — the SQL window onto what
      // the writer verbs declared
      val name = AdtContext.ShowTblProps
        .findFirstMatchIn(statement).get.group(1)
      val t = Ddl.lookup(spark, name).getOrElse(throw new IllegalArgumentException(
        s"$name is not a registered external table"))
      require(t.format == "DELTA",
        s"SHOW TBLPROPERTIES is supported for DELTA tables; $name is ${t.format}")
      val props = graft.sources.DeltaReader.snapshot(spark, t.location)
        .configuration.toSeq.sortBy(_._1)
      import spark.implicits._
      props.toDF("key", "value")
    } else if (AdtContext.VacuumDryRun.findFirstMatchIn(statement).isDefined) {
      // the preview of the one irreversible verb: the files a real
      // VACUUM would delete, as rows, with nothing touched (delta's own
      // DRY RUN shape). Falls here, not into Dml: the destructive
      // spelling stays in the DML dispatch, the query-shaped preview
      // returns a frame.
      val m = AdtContext.VacuumDryRun.findFirstMatchIn(statement).get
      val t = Ddl.lookup(spark, m.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"${m.group(1)} is not a registered external table"))
      require(t.format == "DELTA",
        s"VACUUM is supported for DELTA tables; ${m.group(1)} is ${t.format}")
      val retain = Option(m.group(2)).map(_.toLong * 3600000L).getOrElse(0L)
      import spark.implicits._
      graft.sources.DeltaWriter
        .vacuum(spark, t.location, retain, dryRun = true)
        .sorted.toDF("path")
    } else if (AdtContext.ShowPartitions.findFirstMatchIn(statement).isDefined) {
      // distinct live partition tuples, TYPED from the metaData schema
      // — read off the snapshot's add actions (driver-held metadata,
      // zero data I/O); unpartitioned tables refuse naming the fact
      val name = AdtContext.ShowPartitions
        .findFirstMatchIn(statement).get.group(1)
      val t = Ddl.lookup(spark, name).getOrElse(
        throw new IllegalArgumentException(
          s"$name is not a registered external table"))
      require(t.format == "DELTA",
        s"SHOW PARTITIONS is supported for DELTA tables; $name is ${t.format}")
      val snap = graft.sources.DeltaReader.snapshot(spark, t.location)
      require(snap.partitionColumns.nonEmpty,
        s"$name is not a partitioned table")
      // the same typed frame OPTIMIZE … WHERE scopes against, distinct'd
      graft.sources.DeltaReader.partitionValuesFrame(spark, snap)
        .drop("__i").distinct()
        .orderBy(snap.partitionColumns
          .map(org.apache.spark.sql.functions.col): _*)
    } else if (AdtContext.DescribeDetail.findFirstMatchIn(statement).isDefined) {
      // the table-level metadata window (delta's DESCRIBE DETAIL shape):
      // ONE row — format, location, createdAt (earliest RETAINED commit's
      // stamp — commit 0 unless log cleanup swept it), lastModified
      // (latest commit's stamp), partition columns, live-file count and
      // byte total from the snapshot's own add actions (no filesystem
      // stats), and the full properties map. Everything is driver-held
      // log metadata — zero data files touched.
      val name = AdtContext.DescribeDetail
        .findFirstMatchIn(statement).get.group(1)
      val t = Ddl.lookup(spark, name).getOrElse(throw new IllegalArgumentException(
        s"$name is not a registered external table"))
      require(t.format == "DELTA",
        s"DESCRIBE DETAIL is supported for DELTA tables; $name is ${t.format}")
      val snap = graft.sources.DeltaReader.snapshot(spark, t.location)
      val hist = graft.sources.DeltaReader.commitHistory(t.location)
      // checkpoint + VACUUM LOGS can delete EVERY json commit (the table
      // replays whole from its checkpoint) — commitHistory is then empty
      // and the newest checkpoint file's mtime stands in for both stamps
      // (the earliest surviving evidence of the table's state)
      val (createdMs, modifiedMs) =
        if (hist.nonEmpty) (hist.minBy(_._1)._2, hist.maxBy(_._1)._2)
        else {
          val logDir = new java.io.File(t.location, "_delta_log")
          val log = graft.sources.DeltaActions.listLog(logDir)
          val cp = log.newestCheckpoint().getOrElse(throw new IllegalArgumentException(
            s"${t.location} has neither JSON commits nor a checkpoint — " +
              "not a replayable delta log"))
          val m = log.checkpoints(cp)
            .map(n => new java.io.File(logDir, n).lastModified()).max
          (m, m)
        }
      import spark.implicits._
      Seq(("delta", t.location,
        new java.sql.Timestamp(createdMs),
        new java.sql.Timestamp(modifiedMs),
        snap.partitionColumns,
        snap.files.size.toLong,
        snap.files.map(_.size).sum,
        snap.configuration,
        snap.minReaderVersion, snap.minWriterVersion))
        .toDF("format", "location", "createdAt", "lastModified",
          "partitionColumns", "numFiles", "sizeInBytes", "properties",
          "minReaderVersion", "minWriterVersion")
    } else if (AdtContext.DescribeHistory.findFirstMatchIn(statement).isDefined) {
      // the version history from the per-commit commitInfo stamps (the
      // same index timestampAsOf resolves against); hand-written logs
      // without commitInfo fall back to file mtime
      val name = AdtContext.DescribeHistory
        .findFirstMatchIn(statement).get.group(1)
      val t = Ddl.lookup(spark, name).getOrElse(throw new IllegalArgumentException(
        s"$name is not a registered external table"))
      require(t.format == "DELTA",
        s"DESCRIBE HISTORY is supported for DELTA tables; $name is ${t.format}")
      import spark.implicits._
      // stamps + operation + per-commit action-profile metrics in ONE
      // pass over the JSON log (numOutputRows null when no add in the
      // commit carried stats)
      graft.sources.DeltaReader.commitHistoryWithMetrics(t.location)
        .toDF("version", "timestamp", "operation", "numAddedFiles",
          "numRemovedFiles", "numOutputRows")
        .orderBy(org.apache.spark.sql.functions.col("version").desc)
    } else AdtContext.ExplainAnalyze.findFirstMatchIn(statement) match {
      case Some(m) => analyze(m.group(1))
      case None =>
        val stmt = SqlCompat.rewrite(statement)
        val members = AdtContext.InfoSchemaRef.findAllMatchIn(stmt)
          .map(_.group(1).toLowerCase).toSet
        if (members.nonEmpty) {
          // build only the members this statement references — a `SET -v`
          // + listFunctions walk for a query that touches only `tables`
          // is wasted driver time (metadata-bound, but needless)
          InformationSchema.refresh(spark, members)
          parse(AdtContext.InfoSchemaRef.replaceAllIn(stmt,
            m => s"information_schema_${m.group(1).toLowerCase}"))
        } else parse(stmt)
    }

  /** `spark.sql` under `escapedStringLiterals=true` — a PARSER conf,
    * consumed eagerly during the `spark.sql` call itself, so the
    * set/restore scoping is sound (unlike read-path confs, which lazy
    * execution re-reads later). Restores the caller's setting after. */
  private def parse(stmt: String): DataFrame = {
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try spark.sql(stmt)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** DataFusion-shaped `EXPLAIN ANALYZE`: run the inner statement to
    * completion (rows discarded executor-side — nothing is collected),
    * then render the FINAL executed plan (post-AQE) with each node's
    * runtime SQL metrics, as one `(plan_type, plan)` row exactly like
    * DataFusion's `"Plan with Metrics"` output batch. */
  private def analyze(inner: String): DataFrame = {
    val qe = sql(inner).queryExecution
    qe.toRdd.foreach(_ => ()) // full execution, zero driver materialization
    import spark.implicits._
    Seq(("Plan with Metrics", AdtContext.planWithMetrics(qe.executedPlan)))
      .toDF("plan_type", "plan")
  }
}

object AdtContext {

  // derived from the canonical member set so the analyzer-rule route and
  // this string-rewrite fallback can never drift apart; the trailing \b
  // keeps identifiers that merely START with a member name (e.g.
  // information_schema.views_ext) from being partially rewritten
  private[graft] val InfoSchemaRef =
    ("(?i)information_schema\\.(" +
      InformationSchema.Members.toSeq.sorted.mkString("|") + ")\\b").r

  private[graft] val ExplainAnalyze =
    "(?is)^\\s*EXPLAIN\\s+ANALYZE\\s+(.*)$".r

  private[graft] val ShowTblProps =
    "(?is)^\\s*SHOW\\s+TBLPROPERTIES\\s+(\\w+)\\s*;?\\s*$".r

  private[graft] val DescribeHistory =
    "(?is)^\\s*DESCRIBE\\s+HISTORY\\s+(\\w+)\\s*;?\\s*$".r

  private[graft] val DescribeDetail =
    "(?is)^\\s*DESCRIBE\\s+DETAIL\\s+(\\w+)\\s*;?\\s*$".r

  private[graft] val VacuumDryRun =
    ("(?is)^\\s*VACUUM\\s+(\\w+)\\s*(?:RETAIN\\s+(\\d+)\\s+HOURS?)?" +
      "\\s+DRY\\s+RUN\\s*;?\\s*$").r

  private[graft] val ShowPartitions =
    "(?is)^\\s*SHOW\\s+PARTITIONS\\s+(\\w+)\\s*;?\\s*$".r

  /** The conf the engine requires at SESSION BUILD time: Spark's native
    * parquet field-id resolution, which `id`-column-mapped delta reads
    * depend on. It must be session-level — Spark re-reads the key from
    * session state at physical-planning time, after any scan-scoped
    * save/restore would have reverted it — and ON is inert for every
    * other read: field-id matching only engages for read schemas that
    * carry `parquet.field.id` metadata, which only id-mapped delta
    * loads produce (spec-pinned in DeltaSpec "fieldId read conf").
    * Every session graft builds comes from [[session]], which routes
    * through this; perfbench builds its own session through it too. */
  def engineConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.parquet.fieldId.read.enabled", "true")

  /** The one engine session factory (SURVEY §4.3's config-parity
    * table): [[build]], Bench, Verify, Scratch, PlanDump and the shared
    * test session all start their session here, so their confs cannot
    * drift apart. `SPARK_GRAFT_CPUS` sizes it and `SPARK_GRAFT_MASTER`
    * overrides the `local[cpus]` master. */
  def session(
      cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession =
    engineConfs(SparkSession.builder())
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("adtspark")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-coalesce exchanges INSIDE cached plans. Spark
      // defaults this off to preserve a cached frame's output
      // partitioning for downstream exchange reuse, but this engine's
      // caches are small signature/assignment frames whose consumers
      // re-derive requirements anyway; with it off every
      // consumer stage of a cached frame runs shuffle.partitions tasks
      // regardless of size (measured: q42 711 -> 29-39 tasks, summed
      // executor CPU 17 s -> ~2 s at sf0.1). Scale-correct, not a local
      // tune: it makes cached-plan partitioning respect the same AQE
      // advisory sizing every uncached exchange already follows.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** A library session on the factory's defaults. */
  def build(): AdtContext = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    new AdtContext(spark)
  }

  /** The executed plan as an indented operator tree, one node per line
    * with its runtime SQL metrics — the body of `EXPLAIN ANALYZE` and
    * of Scratch's per-query plan. The adaptive / stage / reuse shells
    * are unwrapped so the tree reads as the plan that actually ran. */
  private[graft] def planWithMetrics(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def render(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq.sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }.mkString(", ")
      sb.append("  " * depth).append(p.nodeName)
      if (ms.nonEmpty) sb.append(", metrics=[").append(ms).append("]")
      sb.append("\n")
      p match {
        case a: AdaptiveSparkPlanExec => render(a.executedPlan, depth + 1)
        case s: QueryStageExec => render(s.plan, depth + 1)
        case r: ReusedExchangeExec => render(r.child, depth + 1)
        case _ => p.children.foreach(render(_, depth + 1))
      }
    }
    render(plan, 0)
    sb.result()
  }

  /** Between queries: drop every cached frame, then unpersist every RDD
    * still persisted — clearCache misses localCheckpoint blocks (q89's
    * lineage truncation), which would otherwise pile up for the rest of
    * the JVM. Returns `id:storageLevel` of each swept RDD that was NOT
    * a (materialized, hence checkpointed) localCheckpoint truncation:
    * a cache a query leaked past clearCache. */
  private[graft] def sweepCaches(spark: SparkSession): Seq[String] = {
    spark.catalog.clearCache()
    val persisted = spark.sparkContext.getPersistentRDDs.values.toSeq
    val leaked = persisted.filterNot(_.isCheckpointed)
      .map(r => s"${r.id}:${r.getStorageLevel}")
    persisted.foreach(_.unpersist(false))
    leaked
  }
}
