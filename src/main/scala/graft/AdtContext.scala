package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import graft.plans.ResolveInformationSchema
import graft.sources.{Ddl, Dml}

/** The library seam mirroring `ADTContext::sql`
  * (/root/reference/crates/core/src/context.rs:85-105): one entry point
  * that accepts either our `CREATE EXTERNAL TABLE` DDL (intercepted, like
  * the reference intercepts `LogicalPlan::Ddl` to register object stores,
  * context.rs:85-91), one of graft's own statements ([[Dml]]), or any
  * Spark SQL statement.
  *
  * Direct-URL tables (`enable_url_table`, context.rs:55) need no shim:
  * Spark natively supports ``SELECT * FROM parquet.`/path` ``. The
  * session must carry [[GraftExtensions]] (every [[AdtContext.session]]
  * does): native functions and `information_schema.*` resolve in its
  * analyzer, not here.
  */
final class AdtContext(val spark: SparkSession) {

  require(spark.sessionState.analyzer.hintResolutionRules
      .exists(_.isInstanceOf[ResolveInformationSchema]),
    "AdtContext needs a session carrying graft's extensions: build it " +
      "with AdtContext.session, or start its SparkContext with " +
      "spark.sql.extensions=graft.GraftExtensions")

  // a consumer may construct the context around its OWN session
  // (bypassing [[AdtContext.build]]); the engine-required session conf
  // must still hold or id-column-mapped delta reads silently null-fill
  // (Spark's field-id matching defaults off). Session-level and inert
  // for every non-id-mapped read — see [[AdtContext.engineConfs]].
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** DDL registers the table and yields an empty relation (the reference
    * prints an empty batch for DDL, main.rs:23-28); graft's own
    * statements — DML, maintenance, metadata and `EXPLAIN ANALYZE` — run
    * through [[Dml]]; everything else is Spark SQL. Literals read the
    * standard-conforming way postgres and DataFusion read them (`\` is
    * an ordinary character): [[SqlCompat]] re-spells them for Spark's
    * default parser and rewrites the postgres regex operators (`~`,
    * `!~`, `SIMILAR TO`, …) the reference's postgres dialect
    * (context.rs:29) makes reachable. */
  def sql(statement: String): DataFrame =
    if (Ddl.matches(statement)) {
      Ddl.register(spark, Ddl.parse(statement))
      spark.emptyDataFrame
    } else Dml.parseOpt(statement) match {
      case Some(stmt) => Dml.execute(spark, stmt, sql)
      case None => spark.sql(SqlCompat.rewrite(statement))
    }
}

object AdtContext {

  /** The builder steps the engine requires at SESSION BUILD time:
    * [[GraftExtensions]], the one wiring point of graft's functions and
    * analyzer rule, and Spark's native parquet field-id resolution,
    * which `id`-column-mapped delta reads depend on. The conf must be
    * session-level — Spark re-reads the key from
    * session state at physical-planning time, after any scan-scoped
    * save/restore would have reverted it — and ON is inert for every
    * other read: field-id matching only engages for read schemas that
    * carry `parquet.field.id` metadata, which only id-mapped delta
    * loads produce (spec-pinned in DeltaSpec "fieldId read conf").
    * Every session graft builds comes from [[session]], which routes
    * through this; perfbench builds its own session through it too. */
  def engineConfs(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.parquet.fieldId.read.enabled", "true")
      .withExtensions(new GraftExtensions)

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
