package graft

import java.util.concurrent.atomic.AtomicBoolean

import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort, SubqueryAlias}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{ResolveInformationSchema, SortLocalRelation}
import graft.sources.Fixtures

/** `information_schema.*` is built from the session catalog while a
  * statement is analyzed: its `tables` and `columns` rows are what the
  * public `spark.catalog` API reports, no member leaves a temp view
  * behind, and a lookup is safe beside concurrent DDL. */
class InformationSchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private lazy val ctx = new AdtContext(spark)
  private val sf = SparkTestSession.sfDir

  /** Every table and view the slow public API lists: the current
    * database and local temp views, then the global temp views. */
  private def listed(): Seq[org.apache.spark.sql.catalog.Table] = {
    val local = spark.catalog.listTables().collect().toSeq
    val global = Try(spark.catalog.listTables("global_temp").collect())
      .getOrElse(Array.empty).toSeq
      .filter(t => Option(t.database).exists(_.equalsIgnoreCase("global_temp")))
    local ++ global
  }

  /** `tables` and `columns` as `spark.catalog.listTables` /
    * `listColumns` report them, with the column names and types the
    * members have always had. */
  private def expected(): (DataFrame, DataFrame) = {
    import spark.implicits._
    val tables = listed()
    def schema(t: org.apache.spark.sql.catalog.Table) =
      Option(t.database).getOrElse("default")
    val tablesDf = tables
      .map(t => ("spark_catalog", schema(t), t.name, t.tableType))
      .toDF("table_catalog", "table_schema", "table_name", "table_type")
    val columnsDf = tables
      .flatMap { t =>
        val name = Option(t.database).map(d => s"$d.${t.name}").getOrElse(t.name)
        spark.catalog.listColumns(name).collect().zipWithIndex.map {
          case (c, i) =>
            ("spark_catalog", schema(t), t.name, c.name, i + 1, c.dataType,
              c.nullable)
        }
      }
      .toDF("table_catalog", "table_schema", "table_name", "column_name",
        "ordinal_position", "data_type", "is_nullable")
    (tablesDf, columnsDf)
  }

  private def assertSame(actual: DataFrame, want: DataFrame): Unit = {
    assert(actual.schema == want.schema)
    assert(actual.collect().toSeq == want.collect().toSeq)
  }

  test("tables and columns equal spark.catalog's listTables/listColumns for every kind of table") {
    ctx.sql(s"CREATE EXTERNAL TABLE isp_parquet STORED AS PARQUET " +
      s"LOCATION '$sf/nation.parquet'")
    ctx.sql(s"CREATE EXTERNAL TABLE isp_json STORED AS JSON " +
      s"LOCATION '${Fixtures.eventsNdjson(spark, sf)}'")
    ctx.sql(s"CREATE EXTERNAL TABLE isp_csv STORED AS CSV " +
      s"OPTIONS(header='true') LOCATION '${Fixtures.nationCsv(spark, sf)}'")
    ctx.sql(s"CREATE EXTERNAL TABLE isp_arrow STORED AS ARROW " +
      s"LOCATION '${Fixtures.nationArrow(spark, sf)}'")
    ctx.sql(s"CREATE EXTERNAL TABLE isp_delta STORED AS DELTA " +
      s"LOCATION '${Fixtures.deltaNation(spark, sf)}'")
    ctx.sql("CREATE OR REPLACE TEMP VIEW isp_sql_view AS " +
      "SELECT n_nationkey * 2 AS k2, n_name FROM isp_parquet")
    spark.range(2)
      .selectExpr("id", "named_struct('a', id, 'b', array(id)) AS s",
        "map('k', CAST(id AS DECIMAL(12, 3))) AS m")
      .createOrReplaceTempView("isp_dataset_view")
    ctx.sql("CREATE OR REPLACE GLOBAL TEMP VIEW isp_global AS " +
      "SELECT n_regionkey FROM isp_parquet")
    spark.sql("DROP TABLE IF EXISTS isp_persistent")
    spark.sql("CREATE TABLE isp_persistent (a VARCHAR(5), b DECIMAL(10, 2), " +
      "c BIGINT NOT NULL) USING parquet")
    try {
      val (tablesDf, columnsDf) = expected()
      val tables = ctx.sql("SELECT * FROM information_schema.tables")
      assertSame(tables, tablesDf)
      assertSame(ctx.sql("SELECT * FROM information_schema.columns"), columnsDf)
      // every kind registered above is in both lists
      val kinds = tables.collect().map(r => r.getString(2) -> r.getString(3)).toMap
      Seq("isp_parquet", "isp_json", "isp_csv", "isp_arrow", "isp_delta",
        "isp_sql_view", "isp_dataset_view", "isp_global")
        .foreach(n => assert(kinds.get(n).contains("TEMPORARY"), n))
      assert(kinds.get("isp_persistent").contains("MANAGED"))
      val global = tables.collect().filter(_.getString(2) == "isp_global")
      assert(global.map(_.getString(1)).toSeq == Seq("global_temp"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS isp_persistent")
      spark.sql("DROP VIEW IF EXISTS global_temp.isp_global")
    }
  }

  test("statements touching every member leave no temp view behind") {
    InformationSchema.Members.foreach(m =>
      ctx.sql(s"SELECT * FROM information_schema.$m").collect())
    ctx.sql("""SELECT c.table_name FROM information_schema.columns c
      JOIN information_schema.tables t ON c.table_name = t.table_name""")
      .collect()
    val names = spark.catalog.listTables().collect().map(_.name)
    assert(!names.exists(_.startsWith("information_schema")), names.toSeq)
  }

  test("a member reference resolves in place to an aliased local relation") {
    val plan = spark.sessionState.sqlParser.parsePlan(
      "SELECT t.table_name FROM INFORMATION_SCHEMA.Tables t")
    val aliases = ResolveInformationSchema(spark)(plan).collect {
      case SubqueryAlias(id, _: LocalRelation) => id.qualifier :+ id.name
    }
    assert(aliases == Seq(Seq("information_schema", "tables")))
    // the qualified column spelling resolves through that alias
    val n = ctx.sql("""SELECT information_schema.tables.table_name
      FROM information_schema.tables""").count()
    assert(n == listed().size)
  }

  test("a lookup beside concurrent DDL always returns the stable table's columns") {
    ctx.sql("CREATE EXTERNAL TABLE iscc_x STORED AS PARQUET " +
      s"LOCATION '$sf/region.parquet'")
    val want = spark.table("iscc_x").columns.toSeq
    val done = new AtomicBoolean(false)
    val churn = new Thread(() => {
      var i = 0
      while (!done.get) {
        val n = s"iscc_tmp_${i % 3}"
        ctx.sql(s"CREATE EXTERNAL TABLE $n STORED AS PARQUET " +
          s"LOCATION '$sf/nation.parquet'")
        ctx.sql(s"DROP VIEW IF EXISTS $n")
        i += 1
      }
    })
    val seen = try {
      churn.start()
      (1 to 25).map(_ => Try(ctx.sql("""
        SELECT column_name FROM information_schema.columns
        WHERE table_name = 'iscc_x' ORDER BY ordinal_position""")
        .collect().map(_.getString(0)).toSeq))
    } finally {
      done.set(true)
      churn.join()
    }
    assert(seen.forall(_ == scala.util.Success(want)), seen.filter(_.isFailure))
  }

  test("a plan with no member reference comes back unchanged") {
    val plan = spark.sessionState.sqlParser.parsePlan(
      "SELECT 'information_schema.tables' AS s FROM information_schema_tables")
    assert(ResolveInformationSchema(spark)(plan) eq plan)
  }

  test("an ORDER BY over a local relation sorts on the driver, in the exchange's order") {
    val df = spark.sql("""SELECT * FROM VALUES (2, 'b'), (null, 'n'), (1, 'a'),
      (3, null), (2, 'a') AS t(k, v) ORDER BY k DESC NULLS LAST, v NULLS FIRST""")
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(df.collect().toSeq.map(r => (Option(r.get(0)), Option(r.getString(1)))) ==
      Seq((Some(3), None), (Some(2), Some("a")), (Some(2), Some("b")),
        (Some(1), Some("a")), (None, Some("n"))))
    // an information_schema lookup runs no exchange at all
    val cols = ctx.sql("""SELECT column_name FROM information_schema.columns
      WHERE table_name = 'isp_parquet' ORDER BY column_name DESC""")
    assert(cols.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeLike => e }.isEmpty)
    val names = cols.collect().map(_.getString(0)).toSeq
    assert(names.nonEmpty && names == names.sorted.reverse)
    // an order the driver cannot evaluate once per row keeps Spark's sort
    val rel = spark.sql("SELECT * FROM VALUES (1), (2) AS t(k)")
      .queryExecution.optimizedPlan
    val rand = Sort(Seq(SortOrder(Rand(Literal(1L)), Ascending)), true, rel)
    assert(SortLocalRelation(rand) eq rand)
  }
}
