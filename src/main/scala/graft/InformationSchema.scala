package graft

import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier

/** `information_schema.{tables,columns,views,df_settings,schemata,
  * routines}` shim (the reference enables DataFusion's FULL
  * information_schema in its session config,
  * /root/reference/crates/core/src/context.rs:27).
  *
  * Spark has no information_schema catalog, so the analyzer rule
  * [[graft.plans.ResolveInformationSchema]] resolves
  * `information_schema.*` references to temp views refreshed here from
  * `spark.catalog`. Catalog metadata is inherently driver-side
  * and tiny (one row per table/column/setting), so local construction is
  * the correct shape at any scale.
  */
object InformationSchema {

  val TablesView = "information_schema_tables"
  val ColumnsView = "information_schema_columns"
  val ViewsView = "information_schema_views"
  val SettingsView = "information_schema_df_settings"
  val SchemataView = "information_schema_schemata"
  val RoutinesView = "information_schema_routines"

  /** The information_schema member names this shim resolves. */
  val Members: Set[String] =
    Set("tables", "columns", "views", "df_settings", "schemata", "routines")

  /** (Re)build only the requested members — the analyzer rule passes
    * the member set the plan references, so a query touching only `tables`
    * never pays the `SET -v` + listFunctions + per-table listColumns
    * driver walks the other members need. All walks are metadata-bound
    * (one row per table/column/setting) at any data scale. */
  def refresh(spark: SparkSession, members: Set[String]): Unit = {
    import spark.implicits._
    val wanted = members.map(_.toLowerCase).intersect(Members)
    // one catalog listing feeds tables/columns/views; built only on
    // demand. listTables() never returns GLOBAL temp views — they live
    // solely under the global_temp database (which itself exists only
    // after the first global view is created, hence the Try) — so that
    // listing is unioned in, de-duped against the local temp views
    // listTables("global_temp") also reports.
    lazy val tables = {
      val local = spark.catalog.listTables().collect().toSeq
      val global = Try(spark.catalog.listTables("global_temp").collect())
        .getOrElse(Array.empty).toSeq
        .filter(t => Option(t.database).exists(_.equalsIgnoreCase("global_temp")))
      local ++ global
    }
    // global temp views resolve only through their qualified name
    def qualified(t: org.apache.spark.sql.catalog.Table): String =
      Option(t.database).filter(_.nonEmpty)
        .map(d => s"$d.${t.name}").getOrElse(t.name)
    if (wanted("tables"))
      tables
        .map(t => ("spark_catalog", Option(t.database).getOrElse("default"),
          t.name, t.tableType))
        .toDF("table_catalog", "table_schema", "table_name", "table_type")
        .createOrReplaceTempView(TablesView)
    if (wanted("columns"))
      tables
        .flatMap { t =>
          spark.catalog.listColumns(qualified(t)).collect().zipWithIndex.map {
            case (c, i) =>
              ("spark_catalog", Option(t.database).getOrElse("default"), t.name,
                c.name, i + 1, c.dataType, c.nullable)
          }
        }
        .toDF("table_catalog", "table_schema", "table_name", "column_name",
          "ordinal_position", "data_type", "is_nullable")
        .createOrReplaceTempView(ColumnsView)
    // information_schema.views — DataFusion's shape: one row per view,
    // `definition` = the defining SQL where the catalog retains it (SQL-
    // created views), NULL for views registered from the Dataset API,
    // matching DataFusion's NULL definition for non-SQL-backed views.
    if (wanted("views"))
      tables
        .filter(t => t.tableType == "TEMPORARY" || t.tableType == "VIEW")
        .map { t =>
          ("spark_catalog", Option(t.database).getOrElse("default"), t.name,
            viewDefinition(spark, t.name, Option(t.database),
              temp = t.tableType == "TEMPORARY").orNull)
        }
        .toDF("table_catalog", "table_schema", "table_name", "definition")
        .createOrReplaceTempView(ViewsView)
    // information_schema.df_settings — DataFusion's (name, value) over the
    // session config; Spark's documented SQLConf surface is the analogue
    // (`SET -v`), so a `SELECT value FROM df_settings WHERE name = …`
    // probe ports directly.
    if (wanted("df_settings"))
      spark.sql("SET -v")
        .selectExpr("key AS name", "value")
        .createOrReplaceTempView(SettingsView)
    // information_schema.schemata — one row per database (standard
    // columns; the character-set/path fields are NULL, as in DataFusion).
    if (wanted("schemata"))
      spark.catalog.listDatabases().collect().toSeq
        .map(db => ("spark_catalog", db.name, null: String, null: String,
          null: String, null: String, null: String))
        .toDF("catalog_name", "schema_name", "schema_owner",
          "default_character_set_catalog", "default_character_set_schema",
          "default_character_set_name", "sql_path")
        .createOrReplaceTempView(SchemataView)
    // information_schema.routines — one row per registered function
    // (standard subset: name/catalog/schema + routine_type FUNCTION,
    // with Spark's description text where the registry carries one).
    if (wanted("routines"))
      spark.catalog.listFunctions().collect().toSeq
        .map(f => ("spark_catalog",
          Option(f.database).getOrElse("default"), f.name, "FUNCTION",
          f.isTemporary, Option(f.description).getOrElse("")))
        .toDF("routine_catalog", "routine_schema", "routine_name",
          "routine_type", "is_temporary", "description")
        .createOrReplaceTempView(RoutinesView)
  }

  /** Defining SQL of a view when the catalog kept it: temp views created
    * with `CREATE TEMP VIEW … AS SELECT` carry viewText on their raw
    * metadata; persistent views carry it on the table metadata. The two
    * lookups must NOT fall through to each other — a Dataset-API temp
    * view (no SQL text, definition = NULL by contract) can shadow a
    * same-named persistent view, and a cross-lookup would misattribute
    * the persistent view's SQL to it. */
  private def viewDefinition(spark: SparkSession, name: String,
      db: Option[String], temp: Boolean): Option[String] = {
    val catalog = spark.sessionState.catalog
    if (temp) {
      // SQL-created GLOBAL temp views live in the global registry under
      // the global_temp database — the local lookup would report their
      // definition NULL even though the catalog retains the viewText
      val raw =
        if (db.exists(_.equalsIgnoreCase("global_temp")))
          Try(catalog.getRawGlobalTempView(name)).toOption.flatten
        else Try(catalog.getRawTempView(name)).toOption.flatten
      raw.flatMap(v => Try(v.tableMeta.viewText).toOption.flatten)
    } else
      Try(catalog.getTableMetadata(TableIdentifier(name, db)).viewText)
        .toOption.flatten
  }
}
