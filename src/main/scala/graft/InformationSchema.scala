package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType, StructField, StructType}

/** `information_schema.{tables,columns,views,df_settings,schemata,
  * routines}` shim (the reference enables DataFusion's FULL
  * information_schema in its session config,
  * /root/reference/crates/core/src/context.rs:27).
  *
  * Spark has no information_schema catalog, so the analyzer rule
  * [[graft.plans.ResolveInformationSchema]] replaces each reference with
  * the [[relation]] built here, while the statement is analyzed, from the
  * catalog as it is then. `tables`, `columns` and `views` read the
  * session catalog directly, with no Dataset or job, and hold what
  * `spark.catalog.listTables`/`listColumns` report. Catalog metadata is
  * driver-side and tiny, so local construction fits any scale.
  *
  * Stated divergence: `columns.is_nullable` is `true` for a `NOT NULL`
  * column of a persistent data-source table (`USING parquet`), where
  * DataFusion reports it not nullable. Spark stores data-source table
  * schemas as nullable, so the catalog holds no other answer.
  */
object InformationSchema {

  /** The information_schema member names this shim resolves. */
  val Members: Set[String] =
    Set("tables", "columns", "views", "df_settings", "schemata", "routines")

  private def strings(names: String*): Seq[StructField] =
    names.map(StructField(_, StringType))

  /** `member`'s rows as the catalog holds them now. Only the named member
    * is read: a `tables` probe never pays the `SET -v` / listFunctions
    * walks other members need. */
  def relation(spark: SparkSession, member: String): LocalRelation = {
    val (fields, rows) = member match {
      case "tables" =>
        strings("table_catalog", "table_schema", "table_name", "table_type") ->
          catalogTables(spark).map(t =>
            Row("spark_catalog", t.schema, t.name, t.tableType))
      case "columns" =>
        (strings("table_catalog", "table_schema", "table_name", "column_name") ++
          Seq(StructField("ordinal_position", IntegerType, nullable = false),
            StructField("data_type", StringType),
            StructField("is_nullable", BooleanType, nullable = false))) ->
          catalogTables(spark).flatMap(t =>
            t.meta.schema.zipWithIndex.map { case (f, i) =>
              Row("spark_catalog", t.schema, t.name, f.name, i + 1,
                f.dataType.simpleString, f.nullable)
            })
      // DataFusion's shape: one row per view, `definition` = the defining
      // SQL where the catalog retains it (SQL-created views), NULL for
      // views registered from the Dataset API, matching DataFusion's NULL
      // definition for non-SQL-backed views
      case "views" =>
        strings("table_catalog", "table_schema", "table_name", "definition") ->
          catalogTables(spark)
            .filter(t => t.tableType == "TEMPORARY" || t.tableType == "VIEW")
            .map(t => Row("spark_catalog", t.schema, t.name,
              t.meta.viewText.orNull))
      // DataFusion's (name, value) over the session config; Spark's
      // documented SQLConf surface is the analogue (`SET -v`), so a
      // `SELECT value FROM df_settings WHERE name = …` probe ports directly
      case "df_settings" =>
        val set = spark.sql("SET -v").selectExpr("key AS name", "value")
        set.schema.fields.toSeq -> set.collect().toSeq
      // one row per database (standard columns; the character-set/path
      // fields are NULL, as in DataFusion)
      case "schemata" =>
        strings("catalog_name", "schema_name", "schema_owner",
          "default_character_set_catalog", "default_character_set_schema",
          "default_character_set_name", "sql_path") ->
          spark.catalog.listDatabases().collect().toSeq.map(db =>
            Row("spark_catalog", db.name, null, null, null, null, null))
      // one row per registered function (standard subset: name/catalog/
      // schema + routine_type FUNCTION, with Spark's description text
      // where the registry carries one)
      case "routines" =>
        (strings("routine_catalog", "routine_schema", "routine_name",
          "routine_type") ++
          Seq(StructField("is_temporary", BooleanType, nullable = false),
            StructField("description", StringType))) ->
          spark.catalog.listFunctions().collect().toSeq.map(f =>
            Row("spark_catalog", Option(f.database).getOrElse("default"),
              f.name, "FUNCTION", f.isTemporary,
              Option(f.description).getOrElse("")))
    }
    LocalRelation.fromExternalRows(
      DataTypeUtils.toAttributes(StructType(fields)), rows)
  }

  /** One table or view as `spark.catalog.listTables` reports it:
    * `schema` is its database ("default" for a local temp view) and
    * `tableType` is TEMPORARY, VIEW, EXTERNAL or MANAGED. */
  private final case class CatalogEntry(schema: String, name: String,
      tableType: String, meta: CatalogTable)

  /** The tables and views of the current database, then the local temp
    * views, then the global temp views (which live only under the global
    * temp database), in `spark.catalog.listTables` order. A table dropped
    * between the listing and its metadata read is skipped, as
    * `listTables` itself skips it. */
  private def catalogTables(spark: SparkSession): Seq[CatalogEntry] = {
    val catalog = spark.sessionState.catalog
    val ids =
      catalog.listTables(catalog.getCurrentDatabase, "*",
        includeLocalTempViews = true) ++
      catalog.listTables(catalog.globalTempDatabase, "*",
        includeLocalTempViews = false)
    ids.flatMap { id =>
      try {
        val meta = catalog.getTempViewOrPermanentTableMetadata(id)
        val tableType =
          if (catalog.isTempView(id)) "TEMPORARY" else meta.tableType.name
        Some(CatalogEntry(id.database.getOrElse("default"), id.table,
          tableType, meta))
      } catch { case _: NoSuchTableException => None }
    }
  }
}
