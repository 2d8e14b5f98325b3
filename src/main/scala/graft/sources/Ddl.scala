package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** `CREATE EXTERNAL TABLE … STORED AS fmt [PARTITIONED BY (…)] LOCATION
  * 'uri'` shim — the reference's DDL surface (templated in
  * /root/reference/crates/cli/src/main.rs:54-67, factories wired in
  * /root/reference/crates/core/src/context.rs:37-52).
  *
  * Mapping to Spark: each format becomes a `spark.read.format(...)` over
  * the location, registered as a temp view. Hive-style partition
  * discovery is Spark-native (PartitioningAwareFileIndex), so
  * `PARTITIONED BY` columns surface automatically when the layout is
  * hive-partitioned. AVRO is rejected exactly like the reference, where
  * the factory is registered but the cargo feature is off
  * (/root/reference/crates/providers/src/listing.rs:58-63 → runtime
  * error); S3 URIs error cleanly (no hadoop-aws jar in this build).
  */
object Ddl {

  final case class ExternalTable(
      name: String,
      format: String,
      location: String,
      schema: Option[String],
      partitionedBy: Seq[String],
      options: Map[String, String],
      /** Declared file sort order (`WITH ORDER (c ASC, …)`), validated
        * against the declared schema like the reference
        * (listing.rs:122-149). DataFusion uses it as a listing-table
        * optimizer hint; Spark's file sources have no equivalent hint, so
        * it is accepted + validated but does not change the plan
        * (documented deviation — results are unaffected either way). */
      orderBy: Seq[String] = Seq.empty)

  private val CreatePattern =
    ("""(?is)\s*CREATE\s+EXTERNAL\s+TABLE\s+(\w+)\s*(\(([^)]*)\))?\s*""" +
      """STORED\s+AS\s+(\w+)\s*""" +
      """(?:WITH\s+ORDER\s*\(([^)]*)\)\s*)?""" +
      """(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?""" +
      """(?:OPTIONS\s*\(([^)]*)\)\s*)?""" +
      """LOCATION\s+'([^']+)'\s*;?\s*""").r

  /** Is this statement our DDL? */
  def matches(sql: String): Boolean =
    CreatePattern.pattern.matcher(sql).matches()

  def parse(sql: String): ExternalTable = sql match {
    case CreatePattern(name, _, cols, fmt, order, parts, opts, loc) =>
      // the column list is handed to Spark's DDL parser
      val schema = Option(cols).map(_.trim).filter(_.nonEmpty)
        .map(graft.SqlCompat.rewrite)
      val orderCols = Option(order).toSeq.flatMap(_.split(","))
        .map(_.trim.split("\\s+")(0)).filter(_.nonEmpty)
      // listing.rs:130-141 parity: WITH ORDER columns must exist in the
      // declared schema
      schema.foreach { ddl =>
        val declared = StructType.fromDDL(ddl).fieldNames.toSet
        orderCols.find(c => !declared.contains(c)).foreach { c =>
          throw new IllegalArgumentException(s"Column $c is not in schema")
        }
      }
      ExternalTable(
        name,
        fmt.toUpperCase,
        loc,
        schema,
        Option(parts).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        // split on commas OUTSIDE single quotes (delimiter=',' is legal)
        Option(opts).toSeq
          .flatMap(_.split(",(?=(?:[^']*'[^']*')*[^']*$)"))
          .map(_.split("=", 2).map(s => s.trim.stripPrefix("'").stripSuffix("'")))
          .collect { case Array(k, v) => k.toLowerCase -> v }.toMap,
        orderCols)
    case _ =>
      throw new IllegalArgumentException(s"not a CREATE EXTERNAL TABLE: $sql")
  }

  /** Execute the DDL: build the reader, register the view, return the df. */
  def register(spark: SparkSession, t: ExternalTable): DataFrame = {
    if (t.location.startsWith("s3://") || t.location.startsWith("s3a://"))
      throw new UnsupportedOperationException(
        "S3 object store support is not available in this build " +
          "(no hadoop-aws); use a local path")
    val df = t.format match {
      case "PARQUET" => readWithSchema(spark, t, "parquet")
      case "CSV" =>
        val base = spark.read
          .option("header", t.options.getOrElse("header", "true"))
          .option("delimiter", t.options.getOrElse("delimiter", ","))
        t.schema match {
          case Some(ddl) => base.schema(StructType.fromDDL(ddl)).csv(t.location)
          case None      => base.option("inferSchema", "true").csv(t.location)
        }
      case "JSON" | "NDJSON" => readWithSchema(spark, t, "json")
      // Spark-native bonus beyond the reference's factory set (which has
      // no ORC): Spark's vectorized ORC reader with predicate pushdown —
      // the same columnar-scan contract as PARQUET, q158-checked
      case "ORC" => readWithSchema(spark, t, "orc")
      case "ARROW" => ArrowReader.load(spark, t.location)
      case "AVRO" =>
        // mirror the reference: AVRO is registered but unusable
        // (listing.rs:58-63 → runtime error, no avro feature compiled in)
        throw new UnsupportedOperationException(
          "AVRO format factory is not available")
      case "DELTA" =>
        (t.options.get("versionasof"), t.options.get("timestampasof")) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            "versionAsOf and timestampAsOf are mutually exclusive")
          case (Some(v), None) => DeltaReader.loadAt(spark, t.location, v.toLong)
          case (None, Some(ts)) => DeltaReader.loadAt(spark, t.location,
            DeltaReader.versionAtTimestamp(t.location, parseTsMillis(ts)))
          case (None, None) => DeltaReader.load(spark, t.location)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown format: $other")
    }
    df.createOrReplaceTempView(t.name)
    registered.put((spark, t.name.toLowerCase), t)
    df
  }

  // name → registered external table, per session — the DML layer
  // ([[Dml]]) resolves DELETE/UPDATE/MERGE targets through this and
  // re-registers the view after a write so queries see the new snapshot
  private val registered = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), ExternalTable]()

  def lookup(spark: SparkSession, name: String): Option[ExternalTable] =
    Option(registered.get((spark, name.toLowerCase)))

  /** `timestampAsOf` accepts epoch millis, ISO-8601 instants
    * (`2026-08-14T12:00:00Z`), or the SQL spelling
    * `2026-08-14 12:00:00` (read as UTC — the engine pins the session
    * zone to UTC everywhere). */
  private[graft] def parseTsMillis(s: String): Long = {
    val t = s.trim
    if (t.matches("\\d+")) t.toLong
    else scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse(
      java.time.LocalDateTime
        .parse(t.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
  }

  private def readWithSchema(
      spark: SparkSession, t: ExternalTable, fmt: String): DataFrame =
    t.schema match {
      case Some(ddl) =>
        spark.read.schema(StructType.fromDDL(ddl)).format(fmt).load(t.location)
      case None => spark.read.format(fmt).load(t.location)
    }
}
