package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Table registry over the driver-generated parquet corpus
  * (/root/testdata/sf* — see TESTDATA.md / FIXTURES.md).
  *
  * The reference registers tables via `CREATE EXTERNAL TABLE … LOCATION …`
  * DDL (/root/reference/crates/cli/src/main.rs:54-67); here the equivalent
  * seam is a plain `spark.read.parquet` + temp view. Parquet footers carry
  * the schema, so registration is metadata-only and cheap; scans stay
  * columnar/vectorized and Catalyst prunes columns + pushes filters down.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // sniffed `events.ts` footer type, keyed by (dir, file mtime+length) —
  // the type is a property of the FILE, not the session (so no session
  // object is ever retained), and a regenerated corpus at the same path
  // (the Aug-2026 ns→µs regeneration pattern) changes the key and
  // re-sniffs instead of serving a stale answer
  private val tsTypes = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.DataType]()

  /** Parquet footer type of `events.ts` (driver-side, metadata-only,
    * cached per file identity) — the discriminator both the batch and
    * streaming events readers branch on. Sets `nanosAsLong` first so a
    * timestamp[ns] footer reads as LongType instead of throwing
    * [PARQUET_TYPE_ILLEGAL]; note the flip is SESSION-GLOBAL (and
    * idempotent) — any caller sharing the session reads ns-parquet
    * timestamps as raw longs afterwards, which [[normalizeEventsTs]]
    * is the one place that interprets. */
  private[graft] def eventsTsType(
      spark: SparkSession, dir: String): org.apache.spark.sql.types.DataType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val f = new java.io.File(s"$dir/events.parquet")
    // caching is a local-filesystem fast path only: a URI-style dir
    // (lastModified == 0) gets no cache entry — a fresh probe per load
    // beats silently pinning a type the key can't invalidate. (An
    // in-place same-length rewrite within one mtime granule could
    // still alias; the footer probe is the authority whenever in
    // doubt, and costs one metadata read.)
    if (f.lastModified == 0L)
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    else
      tsTypes.computeIfAbsent((f.getAbsolutePath, f.lastModified, f.length),
        _ => spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
  }

  /** Normalize a raw events frame's `ts` to TimestampType across BOTH
    * corpus generations (the ONE implementation — `t` and
    * streaming/EventStream.readEvents both route here):
    *  - timestamp[ns] read as raw nanos (`nanosAsLong`): integer-truncate
    *    to a microsecond timestamp — exactly what DuckDB's ns→µs
    *    conversion does, so oracle comparisons agree. Integer `DIV`, not
    *    `/`: true division would round-trip through double and lose
    *    sub-µs bits on 1.7e18-scale nanos.
    *  - timestamp[us] (isAdjustedToUTC=false), read as TIMESTAMP_NTZ:
    *    the session timezone is pinned to UTC everywhere
    *    (AdtContext/Verify/Bench), so casting to TIMESTAMP keeps the
    *    identical micros value while preserving every downstream query's
    *    TimestampType semantics — and matches DuckDB, which reads the
    *    same column as a naive TIMESTAMP and treats it as UTC in
    *    epoch(). */
  private[graft] def normalizeEventsTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already TimestampType
    }

  /** Load one table as a DataFrame (`events.ts` normalized via
    * [[normalizeEventsTs]] — footer-sniffed, both corpus generations). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      eventsTsType(spark, dir) // sets nanosAsLong before the real read
      normalizeEventsTs(spark.read.parquet(s"$dir/$name.parquet"))
    } else spark.read.parquet(s"$dir/$name.parquet")
  }

  // last corpus dir registered per session — registration costs ~0.7s
  // (10 parquet footer reads), so repeat calls for the same dir skip it
  private val registered =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  /** Register every corpus table as a temp view (idempotent per dir) and
    * return the session, so `spark.sql` can reference them by name exactly
    * like the reference's registered external tables. */
  def register(spark: SparkSession, dir: String): SparkSession = {
    if (registered.get(spark) != dir) {
      all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, dir)
    }
    spark
  }

  /** SQL against the registered corpus — the `ADTContext::sql` seam
    * (/root/reference/crates/core/src/context.rs:93-105) in Spark form. */
  def sql(spark: SparkSession, dir: String, q: String): DataFrame =
    register(spark, dir).sql(q)

  /** Exact row count of one UNFILTERED corpus table from its parquet
    * footer(s) — the metadata every footer carries (r22, guide §1/§2.4:
    * a dozen queries spent a full scheduler job on `df.count()` of a
    * base table just to derive a scalar parameter; the footer read is
    * the same value with zero jobs, exactly what DuckDB's count(*)
    * pushdown does on the oracle side). NOT cached: every invocation
    * re-reads the footer, so a regenerated corpus at the same path can
    * never serve a stale count. Falls back to a Spark count if the
    * footer read fails (e.g. non-local URI). */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(p, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    } catch { case NonFatal(_) =>
      t(spark, dir, name).count()
    }
}
