package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      s"usage: graft.Verify <sfDir> <outDir> [queryNamePrefix] " +
        s"(got ${args.length} args)")
    val sfDir = args(0); val outDir = args(1)
    // optional prefix filter for the dev fast loop (the driver passes 2
    // args and gets every query)
    val keep: String => Boolean =
      if (args.length == 3) (n: String) => n.startsWith(args(2))
      else (_: String) => true
    val spark = AdtContext.session()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries may cache intermediates; drop them between queries so the
      // full run doesn't accumulate executor storage memory.
      // Storage-hygiene signal: after clearCache released every
      // Dataset.cache entry, the only persisted blocks a query may leave
      // behind are its localCheckpoint lineage truncations. Anything else
      // is a cache leak that would accumulate in a long-lived session.
      // Deliberately a WARNING, not an abort: a transient query failure
      // can strand a half-persisted RDD, and killing the run here would
      // zero every remaining query's correctness row (the parquet dumps
      // + oracle_sql.json must be produced regardless). PlanAuditSpec
      // pins the known leak class (q110 no-cache) structurally.
      val leaked = AdtContext.sweepCaches(spark)
      if (leaked.nonEmpty)
        System.err.println(
          s"[verify] WARNING: $name leaked cached RDDs past clearCache: " +
            leaked.mkString(", "))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
