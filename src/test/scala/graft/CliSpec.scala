package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Ddl

/** CLI shell contracts from the reference
  * (/root/reference/crates/cli/src/main.rs:103-137, cli.rs:44-90). */
class CliSpec extends AnyFunSuite {

  test("statement splitter: comments, line-end semicolons, trailing stmt") {
    val lines = Seq(
      "-- a comment",
      "SELECT 1",
      "FROM t;",
      "SELECT 'a;b'",   // mid-line ';' must NOT split (main.rs:112-119)
      "FROM u;",
      "-- another comment",
      "SELECT trailing") // no ';' — still runs (main.rs:130-136)
    val stmts = Cli.splitStatements(lines)
    assert(stmts == Seq(
      "SELECT 1 FROM t",
      "SELECT 'a;b' FROM u",
      "SELECT trailing"))
  }

  test("DDL shim parses the reference's templated form") {
    val t = Ddl.parse(
      "CREATE EXTERNAL TABLE tbl STORED AS PARQUET PARTITIONED BY (p) " +
        "LOCATION '/some/path'")
    assert(t.name == "tbl" && t.format == "PARQUET" &&
      t.partitionedBy == Seq("p") && t.location == "/some/path")
  }

  test("DDL shim parses declared schema and options") {
    val t = Ddl.parse("""CREATE EXTERNAL TABLE c (a INT, b STRING)
      STORED AS CSV OPTIONS(header='false', delimiter='|')
      LOCATION '/x'""")
    assert(t.schema.contains("a INT, b STRING"))
    assert(t.options == Map("header" -> "false", "delimiter" -> "|"))
  }

  test("WITH ORDER parses, validates against schema, and rejects unknown cols") {
    val t = Ddl.parse("""CREATE EXTERNAL TABLE o (a INT, b STRING)
      STORED AS PARQUET WITH ORDER (a ASC, b DESC) LOCATION '/x'""")
    assert(t.orderBy == Seq("a", "b"))
    // listing.rs:130-141 parity: unknown order column is a plan error
    val e = intercept[IllegalArgumentException] {
      Ddl.parse("""CREATE EXTERNAL TABLE o (a INT)
        STORED AS PARQUET WITH ORDER (zz ASC) LOCATION '/x'""")
    }
    assert(e.getMessage.contains("not in schema"))
  }

  test("DDL options may contain quoted commas") {
    val t = Ddl.parse(
      "CREATE EXTERNAL TABLE c STORED AS CSV " +
        "OPTIONS(delimiter=',', header='true') LOCATION '/x'")
    assert(t.options == Map("delimiter" -> ",", "header" -> "true"))
  }

  test("AVRO is rejected like the reference (dead factory)") {
    val ctx = new AdtContext(SparkTestSession.spark)
    val e = intercept[UnsupportedOperationException] {
      ctx.sql("CREATE EXTERNAL TABLE a STORED AS AVRO LOCATION '/x'")
    }
    // pin the full message: the reference registers AVRO but its factory
    // is dead (listing.rs:58-63 "Could not find FileFormat"); ours says
    // the same thing in the same place
    assert(e.getMessage == "AVRO format factory is not available")
  }

  test("EXPLAIN ANALYZE executes and returns the metric-annotated plan") {
    val spark = SparkTestSession.spark
    val ctx = new AdtContext(spark)
    val dir = SparkTestSession.sfDir
    val rows = ctx.sql(
      s"EXPLAIN ANALYZE SELECT n_regionkey, count(*) AS n " +
        s"FROM parquet.`$dir/nation.parquet` GROUP BY n_regionkey").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "Plan with Metrics")
    val plan = rows.head.getString(1)
    assert(plan.contains("HashAggregate"))
    assert(plan.contains("metrics=["))
    // runtime (not just planning) metrics: rows actually flowed
    assert(plan.contains("numOutputRows="))
  }

  test("ARROW DDL reads an IPC file end-to-end, batch-parallel") {
    val spark = SparkTestSession.spark
    val dir = graft.sources.Fixtures.nationArrow(spark, SparkTestSession.sfDir)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE arrow_t STORED AS ARROW LOCATION '$dir'")
    val df = ctx.sql("SELECT n_nationkey, n_name FROM arrow_t ORDER BY n_nationkey")
    val rows = df.collect()
    assert(rows.length == 25)
    assert(rows.head.getInt(0) == 0 && rows.head.getString(1) == "NATION_0")
    // the fixture writes two record batches; the scan parallelizes on them
    assert(graft.sources.ArrowReader.load(spark, dir).rdd.getNumPartitions == 2)
  }

  test("information_schema.views and df_settings resolve through the analyzer rule") {
    val spark = SparkTestSession.spark
    val ctx = new AdtContext(spark)
    spark.sql("CREATE OR REPLACE TEMP VIEW cli_is_view AS SELECT 41 + 1 AS x")
    val v = ctx.sql("""SELECT definition FROM information_schema.views
      WHERE table_name = 'cli_is_view'""").collect()
    assert(v.length == 1 && v(0).getString(0).contains("41 + 1"))
    // a Dataset-API temp view SHADOWING a same-named persistent SQL view
    // must still report NULL — the lookups may not fall through to each
    // other and misattribute the persistent definition to the temp view
    spark.sql("CREATE OR REPLACE VIEW cli_is_shadow AS SELECT 7 AS y")
    import spark.implicits._
    Seq(1).toDF("z").createOrReplaceTempView("cli_is_shadow")
    try {
      val defs = ctx.sql("""SELECT definition FROM information_schema.views
        WHERE table_name = 'cli_is_shadow'""").collect()
        .map(r => Option(r.getString(0))).toSeq
      // one row per catalog entry: the temp view NULL, the persistent
      // view its SQL — never the persistent SQL on both
      assert(defs.size == 2, s"defs=$defs")
      assert(defs.count(_.isEmpty) == 1, s"defs=$defs")
      assert(defs.flatten.count(_.contains("7")) == 1, s"defs=$defs")
    } finally {
      spark.catalog.dropTempView("cli_is_shadow")
      spark.sql("DROP VIEW IF EXISTS cli_is_shadow")
    }
    val tz = ctx.sql("""SELECT value FROM information_schema.df_settings
      WHERE name = 'spark.sql.session.timeZone'""").collect()
    assert(tz.map(_.getString(0)).toSeq == Seq(spark.conf.get(
      "spark.sql.session.timeZone")))
  }

  test("EXPLAIN ANALYZE composes with the information_schema analyzer rule") {
    val spark = SparkTestSession.spark
    val ctx = new AdtContext(spark)
    spark.range(2).createOrReplaceTempView("cli_ea_probe")
    val rows = ctx.sql("""EXPLAIN ANALYZE
      SELECT count(*) FROM information_schema.tables
      WHERE table_name = 'cli_ea_probe'""").collect()
    assert(rows.length == 1 && rows(0).getString(0) == "Plan with Metrics")
    // the metric tree proves the inner statement really executed
    assert(rows(0).getString(1).contains("metrics=["))
  }

  test("S3 locations error cleanly (no hadoop-aws in this build)") {
    val ctx = new AdtContext(SparkTestSession.spark)
    val e = intercept[UnsupportedOperationException] {
      ctx.sql("CREATE EXTERNAL TABLE s STORED AS PARQUET LOCATION 's3://b/k'")
    }
    // pin the actionable error text (documented deviation: the reference
    // wires AmazonS3Builder, context.rs:59-83; this build has no
    // hadoop-aws jar and zero egress)
    assert(e.getMessage.contains("no hadoop-aws"))
    assert(e.getMessage.contains("use a local path"))
    // s3a:// takes the same gate
    val e2 = intercept[UnsupportedOperationException] {
      ctx.sql("CREATE EXTERNAL TABLE s2 STORED AS PARQUET LOCATION 's3a://b/k'")
    }
    assert(e2.getMessage.contains("no hadoop-aws"))
  }

  test("CSV DDL honors a custom delimiter option end-to-end") {
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_psv").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "data.csv").toPath,
      "a|b\n1|x\n2|y\n")
    val ctx = new AdtContext(spark)
    ctx.sql(s"""CREATE EXTERNAL TABLE psv (a INT, b STRING)
      STORED AS CSV OPTIONS(header='true', delimiter='|')
      LOCATION '${dir.getAbsolutePath}'""")
    val rows = ctx.sql("SELECT a, b FROM psv ORDER BY a").collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "x"), (2, "y")))
  }

  test("DELTA DDL time travel via OPTIONS(versionAsOf)") {
    val spark = SparkTestSession.spark
    val dir = graft.sources.Fixtures.deltaNation(spark, SparkTestSession.sfDir)
    val ctx = new AdtContext(spark)
    ctx.sql(s"""CREATE EXTERNAL TABLE nation_v0 STORED AS DELTA
      OPTIONS(versionAsOf='0') LOCATION '$dir'""")
    ctx.sql(s"CREATE EXTERNAL TABLE nation_vlatest STORED AS DELTA LOCATION '$dir'")
    // v0 = files a+b (25 rows); v1 removed b, added trimmed c (20 rows)
    assert(ctx.sql("SELECT count(*) FROM nation_v0").collect()(0).getLong(0) == 25)
    assert(ctx.sql("SELECT count(*) FROM nation_vlatest").collect()(0).getLong(0) == 20)
  }

  test("non-delta path errors clearly through the delta reader") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.DeltaReader.load(SparkTestSession.spark, "/tmp")
    }
    assert(e.getMessage.contains("_delta_log"))
  }

  test("view flow end-to-end: DDL + blind limit suffix + formatter") {
    val ctx = new AdtContext(SparkTestSession.spark)
    ctx.sql("CREATE EXTERNAL TABLE tbl STORED AS PARQUET " +
      s"LOCATION '${SparkTestSession.sfDir}/nation.parquet'")
    val df = ctx.sql("select n_name from tbl order by n_nationkey limit 3")
    val rendered = Output.format(df)
    assert(rendered.contains("NATION_0"))
    assert(rendered.startsWith("+-"))
  }

  test("SqlCompat rewrites postgres regex operators onto Spark spellings") {
    // the rewriter space-pads emitted keywords (so `a~'x'` stays legal);
    // collapse runs of spaces — SQL-insignificant — for exact compares
    val r = (s: String) => SqlCompat.rewrite(s).replaceAll(" +", " ")
    assert(r("SELECT a ~ 'x' FROM t") == "SELECT a RLIKE 'x' FROM t")
    assert(r("SELECT a !~ 'x' FROM t") == "SELECT a NOT RLIKE 'x' FROM t")
    assert(r("SELECT a ~* 'x' FROM t") == "SELECT a RLIKE '(?i)x' FROM t")
    assert(r("SELECT a !~* 'x' FROM t") ==
      "SELECT a NOT RLIKE '(?i)x' FROM t")
    assert(r("SELECT a ~~ 'x%' FROM t") == "SELECT a LIKE 'x%' FROM t")
    assert(r("SELECT a !~~ 'x%' FROM t") == "SELECT a NOT LIKE 'x%' FROM t")
    assert(r("SELECT a ~~* 'x%' FROM t") == "SELECT a ILIKE 'x%' FROM t")
    assert(r("SELECT a !~~* 'x%'") == "SELECT a NOT ILIKE 'x%'")
    // SIMILAR TO: anchored, %/_ translated, . ^ $ escaped as ordinary
    assert(r("SELECT a SIMILAR TO 'ab%c_[0-9]|x.'") ==
      "SELECT a RLIKE '^(?:ab.*c.[0-9]|x\\\\.)$'")
    assert(r("SELECT a NOT SIMILAR TO 'x%'") ==
      "SELECT a NOT RLIKE '^(?:x.*)$'")
    // \c is the SQL escape: the escaped char becomes a LITERAL —
    // \% matches %, \_ matches _, \\ a backslash (regex-quoted)
    assert(r("SELECT a SIMILAR TO '100\\%'") ==
      "SELECT a RLIKE '^(?:100%)$'")
    assert(r("SELECT a SIMILAR TO 'a\\_b'") == "SELECT a RLIKE '^(?:a_b)$'")
    assert(r("SELECT a SIMILAR TO 'c:\\\\%'") ==
      "SELECT a RLIKE '^(?:c:\\\\\\\\.*)$'")
    // every literal backslash is re-spelled for Spark's default parser,
    // which reads `\\` as one backslash; raw r'…' literals stay as written
    assert(r("SELECT 'C:\\x', \"a\\b\", r'\\d', `c\\d`") ==
      "SELECT 'C:\\\\x', \"a\\\\b\", r'\\d', `c\\d`")
    // a pattern ending in a lone escape fails loudly (postgres errors)
    intercept[IllegalArgumentException] {
      SqlCompat.rewrite("SELECT a SIMILAR TO 'oops\\'")
    }
    // untouched: unary bitwise ~, literals/quoted identifiers holding ~,
    // non-literal ci patterns (left verbatim → loud parse error),
    // identifiers merely containing the keyword
    assert(r("SELECT ~5 AS flip") == "SELECT ~5 AS flip")
    assert(r("SELECT 'a~b', \"c~d\", `e~f` FROM t") ==
      "SELECT 'a~b', \"c~d\", `e~f` FROM t")
    assert(r("SELECT a ~* b FROM t") == "SELECT a ~* b FROM t")
    assert(r("SELECT similar_to_x FROM t") == "SELECT similar_to_x FROM t")
    // '' escapes survive, and a ~ AFTER a literal is still binary
    assert(r("SELECT 'it''s' ~ 'x'") == "SELECT 'it''s' RLIKE 'x'")
    // comments pass through verbatim: an apostrophe or ~ in comment
    // prose neither opens a literal nor rewrites
    assert(r("SELECT a ~ 'x' -- don't ~ rewrite 'this\nFROM t") ==
      "SELECT a RLIKE 'x' -- don't ~ rewrite 'this\nFROM t")
    assert(r("SELECT /* isn't a ~ op */ b ~ 'y'") ==
      "SELECT /* isn't a ~ op */ b RLIKE 'y'")
    // CASE … END ends an operand, so END ~ is the binary match; a ~
    // after a bare keyword (WHERE/SELECT/AND…) stays unary
    assert(r("SELECT CASE WHEN b THEN x ELSE y END ~ 'p'") ==
      "SELECT CASE WHEN b THEN x ELSE y END RLIKE 'p'")
    assert(r("SELECT x WHERE ~5 = -6") == "SELECT x WHERE ~5 = -6")
  }

  test("information_schema refresh is lazy: only referenced members rebuild") {
    val spark = SparkTestSession.spark
    val rule = graft.plans.ResolveInformationSchema(spark)
    def built(sql: String): Seq[String] =
      rule(spark.sessionState.sqlParser.parsePlan(sql)).collect {
        case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(id, _) => id.name
      }
    // a `tables` probe builds `tables` alone: no SET -v / listFunctions walk
    assert(built("SELECT count(*) FROM information_schema.tables") == Seq("tables"))
    assert(built("SELECT count(*) FROM information_schema.df_settings") ==
      Seq("df_settings"))
    // a member referenced twice is built once and aliased at each site
    val twice = rule(spark.sessionState.sqlParser.parsePlan("""
      SELECT * FROM information_schema.columns a
      JOIN information_schema.columns b ON a.table_name = b.table_name"""))
      .collect { case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l }
    assert(twice.size == 2 && (twice.head eq twice.last))
  }

  test("postgres regex operators run end-to-end through AdtContext") {
    val ctx = new AdtContext(SparkTestSession.spark)
    ctx.sql("CREATE EXTERNAL TABLE pgre STORED AS PARQUET " +
      s"LOCATION '${SparkTestSession.sfDir}/nation.parquet'")
    val rows = ctx.sql(
      "SELECT count(*) FROM pgre WHERE n_name ~ '_1[0-9]$'")
      .collect()
    assert(rows(0).getLong(0) == 10) // NATION_10..NATION_19
    val sim = ctx.sql(
      "SELECT count(*) FROM pgre WHERE n_name SIMILAR TO 'NATION_2%'")
      .collect()
    assert(sim(0).getLong(0) == 6) // NATION_2 + NATION_20..24
    // escaped wildcards and ordinary `.` survive the round trip: the
    // emitted regex backslashes depend on AdtContext reading literals
    // standard-SQL-style, like the reference's postgres dialect —
    // SqlCompat re-spells them so Spark's default parser keeps them
    val esc = ctx.sql(
      "SELECT '100%' SIMILAR TO '100\\%' AS e, " +
        "'1009' SIMILAR TO '100\\%' AS f, " +
        "'a.b' SIMILAR TO 'a.b' AS g, " +
        "'axb' SIMILAR TO 'a.b' AS h").collect()(0)
    assert(esc.getBoolean(0) && !esc.getBoolean(1))
    assert(esc.getBoolean(2) && !esc.getBoolean(3))
  }

  test("a string literal that spells an information_schema member stays as written") {
    val ctx = new AdtContext(SparkTestSession.spark)
    val s = ctx.sql("SELECT 'information_schema.tables' AS s").head().getString(0)
    assert(s == "information_schema.tables")
  }
}
