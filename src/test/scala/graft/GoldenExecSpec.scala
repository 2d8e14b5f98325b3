package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, sum}

/** Golden `execute` flow: a multi-statement .sql file through the exact
  * splitter + AdtContext + formatter pipeline the CLI uses (FIXTURES.md
  * item 5). */
class GoldenExecSpec extends AnyFunSuite {

  test("golden1.sql runs through the execute pipeline with stable output") {
    val url = getClass.getResource("/queries/golden1.sql")
    assert(url != null, "golden1.sql resource missing")
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq

    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 4) // 2 DDL + 2 queries; trailing stmt without ';'
    assert(stmts.last == "SELECT 'a;b' AS s, 1 + 1 AS two")

    val ctx = new AdtContext(SparkTestSession.spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL → empty boxes
    assert(outputs(0) == "++\n++")
    assert(outputs(1) == "++\n++")
    // join result: 5 regions × 5 nations each
    assert(outputs(2).contains("AFRICA") && outputs(2).contains("| 5"))
    // mid-line semicolon survived the splitter
    assert(outputs(3).contains("a;b"))
  }

  test("golden2.sql: information_schema + EXPLAIN ANALYZE through the execute pipeline") {
    val url = getClass.getResource("/queries/golden2.sql")
    assert(url != null, "golden2.sql resource missing")
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 5) // 1 DDL + 3 introspections + EXPLAIN ANALYZE
    val ctx = new AdtContext(SparkTestSession.spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(0) == "++\n++")
    assert(outputs(1).contains("g2nat"))
    assert(outputs(2).contains("| 3")) // nation: key, name, regionkey
    assert(outputs(3).contains("UTC"))
    assert(outputs(4).contains("Plan with Metrics") &&
      outputs(4).contains("metrics=["))
  }

  test("golden3.sql: the delta path (DDL, time travel, DVs, pg dialect) through execute") {
    val url = getClass.getResource("/queries/golden3.sql")
    assert(url != null, "golden3.sql resource missing")
    val spark = SparkTestSession.spark
    val delta = graft.sources.Fixtures.deltaNation(spark, SparkTestSession.sfDir)
    val dv = graft.sources.Fixtures.deltaNationDv(spark, SparkTestSession.sfDir)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA}", delta).replace("${DELTA_DV}", dv))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 7) // 3 DDL + 4 queries (last without ';')
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL → empty boxes
    assert(outputs.take(3).forall(_ == "++\n++"))
    // v1 removed file b and added a trimmed c: 20 live rows
    assert(outputs(3).contains("| 20"))
    // v0 (time travel) still sees all 25
    assert(outputs(4).contains("| 25"))
    // the DV table hides exactly the 4 deleted row indexes
    assert(outputs(5).contains("| 21"))
    // the pg `~` regex operator works inside an executed delta script:
    // '_1$' matches NATION_1 alone (NATION_11/21 end in "11"/"21")
    assert(outputs(6).contains("NATION_1") && !outputs(6).contains("NATION_11"))
  }

  test("golden6.sql: the delta V2-checkpoint path through execute") {
    val url = getClass.getResource("/queries/golden6.sql")
    assert(url != null, "golden6.sql resource missing")
    val spark = SparkTestSession.spark
    val v2 = graft.sources.Fixtures
      .deltaNationV2Checkpoint(spark, SparkTestSession.sfDir)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_V2}", v2))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 5) // 2 DDL + 3 queries (last without ';')
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs.take(2).forall(_ == "++\n++"))
    // latest = sidecar add B + tail add C, tail remove drops A
    assert(outputs(2).contains("| 16") && outputs(2).contains("| 9"))
    // v0 (time travel INTO the v2 checkpoint) = sidecar adds A + B
    assert(outputs(3).contains("| 17"))
    // row-level read through the stitched file set
    assert(outputs(4).contains("NATION_9") && outputs(4).contains("NATION_17")
      && !outputs(4).contains("NATION_25"))
  }

  test("golden7.sql: a writer-maintained delta table through execute") {
    val url = getClass.getResource("/queries/golden7.sql")
    assert(url != null, "golden7.sql resource missing")
    val spark = SparkTestSession.spark
    val dir = graft.sources.Fixtures
      .deltaOrdersMaintained(spark, SparkTestSession.sfDir)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_MAINT}", dir))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 3) // 1 DDL + 2 queries (last without ';')
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(0) == "++\n++")
    // full corpus survived the maintenance life cycle
    val orders = Tables.t(spark, SparkTestSession.sfDir, "orders")
    assert(outputs(1).contains(s"| ${orders.count()}"))
    val statuses = orders.groupBy("o_orderstatus").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    statuses.foreach { case (st, n) =>
      assert(outputs(2).contains(st) && outputs(2).contains(s"| $n"))
    }
  }

  test("golden8.sql: SQL DML (DELETE / UPDATE / MERGE) through execute") {
    val url = getClass.getResource("/queries/golden8.sql")
    assert(url != null, "golden8.sql resource missing")
    val spark = SparkTestSession.spark
    // a FRESH writable table per run — the script mutates it
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden8_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    graft.sources.DeltaWriter.append(
      Tables.t(spark, SparkTestSession.sfDir, "nation"), dir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_DML}", dir.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 6) // DDL + 3 DML + 2 SELECTs
    val ctx = new AdtContext(SparkTestSession.spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL and all three DML statements render as empty boxes
    assert(outputs.take(4).forall(_ == "++\n++"))
    // 25 nations − 5 deleted + 1 merged-in = 21
    assert(outputs(4).contains("| 21"))
    assert(outputs(5).contains("RENAMED") && outputs(5).contains("ADDED"))
    // the commits are real versions on disk: v0 append + 3 DML
    assert(graft.sources.DeltaReader
      .snapshot(spark, dir.getAbsolutePath).version == 3L)
  }

  test("golden9.sql: SQL maintenance (OPTIMIZE ZORDER / VACUUM / OPTIMIZE) through execute") {
    val url = getClass.getResource("/queries/golden9.sql")
    assert(url != null, "golden9.sql resource missing")
    val spark = SparkTestSession.spark
    // a FRESH writable table per run — the script rewrites it
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden9_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val li = Tables.t(spark, SparkTestSession.sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    graft.sources.DeltaWriter.append(
      li.filter(col("l_orderkey") % 2 === 0), dir.getAbsolutePath)
    graft.sources.DeltaWriter.append(
      li.filter(col("l_orderkey") % 2 =!= 0), dir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_MAINT2}", dir.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 6) // DDL + ZORDER + SELECT + VACUUM + OPTIMIZE + SELECT
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL and the maintenance statements render as empty boxes
    assert(Seq(0, 1, 3, 4).map(outputs).forall(_ == "++\n++"))
    val n = li.count()
    val psum = li.agg(sum(col("l_partkey"))).head().getLong(0)
    assert(outputs(2).contains(s"| $n"))
    assert(outputs(5).contains(s"| $n") && outputs(5).contains(s"| $psum"))
    // the rewrites are real versions: v0/v1 appends, v2 zorder, v3 compact
    assert(graft.sources.DeltaReader
      .snapshot(spark, dir.getAbsolutePath).version == 3L)
    assert(graft.sources.DeltaReader
      .snapshot(spark, dir.getAbsolutePath).files.length == 1)
  }

  test("golden11.sql: property-routed OPTIMIZE with a steady-state no-op commit through execute") {
    val url = getClass.getResource("/queries/golden11.sql")
    assert(url != null, "golden11.sql resource missing")
    val spark = SparkTestSession.spark
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden11_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val li = Tables.t(spark, SparkTestSession.sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    graft.sources.DeltaWriter.append(li, dir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_ROUTED}", dir.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 6) // DDL + SET + ZORDER + SELECT + ZORDER + HISTORY
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(3).contains(s"| ${li.count()}"))
    // history shows exactly 3 commits — append, SET, full zorder; the
    // SECOND OPTIMIZE routed to the incremental verb and, with nothing
    // loose, published NOTHING (a full verb would have added a version)
    assert(Seq("WRITE", "SET TBLPROPERTIES", "OPTIMIZE").forall(op =>
      outputs(5).linesIterator.count(_.contains(op)) == 1))
    assert(graft.sources.DeltaReader
      .snapshot(spark, dir.getAbsolutePath).version == 2L)
  }

  test("golden12.sql: retention log cleanup (VACUUM LOGS) through execute") {
    val url = getClass.getResource("/queries/golden12.sql")
    assert(url != null, "golden12.sql resource missing")
    val spark = SparkTestSession.spark
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden12_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, SparkTestSession.sfDir, "nation")
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") < 12), path) // v0
    graft.sources.DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 12), path) // v1
    graft.sources.DeltaWriter.checkpoint(spark, path) // at v1
    graft.sources.DeltaWriter.delete(
      spark, path, col("n_nationkey") === 3) // v2
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_LOGS}", path))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 5) // DDL + SELECT + VACUUM LOGS + SELECT + HISTORY
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(1).contains(s"| ${nation.count() - 1}"))
    // the cleanup removed exactly the checkpoint-covered prefix …
    val survivors = new java.io.File(path, "_delta_log").listFiles()
      .map(_.getName).filter(_.matches("\\d{20}\\.json")).sorted
    assert(survivors.toSeq == Seq(f"${2L}%020d.json"))
    // … the table still reads whole through the refreshed view …
    assert(outputs(3).contains(s"| ${nation.count() - 1}"))
    // … and history reports only the surviving commit
    assert(outputs(4).linesIterator.count(_.contains("DELETE")) == 1 &&
      !outputs(4).contains("WRITE"))
  }

  test("golden13.sql: shallow clone + divergence + VERSION AS OF through execute") {
    val url = getClass.getResource("/queries/golden13.sql")
    assert(url != null, "golden13.sql resource missing")
    val spark = SparkTestSession.spark
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden13")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    graft.sources.DeltaWriter.append(
      Tables.t(spark, SparkTestSession.sfDir, "nation"), srcDir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${CLONE_SRC}", srcDir.getAbsolutePath)
        .replace("${CLONE_DST}", new java.io.File(base, "dst").getAbsolutePath)
        .replace("${CLONE_V0}", new java.io.File(base, "v0").getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 8)
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(2).contains("| 25"))  // full clone
    assert(outputs(4).contains("| 10"))  // clone diverged
    assert(outputs(5).contains("| 25"))  // source untouched
    assert(outputs(7).contains("| 25"))  // VERSION AS OF 0 = pre-divergence
  }

  test("golden14.sql: DESCRIBE DETAIL through execute") {
    val url = getClass.getResource("/queries/golden14.sql")
    assert(url != null, "golden14.sql resource missing")
    val spark = SparkTestSession.spark
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden14_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, SparkTestSession.sfDir, "nation")
    graft.sources.DeltaWriter.append(nation, path, Seq("n_regionkey"))
    graft.sources.DeltaWriter.setTableProperty(
      spark, path, "graft.owner", "golden14")
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_DETAIL}", path))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 3) // DDL + SELECT + DESCRIBE DETAIL
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(1).contains(s"| ${nation.count()}"))
    val snap = graft.sources.DeltaReader.snapshot(spark, path)
    val detail = outputs(2)
    assert(detail.contains("| delta"))
    assert(detail.contains("[n_regionkey]"))
    assert(detail.contains(s"| ${snap.files.length}"))
    assert(detail.contains(s"| ${snap.files.map(_.size).sum}"))
    assert(detail.contains("graft.owner: golden14"))
  }

  test("golden15.sql: CONVERT TO DELTA + COPY INTO + ADD COLUMNS + SHOW PARTITIONS through execute") {
    val url = getClass.getResource("/queries/golden15.sql")
    assert(url != null, "golden15.sql resource missing")
    val spark = SparkTestSession.spark
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden15")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val nation = Tables.t(spark, SparkTestSession.sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val convertDir = new java.io.File(base, "table")
    val landing = new java.io.File(base, "landing")
    nation.filter(col("n_nationkey") < 12)
      .write.partitionBy("n_regionkey").parquet(convertDir.getAbsolutePath)
    nation.filter(col("n_nationkey") >= 12).repartition(2)
      .write.parquet(landing.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${CONVERT_DIR}", convertDir.getAbsolutePath)
        .replace("${LANDING}", landing.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 8)
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(4).contains("| 25")) // convert half + copied half
    // partition window lists every live region
    assert((0 to 4).forall(r => outputs(6).contains(s"| $r")))
    // history: convert v0 + ONE copy v1 + add-columns v2 — the second
    // COPY INTO published nothing
    assert(Seq("CONVERT", "COPY INTO", "ADD COLUMNS").forall(op =>
      outputs(7).linesIterator.count(_.contains(op)) == 1))
  }

  test("golden10.sql: constraint + delete + history + restore through execute") {
    val url = getClass.getResource("/queries/golden10.sql")
    assert(url != null, "golden10.sql resource missing")
    val spark = SparkTestSession.spark
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden10_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    graft.sources.DeltaWriter.append(
      Tables.t(spark, SparkTestSession.sfDir, "nation"), dir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_AUDIT}", dir.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 8)
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL / constraint / delete / restore render as empty boxes
    assert(Seq(0, 1, 3, 5).map(outputs).forall(_ == "++\n++"))
    // the declared constraint is visible through SHOW TBLPROPERTIES
    assert(outputs(2).contains("delta.constraints.key_nonneg") &&
      outputs(2).contains("n_nationkey >= 0"))
    // delete shrank the table; restore brought every row back
    assert(outputs(4).contains("| 10"))
    assert(outputs(6).contains("| 25"))
    // the history trail shows all four commits with their verb names
    assert(outputs(7).contains("| 3") && outputs(7).contains("| 0"))
    assert(Seq("WRITE", "ADD CONSTRAINT", "DELETE", "RESTORE")
      .forall(outputs(7).contains))
  }

  test("golden5.sql: the sampled ANN trainer (q114-shaped SQL) through execute") {
    val url = getClass.getResource("/queries/golden5.sql")
    assert(url != null, "golden5.sql resource missing")
    val spark = SparkTestSession.spark
    // md5_60 resolves through GraftExtensions, which the session
    // factory installs
    val emb = s"${SparkTestSession.sfDir}/embeddings.parquet"
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${EMB}", emb))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 4) // 1 DDL + params + sample + trainer round
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(0) == "++\n++")
    // the printed parameters must equal the shared Scala derivations —
    // the CLI and the query library can never disagree on the formulas
    val n = spark.read.parquet(emb).count()
    val k = math.max(8L, n / 40L)
    val pct = graft.queries.Extensions.samplePct(n, k)
    assert(outputs(1).contains(s"| $n ") && outputs(1).contains(s"| $k ") &&
      outputs(1).contains(s"| $pct"), outputs(1))
    // the CLI-materialized training sample has the exact membership the
    // trainer's predicate selects
    val nSample = spark.read.parquet(emb)
      .where(org.apache.spark.sql.functions.expr(
        s"md5_60(CAST(vec_id AS STRING)) % 100 < $pct")).count()
    assert(nSample > 0 && nSample < n, "sample path not exercised")
    assert(outputs(2).contains(s"| $nSample"), outputs(2))
    // one trainer round assigns every sampled vector to one of <= k
    // stratified seeds
    assert(outputs(3).contains(s"| $nSample"), outputs(3))
  }

  test("golden4.sql: the postgres dialect surface through execute") {
    val url = getClass.getResource("/queries/golden4.sql")
    assert(url != null, "golden4.sql resource missing")
    val spark = SparkTestSession.spark
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${NATION}", s"${SparkTestSession.sfDir}/nation.parquet"))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 7) // 1 DDL + 6 queries (last without ';')
    val ctx = new AdtContext(spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    assert(outputs(0) == "++\n++")
    assert(outputs(1).contains("| 5")) // NATION_20..24
    assert(outputs(2).contains("| 0")) // every name ends in a digit
    assert(outputs(3).contains("| 1")) // ~* case-insensitive exact NATION_1
    // `~~*` = ILIKE; `\_` is a literal underscore under standard-
    // conforming literals, `_` a wildcard → NATION_ + one char = 10 rows
    assert(outputs(4).contains("| 10"))
    // SIMILAR TO with an escaped underscore: NATION_10..24 = 15 rows
    assert(outputs(5).contains("| 15"))
    // escaped % stays literal through rewrite + parse: '100%' matches
    assert(outputs(6).contains("true"))
  }

  test("golden16.sql: INSERT INTO (VALUES and SELECT sources) through execute") {
    val url = getClass.getResource("/queries/golden16.sql")
    assert(url != null, "golden16.sql resource missing")
    val spark = SparkTestSession.spark
    // a FRESH writable table per run — the script inserts into it
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_golden16_tbl")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    graft.sources.DeltaWriter.append(
      Tables.t(spark, SparkTestSession.sfDir, "nation"), dir.getAbsolutePath)
    val lines = Files.readAllLines(
      Paths.get(url.toURI), StandardCharsets.UTF_8).asScala.toSeq
      .map(_.replace("${DELTA_INS}", dir.getAbsolutePath))
    val stmts = Cli.splitStatements(lines)
    assert(stmts.length == 5) // DDL + 2 INSERTs + 2 SELECTs
    val ctx = new AdtContext(SparkTestSession.spark)
    val outputs = stmts.map(stmt => Output.format(ctx.sql(stmt)))
    // DDL and both INSERTs render as empty boxes
    assert(outputs.take(3).forall(_ == "++\n++"))
    // 25 nations + 2 VALUES rows + 2 copied rows = 29
    assert(outputs(3).contains("| 29"))
    // the copies carry a NULL-filled n_regionkey (partial column list —
    // the formatter renders NULL as an empty cell)
    assert(outputs(4).contains("INSERTED-A") && outputs(4).contains("COPY-"))
    assert(ctx.sql(
      "SELECT count(*) AS n FROM g16t WHERE n_regionkey IS NULL")
      .head().getLong(0) == 2L)
    // both INSERTs are real versioned commits: v0 append + 2
    assert(graft.sources.DeltaReader
      .snapshot(spark, dir.getAbsolutePath).version == 2L)
  }
}
