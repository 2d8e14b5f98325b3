package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{DeltaReader, DeltaWriter, Dml}

/** SQL DML layer: parsing edge cases (keywords inside literals, commas
  * inside CASE, aliased MERGE keys), dispatch to the writer verbs with
  * view refresh, and every refusal path. */
class DmlSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("parser: top-level scanning respects literals and parens") {
    Dml.parse("DELETE FROM t WHERE name = 'a WHERE b'") match {
      case Dml.Delete("t", Some(w)) => assert(w == "name = 'a WHERE b'")
      case other => fail(s"$other")
    }
    Dml.parse(
      "UPDATE t SET a = CASE WHEN b = 1 THEN 'x,y' ELSE c END, d = d + 1 WHERE e > 2") match {
      case Dml.Update("t", sets, Some(w)) =>
        assert(sets == Seq(
          "a" -> "CASE WHEN b = 1 THEN 'x,y' ELSE c END",
          "d" -> "d + 1"))
        assert(w == "e > 2")
      case other => fail(s"$other")
    }
    Dml.parse("DELETE FROM t") match {
      case Dml.Delete("t", None) => ()
      case other => fail(s"$other")
    }
    Dml.parse("""MERGE INTO tgt USING (SELECT 1 AS k, 'v' AS s) src
      ON tgt.k = src.k AND tgt.s = src.s
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""") match {
      case Dml.Merge("tgt", q, keys) =>
        assert(keys == Seq("k", "s"))
        assert(q.contains("SELECT 1 AS k"))
      case other => fail(s"$other")
    }
    // mismatched ON columns are refused
    intercept[IllegalArgumentException](Dml.parse(
      """MERGE INTO t USING (SELECT 1 AS k) s ON t.a = s.b
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    // non-DML stays non-DML
    assert(!Dml.matches("SELECT * FROM deleted_things"))
    assert(!Dml.matches("CREATE EXTERNAL TABLE x STORED AS PARQUET LOCATION '/x'"))
  }

  test("execute: DML mutates the registered delta table and refreshes the view") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_exec")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    DeltaWriter.append(Tables.t(spark, d, "nation"), dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_exec STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    ctx.sql("DELETE FROM dml_exec WHERE n_nationkey % 2 = 1")
    // the re-registered view sees the post-delete snapshot immediately
    assert(ctx.sql("SELECT count(*) AS n FROM dml_exec").head().getLong(0) == 13L)
    ctx.sql("UPDATE dml_exec SET n_name = lower(n_name) WHERE n_regionkey = 0")
    val renamed = ctx.sql(
      "SELECT n_name FROM dml_exec WHERE n_regionkey = 0").collect()
      .map(_.getString(0))
    assert(renamed.nonEmpty && renamed.forall(n => n == n.toLowerCase))
    // pg-dialect operators work in DML predicates (SqlCompat rewrite):
    // only the just-lowercased region-0 names match '^nation'
    assert(ctx.sql("SELECT count(*) AS n FROM dml_exec WHERE n_name ~ '^nation'")
      .head().getLong(0) == renamed.length.toLong)
    ctx.sql("DELETE FROM dml_exec WHERE n_name ~ '^nation'")
    assert(ctx.sql("SELECT count(*) AS n FROM dml_exec WHERE n_name ~ '^nation'")
      .head().getLong(0) == 0L)
    assert(ctx.sql("SELECT count(*) AS n FROM dml_exec").head().getLong(0) ==
      13L - renamed.length)
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath).version == 3L)
  }

  test("execute: OPTIMIZE / ZORDER BY / VACUUM maintain the table through SQL") {
    // parser shapes
    Dml.parse("OPTIMIZE t") match {
      case Dml.Optimize("t", Nil, None) => ()
      case other => fail(s"$other")
    }
    Dml.parse("OPTIMIZE t ZORDER BY (a, b)") match {
      case Dml.Optimize("t", Seq("a", "b"), None) => ()
      case other => fail(s"$other")
    }
    Dml.parse("VACUUM t RETAIN 168 HOURS") match {
      case Dml.Vacuum("t", Some(168L)) => ()
      case other => fail(s"$other")
    }
    Dml.parse("VACUUM t;") match {
      case Dml.Vacuum("t", None) => ()
      case other => fail(s"$other")
    }
    assert(!Dml.matches("OPTIMIZED_VIEW_OF x")) // keyword prefixes don't bind

    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_maint")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val li = Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0),
      dir.getAbsolutePath)
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 =!= 0),
      dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_maint STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    val n0 = ctx.sql("SELECT count(*) AS n FROM dml_maint").head().getLong(0)

    ctx.sql("OPTIMIZE dml_maint ZORDER BY (l_partkey, l_suppkey)")
    val afterZ = DeltaReader.snapshot(spark, dir.getAbsolutePath)
    assert(afterZ.files.length > 1 && afterZ.files.length <= 8)
    // the re-registered view still reads exactly the same rows
    assert(ctx.sql("SELECT count(*) AS n FROM dml_maint").head().getLong(0) == n0)

    // VACUUM through SQL releases the pre-optimize parity files: data
    // files on disk == the live set
    ctx.sql("VACUUM dml_maint RETAIN 0 HOURS")
    def dataFiles(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap {
        case x if x.isDirectory && x.getName != "_delta_log" => dataFiles(x)
        case x if x.getName.endsWith(".parquet") => Seq(x)
        case _ => Nil
      }
    assert(dataFiles(dir).size == afterZ.files.length)

    // bare OPTIMIZE compacts to one file; content still exact
    ctx.sql("OPTIMIZE dml_maint")
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath).files.length == 1)
    assert(ctx.sql("SELECT count(*) AS n FROM dml_maint").head().getLong(0) == n0)

    // 3-column ZORDER runs the every-third-bit Morton variant
    ctx.sql("OPTIMIZE dml_maint ZORDER BY (l_orderkey, l_partkey, l_suppkey)")
    assert(ctx.sql("SELECT count(*) AS n FROM dml_maint").head().getLong(0) == n0)
    // 4 columns are refused naming the contract
    val e = intercept[IllegalArgumentException](
      ctx.sql("OPTIMIZE dml_maint ZORDER BY (a, b, c, e)"))
    assert(e.getMessage.contains("3"))
  }

  test("execute: OPTIMIZE ZORDER routes to the incremental verb once the table is tagged") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_optroute")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val li = Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0), path)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_route STORED AS DELTA LOCATION '$path'")
    ctx.sql("ALTER TABLE dml_route SET TBLPROPERTIES " +
      "('graft.autoOptimize.zOrderCols'='l_partkey,l_suppkey')")

    // first OPTIMIZE: property set but no tagged files yet → FULL verb
    // (it seeds the optimized=zorder tags the incremental loop needs)
    ctx.sql("OPTIMIZE dml_route ZORDER BY (l_partkey, l_suppkey)")
    val afterFull = DeltaReader.snapshot(spark, path)
    assert(afterFull.files.forall(
      _.tags.get("optimized").contains("zorder")))
    val tight = afterFull.files.map(_.path).toSet

    // steady state: nothing loose → the routed incremental verb
    // publishes NO commit (a full verb would rewrite everything)
    ctx.sql("OPTIMIZE dml_route ZORDER BY (l_partkey, l_suppkey)")
    assert(DeltaReader.snapshot(spark, path).version == afterFull.version)

    // a fresh append makes exactly one loose tail; the routed pass
    // rewrites ONLY it — every tight file survives physically
    DeltaWriter.append(
      li.filter(col("l_orderkey") % 2 =!= 0).coalesce(1), path)
    ctx.sql("OPTIMIZE dml_route ZORDER BY (l_partkey, l_suppkey)")
    val after = DeltaReader.snapshot(spark, path)
    assert(tight.subsetOf(after.files.map(_.path).toSet))
    assert(ctx.sql("SELECT count(*) AS n FROM dml_route")
      .head().getLong(0) == li.count())

    // different columns than the property → the full verb runs
    ctx.sql("OPTIMIZE dml_route ZORDER BY (l_orderkey, l_partkey)")
    assert(DeltaReader.snapshot(spark, path).files.map(_.path).toSet
      .intersect(tight).isEmpty)
  }

  test("parser: quoted and qualified identifiers normalize; refusals stay actionable") {
    Dml.parse("""DELETE FROM "My Table" WHERE x = 1""") match {
      case Dml.Delete("My Table", Some(w)) => assert(w == "x = 1")
      case other => fail(s"$other")
    }
    Dml.parse("""UPDATE sch."t 2" SET a = 1""") match {
      case Dml.Update("sch.t 2", sets, None) => assert(sets == Seq("a" -> "1"))
      case other => fail(s"$other")
    }
    Dml.parse("""VACUUM "t" LOGS RETAIN 1 HOURS""") match {
      case Dml.CleanupLogs("t", Some(1L)) => ()
      case other => fail(s"$other")
    }
    Dml.parse("VACUUM t LOGS") match {
      case Dml.CleanupLogs("t", None) => ()
      case other => fail(s"$other")
    }
    Dml.parse("VACUUM t RETAIN 2 HOURS") match {
      case Dml.Vacuum("t", Some(2L)) => ()
      case other => fail(s"$other")
    }
    // a quoted unregistered target gets the registry's actionable
    // refusal, not a fall-through to Spark's parser
    val e = intercept[IllegalArgumentException](Dml.execute(spark,
      Dml.parse("""DELETE FROM "nope.q" WHERE 1 = 1"""),
      s => fail(s"unexpected subquery: $s")))
    assert(e.getMessage.contains("not a registered external table"))
  }

  test("execute: VACUUM LOGS cleans the commit prefix through SQL") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_logs")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 12), path) // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 12), path) // v1
    DeltaWriter.checkpoint(spark, path) // at v1
    DeltaWriter.delete(spark, path, col("n_nationkey") === 3) // v2
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_logs STORED AS DELTA LOCATION '$path'")
    ctx.sql("VACUUM dml_logs LOGS RETAIN 0 HOURS")
    val names = new java.io.File(path, "_delta_log").listFiles()
      .map(_.getName).filter(_.matches("\\d{20}\\.json")).sorted
    assert(names.toSeq == Seq(f"${2L}%020d.json"))
    assert(ctx.sql("SELECT count(*) AS n FROM dml_logs").head().getLong(0)
      == nation.count() - 1)
  }

  test("execute: incremental ZORDER routing is set-matched, 3-D-capable, and falls back on loose DVs") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_zroute3")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val li = Tables.t(spark, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0), path)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_z3 STORED AS DELTA LOCATION '$path'")
    ctx.sql("ALTER TABLE dml_z3 SET TBLPROPERTIES " +
      "('graft.autoOptimize.zOrderCols'='l_orderkey,l_partkey,l_suppkey')")

    // first pass (transposed spelling): no tags yet → FULL 3-D verb seeds
    ctx.sql("OPTIMIZE dml_z3 ZORDER BY (l_suppkey, l_orderkey, l_partkey)")
    val seeded = DeltaReader.snapshot(spark, path)
    assert(seeded.files.forall(_.tags.get("optimized").contains("zorder")))

    // steady state in ANOTHER column order: the set-matched route runs
    // the 3-D incremental verb, which publishes NO commit (the full
    // verb always commits a rewrite)
    ctx.sql("OPTIMIZE dml_z3 ZORDER BY (l_partkey, l_suppkey, l_orderkey)")
    assert(DeltaReader.snapshot(spark, path).version == seeded.version)

    // a fresh loose tail: the routed 3-D incremental pass rewrites ONLY
    // it — tight files survive physically
    DeltaWriter.append(
      li.filter(col("l_orderkey") % 2 =!= 0).coalesce(1), path)
    ctx.sql("OPTIMIZE dml_z3 ZORDER BY (l_orderkey, l_partkey, l_suppkey)")
    val after = DeltaReader.snapshot(spark, path)
    assert(seeded.files.map(_.path).toSet
      .subsetOf(after.files.map(_.path).toSet))
    assert(ctx.sql("SELECT count(*) AS n FROM dml_z3").head().getLong(0)
      == li.count())

    // a deletion vector on a LOOSE file: routing falls back to the FULL
    // rewrite, which absorbs every vector, the tight files' included
    DeltaWriter.append(
      li.filter(col("l_orderkey") % 2 === 0).limit(500).coalesce(1), path)
    val loosePre = DeltaReader.snapshot(spark, path).files
      .filterNot(_.tags.get("optimized").contains("zorder"))
    assert(loosePre.nonEmpty)
    DeltaWriter.deleteWithVectors(spark, path,
      col("l_orderkey") % 2 === 0 && col("l_partkey") % 3 === 0)
    assert(DeltaReader.snapshot(spark, path).files
      .exists(a => a.deletionVector.nonEmpty &&
        !a.tags.get("optimized").contains("zorder")))
    val expect = DeltaReader.load(spark, path).count()
    ctx.sql("OPTIMIZE dml_z3 ZORDER BY (l_orderkey, l_partkey, l_suppkey)")
    val absorbed = DeltaReader.snapshot(spark, path)
    assert(absorbed.files.forall(_.deletionVector.isEmpty))
    assert(absorbed.files.forall(_.tags.get("optimized").contains("zorder")))
    assert(ctx.sql("SELECT count(*) AS n FROM dml_z3").head().getLong(0)
      == expect)
  }

  test("execute: CHECK constraints ride the ALTER TABLE statements and gate SQL writes") {
    Dml.parse("ALTER TABLE t ADD CONSTRAINT c CHECK (x > 0)") match {
      case Dml.AddConstraint("t", "c", "x > 0") => ()
      case other => fail(s"$other")
    }
    Dml.parse("ALTER TABLE t DROP CONSTRAINT c;") match {
      case Dml.DropConstraint("t", "c") => ()
      case other => fail(s"$other")
    }
    Dml.parse("RESTORE TABLE t TO VERSION AS OF 3") match {
      case Dml.Restore("t", Some(3L), None) => ()
      case other => fail(s"$other")
    }
    Dml.parse("RESTORE TABLE t TO TIMESTAMP AS OF '2026-08-14 12:00:00'") match {
      case Dml.Restore("t", None, Some("2026-08-14 12:00:00")) => ()
      case other => fail(s"$other")
    }
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_check")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    DeltaWriter.append(Tables.t(spark, d, "nation"), dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_check STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    ctx.sql("ALTER TABLE dml_check ADD CONSTRAINT key_range CHECK (n_nationkey < 100)")
    // a SQL UPDATE that would move a row out of range is refused
    val e = intercept[IllegalArgumentException](
      ctx.sql("UPDATE dml_check SET n_nationkey = 500 WHERE n_nationkey = 0"))
    assert(e.getMessage.contains("key_range"))
    // in-range update lands; drop releases the gate
    ctx.sql("UPDATE dml_check SET n_nationkey = 50 WHERE n_nationkey = 0")
    ctx.sql("ALTER TABLE dml_check DROP CONSTRAINT key_range")
    ctx.sql("UPDATE dml_check SET n_nationkey = 500 WHERE n_nationkey = 50")
    assert(ctx.sql(
      "SELECT count(*) AS n FROM dml_check WHERE n_nationkey = 500")
      .head().getLong(0) == 1L)
  }

  test("NOT NULL column invariant gates SQL UPDATE with the column named") {
    import spark.implicits._
    val dir = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_dml_notnull")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    // tuple toDF declares k non-nullable — the schema-embedded invariant
    DeltaWriter.append(Seq((1, "a"), (2, "b")).toDF("k", "v"),
      dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql("CREATE EXTERNAL TABLE dml_notnull STORED AS DELTA " +
      s"LOCATION '${dir.getAbsolutePath}'")
    val e = intercept[IllegalArgumentException](
      ctx.sql("UPDATE dml_notnull SET k = NULL WHERE v = 'a'"))
    assert(e.getMessage.contains("NOT NULL") && e.getMessage.contains("k"))
    // the nullable column accepts NULL; the strict one accepts a value
    ctx.sql("UPDATE dml_notnull SET v = NULL WHERE k = 1")
    ctx.sql("UPDATE dml_notnull SET k = 7 WHERE k = 2")
    assert(ctx.sql("SELECT count(*) AS n FROM dml_notnull WHERE k = 7")
      .head().getLong(0) == 1L)
  }

  test("TBLPROPERTIES switch deletion-vector mode: SQL DELETE/UPDATE go merge-on-read") {
    Dml.parse("ALTER TABLE t SET TBLPROPERTIES ('a.b'='true', 'c'='2')") match {
      case Dml.SetProps("t", Seq(("a.b", "true"), ("c", "2"))) => ()
      case other => fail(s"$other")
    }
    Dml.parse("ALTER TABLE t UNSET TBLPROPERTIES ('a.b')") match {
      case Dml.UnsetProps("t", Seq("a.b")) => ()
      case other => fail(s"$other")
    }
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_mor")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    DeltaWriter.append(Tables.t(spark, d, "nation"), dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dml_mor STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    ctx.sql("ALTER TABLE dml_mor SET TBLPROPERTIES ('delta.enableDeletionVectors'='true')")
    // merge-on-read DELETE: the data file stays live, rows die by vector
    ctx.sql("DELETE FROM dml_mor WHERE n_nationkey % 5 = 0")
    val snap1 = DeltaReader.snapshot(spark, dir.getAbsolutePath)
    assert(snap1.files.exists(_.deletionVector.isDefined))
    assert(ctx.sql("SELECT count(*) AS n FROM dml_mor").head().getLong(0) == 20L)
    // merge-on-read UPDATE: post-SET versions land in fresh files
    ctx.sql("UPDATE dml_mor SET n_name = 'MOR' WHERE n_nationkey = 1")
    assert(ctx.sql(
      "SELECT n_name FROM dml_mor WHERE n_nationkey = 1").head().getString(0)
      == "MOR")
    // UNSET flips back to copy-on-write: the DV'd files get rewritten
    ctx.sql("ALTER TABLE dml_mor UNSET TBLPROPERTIES ('delta.enableDeletionVectors')")
    ctx.sql("DELETE FROM dml_mor WHERE n_nationkey = 2")
    assert(ctx.sql("SELECT count(*) AS n FROM dml_mor").head().getLong(0) == 19L)
    // property visible (then gone) through SHOW TBLPROPERTIES
    assert(!ctx.sql("SHOW TBLPROPERTIES dml_mor").collect()
      .exists(_.getString(0) == "delta.enableDeletionVectors"))
  }

  test("SHOW TBLPROPERTIES / DESCRIBE HISTORY read metaData and commitInfo through SQL") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_hist")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10),
      dir.getAbsolutePath)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10),
      dir.getAbsolutePath)
    DeltaWriter.addCheckConstraint(spark, dir.getAbsolutePath,
      "nonneg_key", "n_nationkey >= 0")
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE hist_t STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")

    val props = ctx.sql("SHOW TBLPROPERTIES hist_t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("delta.constraints.nonneg_key") == "n_nationkey >= 0")

    val h = ctx.sql("DESCRIBE HISTORY hist_t").collect()
    assert(h.length == 3) // two appends + the constraint metaData commit
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L)) // newest first
    // operations carry the verb names: two appends + the constraint
    assert(h.sortBy(_.getLong(0)).map(_.getString(2)).toSeq ==
      Seq("WRITE", "WRITE", "ADD CONSTRAINT"))
    // stamps monotone non-decreasing in version order
    val byVersion = h.sortBy(_.getLong(0)).map(_.getLong(1))
    assert(byVersion.zip(byVersion.tail).forall { case (a, b) => a <= b })
    // operation metrics from each commit's own action profile: the two
    // appends report their files + written numRecords; the metaData
    // commit (no adds) reports 0/0 with a NULL row count
    val byV = h.map(r => r.getLong(0) ->
      (r.getLong(3), r.getLong(4), if (r.isNullAt(5)) -1L else r.getLong(5))).toMap
    assert(byV(0L)._1 > 0L && byV(0L)._2 == 0L && byV(0L)._3 == 10L)
    assert(byV(1L)._1 > 0L && byV(1L)._2 == 0L && byV(1L)._3 == 15L)
    assert(byV(2L) == ((0L, 0L, -1L)))

    // refusals name the contract
    intercept[IllegalArgumentException](
      ctx.sql("DESCRIBE HISTORY never_registered"))
    val pq = sources.Fixtures.nationCsv(spark, d)
    ctx.sql(s"""CREATE EXTERNAL TABLE hist_csv
      (n_nationkey INT, n_name STRING, n_regionkey INT)
      STORED AS CSV OPTIONS(header='true') LOCATION '$pq'""")
    val e = intercept[IllegalArgumentException](
      ctx.sql("SHOW TBLPROPERTIES hist_csv"))
    assert(e.getMessage.contains("DELTA"))
  }

  test("DESCRIBE DETAIL reports the snapshot's metadata in one typed row") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_detail")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10),
      path, Seq("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10),
      path, Seq("n_regionkey"))
    DeltaWriter.setTableProperty(spark, path, "graft.owner", "dml-spec")
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE detail_t STORED AS DELTA LOCATION '$path'")

    val df = ctx.sql("DESCRIBE DETAIL detail_t")
    assert(df.columns.toSeq == Seq("format", "location", "createdAt",
      "lastModified", "partitionColumns", "numFiles", "sizeInBytes",
      "properties", "minReaderVersion", "minWriterVersion"))
    val r = df.head()
    val snap = DeltaReader.snapshot(spark, path)
    assert(r.getString(0) == "delta")
    assert(r.getString(1) == path)
    // createdAt = commit 0's stamp, lastModified = the property commit's
    val hist = DeltaReader.commitHistory(path)
    assert(r.getTimestamp(2).getTime == hist.minBy(_._1)._2)
    assert(r.getTimestamp(3).getTime == hist.maxBy(_._1)._2)
    assert(r.getSeq[String](4) == Seq("n_regionkey"))
    assert(r.getLong(5) == snap.files.length.toLong)
    assert(r.getLong(6) == snap.files.map(_.size).sum)
    assert(r.getMap[String, String](7).get("graft.owner").contains("dml-spec"))
    // a plain unmapped table carries the classic protocol floors
    assert(r.getInt(8) == 1 && r.getInt(9) == 2)

    // refusals name the contract
    intercept[IllegalArgumentException](
      ctx.sql("DESCRIBE DETAIL never_registered"))

    // checkpoint + VACUUM LOGS can delete EVERY json commit — the table
    // is still fully readable from its checkpoint, and DESCRIBE DETAIL
    // must answer (checkpoint mtime stands in for both stamps), not
    // throw on an empty commit history
    DeltaWriter.checkpoint(spark, path)
    DeltaWriter.cleanupLogs(spark, path, retainMs = Some(0L))
    assert(DeltaReader.commitHistory(path).isEmpty)
    val r2 = ctx.sql("DESCRIBE DETAIL detail_t").head()
    assert(r2.getString(0) == "delta")
    assert(r2.getTimestamp(2) != null && r2.getTimestamp(3) != null)
    assert(r2.getLong(5) == snap.files.length.toLong)
  }

  test("execute: refusal paths name the contract") {
    val ctx = new AdtContext(spark)
    val e1 = intercept[IllegalArgumentException](
      ctx.sql("DELETE FROM never_registered WHERE x = 1"))
    assert(e1.getMessage.contains("CREATE EXTERNAL TABLE"))

    val pq = sources.Fixtures.nationCsv(spark, d)
    ctx.sql(s"""CREATE EXTERNAL TABLE dml_csv
      (n_nationkey INT, n_name STRING, n_regionkey INT)
      STORED AS CSV OPTIONS(header='true') LOCATION '$pq'""")
    val e2 = intercept[IllegalArgumentException](
      ctx.sql("DELETE FROM dml_csv WHERE n_nationkey = 1"))
    assert(e2.getMessage.contains("DELTA"))

    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_tt")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    DeltaWriter.append(Tables.t(spark, d, "nation"), dir.getAbsolutePath)
    DeltaWriter.append(Tables.t(spark, d, "nation")
      .withColumn("n_nationkey", col("n_nationkey") + 100), dir.getAbsolutePath)
    ctx.sql(s"""CREATE EXTERNAL TABLE dml_tt STORED AS DELTA
      OPTIONS(versionAsOf='0') LOCATION '${dir.getAbsolutePath}'""")
    val e3 = intercept[IllegalArgumentException](
      ctx.sql("DELETE FROM dml_tt WHERE n_nationkey = 1"))
    assert(e3.getMessage.contains("read-only"))
  }

  test("execute: CREATE TABLE ... SHALLOW CLONE clones zero-copy and registers the target") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_clone")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val dstDir = new java.io.File(base, "dst")
    DeltaWriter.append(Tables.t(spark, d, "nation"), srcDir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE clone_src STORED AS DELTA LOCATION '${srcDir.getAbsolutePath}'")
    ctx.sql(s"CREATE TABLE clone_dst SHALLOW CLONE clone_src LOCATION '${dstDir.getAbsolutePath}'")
    // the clone registered: the NEXT statement reads it, content equal
    assert(ctx.sql("SELECT count(*) AS n FROM clone_dst").head().getLong(0) == 25L)
    // zero copy on disk, and writes through SQL diverge independently
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (f.getName == "_delta_log") Nil
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    assert(parquets(dstDir).isEmpty)
    ctx.sql("DELETE FROM clone_dst WHERE n_nationkey >= 10")
    assert(ctx.sql("SELECT count(*) AS n FROM clone_dst").head().getLong(0) == 10L)
    assert(ctx.sql("SELECT count(*) AS n FROM clone_src").head().getLong(0) == 25L)
    // a non-delta / unregistered source refuses with the contract
    val e = intercept[IllegalArgumentException] {
      ctx.sql(s"CREATE TABLE c2 SHALLOW CLONE nowhere LOCATION '${base.getAbsolutePath}/c2'")
    }
    assert(e.getMessage.contains("not a registered external table"))
    // VERSION AS OF rides the same statement: clone the pre-delete v0
    val v0Dir = new java.io.File(base, "v0")
    ctx.sql(s"CREATE TABLE clone_v0 SHALLOW CLONE clone_src VERSION AS OF 0 LOCATION '${v0Dir.getAbsolutePath}'")
    assert(ctx.sql("SELECT count(*) AS n FROM clone_v0").head().getLong(0) == 25L)
  }

  test("execute: OPTIMIZE ... WHERE scopes the rewrite through SQL") {
    Dml.parse("OPTIMIZE t WHERE p = 1") match {
      case Dml.Optimize("t", Nil, Some("p = 1")) => ()
      case other => fail(s"$other")
    }
    Dml.parse("OPTIMIZE t WHERE p = 1 ZORDER BY (a)") match {
      case Dml.Optimize("t", Seq("a"), Some("p = 1")) => ()
      case other => fail(s"$other")
    }
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_optwhere")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 === 0),
      path, Seq("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 =!= 0),
      path, Seq("n_regionkey"))
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE opt_scoped STORED AS DELTA LOCATION '$path'")
    ctx.sql("OPTIMIZE opt_scoped WHERE n_regionkey = 1")
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.files.count(
      _.partitionValues("n_regionkey").contains("1")) == 1)
    assert(snap.files.count(
      _.partitionValues("n_regionkey").contains("2")) == 2)
    assert(ctx.sql("SELECT count(*) AS n FROM opt_scoped").head().getLong(0) == 25L)
    // clustered 1-col sort takes a scope too; the Morton verbs refuse it
    ctx.sql("OPTIMIZE opt_scoped WHERE n_regionkey = 2 ZORDER BY (n_nationkey)")
    assert(ctx.sql("SELECT count(*) AS n FROM opt_scoped").head().getLong(0) == 25L)
    val e = intercept[IllegalArgumentException](ctx.sql(
      "OPTIMIZE opt_scoped WHERE n_regionkey = 1 ZORDER BY (n_nationkey, n_regionkey)"))
    assert(e.getMessage.contains("INCREMENTAL"))
  }

  test("execute: CONVERT TO DELTA migrates a registered parquet table and flips its registration") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_convert")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val dir = new java.io.File(base, "t")
    Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.partitionBy("n_regionkey").parquet(dir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE conv_t STORED AS PARQUET LOCATION '${dir.getAbsolutePath}'")
    assert(ctx.sql("SELECT count(*) AS n FROM conv_t").head().getLong(0) == 25L)
    // DML against the parquet registration refuses with the contract
    val pre = intercept[IllegalArgumentException] {
      ctx.sql("DELETE FROM conv_t WHERE n_nationkey = 0")
    }
    assert(pre.getMessage.contains("DELTA"))
    // convert in place; the SAME name now takes the delta verb surface
    ctx.sql("CONVERT TO DELTA conv_t")
    ctx.sql("DELETE FROM conv_t WHERE n_nationkey >= 20")
    assert(ctx.sql("SELECT count(*) AS n FROM conv_t").head().getLong(0) == 20L)
    assert(ctx.sql("DESCRIBE DETAIL conv_t").head().getString(0) == "delta")
    // refusals: unregistered, non-parquet source
    intercept[IllegalArgumentException] {
      ctx.sql("CONVERT TO DELTA never_registered")
    }
    val again = intercept[IllegalArgumentException] {
      ctx.sql("CONVERT TO DELTA conv_t") // now DELTA — refuse, not re-log
    }
    assert(again.getMessage.contains("already"))
  }

  test("execute: ALTER TABLE ADD COLUMNS evolves additively through SQL") {
    Dml.parse("ALTER TABLE t ADD COLUMNS (score BIGINT, tag STRING)") match {
      case Dml.AddColumns("t", ddl) =>
        assert(ddl == "score BIGINT, tag STRING")
      case other => fail(s"$other")
    }
    // parameterized types carry inner parens — the greedy capture must
    // reach the OUTER ')', not stop at DECIMAL's
    Dml.parse("ALTER TABLE t ADD COLUMNS (price DECIMAL(10,2))") match {
      case Dml.AddColumns("t", ddl) => assert(ddl == "price DECIMAL(10,2)")
      case other => fail(s"$other")
    }
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_addcols")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation, path)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE addcols_t STORED AS DELTA LOCATION '$path'")
    ctx.sql("ALTER TABLE addcols_t ADD COLUMNS (score BIGINT)")
    // old files null-fill the new column through the refreshed view
    val rows = ctx.sql("SELECT n_nationkey, score FROM addcols_t").collect()
    assert(rows.length == 25 && rows.forall(_.isNullAt(1)))
    // the evolved column is writable: UPDATE sets it, the scan reads it
    ctx.sql("UPDATE addcols_t SET score = CAST(n_nationkey * 10 AS BIGINT) WHERE n_regionkey = 0")
    val scored = ctx.sql(
      "SELECT n_nationkey, score FROM addcols_t WHERE n_regionkey = 0").collect()
    assert(scored.nonEmpty && scored.forall(r =>
      r.getLong(1) == r.getAs[Number](0).longValue * 10))
    // refusals: collision, garbage DDL
    val e1 = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE addcols_t ADD COLUMNS (n_name STRING)"))
    assert(e1.getMessage.contains("already exist"))
    val e2 = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE addcols_t ADD COLUMNS (broken)"))
    assert(e2.getMessage.contains("unparseable"))
  }

  test("VACUUM DRY RUN previews without deleting; SHOW PARTITIONS lists typed live tuples") {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_dryrun")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    val path = dir.getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation, path, Seq("n_regionkey"))
    DeltaWriter.delete(spark, path, col("n_regionkey") === 4) // tombstones
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dry_t STORED AS DELTA LOCATION '$path'")

    // the preview lists exactly the files a real vacuum would sweep —
    // and sweeps nothing (counts and files unchanged after)
    def diskParquets(): Int = {
      def walk(f: java.io.File): Int =
        if (f.getName == "_delta_log") 0
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(dir)
    }
    val before = diskParquets()
    val preview = ctx.sql("VACUUM dry_t DRY RUN").collect()
      .map(_.getString(0)).toSet
    assert(preview.nonEmpty && preview.forall(_.contains("n_regionkey=4")))
    assert(diskParquets() == before) // nothing deleted
    // a retention window past the tombstones previews empty
    assert(ctx.sql("VACUUM dry_t RETAIN 168 HOURS DRY RUN").count() == 0L)
    // the real sweep deletes exactly the previewed set
    ctx.sql("VACUUM dry_t RETAIN 0 HOURS")
    assert(diskParquets() == before - preview.size)

    // SHOW PARTITIONS: live typed tuples, region 4 gone post-delete
    val parts = ctx.sql("SHOW PARTITIONS dry_t")
    assert(parts.columns.toSeq == Seq("n_regionkey"))
    assert(parts.collect().map(_.get(0).toString.toLong).toSeq ==
      Seq(0L, 1L, 2L, 3L))
    // unpartitioned tables refuse naming the fact
    val flat = new java.io.File(dir.getParentFile, "graft_dml_dryrun_flat")
    del(flat)
    DeltaWriter.append(nation, flat.getAbsolutePath)
    ctx.sql(s"CREATE EXTERNAL TABLE dry_flat STORED AS DELTA LOCATION '${flat.getAbsolutePath}'")
    val e = intercept[IllegalArgumentException](
      ctx.sql("SHOW PARTITIONS dry_flat"))
    assert(e.getMessage.contains("not a partitioned"))
  }

  test("execute: COPY INTO loads landing files exactly once through SQL") {
    Dml.parse("COPY INTO t FROM '/landing/x' FILEFORMAT = PARQUET") match {
      case Dml.CopyInto("t", "/landing/x", "parquet", false) => ()
      case other => fail(s"$other")
    }
    Dml.parse("COPY INTO t FROM '/l' FILEFORMAT = CSV FORCE = TRUE") match {
      case Dml.CopyInto("t", "/l", "csv", true) => ()
      case other => fail(s"$other")
    }
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_copy")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val landing = new java.io.File(base, "landing")
    val tbl = new java.io.File(base, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.limit(0), tbl)
    nation.repartition(2).write.parquet(landing.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE copy_t STORED AS DELTA LOCATION '$tbl'")
    ctx.sql(s"COPY INTO copy_t FROM '${landing.getAbsolutePath}' FILEFORMAT = PARQUET")
    assert(ctx.sql("SELECT count(*) AS n FROM copy_t").head().getLong(0) == 25L)
    // idempotent through SQL too: count unchanged, no new version
    val v = DeltaReader.snapshot(spark, tbl).version
    ctx.sql(s"COPY INTO copy_t FROM '${landing.getAbsolutePath}' FILEFORMAT = PARQUET")
    assert(ctx.sql("SELECT count(*) AS n FROM copy_t").head().getLong(0) == 25L)
    assert(DeltaReader.snapshot(spark, tbl).version == v)
  }

  test("execute: CREATE TABLE ... [DEEP] CLONE copies bytes and registers the target") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_dclone")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val srcDir = new java.io.File(base, "src")
    val dstDir = new java.io.File(base, "dst")
    DeltaWriter.append(Tables.t(spark, d, "nation"), srcDir.getAbsolutePath)
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dclone_src STORED AS DELTA LOCATION '${srcDir.getAbsolutePath}'")
    // DEEP keyword and bare CLONE are the same (deep) verb
    ctx.sql(s"CREATE TABLE dclone_dst DEEP CLONE dclone_src LOCATION '${dstDir.getAbsolutePath}'")
    assert(ctx.sql("SELECT count(*) AS n FROM dclone_dst").head().getLong(0) == 25L)
    def parquets(f: java.io.File): Seq[java.io.File] =
      if (f.getName == "_delta_log") Nil
      else if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap(parquets)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    // the deep clone OWNS copies on disk
    assert(parquets(dstDir).nonEmpty)
    // bare CLONE spelling + VERSION AS OF (before the vacuum below —
    // a deep clone can only copy bytes that still exist)
    val v0Dir = new java.io.File(base, "v0")
    ctx.sql(s"CREATE TABLE dclone_v0 CLONE dclone_src VERSION AS OF 0 LOCATION '${v0Dir.getAbsolutePath}'")
    assert(ctx.sql("SELECT count(*) AS n FROM dclone_v0").head().getLong(0) == 25L)
    // a source rewrite + vacuum cannot break either deep clone
    ctx.sql("DELETE FROM dclone_src WHERE n_nationkey >= 1")
    ctx.sql("VACUUM dclone_src RETAIN 0 HOURS")
    assert(ctx.sql("SELECT count(*) AS n FROM dclone_dst").head().getLong(0) == 25L)
    assert(ctx.sql("SELECT count(*) AS n FROM dclone_v0").head().getLong(0) == 25L)
  }

  test("parser: INSERT INTO and DROP COLUMN spellings") {
    Dml.parse("INSERT INTO t VALUES (1, 'a'), (2, 'b;c')") match {
      case Dml.Insert("t", Nil, src) =>
        assert(src.startsWith("VALUES") && src.contains("'b;c'"))
      case other => fail(s"$other")
    }
    Dml.parse("INSERT INTO t (a, \"B c\") SELECT x, y FROM u WHERE z = 1;") match {
      case Dml.Insert("t", cols, src) =>
        assert(cols == Seq("a", "B c"))
        assert(src == "SELECT x, y FROM u WHERE z = 1")
      case other => fail(s"$other")
    }
    Dml.parse("INSERT INTO s.t WITH w AS (SELECT 1 AS x) SELECT * FROM w") match {
      case Dml.Insert("s.t", Nil, src) => assert(src.startsWith("WITH"))
      case other => fail(s"$other")
    }
    // a quoted identifier may itself contain a comma — tokens bind whole
    Dml.parse("""INSERT INTO t ("a,b", c) VALUES (1, 2)""") match {
      case Dml.Insert("t", cols, _) => assert(cols == Seq("a,b", "c"))
      case other => fail(s"$other")
    }
    Dml.parse("ALTER TABLE t DROP COLUMN c1") match {
      case Dml.DropColumn("t", "c1") => ()
      case other => fail(s"$other")
    }
    // DROP CONSTRAINT keeps its own statement
    Dml.parse("ALTER TABLE t DROP CONSTRAINT chk") match {
      case Dml.DropConstraint("t", "chk") => ()
      case other => fail(s"$other")
    }
  }

  test("execute: INSERT INTO lands appends; invariants and generated columns gate it") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_insert")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val dir = new java.io.File(base, "t")
    // table with a GENERATED column (k2 = k * 2) and a NOT NULL column
    // (tuple toDF declares Int non-nullable)
    import spark.implicits._
    DeltaWriter.append(
      Seq((1, "one"), (2, "two")).toDF("k", "v"), dir.getAbsolutePath,
      generated = Map("k2" -> "k * 2"))
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE ins_t STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    // full-row positional VALUES (generated column provided must be
    // consistent)
    ctx.sql("INSERT INTO ins_t VALUES (3, 'three', 6)")
    // partial column list: the generated column is COMPUTED, not
    // null-filled
    ctx.sql("INSERT INTO ins_t (k, v) VALUES (4, 'four'), (5, 'five')")
    // SELECT source through the full context (reads the table itself)
    ctx.sql("INSERT INTO ins_t (k, v) SELECT k + 100, upper(v) FROM ins_t WHERE k <= 2")
    val got = ctx.sql("SELECT k, v, k2 FROM ins_t ORDER BY k").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq
    assert(got == Seq((1, "one", 2), (2, "two", 4), (3, "three", 6),
      (4, "four", 8), (5, "five", 10),
      (101, "ONE", 202), (102, "TWO", 204)))
    // each INSERT is a real commit
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath).version == 3L)
    // refusals: inconsistent generated value, arity mismatch, unknown
    // column, NOT NULL violation via null-fill — none lands a commit
    intercept[Exception](
      ctx.sql("INSERT INTO ins_t VALUES (9, 'nine', 99)"))
    intercept[Exception](ctx.sql("INSERT INTO ins_t (k, v) VALUES (9)"))
    intercept[Exception](
      ctx.sql("INSERT INTO ins_t (k, nope) VALUES (9, 'x')"))
    intercept[Exception](ctx.sql("INSERT INTO ins_t (v) VALUES ('x')"))
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath).version == 3L)
    // non-delta targets refuse like every DML statement
    intercept[IllegalArgumentException](
      ctx.sql("INSERT INTO unregistered_t VALUES (1)"))
  }

  test("execute: TRUNCATE / RENAME COLUMN / INSERT OVERWRITE complete the statement surface") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_misc")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val ctx = new AdtContext(spark)

    // INSERT OVERWRITE: one atomic swap; history keeps the old state
    val owDir = new java.io.File(base, "ow")
    DeltaWriter.append(nation, owDir.getAbsolutePath)
    ctx.sql(s"CREATE EXTERNAL TABLE misc_ow STORED AS DELTA LOCATION '${owDir.getAbsolutePath}'")
    ctx.sql("INSERT OVERWRITE misc_ow VALUES (1, 'only', 0)")
    assert(ctx.sql("SELECT count(*) AS n FROM misc_ow").head().getLong(0) == 1L)
    assert(DeltaReader.snapshot(spark, owDir.getAbsolutePath).version == 1L)
    // pre-overwrite state stays time-travelable
    assert(DeltaReader.loadAt(spark, owDir.getAbsolutePath, 0L).count() == 25L)
    // partial column list null-fills, TABLE keyword spelling accepted
    ctx.sql("INSERT OVERWRITE TABLE misc_ow (n_nationkey) SELECT 7")
    val owRow = ctx.sql("SELECT n_nationkey, n_name FROM misc_ow").collect()
    assert(owRow.length == 1 && owRow.head.getInt(0) == 7 &&
      owRow.head.isNullAt(1))

    // INSERT OVERWRITE keeps a PARTITIONED table's layout: the swap
    // re-buckets the new rows into hive dirs and pruning still works
    val owpDir = new java.io.File(base, "owp")
    DeltaWriter.append(nation, owpDir.getAbsolutePath,
      partitionBy = Seq("n_regionkey"))
    ctx.sql(s"CREATE EXTERNAL TABLE misc_owp STORED AS DELTA LOCATION '${owpDir.getAbsolutePath}'")
    ctx.sql("INSERT OVERWRITE misc_owp SELECT n_nationkey, upper(n_name), n_regionkey FROM misc_owp WHERE n_regionkey <= 1")
    val owpSnap = DeltaReader.snapshot(spark, owpDir.getAbsolutePath)
    assert(owpSnap.partitionColumns == Seq("n_regionkey"))
    assert(owpSnap.files.flatMap(_.partitionValues.values.flatten)
      .toSet == Set("0", "1"))
    assert(ctx.sql("SELECT count(*) AS n FROM misc_owp").head().getLong(0) ==
      nation.filter(col("n_regionkey") <= 1).count())

    // TRUNCATE: all rows gone in ONE commit, history intact
    val trDir = new java.io.File(base, "tr")
    DeltaWriter.append(nation, trDir.getAbsolutePath)
    ctx.sql(s"CREATE EXTERNAL TABLE misc_tr STORED AS DELTA LOCATION '${trDir.getAbsolutePath}'")
    ctx.sql("TRUNCATE TABLE misc_tr")
    assert(ctx.sql("SELECT count(*) AS n FROM misc_tr").head().getLong(0) == 0L)
    assert(DeltaReader.loadAt(spark, trDir.getAbsolutePath, 0L).count() == 25L)
    // a truncated table still accepts inserts
    ctx.sql("INSERT INTO misc_tr VALUES (99, 'back', 4)")
    assert(ctx.sql("SELECT count(*) AS n FROM misc_tr").head().getLong(0) == 1L)
    // the audit trail distinguishes the truncate from a predicate delete
    assert(ctx.sql("DESCRIBE HISTORY misc_tr").collect()
      .map(_.getString(2)).contains("TRUNCATE"))

    // RENAME COLUMN: metadata-only on a mapped table; files untouched
    val rnDir = new java.io.File(base, "rn")
    DeltaWriter.append(nation, rnDir.getAbsolutePath, columnMapping = "name")
    val filesBefore = DeltaReader.snapshot(spark, rnDir.getAbsolutePath)
      .files.map(_.path).toSet
    ctx.sql(s"CREATE EXTERNAL TABLE misc_rn STORED AS DELTA LOCATION '${rnDir.getAbsolutePath}'")
    ctx.sql("ALTER TABLE misc_rn RENAME COLUMN n_name TO nation_name")
    val renamed = ctx.sql("SELECT nation_name FROM misc_rn").collect()
    assert(renamed.length == 25 && renamed.forall(!_.isNullAt(0)))
    assert(DeltaReader.snapshot(spark, rnDir.getAbsolutePath)
      .files.map(_.path).toSet == filesBefore)
    // unmapped tables refuse naming the mode
    val e = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE misc_tr RENAME COLUMN n_name TO x"))
    assert(e.getMessage.contains("column-mapped"))
    // parser shapes
    Dml.parse("TRUNCATE TABLE s.t;") match {
      case Dml.Truncate("s.t") => ()
      case other => fail(s"$other")
    }
    Dml.parse("INSERT OVERWRITE t (a) SELECT 1") match {
      case Dml.InsertOverwrite("t", Seq("a"), src) =>
        assert(src == "SELECT 1")
      case other => fail(s"$other")
    }
  }

  test("execute: ALTER TABLE DROP COLUMN is metadata-only on mapped tables") {
    val base = new java.io.File(sys.props("java.io.tmpdir"), "graft_dml_dropcol")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(base)
    val dir = new java.io.File(base, "t")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation, dir.getAbsolutePath, columnMapping = "name")
    val filesBefore = DeltaReader.snapshot(spark, dir.getAbsolutePath)
      .files.map(_.path).toSet
    val ctx = new AdtContext(spark)
    ctx.sql(s"CREATE EXTERNAL TABLE dropc STORED AS DELTA LOCATION '${dir.getAbsolutePath}'")
    ctx.sql("ALTER TABLE dropc DROP COLUMN n_regionkey")
    // the column is gone from the logical schema; no file rewrote
    val after = ctx.sql("SELECT * FROM dropc")
    assert(after.columns.toSeq == Seq("n_nationkey", "n_name"))
    assert(after.count() == 25L)
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath)
      .files.map(_.path).toSet == filesBefore)
    // re-adding the same name mints a FRESH physical column: the old
    // data must NOT resurrect (delta's tombstone semantics)
    ctx.sql("ALTER TABLE dropc ADD COLUMNS (n_regionkey INT)")
    val readd = ctx.sql("SELECT n_regionkey FROM dropc").collect()
    assert(readd.length == 25 && readd.forall(_.isNullAt(0)))
    // refusals: unmapped table (names the mode), partition column,
    // CHECK-referenced column, the only column
    val plainDir = new java.io.File(base, "plain")
    DeltaWriter.append(nation, plainDir.getAbsolutePath)
    ctx.sql(s"CREATE EXTERNAL TABLE dropp STORED AS DELTA LOCATION '${plainDir.getAbsolutePath}'")
    val e1 = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE dropp DROP COLUMN n_name"))
    assert(e1.getMessage.contains("columnMapping"))
    val partDir = new java.io.File(base, "part")
    DeltaWriter.append(nation, partDir.getAbsolutePath,
      partitionBy = Seq("n_regionkey"), columnMapping = "name")
    ctx.sql(s"CREATE EXTERNAL TABLE droppart STORED AS DELTA LOCATION '${partDir.getAbsolutePath}'")
    val e2 = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE droppart DROP COLUMN n_regionkey"))
    assert(e2.getMessage.contains("partition"))
    ctx.sql("ALTER TABLE droppart ADD CONSTRAINT namelen CHECK (length(n_name) > 0)")
    val e3 = intercept[IllegalArgumentException](
      ctx.sql("ALTER TABLE droppart DROP COLUMN n_name"))
    assert(e3.getMessage.contains("namelen"))
  }

  private def freshDeltaDir(name: String): String = {
    val dir = new java.io.File(sys.props("java.io.tmpdir"), name)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(del)
      f.delete()
    }
    del(dir)
    import spark.implicits._
    DeltaWriter.append(Seq((1, "a.b"), (2, "axb"), (3, "100%"), (4, "1009"))
      .toDF("k", "s"), dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("DML predicates and SET values read literals like a SELECT") {
    val ctx = new AdtContext(spark)
    ctx.sql("CREATE EXTERNAL TABLE dml_lit STORED AS DELTA " +
      s"LOCATION '${freshDeltaDir("graft_dml_lit")}'")
    def keys() = ctx.sql("SELECT k FROM dml_lit ORDER BY k")
      .collect().map(_.getInt(0)).toSeq
    // `\.` is a regex-escaped dot in a standard-conforming literal: the
    // SELECT and the DELETE both match "a.b" only, never "axb"
    assert(ctx.sql("SELECT k FROM dml_lit WHERE s RLIKE '^a\\.b$'")
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    ctx.sql("DELETE FROM dml_lit WHERE s RLIKE '^a\\.b$'")
    assert(keys() == Seq(2, 3, 4))
    ctx.sql("UPDATE dml_lit SET s = 'C:\\x' WHERE s RLIKE '^a.b$'")
    assert(ctx.sql("SELECT s FROM dml_lit WHERE k = 2").head().getString(0) ==
      "C:\\x")
  }

  test("SIMILAR TO escapes hold in a SELECT, inside EXPLAIN ANALYZE and in a MERGE source") {
    val ctx = new AdtContext(spark)
    ctx.sql("CREATE EXTERNAL TABLE dml_guard STORED AS DELTA " +
      s"LOCATION '${freshDeltaDir("graft_dml_guard")}'")
    // each text is re-spelled once: a second pass would double the
    // regex backslash SIMILAR TO 'a.b' emits, and "a.b" would not match
    val row = ctx.sql("SELECT '100%' SIMILAR TO '100\\%' AS e, " +
      "'1009' SIMILAR TO '100\\%' AS f, 'a.b' SIMILAR TO 'a.b' AS g, " +
      "'axb' SIMILAR TO 'a.b' AS h").head()
    assert(row.getBoolean(0) && !row.getBoolean(1))
    assert(row.getBoolean(2) && !row.getBoolean(3))
    val pred = "s SIMILAR TO '100\\%' OR s SIMILAR TO 'a.b'"
    val plan = ctx.sql(s"EXPLAIN ANALYZE SELECT k FROM dml_guard WHERE $pred")
      .head().getString(1)
    val filter = plan.linesIterator.map(_.trim).find(_.startsWith("Filter"))
    assert(filter.exists(_.contains("numOutputRows=2")), plan)
    ctx.sql("MERGE INTO dml_guard t USING (SELECT k, s FROM VALUES " +
      s"(5, '100%'), (6, 'a.b'), (7, 'axb'), (8, '1009') AS v(k, s) WHERE $pred) src " +
      "ON t.k = src.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(ctx.sql("SELECT k FROM dml_guard ORDER BY k")
      .collect().map(_.getInt(0)).toSeq == Seq(1, 2, 3, 4, 5, 6))
  }

  test("plain spark.sql keeps Spark's default literal reading while AdtContext runs") {
    import scala.jdk.CollectionConverters._
    val ctx = new AdtContext(spark)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // Spark's default parser reads '\\d' as the two characters \d
    val reader = new Thread(() =>
      while (!stop.get())
        seen.add(spark.sql("SELECT '\\\\d'").head().getString(0)))
    reader.start()
    try (1 to 200).foreach(_ => ctx.sql("SELECT 'a.b' RLIKE '^a\\.b$' AS m"))
    finally { stop.set(true); reader.join() }
    assert(seen.asScala.toSet == Set("\\d"))
  }
}
