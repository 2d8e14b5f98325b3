package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, LessThan, Literal}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.{DeltaActions, DeltaReader, DeltaWriter}
import graft.sources.DeltaActions.{AddCDCFile, AddFile, RemoveFile, Txn}

/** DeltaWriter: graft's own commits must be readable by graft's own
  * reader (and structurally by any Delta reader) — row-exact round
  * trips across multiple appends, partition values re-typed from the
  * writer's hive paths, per-file stats that actually prune, and the
  * commit-protocol guards (version collision, schema drift). */
class DeltaWriterSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  private def tmpTable(name: String): String = {
    val f = new File(sys.props("java.io.tmpdir"), s"graft_writer_$name")
    def del(x: File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).getOrElse(Array.empty).foreach(del)
      x.delete()
    }
    del(f)
    f.getAbsolutePath
  }

  test("unpartitioned append round-trips rows; second append bumps the version") {
    val path = tmpTable("nation_plain")
    val nation = Tables.t(spark, d, "nation")
    assert(DeltaWriter.append(nation.filter(col("n_nationkey") < 12), path) == 0L)
    assert(DeltaWriter.append(nation.filter(col("n_nationkey") >= 12), path) == 1L)

    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.version == 1L)
    assert(snap.partitionColumns.isEmpty)
    val got = DeltaReader.load(spark, path).collect().toSet
    val want = nation.collect().toSet
    assert(got == want)
    // every add carries a stats payload whose numRecords reconcile
    val stats = snap.files.flatMap(_.stats)
    assert(stats.length == snap.files.length)
    assert(stats.forall(_.contains("\"numRecords\"")))
  }

  test("partitioned append: values re-typed from writer paths, pruning works") {
    val path = tmpTable("orders_part")
    val orders = Tables.t(spark, d, "orders")
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))

    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.partitionColumns == Seq("o_orderpriority"))
    assert(snap.files.forall(_.partitionValues.keySet == Set("o_orderpriority")))
    // partition column is restored into the logical rows
    val got = DeltaReader.load(spark, path)
      .groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = orders.groupBy("o_orderpriority").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
    // partition pruning path: loadWhere sees only the admitted slice
    val one = want.keys.min
    val pruned = DeltaReader.loadWhere(spark, path,
      Map("o_orderpriority" -> Set(one)))
    assert(pruned.select("o_orderpriority").distinct().collect()
      .map(_.getString(0)).toSeq == Seq(one))
    assert(pruned.count() == want(one))
  }

  test("written stats prune files through DeltaSnapshotFileIndex.listFiles") {
    val path = tmpTable("nation_skip")
    val nation = Tables.t(spark, d, "nation")
    // two appends keyed by disjoint n_nationkey ranges → two files with
    // disjoint written min/max
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)

    val df = DeltaReader.load(spark, path)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    // the index type itself is private[sources]; its behavior is what
    // this test pins
    assert(index.getClass.getSimpleName == "DeltaSnapshotFileIndex")
    val key = AttributeReference("n_nationkey", LongType)()
    def nFiles(fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      index.listFiles(Nil, fs).map(_.files.length).sum
    assert(nFiles(Nil) == 2)
    assert(nFiles(Seq(EqualTo(key, Literal(3L)))) == 1)
    assert(nFiles(Seq(GreaterThan(key, Literal(30L)))) == 0)
    // end-to-end: pruned scan still exact
    assert(df.filter(col("n_nationkey") === 3L).count() == 1L)
  }

  test("appendOnce: a redelivered (appId, version) no-ops; the ledger survives checkpoints") {
    val path = tmpTable("nation_txn")
    val nation = Tables.t(spark, d, "nation")
    val half = nation.filter(col("n_nationkey") < 12)

    assert(DeltaWriter.appendOnce(half, path, Nil, "app-a", 0L).contains(0L))
    // redelivery of the same batch: no commit, no duplicated rows
    assert(DeltaWriter.appendOnce(half, path, Nil, "app-a", 0L).isEmpty)
    assert(DeltaReader.load(spark, path).count() == half.count())
    // an OLDER version is also refused (ledger is monotone)
    assert(DeltaWriter.appendOnce(half, path, Nil, "app-a", -1L).isEmpty)
    // a different app's ledger is independent
    assert(DeltaWriter
      .appendOnce(nation.filter(col("n_nationkey") >= 12), path, Nil,
        "app-b", 0L).contains(1L))
    assert(DeltaReader.load(spark, path).count() == nation.count())

    // the ledger survives a checkpoint + log cleanup
    DeltaWriter.checkpoint(spark, path)
    val logDir = new File(path, "_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaReader.txns(spark, path).get("app-a").map(_.version).contains(0L))
    assert(DeltaWriter.appendOnce(half, path, Nil, "app-a", 0L).isEmpty)
    // and a NEW batch still commits
    assert(DeltaWriter.appendOnce(
      nation.filter(col("n_nationkey") === 0), path, Nil, "app-a", 1L).nonEmpty)
    assert(DeltaReader.load(spark, path).count() == nation.count() + 1)

    // a SECOND checkpoint re-carries the ledger it can only find in the
    // first checkpoint (app-b's txn lives in no surviving JSON commit)
    DeltaWriter.checkpoint(spark, path)
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaReader.txns(spark, path).get("app-b").map(_.version).contains(0L))
  }

  test("loadChanges over successive windows partitions the table") {
    val path = tmpTable("nation_cdc")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)

    val w0 = DeltaReader.loadChanges(spark, path, -1L, 0L).collect().toSet
    val w1 = DeltaReader.loadChanges(spark, path, 0L, 1L).collect().toSet
    // disjoint windows, and together exactly the table
    assert(w0.intersect(w1).isEmpty)
    assert(w0.union(w1) == nation.collect().toSet)
    // the full-range feed equals the table too
    assert(DeltaReader.loadChanges(spark, path, -1L, 1L).collect().toSet ==
      w0.union(w1))
  }

  test("commit guards: schema drift and partitioning drift are refused") {
    val path = tmpTable("nation_guard")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation, path)
    intercept[IllegalArgumentException] {
      DeltaWriter.append(nation.withColumn("extra", lit(1)), path)
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.append(nation, path, Seq("n_regionkey"))
    }
  }

  test("replacePartitions atomically swaps one partition's content") {
    val path = tmpTable("orders_replace")
    val orders = Tables.t(spark, d, "orders")
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))
    val prio = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).min
    // the replacement: that partition's rows with totals zeroed
    val repl = orders.filter(col("o_orderpriority") === prio)
      .withColumn("o_totalprice", lit(0.0))
    val v = DeltaWriter.replacePartitions(repl, path,
      Map("o_orderpriority" -> Set(prio)))
    assert(v == 1L)

    val got = DeltaReader.load(spark, path)
    // replaced partition fully swapped, every other partition untouched
    assert(got.filter(col("o_orderpriority") === prio)
      .agg(sum(col("o_totalprice"))).head().getDouble(0) == 0.0)
    assert(got.filter(col("o_orderpriority") =!= prio).collect().toSet ==
      orders.filter(col("o_orderpriority") =!= prio).collect().toSet)
    assert(got.count() == orders.count())
    // time travel still sees the original content
    assert(DeltaReader.loadAt(spark, path, 0L)
      .filter(col("o_orderpriority") === prio)
      .agg(sum(col("o_totalprice"))).head().getDouble(0) > 0.0)
    // rows outside the admitted partitions are refused
    intercept[IllegalArgumentException] {
      DeltaWriter.replacePartitions(orders, path,
        Map("o_orderpriority" -> Set(prio)))
    }
  }

  test("checkpoint: replay equals JSON replay, and survives JSON removal") {
    val path = tmpTable("nation_cp")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 8), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 8 &&
      col("n_nationkey") < 16), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 16), path)
    val before = DeltaReader.load(spark, path).collect().toSet

    assert(DeltaWriter.checkpoint(spark, path) == 2L)
    val logDir = new File(path, "_delta_log")
    assert(logDir.listFiles().exists(
      _.getName == "0" * 19 + "2.checkpoint.parquet"))
    assert(DeltaReader.load(spark, path).collect().toSet == before)

    // the checkpoint alone must carry the snapshot: drop the JSON
    // commits it covers and replay again
    (0 to 2).foreach { v =>
      new File(logDir, ("0" * 19 + v.toString).takeRight(20) + ".json")
        .delete()
    }
    assert(DeltaReader.load(spark, path).collect().toSet == before)

    // appends after a checkpoint keep working (JSON tail stitching)
    DeltaWriter.append(nation.filter(col("n_nationkey") === 0), path)
    assert(DeltaReader.load(spark, path).count() == before.size + 1)
  }

  test("multi-part checkpoint: sharded write replays whole, ledger survives cleanup atop it") {
    val path = tmpTable("nation_cp_multi")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 8), path,
      txn = Some(("mp-writer", 7L)))
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 8), path)
    val before = DeltaReader.load(spark, path).collect().toSet

    assert(DeltaWriter.checkpoint(spark, path, parts = 3) == 1L)
    val logDir = new File(path, "_delta_log")
    val parts = logDir.listFiles().map(_.getName)
      .filter(_.matches("\\d{20}\\.checkpoint\\.\\d{10}\\.\\d{10}\\.parquet"))
      .sorted
    // a complete 1..of set at the checkpointed version, never classic
    assert(parts.length == 3 && parts.forall(_.startsWith("0" * 19 + "1")))
    assert(!logDir.listFiles().exists(
      _.getName == "0" * 19 + "1.checkpoint.parquet"))
    assert(new String(java.nio.file.Files.readAllBytes(
      new File(logDir, "_last_checkpoint").toPath)).contains("\"parts\":3"))

    // the sharded set alone carries the snapshot: drop the JSON commits
    (0 to 1).foreach(v =>
      new File(logDir, ("0" * 19 + v.toString).takeRight(20) + ".json").delete())
    assert(DeltaReader.load(spark, path).collect().toSet == before)

    // carry-forward atop a MULTI-PART newest checkpoint: with every
    // JSON commit gone, an additive evolution must find its metaData
    // record in the sharded set
    val widened = org.apache.spark.sql.types.StructType(
      DeltaReader.snapshot(spark, path).schema.fields :+
        org.apache.spark.sql.types.StructField("n_extra",
          org.apache.spark.sql.types.LongType, nullable = true))
    assert(DeltaWriter.evolveSchema(spark, path, widened) == 2L)
    val evolved = DeltaReader.load(spark, path)
    assert(evolved.columns.contains("n_extra"))
    assert(evolved.count() == before.size)

    // and a fresh classic checkpoint must find protocol + the txn
    // ledger in the sharded set too (2.json carries only metaData)
    assert(DeltaWriter.checkpoint(spark, path) == 2L)
    new File(logDir, "0" * 18 + "02.json").delete()
    assert(DeltaReader.txns(spark, path).get("mp-writer").map(_.version)
      .contains(7L))
    assert(DeltaReader.load(spark, path).columns.contains("n_extra"))
    assert(DeltaReader.load(spark, path).count() == before.size)
  }

  test("df.write.format(\"graft-delta\"): every save mode reaches the writer's verbs") {
    val path = tmpTable("fmt_sink")
    val nation = Tables.t(spark, d, "nation")
    val lo = nation.filter(col("n_nationkey") < 10)

    // default ErrorIfExists creates the table (version 0 with header)
    lo.write.format("graft-delta").save(path)
    assert(DeltaReader.load(spark, path).collect().toSet == lo.collect().toSet)
    // append stitches a second commit
    nation.filter(col("n_nationkey") >= 10)
      .write.format("graft-delta").mode("append").save(path)
    assert(DeltaReader.snapshot(spark, path).version == 1L)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)
    // errorifexists now refuses; ignore now no-ops
    val e = intercept[Exception](lo.write.format("graft-delta").save(path))
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(5).exists(_.getMessage.contains("already exists")))
    lo.write.format("graft-delta").mode("ignore").save(path)
    assert(DeltaReader.snapshot(spark, path).version == 1L)
    // overwrite is one atomic remove-all + add commit
    lo.write.format("graft-delta").mode("overwrite").save(path)
    assert(DeltaReader.load(spark, path).collect().toSet == lo.collect().toSet)

    // partitionBy rides the V1 options side-channel into hive layout +
    // typed partition values, with writer stats on every file
    val p2 = tmpTable("fmt_part")
    nation.write.format("graft-delta").partitionBy("n_regionkey")
      .mode("overwrite").save(p2)
    val snap = DeltaReader.snapshot(spark, p2)
    assert(snap.partitionColumns == Seq("n_regionkey"))
    assert(snap.files.forall(_.stats.exists(_.contains("\"numRecords\""))))
    assert(DeltaReader.loadWhere(spark, p2,
        Map("n_regionkey" -> Set("2"))).collect().toSet ==
      nation.filter(col("n_regionkey") === 2).collect().toSet)
  }

  test("vacuum deletes exactly the unreferenced files; reads still exact") {
    val path = tmpTable("orders_vacuum")
    val orders = Tables.t(spark, d, "orders")
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))
    val prio = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).min
    val repl = orders.filter(col("o_orderpriority") === prio)
      .withColumn("o_totalprice", lit(0.0))
    DeltaWriter.replacePartitions(repl, path,
      Map("o_orderpriority" -> Set(prio)))

    val live = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    val deleted = DeltaWriter.vacuum(spark, path)
    // something was tombstoned, nothing live was touched
    assert(deleted.nonEmpty)
    assert(deleted.toSet.intersect(live).isEmpty)
    assert(deleted.forall(_.startsWith(s"o_orderpriority=$prio")))
    // post-vacuum reads are unchanged
    assert(DeltaReader.load(spark, path).count() == orders.count())
    // a second vacuum is a no-op
    assert(DeltaWriter.vacuum(spark, path).isEmpty)
  }

  test("vacuum retention window keeps fresh tombstones, then releases them") {
    val path = tmpTable("orders_vacuum_retain")
    val orders = Tables.t(spark, d, "orders")
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))
    val prio = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).min
    DeltaWriter.replacePartitions(
      orders.filter(col("o_orderpriority") === prio)
        .withColumn("o_totalprice", lit(0.0)),
      path, Map("o_orderpriority" -> Set(prio)))

    // tombstones are seconds old — a 1 h retention keeps every file,
    // so time travel to v0 still works
    assert(DeltaWriter.vacuum(spark, path, retainMs = 3600L * 1000).isEmpty)
    assert(DeltaReader.loadAt(spark, path, 0L).count() == orders.count())
    // past the window (retention 0) the tombstoned files go
    assert(DeltaWriter.vacuum(spark, path).nonEmpty)
    assert(DeltaReader.load(spark, path).count() == orders.count())
  }

  test("compact rewrites each partition into one clustered file") {
    val path = tmpTable("orders_compact")
    val orders = Tables.t(spark, d, "orders")
    // two appends → ≥2 files per partition
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
      path, Seq("o_orderpriority"))
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
      path, Seq("o_orderpriority"))
    val nPart = orders.select("o_orderpriority").distinct().count()
    assert(DeltaReader.snapshot(spark, path).files.length > nPart)

    val v = DeltaWriter.compact(spark, path, sortBy = Seq("o_orderkey"))
    assert(v == 2L)
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.files.length == nPart)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      orders.collect().toSet)
    // clustering: each compacted file's stats carry a tight o_orderkey
    // range — min must not exceed max, and stats exist on every file
    assert(snap.files.forall(_.stats.exists(_.contains("o_orderkey"))))
  }

  test("optimizeZOrder: content exact, either-dim predicates prune where they couldn't before") {
    val path = tmpTable("lineitem_zorder")
    val li = Tables.t(spark, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"))
    // two parity appends: each file spans the FULL range of both dims
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0), path)
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 =!= 0), path)

    def index = DeltaReader.load(spark, path)
      .queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
      }.get
    def nFiles(fs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      index.listFiles(Nil, fs).map(_.files.length).sum
    val pk = AttributeReference("l_partkey", LongType)()
    val sk = AttributeReference("l_suppkey", LongType)()
    val r = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (lowP, lowS) = (Literal(r.getLong(0) / 8 + 1), Literal(r.getLong(1) / 8 + 1))
    // before: neither dim prunes anything
    assert(nFiles(Nil) == 2)
    assert(nFiles(Seq(LessThan(pk, lowP))) == 2)
    assert(nFiles(Seq(LessThan(sk, lowS))) == 2)

    val v = DeltaWriter.optimizeZOrder(spark, path,
      "l_partkey", "l_suppkey", targetFiles = 8)
    assert(v == 2L)
    // content exact through the rewrite
    assert(DeltaReader.load(spark, path).collect().toSet ==
      li.collect().toSet)
    val total = nFiles(Nil)
    assert(total > 1 && total <= 8)
    // after: the SAME predicates prune files on EITHER dim — the
    // property single-key clustering cannot deliver for the second dim
    assert(nFiles(Seq(LessThan(pk, lowP))) < total)
    assert(nFiles(Seq(LessThan(sk, lowS))) < total)
    // stats exist on every rewritten file for both dims
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.files.forall(a => a.stats.exists(s =>
      s.contains("l_partkey") && s.contains("l_suppkey"))))
  }

  test("explicit schema evolution: additive metaData commit, old files null-fill") {
    val path = tmpTable("nation_evolve")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 12), path)

    // non-additive evolutions are refused
    import org.apache.spark.sql.types._
    intercept[IllegalArgumentException] {
      DeltaWriter.evolveSchema(spark, path,
        StructType(nation.schema.fields.drop(1))) // drops a column
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.evolveSchema(spark, path, StructType(
        nation.schema.fields :+ StructField("note", StringType, nullable = false)))
    }

    val evolved = StructType(
      nation.schema.fields :+ StructField("note", StringType, nullable = true))
    DeltaWriter.evolveSchema(spark, path, evolved)

    // appends with the OLD schema are now refused; the NEW schema lands
    intercept[IllegalArgumentException] {
      DeltaWriter.append(nation.filter(col("n_nationkey") >= 12), path)
    }
    DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 12)
        .withColumn("note", concat(lit("n"), col("n_nationkey"))), path)

    val got = DeltaReader.load(spark, path)
    assert(got.schema.fieldNames.contains("note"))
    assert(got.count() == nation.count())
    // old files null-fill the evolved column; new files carry it
    assert(got.filter(col("n_nationkey") < 12 && col("note").isNull).count() == 12)
    assert(got.filter(col("n_nationkey") >= 12 && col("note").isNotNull).count() ==
      nation.count() - 12)

    // evolution still works when the metaData record survives only in a
    // checkpoint (post-log-cleanup) — the same fallback checkpoint() uses
    DeltaWriter.checkpoint(spark, path)
    new File(path, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).foreach(_.delete())
    val evolved2 = StructType(
      evolved.fields :+ StructField("note2", StringType, nullable = true))
    DeltaWriter.evolveSchema(spark, path, evolved2)
    assert(DeltaReader.snapshot(spark, path).schema == evolved2)
  }

  test("merge upserts at file granularity: matched rows replaced, unmatched inserted, untouched files kept") {
    val path = tmpTable("nation_merge")
    val nation = Tables.t(spark, d, "nation")
    // two files by key parity, so a merge touching only odd keys must
    // leave the even file physically untouched
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 === 0), path)
    val evenFiles = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 === 1), path)

    // source: update three odd keys (name rewritten), insert one new
    val src = nation.filter(col("n_nationkey").isin(1, 3, 5))
      .withColumn("n_name", lit("updated"))
      .unionByName(nation.filter(col("n_nationkey") === 0)
        .withColumn("n_nationkey", lit(99))
        .withColumn("n_name", lit("inserted")))
    assert(DeltaWriter.merge(src, path, Seq("n_nationkey")) == 2L)

    val got = DeltaReader.load(spark, path)
    assert(got.count() == nation.count() + 1)
    assert(got.filter(col("n_name") === "updated").count() == 3)
    assert(got.filter(col("n_nationkey") === 99).count() == 1)
    // rows NOT in the source are bit-identical originals
    assert(got.filter(col("n_nationkey") % 2 === 0 &&
        col("n_nationkey") =!= 99).collect().toSet ==
      nation.filter(col("n_nationkey") % 2 === 0).collect().toSet)
    // the even-keys files survived the merge physically (copy-on-write
    // touched only the odd-keys files)
    val after = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(evenFiles.nonEmpty && evenFiles.subsetOf(after))

    // duplicate source keys are refused
    intercept[IllegalArgumentException] {
      DeltaWriter.merge(src.unionByName(src.limit(1)), path,
        Seq("n_nationkey"))
    }
    // a disjoint source is a pure insert: no removes, one new commit
    val before = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    DeltaWriter.merge(nation.limit(1)
      .withColumn("n_nationkey", lit(200)), path, Seq("n_nationkey"))
    val pure = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(before.subsetOf(pure) && pure.size == before.size + 1)
  }

  test("delete rewrites only files that can match; NULL-predicate rows survive") {
    val path = tmpTable("orders_delete")
    val orders = Tables.t(spark, d, "orders")
    // range-clustered ingest (time-ordered appends): the later files'
    // o_orderkey stats provably exclude the delete predicate, so the
    // verb's filtered discovery scan must skip them and the commit must
    // carry them forward UNREWRITTEN
    val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    DeltaWriter.append(orders.filter(col("o_orderkey") < mx / 2), path)
    val early = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    DeltaWriter.append(orders.filter(col("o_orderkey") >= mx / 2), path)
    val later = DeltaReader.snapshot(spark, path).files.map(_.path).toSet -- early

    val cut = mx / 4
    val want = orders.filter(col("o_orderkey") >= cut).collect().toSet
    assert(DeltaWriter.delete(spark, path, col("o_orderkey") < cut) == 2L)
    assert(DeltaReader.load(spark, path).collect().toSet == want)
    val postPaths = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(later.nonEmpty && later.subsetOf(postPaths))
    // deleting nothing publishes no commit
    assert(DeltaWriter.delete(spark, path, col("o_orderkey") < 0L) == 2L)

    // three-valued logic: NULL predicate keeps the row
    val p2 = tmpTable("nulls_delete")
    import spark.implicits._
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(1L)))
      .toDF("id", "v")
    DeltaWriter.append(df, p2)
    DeltaWriter.delete(spark, p2, col("v") > 5L)
    assert(DeltaReader.load(spark, p2).select("id").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
  }

  test("update rewrites matching rows in place; untouched files and non-matching rows ride through") {
    val path = tmpTable("orders_update")
    val orders = Tables.t(spark, d, "orders")
    val mx = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    DeltaWriter.append(orders.filter(col("o_orderkey") < mx / 2), path)
    val early = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    DeltaWriter.append(orders.filter(col("o_orderkey") >= mx / 2), path)
    val later = DeltaReader.snapshot(spark, path).files.map(_.path).toSet -- early
    val cut = mx / 4
    val want = orders.select(
      orders.columns.map {
        case "o_totalprice" =>
          when(col("o_orderkey") < cut, col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")).as("o_totalprice")
        case c => col(c)
      }.toIndexedSeq: _*).collect().toSet
    assert(DeltaWriter.update(spark, path, col("o_orderkey") < cut,
      Map("o_totalprice" -> (col("o_totalprice") * 2))) == 2L)
    assert(DeltaReader.load(spark, path).collect().toSet == want)
    // the second append's files (min key >= mx/2 > cut: stats exclude
    // the predicate) survived the update physically unrewritten
    val post = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(later.nonEmpty && later.subsetOf(post))
    // no-match update publishes no commit
    assert(DeltaWriter.update(spark, path, col("o_orderkey") < 0L,
      Map("o_totalprice" -> lit(0.0))) == 2L)

    // three-valued logic: NULL predicate rows are NOT updated
    val p2 = tmpTable("nulls_update")
    import spark.implicits._
    val df = Seq((1L, Some(10L)), (2L, None), (3L, Some(1L)))
      .toDF("id", "v")
    DeltaWriter.append(df, p2)
    DeltaWriter.update(spark, p2, col("v") > 5L, Map("id" -> lit(-1L)))
    assert(DeltaReader.load(spark, p2).select("id").collect()
      .map(_.getLong(0)).toSet == Set(-1L, 2L, 3L))
  }

  test("updateWithVectors: rows die by vector, post-SET versions land in the same commit") {
    val path = tmpTable("nation_mor_update")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)

    val v = DeltaWriter.updateWithVectors(spark, path,
      col("n_nationkey") % 5 === 0, Map("n_name" -> lit("MOR_UPDATED")))
    assert(v == 2L)
    val loaded = DeltaReader.load(spark, path)
    assert(loaded.count() == 25L)
    assert(loaded.filter(col("n_name") === "MOR_UPDATED").count() == 5L)
    assert(loaded.filter(col("n_nationkey") % 5 === 0)
      .filter(col("n_name") =!= "MOR_UPDATED").count() == 0L)
    // physical shape: both original files still live (re-added with
    // vectors), the updated rows in fresh DV-less files
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.files.count(_.deletionVector.isDefined) == 2)
    assert(snap.files.count(_.deletionVector.isEmpty) >= 1)

    // no match → no commit
    assert(DeltaWriter.updateWithVectors(spark, path,
      col("n_nationkey") === 999, Map("n_name" -> lit("X"))) == v)

    // CHECK constraints gate the post-SET rows like the copy-on-write path
    DeltaWriter.addCheckConstraint(spark, path, "name_len",
      "length(n_name) < 30")
    val e = intercept[IllegalArgumentException](
      DeltaWriter.updateWithVectors(spark, path,
        col("n_nationkey") === 1,
        Map("n_name" -> lit("X" * 40))))
    assert(e.getMessage.contains("name_len"))

    // a compaction absorbs the vectors without changing the state
    DeltaWriter.compact(spark, path)
    val after = DeltaReader.load(spark, path)
    assert(after.count() == 25L)
    assert(after.filter(col("n_name") === "MOR_UPDATED").count() == 5L)
    assert(DeltaReader.snapshot(spark, path).files
      .forall(_.deletionVector.isEmpty))
  }

  test("checkpointV2: writer-emitted sidecar layout replays whole and seeds later carries") {
    val path = tmpTable("nation_cpv2")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)
    // a DV delete so descriptors must ride the sidecar add actions
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") % 5 === 0)
    val want = DeltaReader.load(spark, path).collect().toSet
    assert(want.size == 20)

    val v = DeltaWriter.checkpointV2(spark, path, sidecars = 2)
    assert(v == 2L)
    val logDir = new File(path, "_delta_log")
    assert(logDir.listFiles().exists(_.getName.matches(
      "\\d{20}\\.checkpoint\\.[0-9a-fA-F-]{36}\\.json")))
    assert(new File(logDir, "_sidecars").listFiles()
      .count(_.getName.endsWith(".parquet")) == 2)

    // log cleanup: the V2 layout alone replays the exact state (DVs
    // included) and the version survives
    logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(_.delete())
    assert(DeltaReader.load(spark, path).collect().toSet == want)
    assert(DeltaReader.snapshot(spark, path).version == 2L)

    // a LATER classic checkpoint must seed its protocol/metaData carry
    // from the V2 top file (the only surviving copy)
    DeltaWriter.append(nation.filter(col("n_nationkey") < 3)
      .withColumn("n_nationkey", col("n_nationkey") + 100), path)
    DeltaWriter.checkpoint(spark, path)
    logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json"))
      .foreach(_.delete())
    assert(DeltaReader.load(spark, path).count() == want.size + 3L)
  }

  test("restore: snapshot equality incl DV rollback, history preserved, vacuumed refusal") {
    val path = tmpTable("nation_restore")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path) // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path) // v1
    // v2: merge-on-read delete — same paths, new DV descriptors
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") % 2 === 0)
    val nOdd = DeltaReader.load(spark, path).count()
    assert(nOdd < 25L)

    // restore to v1 rolls the vectors back by re-emitting the old adds
    val v3 = DeltaWriter.restore(spark, path, 1L)
    assert(v3 == 3L)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)
    // the deleted state stays time-travelable
    assert(DeltaReader.loadAt(spark, path, 2L).count() == nOdd)
    // restoring to the present is a published-nothing no-op
    assert(DeltaWriter.restore(spark, path, 3L) == 3L)
    // future versions refused
    intercept[IllegalArgumentException](DeltaWriter.restore(spark, path, 9L))

    // after compact + vacuum the v1 files are gone from disk: restore
    // is refused naming the vacuumed files, not silently partial
    DeltaWriter.compact(spark, path)
    DeltaWriter.vacuum(spark, path)
    val e = intercept[IllegalArgumentException](
      DeltaWriter.restore(spark, path, 1L))
    assert(e.getMessage.contains("vacuum"))
  }

  test("optimizeZOrderIncremental: rewrites only the unclustered tail, steady state commits nothing") {
    val path = tmpTable("lineitem_zorder_inc")
    val li = Tables.t(spark, d, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"))
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0), path)
    DeltaWriter.append(li.filter(col("l_orderkey") % 2 =!= 0), path)
    DeltaWriter.optimizeZOrder(spark, path, "l_partkey", "l_suppkey",
      targetFiles = 8)
    val tight = DeltaReader.snapshot(spark, path).files.map(_.path).toSet

    // θ=1000 can never flag a file (span ≤ range): steady state, no commit
    val vSame = DeltaWriter.optimizeZOrderIncremental(spark, path,
      "l_partkey", "l_suppkey", spanPermille = 1000)
    assert(vSame == DeltaReader.snapshot(spark, path).version)

    // a fresh unclustered append spans the whole key space
    val batch = li.filter(col("l_orderkey") % 7 === 0).coalesce(1)
    DeltaWriter.append(batch, path)
    val withTail = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    val tail = withTail -- tight
    assert(tail.nonEmpty)

    val v = DeltaWriter.optimizeZOrderIncremental(spark, path,
      "l_partkey", "l_suppkey", targetFiles = 4)
    val after = DeltaReader.snapshot(spark, path)
    // every tight file physically survived; every tail file is gone
    assert(tight.subsetOf(after.files.map(_.path).toSet))
    assert(after.files.map(_.path).toSet.intersect(tail).isEmpty)
    // content exact through the incremental pass
    assert(DeltaReader.load(spark, path).collect().toSet ==
      li.filter(col("l_orderkey") % 2 === 0)
        .unionByName(li.filter(col("l_orderkey") % 2 =!= 0))
        .unionByName(batch).collect().toSet)
    assert(v == after.version)
    // convergence: the rewritten tail is now clustered — a second pass
    // at the same threshold commits nothing
    assert(DeltaWriter.optimizeZOrderIncremental(spark, path,
      "l_partkey", "l_suppkey", targetFiles = 4) == after.version)
    // the optimized-output tags survive a checkpoint + log cleanup, so
    // the steady state holds across maintenance (losing them would
    // re-churn every optimized file on the next pass)
    DeltaWriter.checkpoint(spark, path)
    new File(path, "_delta_log").listFiles()
      .filter(_.getName.matches("\\d{20}\\.json")).foreach(_.delete())
    assert(DeltaReader.snapshot(spark, path).files
      .forall(_.tags.get("optimized").contains("zorder")))
    assert(DeltaWriter.optimizeZOrderIncremental(spark, path,
      "l_partkey", "l_suppkey", targetFiles = 4) == after.version)

    // a loose file carrying a deletion vector: the pass reads it through
    // the vector — rows exact, the vector absorbed, tight files untouched
    DeltaWriter.append(batch.withColumn("l_linenumber",
      col("l_linenumber") + 100), path)
    DeltaWriter.deleteWithVectors(spark, path,
      col("l_linenumber") > 100 && col("l_partkey") % 3 === 0)
    val pre = DeltaReader.snapshot(spark, path)
    val tight2 = pre.files.filter(_.tags.get("optimized").contains("zorder"))
    val dvLoose = pre.files.filterNot(tight2.contains)
    assert(dvLoose.nonEmpty && dvLoose.forall(_.deletionVector.nonEmpty))
    val rowsPre = multiset(DeltaReader.load(spark, path))
    DeltaWriter.optimizeZOrderIncremental(spark, path,
      "l_partkey", "l_suppkey", targetFiles = 4)
    val post = DeltaReader.snapshot(spark, path)
    assert(multiset(DeltaReader.load(spark, path)) == rowsPre)
    assert(tight2.toSet.subsetOf(post.files.toSet))
    assert(post.files.filterNot(tight2.contains)
      .forall(a => a.deletionVector.isEmpty && !dvLoose.contains(a)))
  }

  test("optimizeZOrderIncremental on a partitioned table: per-dir detection, partition values restored") {
    val path = tmpTable("orders_zorder_inc_part")
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
      path, Seq("o_orderpriority"))
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
      path, Seq("o_orderpriority"))
    DeltaWriter.optimizeZOrder(spark, path,
      Seq("o_custkey", "o_orderkey"), targetFiles = 8)
    val tight = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(DeltaReader.snapshot(spark, path).files
      .forall(_.tags.get("optimized").contains("zorder")))

    // a fresh partitioned append: one unclustered file PER hive dir
    val batch = orders.filter(col("o_orderkey") % 97 === 0).coalesce(1)
    DeltaWriter.append(batch, path, Seq("o_orderpriority"))
    val tail = DeltaReader.snapshot(spark, path).files.map(_.path).toSet -- tight
    assert(tail.nonEmpty)
    // regression: one staged write emits the SAME part-file name into
    // every hive dir — each must carry its OWN stats (the name-keyed
    // stats map used to collide, giving every same-named file one
    // dir's min/max and corrupting stats pruning)
    val tailStats = DeltaReader.snapshot(spark, path).files
      .filter(a => tail.contains(a.path)).flatMap(_.stats)
    assert(tailStats.distinct.size == tailStats.size,
      "same-named files across hive dirs must carry their own stats")

    val v = DeltaWriter.optimizeZOrderIncremental(spark, path,
      "o_custkey", "o_orderkey", targetFiles = 5)
    val after = DeltaReader.snapshot(spark, path)
    // tight files physically survive; the per-dir detector rewrote the
    // wide-in-both tail files (a tail file genuinely tight in one dim
    // within its dir is LEGITIMATELY kept — it still prunes for that
    // dim, the same rule the unpartitioned loop applies)
    assert(tight.subsetOf(after.files.map(_.path).toSet))
    val surviving = after.files.map(_.path).toSet.intersect(tail)
    assert(surviving.size < tail.size,
      s"no tail file was rewritten (tail=$tail)")
    // partition values were restored onto the rewritten rows: content
    // exact INCLUDING the partition column (count guards the duplicate
    // batch rows a set-compare would hide)
    assert(DeltaReader.load(spark, path).count() ==
      orders.count() + batch.count())
    assert(DeltaReader.load(spark, path).collect().toSet ==
      orders.collect().toSet)
    // steady state
    assert(DeltaWriter.optimizeZOrderIncremental(spark, path,
      "o_custkey", "o_orderkey", targetFiles = 5) == v)
  }

  test("optimizeZOrderIncremental: same-named loose files across hive dirs keep their own partition values") {
    val path = tmpTable("zinc_same_name")
    import spark.implicits._
    val base = Seq((1L, 1L, "a"), (2L, 2L, "a"), (1L, 1L, "b"), (2L, 2L, "b"))
      .toDF("x", "y", "p")
    DeltaWriter.append(base, path, Seq("p"))
    DeltaWriter.optimizeZOrder(spark, path, Seq("x", "y"), targetFiles = 2)
    // one coalesced append spanning both dirs: the single write task
    // emits the SAME part-file name into p=a and p=b, and each file is
    // wide in BOTH dims within its dir → BOTH must be flagged loose
    // (a restore keyed by file NAME would last-win every colliding row
    // onto one dir's partition value — silent corruption)
    val batch = Seq((0L, 999L, "a"), (999L, 0L, "a"),
      (0L, 999L, "b"), (999L, 0L, "b")).toDF("x", "y", "p")
    DeltaWriter.append(batch.coalesce(1), path, Seq("p"))
    val tailFiles = DeltaReader.snapshot(spark, path).files
      .filterNot(_.tags.get("optimized").contains("zorder"))
    val names = tailFiles.map(a => new File(a.path).getName)
    assert(names.distinct.size < names.size,
      s"fixture must emit same-named part files across hive dirs: $names")

    DeltaWriter.optimizeZOrderIncremental(spark, path, "x", "y",
      targetFiles = 2)
    val after = DeltaReader.snapshot(spark, path)
    // EVERY tail file was rewritten (both colliding names flagged)…
    assert(after.files.map(_.path).toSet
      .intersect(tailFiles.map(_.path).toSet).isEmpty,
      "both same-named loose files must be flagged and rewritten")
    // …and every row kept ITS OWN dir's partition value, exactly
    assert(DeltaReader.load(spark, path).select("x", "y", "p")
      .collect().toSet ==
      base.unionByName(batch).collect().toSet)
  }

  test("column-mapped write half: create → append → evolve → rename round-trips") {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val path = tmpTable("mapped_rt")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path,
      columnMapping = "name")
    val snap0 = DeltaReader.snapshot(spark, path)
    assert(snap0.physicalNames.keySet == Set("n_nationkey", "n_name"))
    assert(snap0.physicalNames.values.forall(_.startsWith("col-")))
    assert(snap0.configuration("delta.columnMapping.mode") == "name")
    // the parquet files on disk carry ONLY physical names
    val raw = spark.read.parquet(
      new File(path, snap0.files.head.path).getAbsolutePath)
    assert(raw.columns.forall(_.startsWith("col-")))
    // …and queries read logical names
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.filter(col("n_nationkey") < 10).collect().toSet)

    // append to the mapped table renames to physical automatically
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)

    // evolution mints a fresh physical name + next id for the new col
    DeltaWriter.evolveSchema(spark, path, StructType(Seq(
      StructField("n_nationkey",
        nation.schema("n_nationkey").dataType, nullable = true),
      StructField("n_name", StringType, nullable = true),
      StructField("note", StringType, nullable = true))))
    val snap1 = DeltaReader.snapshot(spark, path)
    assert(snap1.physicalNames("note").startsWith("col-"))
    assert(snap1.configuration("delta.columnMapping.maxColumnId") == "3")
    // old columns keep their original physical names
    assert(snap1.physicalNames("n_name") == snap0.physicalNames("n_name"))
    // old files null-fill; a post-evolution append lands typed
    DeltaWriter.append(
      nation.filter(col("n_nationkey") === 0)
        .withColumn("note", lit("tagged")), path)
    val got = DeltaReader.load(spark, path)
    assert(got.filter(col("note") === "tagged").count() == 1L)
    assert(got.filter(col("note").isNull).count() == nation.count())

    // rename: metadata-only — files untouched, logical name changes
    val filesBefore = DeltaReader.snapshot(spark, path).files
      .map(_.path).toSet
    DeltaWriter.renameColumn(spark, path, "n_name", "nation_name")
    val snap2 = DeltaReader.snapshot(spark, path)
    assert(snap2.files.map(_.path).toSet == filesBefore)
    assert(snap2.schema.fieldNames.toSeq ==
      Seq("n_nationkey", "nation_name", "note"))
    assert(snap2.physicalNames("nation_name") ==
      snap0.physicalNames("n_name"))
    assert(DeltaReader.load(spark, path)
      .select(col("nation_name")).distinct().count() == nation.count())
    // rename refusals: unmapped table, constraint reference
    val eUnmapped = intercept[IllegalArgumentException] {
      val p2 = tmpTable("unmapped_rename")
      DeltaWriter.append(nation, p2)
      DeltaWriter.renameColumn(spark, p2, "n_name", "x")
    }
    assert(eUnmapped.getMessage.contains("column-mapped"))

    // r16: the row verbs now WORK on name-mapped tables — a delete
    // through the renamed logical schema re-stages under physical names
    val pre = DeltaReader.load(spark, path).count()
    DeltaWriter.delete(spark, path, col("n_nationkey") === 1)
    val post = DeltaReader.load(spark, path)
    assert(post.count() == pre - 1)
    assert(post.filter(col("n_nationkey") === 1).isEmpty)
    assert(post.filter(col("nation_name").isNull).isEmpty)
  }

  test("column-mapped write half: partitioned mapped table stores physical dirs, prunes, round-trips") {
    val path = tmpTable("mapped_part")
    val orders = Tables.t(spark, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0), path,
      Seq("o_orderpriority"), columnMapping = "name")
    DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0), path,
      Seq("o_orderpriority"))
    val snap = DeltaReader.snapshot(spark, path)
    val physPart = snap.physicalNames("o_orderpriority")
    // hive dirs and partitionValues keys are PHYSICAL
    assert(new File(path).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith(s"$physPart=")))
    assert(snap.files.forall(_.partitionValues.keySet == Set(physPart)))
    // logical reads + partition pruning still work
    assert(DeltaReader.load(spark, path).collect().toSet ==
      orders.collect().toSet)
    val urgent = DeltaReader.load(spark, path)
      .filter(col("o_orderpriority") === "1-URGENT")
    assert(urgent.count() ==
      orders.filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("optimistic concurrency: a lost append race re-commits at the next version; conflicts refuse") {
    val path = tmpTable("occ_matrix")
    val table = new File(path)
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path) // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path) // v1
    val preCount = DeltaReader.load(spark, path).count()

    // emulate an append that staged against v1 and lost the race: copy
    // a live data file under a fresh name, commit it AT the stale
    // version — publishOptimistic must land it at v2. (Pick the
    // keys>=10 file so the later delete of key 3 never rewrites the
    // copy.)
    val anyFile = DeltaReader.snapshot(spark, path).files.find { a =>
      spark.read.parquet(new File(path, a.path).getAbsolutePath)
        .agg(min(col("n_nationkey"))).head().getAs[Number](0).longValue >= 10L
    }.get
    val src = new File(path, anyFile.path)
    def addLine(name: String, dataChange: Boolean) =
      AddFile(name, src.length(), Map.empty, dataChange = dataChange)
    val dup = "occ-dup-" + src.getName
    java.nio.file.Files.copy(src.toPath, new File(path, dup).toPath)
    assert(DeltaWriter.publishOptimistic(table, 1L,
      Seq(addLine(dup, dataChange = true))) == 2L)
    assert(DeltaReader.load(spark, path).count() ==
      preCount + spark.read.parquet(src.getAbsolutePath).count())

    // a ROW-LEVEL loser whose removed file the winner touched: refuse
    val winnerTouched = {
      DeltaWriter.delete(spark, path, col("n_nationkey") === 3) // v3
      val nowLive = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
      // the delete rewrote the file holding key 3 — find a path the
      // winner removed (live at v2, gone at v3)
      DeltaReader.snapshotAt(spark, path, 2L).files.map(_.path)
        .filterNot(nowLive).head
    }
    def removeLine(p: String, dataChange: Boolean) =
      RemoveFile(p, Some(0L), dataChange)
    val eOverlap = intercept[IllegalArgumentException](
      DeltaWriter.publishOptimistic(table, 3L,
        Seq(removeLine(winnerTouched, dataChange = true))))
    assert(eOverlap.getMessage.contains("touched file"))

    // a ROW-LEVEL loser disjoint from the winner's files still refuses
    // (the winner changed data its predicate may have matched)
    val disjoint = DeltaReader.snapshot(spark, path).files
      .map(_.path).find(_ == dup).get
    val eData = intercept[IllegalArgumentException](
      DeltaWriter.publishOptimistic(table, 3L,
        Seq(removeLine(disjoint, dataChange = true))))
    assert(eData.getMessage.contains("changed data"))

    // a LAYOUT loser disjoint from the winner's files lands: rewrite
    // the dup file in place (remove + re-add, dataChange=false)
    val v = DeltaWriter.publishOptimistic(table, 3L, Seq(
      removeLine(dup, dataChange = false),
      addLine(dup, dataChange = false)))
    assert(v == 4L)
    assert(DeltaReader.snapshot(spark, path).version == 4L)

    // a winner that changed METADATA refuses any retry
    DeltaWriter.addCheckConstraint(spark, path, "nonneg",
      "n_nationkey >= 0") // v5
    val eMeta = intercept[IllegalArgumentException](
      DeltaWriter.publishOptimistic(table, 5L,
        Seq(addLine(dup + "-again", dataChange = true))))
    assert(eMeta.getMessage.contains("metadata"))

    // the other order — winner is the LAYOUT commit, loser an append:
    // compact wins v6, the stale append still lands at v7
    DeltaWriter.compact(spark, path) // v6
    val dup3 = "occ-dup3-" + src.getName
    java.nio.file.Files.copy(src.toPath, new File(path, dup3).toPath)
    assert(DeltaWriter.publishOptimistic(table, 6L,
      Seq(addLine(dup3, dataChange = true))) == 7L)

    // a loser that itself carries metaData (v0 creation race, schema
    // evolution) is never retried
    val p2 = tmpTable("occ_create_race")
    DeltaWriter.append(nation, p2) // v0 wins
    val eCreate = intercept[IllegalStateException] {
      val metaLine = DeltaActions.Metadata("x", "{}", createdTime = Some(0L))
      DeltaWriter.publishOptimistic(new File(p2), 0L, Seq(metaLine))
    }
    assert(eCreate.getMessage.contains("concurrent commit lost"))
  }

  test("optimistic concurrency: racing appends through the public verb all land") {
    val path = tmpTable("occ_race")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.limit(0), path) // v0: schema only
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try DeltaWriter.append(
          nation.filter(col("n_nationkey") % 8 === i), path)
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent append failed: ${errs.peek()}")
    assert(DeltaReader.snapshot(spark, path).version == 8L)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)
  }

  test("crash between stage and publish: no partial commit visible, retry converges, vacuum sweeps") {
    val path = tmpTable("crash_window")
    val table = new File(path)
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 12), path) // v0
    val before = DeltaReader.load(spark, path).collect().toSet

    // a writer killed at each point of the stage→publish window leaves
    // exactly one of these on-disk states — reproduce all three:
    // (1) killed MID-STAGE: the dot staging dir with part files inside
    val stage = new File(table,
      s".stage-7-${java.util.UUID.randomUUID()}")
    stage.mkdirs()
    val src = new File(path, DeltaReader.snapshot(spark, path).files.head.path)
    java.nio.file.Files.copy(src.toPath,
      new File(stage, "part-000.parquet").toPath)
    // (2) killed AFTER THE MOVE: uuid-named data files in the table
    // root with no add action published
    val orphan = new File(table,
      s"part-crash-${java.util.UUID.randomUUID()}.parquet")
    java.nio.file.Files.copy(src.toPath, orphan.toPath)
    // (3) killed BEFORE THE HARD-LINK: a commit draft under _delta_log
    val tmp = new File(table,
      "_delta_log/.tmp-1-" + java.util.UUID.randomUUID())
    java.nio.file.Files.writeString(tmp.toPath, """{"add":{}}""")

    // NO partial commit is visible — replay ignores all three
    assert(DeltaReader.snapshot(spark, path).version == 0L)
    assert(DeltaReader.load(spark, path).collect().toSet == before)

    // the retry converges: a fresh append lands at v1, rows exact
    // (uuid staging/part names guarantee no collision with the debris)
    assert(DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 12), path) == 1L)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)

    // vacuum sweeps the crash debris once past retention; reads exact
    DeltaWriter.vacuum(spark, path, 0L)
    assert(!stage.exists() && !orphan.exists() && !tmp.exists())
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)
  }

  test("cleanupLogs: retention-driven prefix removal behind the newest checkpoint") {
    val path = tmpTable("log_cleanup")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path) // v0
    DeltaWriter.append(nation.filter(
      col("n_nationkey") >= 10 && col("n_nationkey") < 20), path) // v1
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 20), path) // v2

    // no checkpoint yet: nothing is safely removable
    assert(DeltaWriter.cleanupLogs(spark, path, Some(0L)).isEmpty)
    DeltaWriter.checkpoint(spark, path) // checkpoint at v2
    DeltaWriter.delete(spark, path, col("n_nationkey") === 0) // v3
    // a day-long window: nothing old enough
    assert(DeltaWriter.cleanupLogs(spark, path, Some(86400000L)).isEmpty)
    // the table's own delta.logRetentionDuration drives the default
    DeltaWriter.setTableProperty(spark, path,
      "delta.logRetentionDuration", "interval 30 days") // v4
    assert(DeltaWriter.cleanupLogs(spark, path, None).isEmpty)

    // zero window: exactly the prefix at-or-below the checkpoint goes
    val gone = DeltaWriter.cleanupLogs(spark, path, Some(0L))
    assert(gone.toSet ==
      (0L to 2L).map(v => f"$v%020d.json").toSet)
    // the current snapshot still reads whole (checkpoint + JSON tail)
    assert(DeltaReader.load(spark, path).count() == nation.count() - 1)
    // time travel below the horizon is refused NAMING the cleanup
    val e = intercept[IllegalArgumentException](
      DeltaReader.snapshotAt(spark, path, 1L))
    assert(e.getMessage.contains("earliest replayable"))
    // a CDF window reaching into cleaned history is refused
    val e2 = intercept[IllegalArgumentException](
      DeltaReader.loadChangeFeed(spark, path, 1L, 3L))
    assert(e2.getMessage.contains("log cleanup"))
    // a post-horizon CDF window still replays (seeded off the checkpoint)
    assert(DeltaReader.loadChangeFeed(spark, path, 2L, 3L)
      .filter(col("_change_type") === "delete").count() >= 1L)
    // idempotent second pass
    assert(DeltaWriter.cleanupLogs(spark, path, Some(0L)).isEmpty)
  }

  test("column mapping: row verbs, merge and both CDC feeds on a name-mapped table") {
    val path = tmpTable("mapped_verbs")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    DeltaWriter.append(nation, path, Seq("n_regionkey"),
      columnMapping = "name") // v0
    assert(DeltaReader.snapshot(spark, path).physicalNames.nonEmpty)

    // append-only CDC resolves physical spellings back to logical
    val feed0 = DeltaReader.loadChanges(spark, path, -1L, 0L)
    assert(feed0.columns.toSet ==
      Set("n_nationkey", "n_regionkey", "n_name"))
    assert(feed0.select("n_nationkey", "n_regionkey", "n_name")
      .collect().toSet == nation.collect().toSet)

    // MoR DV delete + CoW update, each staged back under physical names
    DeltaWriter.deleteWithVectors(spark, path,
      col("n_nationkey") % 5 === 0) // v1
    DeltaWriter.update(spark, path, col("n_nationkey") % 5 === 1,
      Map("n_name" -> concat(col("n_name"), lit("!")))) // v2
    val expect = nation.filter(col("n_nationkey") % 5 =!= 0)
      .withColumn("n_name",
        when(col("n_nationkey") % 5 === 1, concat(col("n_name"), lit("!")))
          .otherwise(col("n_name")))
    val cols = Seq("n_nationkey", "n_regionkey", "n_name")
    assert(DeltaReader.load(spark, path).select(cols.map(col): _*)
      .collect().toSet == expect.select(cols.map(col): _*).collect().toSet)

    // full CDF over the mutation window folds v0 → current exactly
    val cdf = DeltaReader.loadChangeFeed(spark, path, 0L, 2L)
    val ins = cdf.filter(col("_change_type")
        .isin("insert", "update_postimage"))
      .select(cols.map(col): _*)
    val del = cdf.filter(col("_change_type")
        .isin("delete", "update_preimage"))
      .select(cols.map(col): _*)
    val folded = DeltaReader.loadAt(spark, path, 0L)
      .select(cols.map(col): _*).exceptAll(del).unionAll(ins)
    assert(folded.collect().toSet ==
      expect.select(cols.map(col): _*).collect().toSet)

    // merge (upsert) on the mapped table: one replace + one insert
    val src = spark.createDataFrame(Seq(
      (2L, 1L, "REPLACED"), (99L, 2L, "NEWLAND")))
      .toDF("n_nationkey", "n_regionkey", "n_name")
      .select(col("n_nationkey").cast(
          nation.schema("n_nationkey").dataType),
        col("n_regionkey").cast(nation.schema("n_regionkey").dataType),
        col("n_name"))
    DeltaWriter.merge(src, path, Seq("n_nationkey")) // v3
    val after = DeltaReader.load(spark, path)
    assert(after.filter(col("n_nationkey") === 2).select("n_name")
      .head().getString(0) == "REPLACED")
    assert(after.filter(col("n_nationkey") === 99).count() == 1L)

  }

  test("id-mapped write half: create, append, rename, row verbs and CDF all work (r16)") {
    val path = tmpTable("mapped_id_verbs")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 === 0), path,
      Seq("n_regionkey"), columnMapping = "id") // v0
    val snap0 = DeltaReader.snapshot(spark, path)
    assert(snap0.fieldIds.nonEmpty && snap0.physicalNames.nonEmpty)
    // the staged parquet really carries field ids (read one footer with
    // a WRONG-named id-tagged schema: field-id resolution must match)
    val anyFile = new File(path, snap0.files.head.path).getAbsolutePath
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val probe = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("renamed_probe",
        nation.schema("n_nationkey").dataType, nullable = true,
        new org.apache.spark.sql.types.MetadataBuilder()
          .putLong("parquet.field.id",
            snap0.fieldIds("n_nationkey")).build())))).parquet(anyFile)
    assert(probe.filter(col("renamed_probe").isNotNull).count() > 0)

    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 =!= 0), path,
      Seq("n_regionkey")) // v1
    DeltaWriter.renameColumn(spark, path, "n_name", "nation_name") // v2
    DeltaWriter.delete(spark, path, col("n_nationkey") % 5 === 0) // v3
    DeltaWriter.update(spark, path, col("n_nationkey") % 5 === 1,
      Map("nation_name" -> concat(col("nation_name"), lit("!")))) // v4
    val expect = nation.filter(col("n_nationkey") % 5 =!= 0)
      .withColumn("n_name",
        when(col("n_nationkey") % 5 === 1, concat(col("n_name"), lit("!")))
          .otherwise(col("n_name")))
      .withColumnRenamed("n_name", "nation_name")
    val cols = Seq("n_nationkey", "n_regionkey", "nation_name")
    assert(DeltaReader.load(spark, path).select(cols.map(col): _*)
      .collect().toSet == expect.select(cols.map(col): _*).collect().toSet)

    // the full CDF folds v1 → current exactly (field-id scans inside)
    val cdf = DeltaReader.loadChangeFeed(spark, path, 1L, 4L)
    val ins = cdf.filter(col("_change_type")
        .isin("insert", "update_postimage"))
      .select(cols.map(col): _*)
    val del = cdf.filter(col("_change_type")
        .isin("delete", "update_preimage"))
      .select(cols.map(col): _*)
    val folded = DeltaReader.loadAt(spark, path, 1L)
      .withColumnRenamed("n_name", "nation_name")
      .select(cols.map(col): _*).exceptAll(del).unionAll(ins)
    assert(folded.collect().toSet ==
      expect.select(cols.map(col): _*).collect().toSet)
  }

  test("concurrent id-mapped appends: every staged file keeps parquet field ids; flag restored (r18 guard)") {
    val pathA = tmpTable("mapped_id_conc_a")
    val pathB = tmpTable("mapped_id_conc_b")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    DeltaWriter.append(nation.limit(0), pathA, Nil, columnMapping = "id")
    DeltaWriter.append(nation.limit(0), pathB, Nil, columnMapping = "id")
    val key = "spark.sql.parquet.fieldId.write.enabled"
    val before = spark.conf.getOption(key)
    // several rounds of two OVERLAPPING id-mapped appends on the same
    // session — the field-id write flag rides each write job's conf, so
    // neither write can clear it for the other and the session's value
    // never changes
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      (1 to 3).foreach { _ =>
        val fa = Future(DeltaWriter.append(
          nation.filter(col("n_nationkey") % 2 === 0), pathA))
        val fb = Future(DeltaWriter.append(
          nation.filter(col("n_nationkey") % 2 =!= 0), pathB))
        Await.result(fa, Duration.Inf); Await.result(fb, Duration.Inf)
      }
    } finally pool.shutdown()
    assert(spark.conf.getOption(key) == before) // session untouched
    // every data file in BOTH tables resolves by field id (the q190
    // wrong-named id-tagged probe, per file)
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    Seq(pathA, pathB).foreach { path =>
      val snap = DeltaReader.snapshot(spark, path)
      val fid = snap.fieldIds("n_nationkey")
      snap.files.foreach { f =>
        val probe = spark.read.schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("renamed_probe",
            nation.schema("n_nationkey").dataType, nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .putLong("parquet.field.id", fid).build()))))
          .parquet(new File(path, f.path).getAbsolutePath)
        assert(probe.filter(col("renamed_probe").isNotNull).count() > 0,
          s"file ${f.path} of $path staged without parquet field ids")
      }
    }
  }

  test("exactly-once: a lost race against a same-appId winner refuses the retry") {
    val path = tmpTable("occ_txn_refuse")
    val table = new File(path)
    val nation = Tables.t(spark, d, "nation")
    // v0: schema; v1: the winner — an appendOnce that committed batch 1
    DeltaWriter.append(nation.limit(0), path)
    assert(DeltaWriter.appendOnce(nation.filter(col("n_nationkey") < 5),
      path, Nil, "prod", 1L).contains(1L))
    // a stale commit carrying the SAME appId's txn must NOT be retried
    // past the winner (it may be this very batch, redelivered) — even
    // though as a pure append it would otherwise be compatible
    val e = intercept[DeltaWriter.ConcurrentTransactionException](
      DeltaWriter.publishOptimistic(table, 1L, Seq(Txn("prod", 1L))))
    assert(e.getMessage.contains("prod"))
    // a DIFFERENT appId's txn retries fine (independent producer)
    assert(DeltaWriter.publishOptimistic(table, 1L, Seq(Txn("other", 7L))) == 2L)
    assert(DeltaReader.txns(spark, path).get("other").map(_.version).contains(7L))
  }

  test("exactly-once: concurrent same-appId appendOnce lands exactly one commit") {
    val nation = Tables.t(spark, d, "nation")
    val batch = nation.filter(col("n_nationkey") < 5)
    val batchCount = batch.count()
    (0 until 4).foreach { rep =>
      val path = tmpTable(s"occ_txn_race_$rep")
      DeltaWriter.append(nation.limit(0), path) // v0: schema only
      val results =
        new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 2).map { _ =>
        new Thread(() =>
          try results.add(DeltaWriter.appendOnce(batch, path, Nil,
            "ingest", 1L))
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"concurrent appendOnce failed: ${errs.peek()}")
      import scala.jdk.CollectionConverters._
      // whichever thread wins the race, EXACTLY one commit carries the
      // batch; the duplicate converges to None via the ledger
      assert(results.asScala.count(_.isDefined) == 1,
        s"rep $rep: expected exactly one committed batch, " +
          s"got ${results.asScala.toList}")
      assert(DeltaReader.load(spark, path).count() == batchCount)
      assert(DeltaReader.txns(spark, path).get("ingest").map(_.version)
        .contains(1L))
      // and a post-hoc redelivery (the sequential order) still no-ops
      assert(DeltaWriter.appendOnce(batch, path, Nil, "ingest", 1L)
        .isEmpty)
    }
  }

  test("CHECK constraints: declared in metaData, enforced on every write verb") {
    val path = tmpTable("nation_check")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation, path)

    // a constraint the current rows violate is refused at declaration
    val bad = intercept[IllegalArgumentException](
      DeltaWriter.addCheckConstraint(spark, path, "small_key",
        "n_nationkey < 10"))
    assert(bad.getMessage.contains("existing"))

    val v = DeltaWriter.addCheckConstraint(spark, path, "key_range",
      "n_nationkey BETWEEN 0 AND 200")
    assert(v == 1L)
    assert(DeltaReader.snapshot(spark, path)
      .configuration("delta.constraints.key_range") ==
      "n_nationkey BETWEEN 0 AND 200")

    // violating append refused naming the constraint; conforming lands
    val viol = nation.withColumn("n_nationkey", col("n_nationkey") + 300)
    val e = intercept[IllegalArgumentException](DeltaWriter.append(viol, path))
    assert(e.getMessage.contains("key_range"))
    DeltaWriter.append(
      nation.withColumn("n_nationkey", col("n_nationkey") + 100), path)
    // NULL passes — SQL CHECK semantics (only literal FALSE violates)
    DeltaWriter.append(nation.limit(1)
      .withColumn("n_nationkey", lit(null).cast("int")), path)
    // the merge path runs the same gate
    intercept[IllegalArgumentException](
      DeltaWriter.merge(viol.limit(3), path, Seq("n_nationkey")))

    // dropped constraint stops gating; unknown drop is refused
    DeltaWriter.dropCheckConstraint(spark, path, "key_range")
    DeltaWriter.append(viol.limit(1), path)
    intercept[IllegalArgumentException](
      DeltaWriter.dropCheckConstraint(spark, path, "nope"))
  }

  test("timestampAsOf: commitInfo stamps index the versions; the DDL pin is read-only") {
    val path = tmpTable("nation_ttt")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)

    assert(DeltaReader.versionAtTimestamp(path, mid) == 0L)
    assert(DeltaReader.versionAtTimestamp(
      path, System.currentTimeMillis()) == 1L)
    // before the earliest surviving commit: refused, not clamped
    intercept[IllegalArgumentException](
      DeltaReader.versionAtTimestamp(path, mid - 86400000L))

    val ctx = new AdtContext(spark)
    ctx.sql(s"""CREATE EXTERNAL TABLE nation_ttt STORED AS DELTA
      OPTIONS(timestampAsOf='$mid') LOCATION '$path'""")
    assert(ctx.sql("SELECT count(*) AS n FROM nation_ttt")
      .head().getLong(0) == 10L)
    // a timestamp-pinned view refuses DML like a version-pinned one
    val e = intercept[IllegalArgumentException](
      ctx.sql("DELETE FROM nation_ttt WHERE n_nationkey = 1"))
    assert(e.getMessage.contains("read-only"))
    // the two pins are mutually exclusive
    intercept[IllegalArgumentException](ctx.sql(
      s"""CREATE EXTERNAL TABLE nation_ttt2 STORED AS DELTA
        OPTIONS(versionAsOf='0', timestampAsOf='$mid') LOCATION '$path'"""))
  }

  test("scd2Apply: file-granular versioning, unchanged no-op, out-of-order refused") {
    val path = tmpTable("nation_scd2_spec")
    val nation = Tables.t(spark, d, "nation")
    // bootstrap across TWO range files so file granularity is observable
    val v0 = DeltaWriter.scd2Apply(
      nation.repartitionByRange(2, col("n_nationkey")),
      path, Seq("n_nationkey"), 100L)
    assert(v0 == 0L)
    val filesV0 = DeltaReader.snapshot(spark, path).files.map(_.path).toSet
    assert(filesV0.size == 2)

    // identical re-delivery: NO commit published
    assert(DeltaWriter.scd2Apply(nation, path, Seq("n_nationkey"), 150L) == 0L)
    assert(DeltaReader.snapshot(spark, path).version == 0L)

    // change ONE key (24, in the upper range file): the lower file must
    // physically survive the commit
    val b = nation.filter(col("n_nationkey") === 24)
      .withColumn("n_name", lit("RENAMED"))
    val v1 = DeltaWriter.scd2Apply(b, path, Seq("n_nationkey"), 200L)
    assert(v1 == 1L)
    val snap1 = DeltaReader.snapshot(spark, path)
    assert(filesV0.intersect(snap1.files.map(_.path).toSet).size == 1)
    val hist = DeltaReader.load(spark, path)
    assert(hist.count() == 26L) // 25 keys + one closed version
    val k24 = hist.filter(col("n_nationkey") === 24)
      .select("valid_from", "valid_to", "n_name")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(k24.map(v => (v._1, v._2)) == Seq(100L -> Some(200L), 200L -> None))
    assert(k24.head._3 != "RENAMED" && k24.last._3 == "RENAMED")

    // out-of-order change batch refused (monotone history)
    val late = intercept[IllegalArgumentException](DeltaWriter.scd2Apply(
      nation.filter(col("n_nationkey") === 24)
        .withColumn("n_name", lit("EVEN NEWER")),
      path, Seq("n_nationkey"), 150L))
    assert(late.getMessage.contains("monotone"))

    // SNAPSHOT mode. First the monotone guard on the CLOSING side: key
    // 24's current version opened at ts=200, so a complete extract
    // missing it stamped ts=150 must be refused
    val extract = nation.filter(col("n_nationkey") < 20)
    val lateSnap = intercept[IllegalArgumentException](
      DeltaWriter.scd2Apply(extract, path, Seq("n_nationkey"), 150L,
        snapshotMode = true))
    assert(lateSnap.getMessage.contains("monotone"))
    // at ts=300 the extract soft-deletes keys >= 20 (closed, no
    // successor) and touches nothing else
    val vs = DeltaWriter.scd2Apply(extract, path, Seq("n_nationkey"),
      300L, snapshotMode = true)
    val h2 = DeltaReader.load(spark, path)
    assert(h2.filter(col("valid_to").isNull).count() == 20L)
    assert(h2.filter(col("n_nationkey") >= 20 && col("valid_to").isNull)
      .count() == 0L)
    assert(h2.filter(col("n_nationkey") === 24 && col("valid_to") === 300L)
      .count() == 1L)
    // redelivering the same extract later is a published-nothing no-op
    assert(DeltaWriter.scd2Apply(extract, path, Seq("n_nationkey"),
      400L, snapshotMode = true) == vs)

    // duplicate keys and validity columns in the batch are refused
    intercept[IllegalArgumentException](DeltaWriter.scd2Apply(
      b.unionByName(b), path, Seq("n_nationkey"), 300L))
    intercept[IllegalArgumentException](DeltaWriter.scd2Apply(
      b.withColumn("valid_from", lit(1L)), path, Seq("n_nationkey"), 300L))
  }

  test("deleteWithVectors marks rows dead without rewriting; vectors merge, survive checkpoints, escalate protocol") {
    val path = tmpTable("orders_dv_delete")
    val orders = Tables.t(spark, d, "orders")
    DeltaWriter.append(orders, path, Seq("o_orderpriority"))
    val preFiles = DeltaReader.snapshot(spark, path).files.map(_.path).toSet

    assert(DeltaWriter.deleteWithVectors(spark, path,
      col("o_orderkey") % 7 === 0) == 1L)
    val want1 = orders.filter(!(col("o_orderkey") % 7 === 0)).collect().toSet
    assert(DeltaReader.load(spark, path).collect().toSet == want1)
    // merge-on-read: the SAME physical files live on, now carrying DVs
    val snap1 = DeltaReader.snapshot(spark, path)
    assert(snap1.files.map(_.path).toSet == preFiles)
    assert(snap1.files.exists(_.deletionVector.nonEmpty))

    // a second DV delete merges old and new dead rows per file
    assert(DeltaWriter.deleteWithVectors(spark, path,
      col("o_orderkey") % 11 === 0) == 2L)
    val want2 = orders.filter(!(col("o_orderkey") % 7 === 0 ||
      col("o_orderkey") % 11 === 0)).collect().toSet
    assert(DeltaReader.load(spark, path).collect().toSet == want2)

    // vectors ride through checkpoint + log cleanup (a checkpoint that
    // dropped descriptors would resurrect the dead rows)
    DeltaWriter.checkpoint(spark, path)
    val logDir = new File(path, "_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    assert(DeltaReader.load(spark, path).collect().toSet == want2)
    // vacuum never touches live DV'd files or the .bin sidecars
    assert(DeltaWriter.vacuum(spark, path).isEmpty)
    assert(DeltaReader.load(spark, path).collect().toSet == want2)

    // forced on-disk storage: one deletion_vector_<uuid>.bin per
    // commit, sliced by offset, and the escalated protocol announces
    // the reader feature
    val p2 = tmpTable("orders_dv_disk")
    DeltaWriter.append(orders, p2)
    assert(DeltaWriter.deleteWithVectors(spark, p2,
      col("o_orderstatus") === "F", inlineMax = 0) == 1L)
    val snap2 = DeltaReader.snapshot(spark, p2)
    val dvs = snap2.files.flatMap(_.deletionVector)
    assert(dvs.nonEmpty && dvs.forall(_.storageType == "u"))
    assert(new File(p2).listFiles().exists(
      _.getName.matches("deletion_vector_.*\\.bin")))
    assert(DeltaReader.load(spark, p2).collect().toSet ==
      orders.filter(col("o_orderstatus") =!= "F").collect().toSet)
    val protoJson = new File(p2, "_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toList)
      .filter(_.contains("\"protocol\"")).last
    assert(protoJson.contains("deletionVectors"))

    // a DV-aware rewrite absorbs the vectors: compact leaves a clean
    // copy-on-write table with no descriptors and the same rows
    DeltaWriter.compact(spark, p2)
    val snap3 = DeltaReader.snapshot(spark, p2)
    assert(snap3.files.forall(_.deletionVector.isEmpty))
    assert(DeltaReader.load(spark, p2).collect().toSet ==
      orders.filter(col("o_orderstatus") =!= "F").collect().toSet)
    // …and vacuum now sweeps the orphaned .bin (no live descriptor
    // references it) along with the superseded data files
    val swept = DeltaWriter.vacuum(spark, p2)
    assert(swept.exists(_.matches("deletion_vector_.*\\.bin")))
    assert(!new File(p2).listFiles().exists(
      _.getName.matches("deletion_vector_.*\\.bin")))
    assert(DeltaReader.load(spark, p2).collect().toSet ==
      orders.filter(col("o_orderstatus") =!= "F").collect().toSet)
  }

  test("loadChanges refuses non-append windows (the CDC contract is enforced, not declared)") {
    val path = tmpTable("nation_cdc_guard")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path)
    DeltaWriter.delete(spark, path, col("n_nationkey") === 3)

    // append-only windows still feed
    assert(DeltaReader.loadChanges(spark, path, -1L, 1L).count() ==
      nation.count())
    // a window covering the delete removes a pre-window file → refused
    val e = intercept[IllegalArgumentException](
      DeltaReader.loadChanges(spark, path, 1L, 2L).count())
    assert(e.getMessage.contains("append-only"))
    // a DV commit in-window is refused too (its remove line trips the
    // pre-window guard; the deletionVector add-guard backstops commits
    // whose remove was itself in-window)
    val p2 = tmpTable("nation_cdc_guard_dv")
    DeltaWriter.append(nation, p2)
    DeltaWriter.deleteWithVectors(spark, p2, col("n_nationkey") === 5)
    val e2 = intercept[IllegalArgumentException](
      DeltaReader.loadChanges(spark, p2, 0L, 1L).count())
    assert(e2.getMessage.contains("append-only"))
    // the add-guard path: window covers creation AND the DV commit, so
    // the remove cancels an in-window add and the DV add must refuse
    val e3 = intercept[IllegalArgumentException](
      DeltaReader.loadChanges(spark, p2, -1L, 1L).count())
    assert(e3.getMessage.contains("deletion-vector"))
  }

  test("loadChanges: layout-only commits (compact) are transparent to the append-only feed") {
    val path = tmpTable("nation_cdc_compact")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path) // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path) // v1
    DeltaWriter.compact(spark, path) // v2: dataChange=false throughout
    DeltaWriter.append(nation.filter(col("n_nationkey") === 0), path) // v3
    // a window straddling the compact feeds exactly the appended rows —
    // the compact's removes don't trip the append-only guard and its
    // adds are not double-counted as new data (the original v1 files
    // stay on disk until vacuum and are read at their own version)
    assert(DeltaReader.loadChanges(spark, path, 0L, 3L).collect().toSet ==
      nation.filter(col("n_nationkey") >= 10)
        .unionByName(nation.filter(col("n_nationkey") === 0))
        .collect().toSet)
    // a compact-only window is an empty feed
    assert(DeltaReader.loadChanges(spark, path, 1L, 2L).count() == 0L)
  }

  /** row multiset of a DataFrame (CDF replay needs duplicate-exact
    * comparison, which a Set would hide). */
  private def multiset(df: org.apache.spark.sql.DataFrame)
      : Map[org.apache.spark.sql.Row, Int] =
    df.collect().toSeq.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Every window `(from, to]` of `path`'s change feed up to the
    * current version, replayed over the rows at `from` (insert-side
    * +1, delete-side −1, applied in commit order), yields exactly the
    * rows at `to`, as multisets of `cols`. */
  private def assertFeedReplays(path: String, cols: Seq[String]): Unit = {
    val top = DeltaReader.snapshot(spark, path).version
    def stateAt(v: Long): Map[org.apache.spark.sql.Row, Int] =
      if (v < 0L) Map.empty
      else multiset(DeltaReader.loadAt(spark, path, v).select(cols.map(col): _*))
    val k = cols.size
    for (from <- -1L to top; to <- (from + 1) to top) {
      val feed = DeltaReader.loadChangeFeed(spark, path, from, to)
      val events = feed.select((cols :+ "_change_type" :+ "_commit_version")
        .map(col): _*).collect()
        .sortBy(_.getLong(k + 1)) // replay applies commits in order
      // commit versions stay inside the window
      assert(events.forall { r =>
        val v = r.getLong(k + 1); v > from && v <= to
      }, s"window ($from,$to] leaked a commit version")
      // replay: pre + insert-side − delete-side == post, as multisets
      // (delta's update spellings fold as their halves)
      val replayed = events.foldLeft(stateAt(from)) { (m, r) =>
        val row = org.apache.spark.sql.Row.fromSeq(r.toSeq.take(k))
        val deltaN = r.getString(k) match {
          case "insert" | "update_postimage" => 1
          case "delete" | "update_preimage" => -1
          case other => fail(s"unknown _change_type: $other")
        }
        val n = m.getOrElse(row, 0) + deltaN
        assert(n >= 0, s"window ($from,$to] retracted a row it never " +
          s"had: $row")
        if (n == 0) m - row else m.updated(row, n)
      }
      assert(replayed == stateAt(to), s"window ($from,$to] replay diverged")
    }
  }

  test("loadChangeFeed: replaying any window over the pre-snapshot reproduces the post-snapshot") {
    val path = tmpTable("nation_cdf_replay")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
    // created WITH delta.enableChangeDataFeed: the row verbs below
    // write cdc images (the churn-free exact-window pins depend on it)
    DeltaWriter.overwrite(nation.filter(col("n_nationkey") < 10), path,
      properties = Map("delta.enableChangeDataFeed" -> "true")) // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10), path) // v1
    DeltaWriter.delete(spark, path, col("n_nationkey") % 5 === 3) // v2 CoW
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 6) // v3 MoR
    DeltaWriter.update(spark, path, col("n_nationkey") === 2,
      Map("n_name" -> lit("UPDATED"))) // v4 CoW update
    DeltaWriter.compact(spark, path) // v5 layout-only
    DeltaWriter.append(nation.filter(col("n_nationkey") === 7), path) // v6 dup row
    assert(DeltaReader.snapshot(spark, path).version == 6L)
    assertFeedReplays(path, Seq("n_nationkey", "n_regionkey", "n_name"))

    // the UPDATE commit's window alone emits delta's own update images
    // for EXACTLY the matched row — no survivor churn at all (the cdc
    // actions replace the file-diff derivation for that commit)
    val upd = DeltaReader.loadChangeFeed(spark, path, 3L, 4L)
      .collect().sortBy(_.getAs[String]("_change_type"))
    assert(upd.length == 2, s"update window not churn-free: ${upd.toSeq}")
    assert(upd(0).getAs[String]("_change_type") == "update_postimage")
    assert(upd(0).getAs[String]("n_name") == "UPDATED")
    assert(upd(1).getAs[String]("_change_type") == "update_preimage")
    assert(upd(1).getAs[String]("n_name") != "UPDATED")
    assert(upd.forall(r =>
      r.getAs[Number]("n_nationkey").longValue == 2L &&
        r.getAs[Long]("_commit_version") == 4L))

    // column-mapped, partitioned inputs whose partition values carry
    // '+', '%' and a space: an append, a DV delete, a RESTORE across
    // that vector (newly-alive rows of files whose logged paths are
    // percent-encoded) and a compact
    for (mode <- Seq("name", "id")) {
      val p = tmpTable(s"cdf_replay_specials_$mode")
      val rows = spark.range(0, 60).select(col("id"), (col("id") % 7).as("v"),
        element_at(array(lit("a+b"), lit("c%d"), lit("e f")),
          (col("id") % 3 + 1).cast("int")).as("p"))
      val cols = Seq("id", "v", "p")
      DeltaWriter.append(rows.filter(col("id") < 30), p, Seq("p"),
        columnMapping = mode) // v0
      DeltaWriter.append(rows.filter(col("id") >= 30), p, Seq("p")) // v1
      DeltaWriter.deleteWithVectors(spark, p, col("id") % 4 === 0) // v2
      DeltaWriter.restore(spark, p, 1L) // v3
      DeltaWriter.compact(spark, p) // v4
      assert(DeltaReader.snapshot(spark, p).version == 4L)
      assertFeedReplays(p, cols)
      // the append-only prefix: loadChanges is exactly the appended rows
      assert(multiset(DeltaReader.loadChanges(spark, p, -1L, 1L)
        .select(cols.map(col): _*)) == multiset(rows))
      assert(multiset(DeltaReader.loadChanges(spark, p, 0L, 1L)
        .select(cols.map(col): _*)) == multiset(rows.filter(col("id") >= 30)))
    }
  }

  test("loadChangeFeed: DV windows are minimal, layout windows are empty, restore re-inserts") {
    val path = tmpTable("nation_cdf_min")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(nation, path) // v0
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 6) // v1
    // the MoR delete window emits EXACTLY the newly-dead row as a
    // delete — no survivor churn (that's the merge-on-read payoff)
    val w1 = DeltaReader.loadChangeFeed(spark, path, 0L, 1L).collect()
    assert(w1.length == 1)
    assert(w1.head.getAs[String]("_change_type") == "delete")
    assert(w1.head.getAs[Number]("n_nationkey").longValue == 6L)
    assert(w1.head.getAs[Long]("_commit_version") == 1L)

    // restore to v0 rolls the DV back: the dead row comes back as an
    // insert (DV shrink → newly-alive diff), nothing else moves
    DeltaWriter.restore(spark, path, 0L) // v2
    val w2 = DeltaReader.loadChangeFeed(spark, path, 1L, 2L).collect()
    assert(w2.map(r => (r.getAs[Number]("n_nationkey").longValue,
      r.getAs[String]("_change_type"))).toSet == Set((6L, "insert")))

    DeltaWriter.compact(spark, path) // v3: layout-only
    assert(DeltaReader.loadChangeFeed(spark, path, 2L, 3L).count() == 0L)

    // a log-cleaned window is refused, not silently partial
    DeltaWriter.checkpoint(spark, path)
    new File(path, "_delta_log").listFiles()
      .filter(_.getName.matches("\\d{20}\\.json")).foreach(_.delete())
    val e = intercept[IllegalArgumentException](
      DeltaReader.loadChangeFeed(spark, path, 0L, 3L).count())
    assert(e.getMessage.contains("log cleanup"))
  }

  test("loadChangeFeed: a grown DV emits only the newly-dead rows, a shrunk one only the newly-alive") {
    val path = tmpTable("nation_cdf_dv_diff")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"))
    DeltaWriter.append(nation.repartition(1), path) // v0: one file
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 6) // v1
    // v2: the same file's vector grows from {6} to {3, 6, 9}
    DeltaWriter.deleteWithVectors(spark, path,
      col("n_nationkey").isin(3, 9))
    val files = DeltaReader.snapshot(spark, path).files
    assert(files.size == 1 &&
      files.head.deletionVector.exists(_.cardinality == 3L))
    def events(from: Long, to: Long): Seq[(Long, String, Long)] =
      DeltaReader.loadChangeFeed(spark, path, from, to).collect()
        .map(r => (r.getAs[Number]("n_nationkey").longValue,
          r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
        .sorted.toSeq
    assert(events(1L, 2L) == Seq((3L, "delete", 2L), (9L, "delete", 2L)))
    // v3: RESTORE to v1 shrinks the vector back to {6} — both vectors
    // are present, and only the rows in the old one and not the new
    // one come back
    DeltaWriter.restore(spark, path, 1L)
    assert(events(2L, 3L) == Seq((3L, "insert", 3L), (9L, "insert", 3L)))
    assert(DeltaReader.load(spark, path).count() == nation.count() - 1)
  }

  test("version-0 commit carries protocol + metaData the reader honors") {
    val path = tmpTable("nation_proto")
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.append(nation, path)
    val log = new File(path, "_delta_log").listFiles().map(_.getName).toSet
    assert(log.contains("0" * 19 + "0.json"))
    val lines = scala.io.Source
      .fromFile(new File(path, "_delta_log/" + "0" * 19 + "0.json"))
      .getLines().toSeq
    // commitInfo leads every commit (the timestamp index for
    // timestampAsOf), then protocol + metaData
    assert(lines.head.contains("\"commitInfo\""))
    assert(lines.head.contains("\"timestamp\""))
    assert(lines(1).contains("\"protocol\""))
    assert(lines(2).contains("\"schemaString\""))
    // schema parses back identically
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.schema == nation.schema)
  }

  test("shallow clone is zero-copy, reads equal, and diverges independently of the source") {
    val src = tmpTable("clone_src")
    val dst = tmpTable("clone_dst")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") < 15).repartition(1), src)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 15).repartition(1), src)
    // a live deletion vector in the source: the clone must re-address
    // its relative sidecar as an absolute "p" descriptor
    DeltaWriter.deleteWithVectors(spark, src, col("n_nationkey") % 6 === 2)
    val expected = nation.filter(col("n_nationkey") % 6 =!= 2)

    DeltaWriter.cloneShallow(spark, src, dst)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      expected.collect().toSet)
    // zero copy: the clone dir holds ONLY its log — no data files
    def dataFiles(root: File): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.getName == "_delta_log") Nil
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    assert(dataFiles(new File(dst)).isEmpty)
    val srcFilesBefore = dataFiles(new File(src))

    // writes to the clone land in the clone; the source never changes
    DeltaWriter.append(
      nation.filter(col("n_nationkey") % 6 === 2).repartition(1), dst)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      nation.collect().toSet)
    assert(DeltaReader.load(spark, src).collect().toSet ==
      expected.collect().toSet)

    // a row verb on the clone rewrites touched SOURCE files INTO the
    // clone and leaves source bytes untouched
    DeltaWriter.delete(spark, dst, col("n_nationkey") >= 20)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      nation.filter(col("n_nationkey") < 20).collect().toSet)
    assert(dataFiles(new File(src)) == srcFilesBefore)
    assert(DeltaReader.load(spark, src).collect().toSet ==
      expected.collect().toSet)

    // the clone's vacuum cannot touch source data: its walk covers only
    // the clone dir, and absolute tombstones match nothing there
    DeltaWriter.vacuum(spark, dst, retainMs = 0L)
    assert(dataFiles(new File(src)) == srcFilesBefore)
    assert(DeltaReader.load(spark, src).collect().toSet ==
      expected.collect().toSet)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      nation.filter(col("n_nationkey") < 20).collect().toSet)

    // clone history starts at ITS version 0 = the source state at clone
    // time, still readable after the clone diverged
    assert(DeltaReader.loadAt(spark, dst, 0L).collect().toSet ==
      expected.collect().toSet)

    // refusals: clone onto an existing table, clone from a non-table
    intercept[IllegalArgumentException] {
      DeltaWriter.cloneShallow(spark, src, dst)
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.cloneShallow(spark, tmpTable("clone_nowhere"), tmpTable("clone_dst2"))
    }
    // a source root containing '+' would URL-decode to a space on every
    // scan of the clone (URLDecoder rewrites '+', not just %XX) — refuse
    // up front like '%'
    val plusRoot = new File(tmpTable("clone_plus_dir"), "a+b")
    val plusSrc = new File(plusRoot, "t").getAbsolutePath
    DeltaWriter.append(nation.limit(3).repartition(1), plusSrc)
    val plusErr = intercept[IllegalArgumentException] {
      DeltaWriter.cloneShallow(spark, plusSrc, tmpTable("clone_plus_dst"))
    }
    assert(plusErr.getMessage.contains("'+'"))
  }

  test("shallow clone VERSION AS OF clones the historical snapshot with as-of metadata") {
    val src = tmpTable("clonev_src")
    val dst = tmpTable("clonev_dst")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10).repartition(1), src)   // v0
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)
      .repartition(1), src)                                                          // v1
    DeltaWriter.delete(spark, src, col("n_nationkey") >= 15)                          // v2
    DeltaWriter.cloneShallow(spark, src, dst, versionAsOf = Some(1L))
    // the clone IS the v1 snapshot, even though the source has moved on
    assert(graft.sources.DeltaReader.load(spark, dst).collect().toSet ==
      nation.filter(col("n_nationkey") < 20).collect().toSet)
    assert(graft.sources.DeltaReader.load(spark, src).collect().toSet ==
      nation.filter(col("n_nationkey") < 15).collect().toSet)

    // a version clone below the retained log horizon refuses naming the
    // cleanup: checkpoint + log cleanup removes the early JSON commits
    // that carry the as-of metaData
    DeltaWriter.checkpoint(spark, src)
    DeltaWriter.cleanupLogs(spark, src, retainMs = Some(0L))
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.cloneShallow(spark, src, tmpTable("clonev_dst2"),
        versionAsOf = Some(0L))
    }
    assert(e.getMessage.contains("log-retention"))
    // but a version AT-OR-PAST a retained checkpoint clones fine: the
    // checkpoint at c ≤ v is a valid as-of metadata source (it cannot
    // carry records postdating v)
    val ckptV = DeltaReader.snapshot(spark, src).version
    DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 20).repartition(1), src)
    val dst3 = tmpTable("clonev_dst3")
    DeltaWriter.cloneShallow(spark, src, dst3, versionAsOf = Some(ckptV))
    assert(graft.sources.DeltaReader.load(spark, dst3).collect().toSet ==
      nation.filter(col("n_nationkey") < 15).collect().toSet)
  }

  test("deep clone owns its bytes: a source vacuum cannot break it; deep-cloning a shallow clone heals the coupling") {
    def dataFiles(root: File): Set[String] = {
      def walk(f: File): Seq[File] =
        if (f.getName == "_delta_log") Nil
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
        else Seq(f)
      walk(root).map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val src = tmpTable("dclone_src")
    val dst = tmpTable("dclone_dst")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") < 15).repartition(1), src)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 15).repartition(1), src)
    // a live "u" deletion vector: its sidecar must be COPIED with the
    // clone, descriptor unchanged
    DeltaWriter.deleteWithVectors(spark, src, col("n_nationkey") % 6 === 2)
    val expected = nation.filter(col("n_nationkey") % 6 =!= 2)

    DeltaWriter.cloneDeep(spark, src, dst)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      expected.collect().toSet)
    // the clone OWNS copies (contrast: shallow's dir holds only its log)
    assert(dataFiles(new File(dst)) == dataFiles(new File(src)))

    // the decoupling contract: rewrite the source and vacuum its old
    // bytes away — the deep clone keeps reading its own copies
    DeltaWriter.overwrite(nation.limit(1), src)
    DeltaWriter.vacuum(spark, src, retainMs = 0L)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      expected.collect().toSet)
    // and the clone's own vacuum keeps its live files AND the copied
    // DV sidecar (both are in its live set)
    DeltaWriter.vacuum(spark, dst, retainMs = 0L)
    assert(DeltaReader.load(spark, dst).collect().toSet ==
      expected.collect().toSet)

    // healing a SHALLOW clone: deep clone re-addresses the shallow's
    // absolute file references (and its "p" deletion vectors) into
    // clone-owned relative copies — the escape hatch for the shallow
    // clone's source-vacuum liveness coupling
    val src2 = tmpTable("dclone_src2")
    val shal = tmpTable("dclone_shal")
    val healed = tmpTable("dclone_healed")
    DeltaWriter.append(nation.repartition(2), src2)
    DeltaWriter.deleteWithVectors(spark, src2, col("n_nationkey") === 7)
    val expected2 = nation.filter(col("n_nationkey") =!= 7)
    DeltaWriter.cloneShallow(spark, src2, shal)
    DeltaWriter.cloneDeep(spark, shal, healed)
    // no absolute references survive in the healed log: every add is
    // table-relative and every DV descriptor is "u" or "i"
    val healedSnap = DeltaReader.snapshot(spark, healed)
    assert(healedSnap.files.forall(a =>
      !java.net.URLDecoder.decode(a.path, "UTF-8").startsWith("/")))
    assert(healedSnap.files.flatMap(_.deletionVector)
      .forall(_.storageType != "p"))
    // destroy the original source entirely — the healed clone reads on
    DeltaWriter.overwrite(nation.limit(1), src2)
    DeltaWriter.vacuum(spark, src2, retainMs = 0L)
    assert(DeltaReader.load(spark, healed).collect().toSet ==
      expected2.collect().toSet)

    // VERSION AS OF deep-clones the historical snapshot's bytes
    val dstV = tmpTable("dclone_v0")
    DeltaWriter.cloneDeep(spark, dst, dstV, versionAsOf = Some(0L))
    assert(DeltaReader.load(spark, dstV).collect().toSet ==
      expected.collect().toSet)

    // refusals mirror the shallow verb
    intercept[IllegalArgumentException] {
      DeltaWriter.cloneDeep(spark, src, dst)
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.cloneDeep(spark, tmpTable("dclone_nowhere"),
        tmpTable("dclone_dst2"))
    }
  }

  test("COPY INTO ingests each landing file exactly once; FORCE reloads; CSV reads under the table schema") {
    val root = new File(tmpTable("copy_into"))
    val landing = new File(root, "landing")
    val tbl = new File(root, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.limit(0), tbl) // schema-only create
    nation.filter(col("n_nationkey") < 10).repartition(2)
      .write.parquet(new File(landing, "w1").getAbsolutePath)

    val (v1, f1) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v1.nonEmpty && f1.size == 2)
    assert(DeltaReader.load(spark, tbl).collect().toSet ==
      nation.filter(col("n_nationkey") < 10).collect().toSet)

    // idempotent: the same call publishes NOTHING
    val (v2, f2) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v2.isEmpty && f2.isEmpty)
    assert(DeltaReader.snapshot(spark, tbl).version == v1.get)

    // a second wave lands ONLY the new files
    nation.filter(col("n_nationkey") >= 10).repartition(2)
      .write.parquet(new File(landing, "w2").getAbsolutePath)
    val (v3, f3) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v3.nonEmpty && f3.size == 2 && f3.forall(_.contains("w2")))
    assert(DeltaReader.load(spark, tbl).collect().toSet ==
      nation.collect().toSet)

    // the ledger survives checkpoint + log cleanup (txn carry)
    DeltaWriter.checkpoint(spark, tbl)
    DeltaWriter.cleanupLogs(spark, tbl, retainMs = Some(0L))
    val (v4, f4) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v4.isEmpty && f4.isEmpty)

    // FORCE ignores the ledger: every file reloads, rows double
    val (v5, f5) = DeltaWriter.copyInto(spark, tbl,
      landing.getAbsolutePath, force = true)
    assert(v5.nonEmpty && f5.size == 4)
    assert(DeltaReader.load(spark, tbl).count() == nation.count() * 2)

    // the ledger survives a V2 UUID checkpoint + cleanup too (the
    // layouts the snapshot replay supports must all carry it — a
    // classic-only ledger read would re-ingest everything here)
    DeltaWriter.checkpointV2(spark, tbl)
    DeltaWriter.cleanupLogs(spark, tbl, retainMs = Some(0L))
    val (v6, f6) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v6.isEmpty && f6.isEmpty)

    // CSV binds by HEADER NAME under the table's types: a producer
    // writing its columns in a different order must still load right
    // (a pinned-schema read would bind positionally — silent damage)
    val csvTbl = new File(root, "csvtable").getAbsolutePath
    val csvLanding = new File(root, "csvlanding")
    DeltaWriter.append(nation.limit(0), csvTbl)
    nation.select(col("n_name"), col("n_regionkey"), col("n_nationkey"))
      .coalesce(1).write.option("header", "true")
      .csv(csvLanding.getAbsolutePath)
    val (cv, cf) = DeltaWriter.copyInto(spark, csvTbl,
      csvLanding.getAbsolutePath, format = "csv")
    assert(cv.nonEmpty && cf.nonEmpty)
    assert(DeltaReader.load(spark, csvTbl).collect().toSet ==
      nation.collect().toSet)

    // ONE batch mixing files with DIFFERENT header orders: a naive
    // multi-file csv read infers names from one file's header and binds
    // the rest positionally — transposed data. The per-header-group
    // read must land every file correctly by name.
    val mixTbl = new File(root, "mixtable").getAbsolutePath
    val mixLanding = new File(root, "mixlanding")
    DeltaWriter.append(nation.limit(0), mixTbl)
    nation.filter(col("n_nationkey") < 12)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.option("header", "true")
      .csv(new File(mixLanding, "a").getAbsolutePath)
    nation.filter(col("n_nationkey") >= 12)
      .select(col("n_regionkey"), col("n_name"), col("n_nationkey"))
      .coalesce(1).write.option("header", "true")
      .csv(new File(mixLanding, "b").getAbsolutePath)
    // a ZERO-BYTE landing file (in-flight marker) must not wedge the
    // batch: it contributes no rows but ledgers with the wave, so the
    // rerun no-ops instead of refusing forever
    val marker = new File(mixLanding, "marker.csv")
    java.nio.file.Files.createFile(marker.toPath)
    val (mv, mf) = DeltaWriter.copyInto(spark, mixTbl,
      mixLanding.getAbsolutePath, format = "csv")
    assert(mv.nonEmpty && mf.size == 3)
    assert(DeltaReader.load(spark, mixTbl).collect().toSet ==
      nation.collect().toSet)
    val (mv2, mf2) = DeltaWriter.copyInto(spark, mixTbl,
      mixLanding.getAbsolutePath, format = "csv")
    assert(mv2.isEmpty && mf2.isEmpty)

    // a DRAINED landing dir (files archived after load) is the steady
    // state — the scheduled rerun must no-op, not throw
    val drained = new File(root, "drained")
    drained.mkdirs()
    val (dv, dfiles) = DeltaWriter.copyInto(spark, tbl,
      drained.getAbsolutePath)
    assert(dv.isEmpty && dfiles.isEmpty)

    // refusals: missing table, missing dir, bad format
    intercept[IllegalArgumentException] {
      DeltaWriter.copyInto(spark, new File(root, "nowhere").getAbsolutePath,
        landing.getAbsolutePath)
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.copyInto(spark, tbl, new File(root, "nodir").getAbsolutePath)
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath, format = "orc")
    }
  }

  test("walkScalably: the distributed listing matches the driver walk on a 10^4-file tree") {
    val root = new File(tmpTable("walk_scale"))
    var expected = Set.empty[String]
    for (a <- 0 until 15; b <- 0 until 10) {
      val dir = new File(root, s"a$a/b$b"); dir.mkdirs()
      for (i <- 0 until 70) {
        val f = new File(dir, s"f$i.parquet")
        java.nio.file.Files.createFile(f.toPath)
        expected += f.getAbsolutePath
      }
      // noise the keep filter must drop
      java.nio.file.Files.createFile(new File(dir, s"noise$b.txt").toPath)
    }
    // a dot-dir subtree the skip rule must prune whole
    val hidden = new File(root, ".stage-x"); hidden.mkdirs()
    java.nio.file.Files.createFile(new File(hidden, "h.parquet").toPath)
    assert(expected.size == 10500)
    def run(threshold: Int): Seq[(String, Long)] =
      graft.sources.DeltaWriter.walkScalably(spark, root,
        skipName = _.startsWith("."),
        keepName = _.endsWith(".parquet"), threshold)
    // a tiny threshold hands almost the whole tree to the distributed
    // pass; the default threshold (4096 < 10500) also engages it; a
    // huge threshold keeps everything on the driver — identical sets
    val tiny = run(10)
    val default = run(4096)
    val driverOnly = run(Int.MaxValue)
    assert(tiny.map(_._1).toSet == expected)
    assert(default.map(_._1).toSet == expected)
    assert(driverOnly.map(_._1).toSet == expected)
    // no duplicates across the driver/distributed seam
    assert(tiny.size == expected.size && default.size == expected.size)
    // mtimes ride along (vacuum's orphan-horizon check needs them)
    assert(tiny.forall(_._2 > 0L))
  }

  test("NOT NULL column invariant gates every row-landing verb") {
    import spark.implicits._
    val path = tmpTable("not_null")
    // tuple toDF declares the Int column non-nullable — the schema-
    // embedded invariant the delta protocol carries
    val create = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(!create.schema("k").nullable)
    DeltaWriter.append(create, path)
    assert(!DeltaReader.snapshot(spark, path).schema("k").nullable)

    // an incoming frame may DECLARE k nullable (schema equality is by
    // name→type); the DATA is what must refuse
    val nullK = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(null, "c"),
        org.apache.spark.sql.Row(3, "d")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType, nullable = true),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType, nullable = true))))
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.append(nullK, path)
    }
    assert(e.getMessage.contains("NOT NULL") && e.getMessage.contains("k"))
    // nothing landed
    assert(DeltaReader.load(spark, path).count() == 2)

    // a NULL in the NULLABLE column passes
    val nullV = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(3, null)),
      nullK.schema)
    DeltaWriter.append(nullV, path)
    assert(DeltaReader.load(spark, path).count() == 3)

    // merge: a source carrying NULL in the strict column refuses
    intercept[IllegalArgumentException] {
      DeltaWriter.merge(nullK, path, Seq("v"))
    }
    // overwrite refuses too (same validateAgainstTable seam)
    intercept[IllegalArgumentException] {
      DeltaWriter.overwrite(nullK, path)
    }
    // UPDATE SET k = NULL refuses over the post-SET rows — both the
    // copy-on-write and the merge-on-read spelling
    intercept[IllegalArgumentException] {
      DeltaWriter.update(spark, path, col("v") === "a",
        Map("k" -> lit(null)))
    }
    intercept[IllegalArgumentException] {
      DeltaWriter.updateWithVectors(spark, path, col("v") === "a",
        Map("k" -> lit(null)))
    }
    // and a lawful update still works
    DeltaWriter.update(spark, path, col("v") === "a", Map("k" -> lit(10)))
    assert(DeltaReader.load(spark, path).filter(col("k") === 10).count() == 1)
  }

  test("txn-ledger retention: checkpoints expire entries past delta.setTransactionRetentionDuration; idempotence intact within the window") {
    val root = new File(tmpTable("txn_retention"))
    val landing = new File(root, "landing")
    val tbl = new File(root, "table").getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.limit(0), tbl)
    nation.filter(col("n_nationkey") < 10).coalesce(1)
      .write.parquet(new File(landing, "w1").getAbsolutePath)
    val (v1, f1) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v1.nonEmpty && f1.size == 1)

    // WITHIN a generous window: the checkpoint carries the dated ledger
    // and a rerun after full log cleanup still no-ops — retention does
    // not weaken idempotence inside the window
    DeltaWriter.setTableProperty(spark, tbl,
      "delta.setTransactionRetentionDuration", "interval 30 days")
    DeltaWriter.checkpoint(spark, tbl)
    DeltaWriter.cleanupLogs(spark, tbl, retainMs = Some(0L))
    val (v2, f2) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v2.isEmpty && f2.isEmpty)

    // shrink the window to zero: the NEXT checkpoint drops every dated
    // entry — expired entries are absent from the new checkpoint file
    DeltaWriter.setTableProperty(spark, tbl,
      "delta.setTransactionRetentionDuration", "0")
    val cpV = DeltaWriter.checkpoint(spark, tbl)
    val cpFile = new File(new File(tbl, "_delta_log"),
      f"$cpV%020d.checkpoint.parquet")
    assert(cpFile.isFile)
    val cpDf = spark.read.parquet(cpFile.getAbsolutePath)
    val carried =
      if (!cpDf.columns.contains("txn")) Nil
      else cpDf.filter(col("txn").isNotNull)
        .select(col("txn.appId")).collect().map(_.getString(0)).toSeq
    assert(!carried.exists(_.startsWith("graft-copy-into:")),
      s"expired copy-into ledger entries still in checkpoint: $carried")

    // once log cleanup also removes the JSON commits, the ledger has
    // forgotten the window's files — re-ingest past the window is the
    // DECLARED semantics (the window is the operator's redelivery-lag
    // promise), not a defect
    DeltaWriter.cleanupLogs(spark, tbl, retainMs = Some(0L))
    val (v3, f3) = DeltaWriter.copyInto(spark, tbl, landing.getAbsolutePath)
    assert(v3.nonEmpty && f3.size == 1)
    assert(DeltaReader.load(spark, tbl).count() ==
      nation.filter(col("n_nationkey") < 10).count() * 2)

    // a table WITHOUT the property never expires (delta's default): the
    // same checkpoint + cleanup cycle keeps the ledger intact
    val tbl2 = new File(root, "table2").getAbsolutePath
    val landing2 = new File(root, "landing2")
    DeltaWriter.append(nation.limit(0), tbl2)
    nation.limit(3).coalesce(1)
      .write.parquet(new File(landing2, "w").getAbsolutePath)
    assert(DeltaWriter.copyInto(spark, tbl2,
      landing2.getAbsolutePath)._1.nonEmpty)
    DeltaWriter.checkpoint(spark, tbl2)
    DeltaWriter.cleanupLogs(spark, tbl2, retainMs = Some(0L))
    assert(DeltaWriter.copyInto(spark, tbl2,
      landing2.getAbsolutePath)._1.isEmpty)
  }

  test("partition-scoped OPTIMIZE WHERE rewrites only the matching partitions") {
    val path = tmpTable("opt_where")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    // two appends → two files PER partition dir
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 === 0),
      path, Seq("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") % 2 =!= 0),
      path, Seq("n_regionkey"))
    val before = DeltaReader.snapshot(spark, path)
    def partOf(a: graft.sources.DeltaActions.AddFile): String =
      a.partitionValues("n_regionkey").get
    assert(before.files.count(a => partOf(a) == "1") == 2)

    val v = DeltaWriter.compact(spark, path,
      where = Some(col("n_regionkey") === 1))
    assert(v == 2L)
    val after = DeltaReader.snapshot(spark, path)
    // region 1 compacted to one file; every OTHER partition's files are
    // THE SAME adds — untouched, not rewritten-and-re-added
    assert(after.files.count(a => partOf(a) == "1") == 1)
    assert(after.files.filter(a => partOf(a) != "1").map(_.path).toSet ==
      before.files.filter(a => partOf(a) != "1").map(_.path).toSet)
    // content exact; the commit is LAYOUT-ONLY (CDC windows skip it)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      nation.collect().toSet)
    val feed = DeltaReader.loadChangeFeed(spark, path, 1L, 2L)
    assert(feed.isEmpty)

    // scoped no-op: a predicate matching nothing publishes no commit
    assert(DeltaWriter.compact(spark, path,
      where = Some(col("n_regionkey") === 99)) == 2L)
    assert(DeltaReader.snapshot(spark, path).version == 2L)

    // refusals: row predicate, unpartitioned table
    val e1 = intercept[IllegalArgumentException] {
      DeltaWriter.compact(spark, path,
        where = Some(col("n_nationkey") > 3))
    }
    assert(e1.getMessage.contains("partition columns only"))
    val flat = tmpTable("opt_where_flat")
    DeltaWriter.append(nation, flat)
    val e2 = intercept[IllegalArgumentException] {
      DeltaWriter.compact(spark, flat,
        where = Some(col("n_regionkey") === 1))
    }
    assert(e2.getMessage.contains("partitioned"))
  }

  test("convert to delta: in-place migration preserves rows, moves nothing, computes stats, and unlocks the verb surface") {
    def dataFiles(root: File): Map[String, Long] = {
      def walk(f: File): Seq[File] =
        if (f.getName == "_delta_log" || f.getName.startsWith(".")) Nil
        else if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(root).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))

    // hive-partitioned plain parquet → delta, zero movement
    val dir = tmpTable("convert_part")
    nation.write.mode("overwrite").partitionBy("n_regionkey").parquet(dir)
    val before = dataFiles(new File(dir))
    assert(DeltaWriter.convertToDelta(spark, dir) == 0L)
    assert(dataFiles(new File(dir)) == before) // same files, untouched
    assert(DeltaReader.load(spark, dir).collect().toSet ==
      nation.collect().toSet)
    val snap = DeltaReader.snapshot(spark, dir)
    assert(snap.partitionColumns == Seq("n_regionkey"))
    // typed partition values restored, stats riding every add
    assert(snap.files.nonEmpty && snap.files.forall(_.stats.nonEmpty))
    assert(snap.files.forall(_.partitionValues.keySet == Set("n_regionkey")))
    // the converted table carries the REAL verb surface: DELETE,
    // OPTIMIZE, time travel back to the converted state
    DeltaWriter.delete(spark, dir, col("n_nationkey") % 5 === 0)
    assert(DeltaReader.load(spark, dir).collect().toSet ==
      nation.filter(col("n_nationkey") % 5 =!= 0).collect().toSet)
    assert(DeltaReader.loadAt(spark, dir, 0L).collect().toSet ==
      nation.collect().toSet)

    // unpartitioned convert
    val flat = tmpTable("convert_flat")
    nation.write.mode("overwrite").parquet(flat)
    DeltaWriter.convertToDelta(spark, flat)
    assert(DeltaReader.load(spark, flat).collect().toSet ==
      nation.collect().toSet)
    assert(DeltaReader.snapshot(spark, flat).partitionColumns.isEmpty)

    // refusals: double convert, no parquet files, mixed layout
    intercept[IllegalArgumentException] {
      DeltaWriter.convertToDelta(spark, flat)
    }
    val empty = tmpTable("convert_empty")
    new File(empty).mkdirs()
    intercept[IllegalArgumentException] {
      DeltaWriter.convertToDelta(spark, empty)
    }
    val mixed = tmpTable("convert_mixed")
    nation.limit(3).write.parquet(mixed)
    nation.limit(3).write.mode("append")
      .partitionBy("n_regionkey").parquet(mixed)
    intercept[IllegalArgumentException] {
      DeltaWriter.convertToDelta(spark, mixed)
    }
  }

  test("generated columns: computed at create, enforced on append, recomputed on update") {
    val path = tmpTable("gen_cols")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.filter(col("n_nationkey") < 10), path,
      Seq("rk10"), generated = Map("rk10" -> "n_regionkey * 10"))
    // declared at create: computed, stamped into the schema, readable
    val snap = DeltaReader.snapshot(spark, path)
    assert(snap.schema("rk10").metadata.getString("delta.generationExpression")
      == "n_regionkey * 10")
    def check(): Unit = {
      val rows = DeltaReader.load(spark, path).collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(
        r.getAs[Number]("rk10").longValue ==
          r.getAs[Number]("n_regionkey").longValue * 10))
    }
    check()
    // append WITHOUT the column: the writer computes it
    DeltaWriter.append(
      nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20),
      path, Seq("rk10"))
    check()
    // append WITH consistent values: accepted
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 20)
      .withColumn("rk10", col("n_regionkey") * 10), path, Seq("rk10"))
    check()
    assert(DeltaReader.load(spark, path).count() == 25L)
    // append with DIVERGENT values: refused, nothing committed
    val before = DeltaReader.snapshot(spark, path).version
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.append(nation.limit(3).withColumn("rk10", lit(-1).cast("int")),
        path, Seq("rk10"))
    }
    assert(e.getMessage.contains("generated column rk10"))
    assert(DeltaReader.snapshot(spark, path).version == before)
    // a direct SET on the generated column refuses
    val e2 = intercept[IllegalArgumentException] {
      DeltaWriter.update(spark, path, col("n_nationkey") === 3,
        Map("rk10" -> lit(999L)))
    }
    assert(e2.getMessage.contains("cannot SET generated column"))
    // a SET on the SOURCE column recomputes the generated partition key
    // and re-buckets the row into its new dir
    DeltaWriter.update(spark, path, col("n_nationkey") === 3,
      Map("n_regionkey" -> lit(7L)))
    check()
    val moved = DeltaReader.load(spark, path)
      .filter(col("n_nationkey") === 3).collect()
    assert(moved.length == 1 &&
      moved.head.getAs[Number]("rk10").longValue == 70L)
    // merge-on-read update keeps the same invariant
    DeltaWriter.updateWithVectors(spark, path, col("n_nationkey") === 4,
      Map("n_regionkey" -> lit(6L)))
    check()
    assert(DeltaReader.load(spark, path)
      .filter(col("n_nationkey") === 4).head()
      .getAs[Number]("rk10").longValue == 60L)
    // MERGE enforces it too: a consistent upsert source lands, a
    // divergent one refuses before any commit
    DeltaWriter.merge(
      nation.filter(col("n_nationkey") === 5)
        .withColumn("n_name", lit("MERGED"))
        .withColumn("rk10", col("n_regionkey") * 10),
      path, Seq("n_nationkey"))
    check()
    assert(DeltaReader.load(spark, path)
      .filter(col("n_nationkey") === 5).head()
      .getAs[String]("n_name") == "MERGED")
    val vBefore = DeltaReader.snapshot(spark, path).version
    val e3 = intercept[IllegalArgumentException] {
      DeltaWriter.merge(
        nation.filter(col("n_nationkey") === 6)
          .withColumn("rk10", lit(-1).cast("int")),
        path, Seq("n_nationkey"))
    }
    assert(e3.getMessage.contains("generated column rk10"))
    assert(DeltaReader.snapshot(spark, path).version == vBefore)
  }

  test("a clone's own checkpoint and log cleanup preserve absolute-path adds") {
    val src = tmpTable("clone_ckpt_src")
    val dst = tmpTable("clone_ckpt_dst")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation.repartition(1), src)
    DeltaWriter.cloneShallow(spark, src, dst)
    DeltaWriter.append(
      nation.filter(col("n_nationkey") < 3)
        .withColumn("n_nationkey", col("n_nationkey") + 100), dst)
    val expected = DeltaReader.load(spark, dst).collect().toSet
    // checkpoint serializes the absolute-path adds; cleanup removes the
    // JSON prefix; replay from the checkpoint must still resolve the
    // source's files absolutely
    DeltaWriter.checkpoint(spark, dst)
    DeltaWriter.cleanupLogs(spark, dst, retainMs = Some(0L))
    assert(DeltaReader.load(spark, dst).collect().toSet == expected)
    // and the clone's vacuum after cleanup still leaves the source whole
    DeltaWriter.vacuum(spark, dst, retainMs = 0L)
    assert(DeltaReader.load(spark, src).count() == 25L)
    assert(DeltaReader.load(spark, dst).collect().toSet == expected)
  }

  test("walkScalably: one giant deep subtree among small siblings lists identically") {
    val root = new File(tmpTable("walk_skew"))
    var expected = Set.empty[String]
    def put(dir: File, n: Int): Unit = {
      dir.mkdirs()
      for (i <- 0 until n) {
        val f = new File(dir, s"f$i.parquet")
        java.nio.file.Files.createFile(f.toPath)
        expected += f.getAbsolutePath
      }
    }
    // small siblings a distributed pass could finish instantly…
    for (s <- 0 until 20) put(new File(root, s"small$s"), 2)
    // …next to ONE subtree that is both deep (a 12-level chain) and
    // wide at the bottom (120 leaf dirs): the old recursive pass gave
    // this whole subtree to a single task; the level-at-a-time rounds
    // must fan its width across tasks and still return the same set
    var chain = new File(root, "giant")
    for (level <- 0 until 12) {
      chain = new File(chain, s"d$level")
      put(chain, 3)
    }
    for (leaf <- 0 until 120) put(new File(chain, s"leaf$leaf"), 6)
    def run(threshold: Int): Seq[(String, Long)] =
      DeltaWriter.walkScalably(spark, root,
        skipName = _.startsWith("."),
        keepName = _.endsWith(".parquet"), threshold)
    // threshold 1 pushes essentially the whole tree through the
    // distributed rounds; the driver-only walk is the ground truth
    val skewed = run(1)
    val driverOnly = run(Int.MaxValue)
    assert(driverOnly.map(_._1).toSet == expected)
    assert(skewed.map(_._1).toSet == expected)
    assert(skewed.size == expected.size) // no dupes across rounds
  }

  test("vacuum: the distributed unlink sweep leaves the same tree as the driver loop") {
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    // two identical tables; one sweeps with a dead-set ABOVE the unlink
    // threshold (distributed deletes — forced low, the same spec knob
    // copyInto's probeThreshold gives), one below (driver loop) — the
    // post-sweep trees must agree: orphans gone, their emptied dirs
    // collapsed, live data + log intact
    def build(name: String, orphans: Int): String = {
      val path = tmpTable(name)
      DeltaWriter.append(nation.repartition(1), path)
      for (dir <- 0 until 10) {
        val sub = new File(path, s"junk=$dir"); sub.mkdirs()
        for (i <- 0 until (orphans / 10))
          java.nio.file.Files.createFile(
            new File(sub, s"orphan$i.parquet").toPath)
      }
      path
    }
    def sweepAndCheck(path: String, orphans: Int, threshold: Int): Unit = {
      val dead = DeltaWriter.vacuum(spark, path, retainMs = 0L,
        unlinkThreshold = threshold)
      assert(dead.length == orphans)
      // orphan dirs collapsed, live table intact and readable
      val left = Option(new File(path).listFiles()).get.map(_.getName).toSet
      assert(!left.exists(_.startsWith("junk=")))
      assert(DeltaReader.load(spark, path).count() == 25L)
    }
    sweepAndCheck(build("vac_driver", 100), 100, threshold = 4096)
    sweepAndCheck(build("vac_dist", 120), 120, threshold = 10)
  }

  test("copyInto: the CSV header probe binds by name through the distributed pass too") {
    val root = new File(tmpTable("copy_dist_probe"))
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val tbl = new File(root, "t").getAbsolutePath
    DeltaWriter.append(nation.limit(0), tbl)
    val landing = new File(root, "landing")
    // two header orders in one wave + a zero-byte in-flight marker —
    // the exact mixed batch the header grouping exists for, forced
    // through the DISTRIBUTED probe (threshold 0)
    nation.filter(col("n_nationkey") < 12)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .coalesce(1).write.option("header", "true")
      .csv(new File(landing, "a").getAbsolutePath)
    nation.filter(col("n_nationkey") >= 12)
      .select(col("n_regionkey"), col("n_name"), col("n_nationkey"))
      .coalesce(1).write.option("header", "true")
      .csv(new File(landing, "b").getAbsolutePath)
    java.nio.file.Files.createFile(new File(landing, "marker.csv").toPath)
    val (v, files) = DeltaWriter.copyInto(spark, tbl,
      landing.getAbsolutePath, format = "csv", probeThreshold = 0)
    assert(v.nonEmpty && files.size == 3)
    assert(DeltaReader.load(spark, tbl).collect().toSet ==
      nation.collect().toSet)
    // the marker ledgered with the wave: the rerun no-ops distributed too
    val (v2, f2) = DeltaWriter.copyInto(spark, tbl,
      landing.getAbsolutePath, format = "csv", probeThreshold = 0)
    assert(v2.isEmpty && f2.isEmpty)
  }

  test("CDF on a partitioned table: cdc files hive-partition and actions carry partitionValues") {
    val path = tmpTable("cdf_part")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.overwrite(nation, path, partitionBy = Seq("n_regionkey"),
      properties = Map("delta.enableChangeDataFeed" -> "true")) // v0
    // a delete scoped to ONE partition…
    DeltaWriter.delete(spark, path,
      col("n_regionkey") === 2 && col("n_nationkey") % 2 === 0) // v1
    // …and an update touching two partitions
    DeltaWriter.update(spark, path, col("n_nationkey").isin(1, 3),
      Map("n_name" -> lit("UPDATED"))) // v2
    // layout: every cdc file sits under a hive partition dir, and its
    // action's partitionValues name exactly that partition — the
    // pruning contract a partition-scoped CDF consumer relies on
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val cdcActs = Option(new File(path, "_delta_log").listFiles()).get
      .filter(_.getName.matches("\\d{20}\\.json")).sorted.toSeq
      .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines()
        .filter(_.contains("\"cdc\""))
        .map(l => jackson.readTree(l).get("cdc")).toSeq)
    assert(cdcActs.nonEmpty)
    cdcActs.foreach { c =>
      val rel = c.get("path").asText()
      assert(rel.matches("_change_data/n_regionkey=\\d+/.*\\.parquet"), rel)
      val pv = c.get("partitionValues")
      assert(pv.has("n_regionkey"))
      assert(rel.contains(s"n_regionkey=${pv.get("n_regionkey").asText()}"))
    }
    // the delete commit's cdc files live ONLY under the one touched
    // partition — reading that partition's changes touches no other's
    val deleteDirs = Option(new File(path, "_change_data").listFiles()).get
      .filter(_.isDirectory).map(_.getName).toSet
    assert(deleteDirs.contains("n_regionkey=2"))
    // exactness: the feed reproduces delta's event spellings with the
    // partition column restored TYPED from partitionValues
    val feed = DeltaReader.loadChangeFeed(spark, path, 0L, 2L)
    assert(feed.schema("n_regionkey").dataType ==
      nation.schema("n_regionkey").dataType)
    val deletes = feed.filter(col("_commit_version") === 1L)
      .select("n_nationkey", "n_regionkey", "_change_type").collect()
    assert(deletes.forall(r => r.getString(2) == "delete" && r.getInt(1) == 2
      && r.getInt(0) % 2 == 0))
    val expectDel = nation.filter(col("n_regionkey") === 2 &&
      col("n_nationkey") % 2 === 0).count()
    assert(deletes.length == expectDel)
    val ups = feed.filter(col("_commit_version") === 2L)
      .groupBy(col("_change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ups == Map("update_preimage" -> 2L, "update_postimage" -> 2L))
    // no survivor churn: only matched rows appear
    assert(feed.count() == expectDel + 4L)
  }

  test("CDF on a NAME-MAPPED partitioned table: cdc dirs use physical spellings, feed restores logical") {
    val path = tmpTable("cdf_part_mapped")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.append(nation, path, partitionBy = Seq("n_regionkey"),
      columnMapping = "name") // v0
    DeltaWriter.setTableProperty(spark, path,
      "delta.enableChangeDataFeed", "true") // v1
    DeltaWriter.delete(spark, path,
      col("n_regionkey") === 1 && col("n_nationkey") % 2 === 1) // v2
    val snap = DeltaReader.snapshot(spark, path)
    val physPart = snap.physicalNames("n_regionkey")
    assert(physPart != "n_regionkey") // mapping minted a col-<uuid>
    // cdc files hive-partition under the PHYSICAL spelling — the add
    // actions' partitionValues convention, so one pruning rule serves
    // data and change files alike
    val cdcDirs = Option(new File(path, "_change_data").listFiles())
      .getOrElse(Array.empty[File]).filter(_.isDirectory).map(_.getName)
    assert(cdcDirs.nonEmpty && cdcDirs.forall(_.startsWith(s"$physPart=")))
    // the feed restores the LOGICAL partition column, typed
    val feed = DeltaReader.loadChangeFeed(spark, path, 1L, 2L)
      .select("n_nationkey", "n_regionkey", "_change_type").collect()
    val expect = nation.filter(col("n_regionkey") === 1 &&
      col("n_nationkey") % 2 === 1).count()
    assert(feed.length == expect)
    assert(feed.forall(r => r.getString(2) == "delete" &&
      r.getInt(1) == 1 && r.getInt(0) % 2 == 1))
  }

  test("CDF legacy layout: inline-partition cdc files (empty partitionValues) still read") {
    val path = tmpTable("cdf_legacy")
    val nation = Tables.t(spark, d, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    DeltaWriter.overwrite(nation, path, partitionBy = Seq("n_regionkey"),
      properties = Map("delta.enableChangeDataFeed" -> "true")) // v0
    // hand-stage a pre-r20 cdc file: full logical row INLINE (partition
    // column included) with an empty-partitionValues cdc action — the
    // layout earlier releases wrote; the reader must route it through
    // the legacy schema instead of null-filling n_regionkey
    val cdcDir = new File(path, "_change_data"); cdcDir.mkdirs()
    val stage = new File(path, ".stage-legacy")
    nation.filter(col("n_nationkey") === 7)
      .withColumn("_change_type", lit("delete"))
      .coalesce(1).write.mode("overwrite").parquet(stage.getAbsolutePath)
    val part = Option(stage.listFiles()).get
      .filter(_.getName.endsWith(".parquet")).head
    val dest = new File(cdcDir, part.getName)
    java.nio.file.Files.move(part.toPath, dest.toPath)
    val v = DeltaWriter.publishOptimistic(new File(path), 1L, Seq(
      AddCDCFile(s"_change_data/${dest.getName}", Map.empty, dest.length())))
    assert(v == 1L)
    val feed = DeltaReader.loadChangeFeed(spark, path, 0L, 1L)
    val rows = feed.select("n_nationkey", "n_regionkey", "_change_type")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getInt(0) == 7 && !rows.head.isNullAt(1) &&
      rows.head.getString(2) == "delete")
  }

  test("merge CDF under duplicate-key targets: 1:1 pre/post pairing, surplus rows emit delete") {
    import spark.implicits._
    val path = tmpTable("cdf_dupkey")
    // TWO target rows share k=1 (replace-all semantics); one source row
    DeltaWriter.overwrite(Seq((1, "old-a"), (1, "old-b"), (2, "keep"))
      .toDF("k", "v"), path,
      properties = Map("delta.enableChangeDataFeed" -> "true")) // v0
    DeltaWriter.merge(Seq((1, "new"), (3, "ins")).toDF("k", "v"), path,
      Seq("k")) // v1
    val feed = DeltaReader.loadChangeFeed(spark, path, 0L, 1L)
      .select("k", "v", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val counts = feed.groupBy(_._3).map { case (t, rs) => t -> rs.size }
    // exactly ONE pre-image pairs the one post-image; the surplus
    // duplicate leaves as a delete; the unmatched source row inserts
    assert(counts == Map("update_preimage" -> 1, "update_postimage" -> 1,
      "delete" -> 1, "insert" -> 1))
    val removedOld = feed.collect {
      case (1, vv, t) if t == "update_preimage" || t == "delete" => vv
    }
    assert(removedOld == Set("old-a", "old-b"))
    assert(feed.contains((1, "new", "update_postimage")))
    assert(feed.contains((3, "ins", "insert")))
    // and the table state is the replace-all result
    assert(DeltaReader.load(spark, path).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "new"), (2, "keep"), (3, "ins")))
  }

  test("reserved-word partition columns: tables partitioned by `protocol` or `metaData` keep the log verbs working") {
    val nation = Tables.t(spark, d, "nation")
    val p1 = tmpTable("pc_protocol")
    DeltaWriter.append(
      nation.withColumn("protocol", col("n_regionkey").cast("string")), p1,
      partitionBy = Seq("protocol"))
    DeltaWriter.deleteWithVectors(spark, p1, col("n_nationkey") < 5)
    DeltaWriter.checkpoint(spark, p1)
    val saved = System.err
    val err = new java.io.ByteArrayOutputStream()
    System.setErr(new java.io.PrintStream(err, true))
    val (snap, rows) =
      try (DeltaReader.snapshot(spark, p1), DeltaReader.load(spark, p1).count())
      finally System.setErr(saved)
    assert(snap.protocol.readerFeatures.exists(_.contains("deletionVectors")))
    assert(rows == 20L)
    assert(!err.toString.contains("no protocol action"), err.toString)

    val p2 = tmpTable("pc_metadata")
    DeltaWriter.append(
      nation.withColumn("metaData", col("n_regionkey").cast("string")), p2,
      partitionBy = Seq("metaData"))
    DeltaWriter.setTableProperty(spark, p2, "graft.owner", "ops")
    DeltaWriter.addCheckConstraint(spark, p2, "key_nonneg", "n_nationkey >= 0")
    val snap2 = DeltaReader.snapshot(spark, p2)
    assert(snap2.configuration.get("graft.owner").contains("ops"))
    assert(snap2.configuration.contains("delta.constraints.key_nonneg"))
    assert(snap2.partitionColumns == Seq("metaData"))
    assert(DeltaReader.load(spark, p2).count() == 25L)
  }

  test("every remove retires a (path, DV id) live at the previous version, with its partition values and size") {
    val nation = Tables.t(spark, d, "nation")
    val path = tmpTable("remove_keys")
    // one file per region: regions 0 = {0, 5, 14, 15, 16}, 1 = {1, 2, 3, 17, 24}
    DeltaWriter.append(nation.coalesce(1), path,
      partitionBy = Seq("n_regionkey")) // v0
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 0) // v1
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 5) // v2: same file
    DeltaWriter.deleteWithVectors(spark, path, col("n_nationkey") === 1) // v3
    DeltaWriter.delete(spark, path, col("n_nationkey") === 14) // v4: CoW of a DV'd file
    DeltaWriter.update(spark, path, col("n_nationkey") === 2,
      Map("n_name" -> lit("updated"))) // v5: CoW of a DV'd file
    DeltaWriter.merge(nation.filter(col("n_nationkey") === 3)
      .withColumn("n_name", lit("merged")), path, Seq("n_nationkey")) // v6
    DeltaWriter.compact(spark, path) // v7
    DeltaWriter.restore(spark, path, 2L) // v8
    val logDir = new File(path, "_delta_log")
    val latest = DeltaReader.snapshot(spark, path).version
    assert(latest == 8L)
    (1L to latest).foreach { v =>
      val live = DeltaReader.snapshotAt(spark, path, v - 1).files
        .map(a => a.key -> a).toMap
      val removes = DeltaActions.readCommit(logDir, v)
        .collect { case r: RemoveFile => r }
      assert(removes.nonEmpty, s"v$v retires no file")
      removes.foreach { r =>
        val add = live.get(r.key)
        assert(add.nonEmpty, s"v$v removes ${r.key}, not live at v${v - 1}")
        assert(r.partitionValues.contains(add.get.partitionValues), s"v$v: $r")
        assert(r.size.contains(add.get.size), s"v$v: $r")
      }
    }
    assert(DeltaReader.load(spark, path).collect().toSet ==
      DeltaReader.loadAt(spark, path, 2L).collect().toSet)
  }

  test("row verbs on a table emptied by a delete: no-op delete/update, merge inserts") {
    val path = tmpTable("emptied")
    val rows = spark.range(0, 50).select(col("id"), (col("id") * 2).as("v"))
    DeltaWriter.append(rows, path) // v0
    assert(DeltaWriter.delete(spark, path, lit(true)) == 1L) // every row
    assert(DeltaReader.load(spark, path).isEmpty)
    assert(DeltaWriter.delete(spark, path, col("id") === 3) == 1L)
    assert(DeltaWriter.update(spark, path, col("id") === 3,
      Map("v" -> lit(0L))) == 1L)
    assert(DeltaWriter.deleteWithVectors(spark, path, col("id") === 3) == 1L)
    assert(DeltaWriter.merge(rows.filter(col("id") < 5), path, Seq("id")) == 2L)
    assert(DeltaReader.load(spark, path).collect().toSet ==
      rows.filter(col("id") < 5).collect().toSet)
  }

  test("compact rewrites its snapshot's rows only: a file committed mid-verb stays live, once") {
    val path = tmpTable("compact_race")
    val rows = spark.range(0, 1550)
      .select(col("id"), (col("id") % 5).cast("string").as("p"))
    DeltaWriter.append(rows.filter(col("id") < 800), path, Seq("p"))
    DeltaWriter.append(rows.filter(col("id") >= 800), path, Seq("p"))
    val snap = DeltaReader.snapshot(spark, path)
    val injected = ForeignCommit.arm(spark, path, snap)
    // the scope predicate is the first thing the verb evaluates, after
    // it took its snapshot: the foreign append lands in between
    val v = DeltaWriter.compact(spark, path,
      where = Some(ForeignCommit.fire(col("p")).isNotNull))
    assert(ForeignCommit.hasFired)
    assert(v == snap.version + 2, "the layout commit lands after the append")
    assert(DeltaReader.load(spark, path).count() == 1550L + injected)
    assert(DeltaReader.snapshot(spark, path).files
      .exists(_.path.contains("foreign-")))
  }

  test("merge over a commit landing mid-verb is refused by the conflict matrix") {
    val path = tmpTable("merge_race")
    val rows = spark.range(0, 1200).select(col("id"), (col("id") * 2).as("v"))
    DeltaWriter.append(rows.filter(col("id") < 600), path)
    DeltaWriter.append(rows.filter(col("id") >= 600), path)
    val snap = DeltaReader.snapshot(spark, path)
    val injected = ForeignCommit.arm(spark, path, snap)
    // a filter is never pruned away: the source's first evaluation
    // (after the verb's snapshot) lands the foreign append
    val source = spark.range(0, 1200, 7).select(col("id"), lit(-1L).as("v"))
      .filter(ForeignCommit.fire(col("id").cast("string")).isNotNull)
    val e = intercept[IllegalArgumentException](
      DeltaWriter.merge(source, path, Seq("id")))
    assert(ForeignCommit.hasFired)
    assert(e.getMessage.contains("concurrent conflict"), e.getMessage)
    val after = DeltaReader.snapshot(spark, path)
    assert(after.version == snap.version + 1)
    assert(after.files.length == snap.files.length + 1)
    assert(DeltaReader.load(spark, path).count() == 1200L + injected)
    assert(DeltaReader.load(spark, path).filter(col("v") === -1L).isEmpty)
  }

  test("partition values with '+', '%' and spaces survive append, DV delete, update, the change feed and a checkpoint") {
    val path = tmpTable("partition_specials")
    val base = spark.range(0, 60).select(col("id"),
      element_at(array(lit("a+b"), lit("c%d"), lit("e f")),
        (col("id") % 3 + 1).cast("int")).as("p"))
    def rows(): Set[(Long, String)] = DeltaReader.load(spark, path)
      .select("id", "p").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    var want = base.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    DeltaWriter.append(base, path, Seq("p")) // v0
    DeltaWriter.setTableProperty(spark, path,
      "delta.enableChangeDataFeed", "true") // v1
    assert(rows() == want)
    assert(DeltaReader.snapshot(spark, path).files.map(_.partitionValues("p"))
      .toSet == Set(Some("a+b"), Some("c%d"), Some("e f")))
    DeltaWriter.deleteWithVectors(spark, path, col("id") % 4 === 0) // v2
    want = want.filterNot(_._1 % 4 == 0)
    assert(rows() == want)
    DeltaWriter.update(spark, path, col("id") % 4 === 1,
      Map("id" -> (col("id") + 1000))) // v3: cdc files under the same dirs
    want = want.map { case (i, p) => if (i % 4 == 1) (i + 1000, p) else (i, p) }
    assert(rows() == want)
    // the change feed over both row verbs folds v1 into the current rows
    val cdf = DeltaReader.loadChangeFeed(spark, path, 1L, 3L)
    def images(kinds: String*) = cdf.filter(col("_change_type").isin(kinds: _*))
      .select("id", "p")
    val folded = DeltaReader.loadAt(spark, path, 1L).select("id", "p")
      .exceptAll(images("delete", "update_preimage"))
      .unionAll(images("insert", "update_postimage"))
    assert(folded.collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    DeltaWriter.checkpoint(spark, path)
    assert(rows() == want)
  }
}

/** Lands one foreign commit the first time [[fire]] is evaluated: a
  * byte copy of one live file of the armed snapshot, added at the
  * snapshot's version + 1 — another writer committing while a verb that
  * took that snapshot is still running. */
object ForeignCommit {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(true)
  @volatile private var land: () => Unit = () => ()

  /** Arm the next [[fire]]; returns the number of rows the commit adds. */
  def arm(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      snap: DeltaReader.Snapshot): Long = {
    val a = snap.files.head
    val src = new File(tablePath, DeltaReader.decodePath(a.path))
    val rel = (DeltaReader.decodePath(a.path).split('/').dropRight(1) :+
      s"foreign-${java.util.UUID.randomUUID()}.parquet").mkString("/")
    land = () => {
      java.nio.file.Files.copy(src.toPath, new File(tablePath, rel).toPath)
      DeltaWriter.publishOptimistic(new File(tablePath), snap.version + 1,
        Seq(a.copy(path = DeltaReader.encodePath(rel), dataChange = true)))
    }
    fired.set(false)
    spark.read.parquet(src.getAbsolutePath).count()
  }

  def hasFired: Boolean = fired.get()

  /** Identity on its argument; lands the armed commit on the first call. */
  val fire = udf { (s: String) =>
    if (fired.compareAndSet(false, true)) land()
    s
  }
}
