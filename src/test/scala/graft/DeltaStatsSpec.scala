package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestSession

/** The Delta stats-based file-skipping path (DeltaStats.mayMatch wired
  * through DeltaSnapshotFileIndex.listFiles). Reference behavior:
  * deltatable.rs:279-284,454-469 — prune a file only when its min/max/
  * nullCount PROVE no row can match; any uncertainty keeps the file.
  *
  * Lives in package graft.sources to reach the private[sources] parse
  * and FileIndex internals. */
class DeltaStatsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  private def add(stats: String): DeltaReader.AddFile =
    DeltaReader.AddFile("f.parquet", 1L, Map.empty, None, Some(stats))

  private val k = AttributeReference("k", LongType)()

  private val longStats =
    """{"numRecords":10,"minValues":{"k":10},"maxValues":{"k":20},"nullCount":{"k":0}}"""

  test("parse: malformed JSON → None; valid stats round-trip") {
    assert(DeltaStats.parse("{not json").isEmpty)
    val st = DeltaStats.parse(longStats).get
    assert(st.numRecords.contains(10L))
    assert(st.minValues.contains("k") && st.maxValues.contains("k"))
    assert(st.nullCount("k") == 0L)
  }

  test("long min/max: provably-out ranges skip, overlapping ranges keep") {
    val a = add(longStats)
    assert(!DeltaStats.mayMatch(a, Seq(LessThan(k, Literal(5L)))))
    assert(!DeltaStats.mayMatch(a, Seq(GreaterThan(k, Literal(25L)))))
    assert(!DeltaStats.mayMatch(a, Seq(EqualTo(k, Literal(25L)))))
    assert(!DeltaStats.mayMatch(a, Seq(LessThanOrEqual(k, Literal(9L)))))
    assert(DeltaStats.mayMatch(a, Seq(LessThan(k, Literal(15L)))))
    assert(DeltaStats.mayMatch(a, Seq(EqualTo(k, Literal(10L)))))
    assert(DeltaStats.mayMatch(a, Seq(GreaterThanOrEqual(k, Literal(20L)))))
  }

  test("literal-on-the-left comparisons flip correctly") {
    val a = add(longStats)
    // 25 < k  ⇔  k > 25 → impossible when max = 20
    assert(!DeltaStats.mayMatch(a, Seq(LessThan(Literal(25L), k))))
    // 15 <= k → possible
    assert(DeltaStats.mayMatch(a, Seq(LessThanOrEqual(Literal(15L), k))))
    // 5 > k  ⇔  k < 5 → impossible when min = 10
    assert(!DeltaStats.mayMatch(a, Seq(GreaterThan(Literal(5L), k))))
  }

  test("string min/max skip and keep") {
    val n = AttributeReference("n", StringType)()
    val a = add(
      """{"numRecords":5,"minValues":{"n":"APPLE"},"maxValues":{"n":"MANGO"},"nullCount":{"n":0}}""")
    assert(!DeltaStats.mayMatch(a, Seq(EqualTo(n, Literal("ZEBRA")))))
    assert(!DeltaStats.mayMatch(a, Seq(GreaterThanOrEqual(n, Literal("PEACH")))))
    assert(DeltaStats.mayMatch(a, Seq(EqualTo(n, Literal("CHERRY")))))
    // collated (non-UTF8_BINARY) string columns must NEVER prune: delta
    // stat bounds are binary-ordered, but a collation-aware ordering can
    // match rows outside them (UTF8_LCASE 'apple' = 'APPLE'); the same
    // provably-excluding predicate that skips above must keep here
    val lcase = StringType("UTF8_LCASE")
    val nc = AttributeReference("n", lcase)()
    assert(DeltaStats.mayMatch(a,
      Seq(EqualTo(nc, Literal.create(UTF8String.fromString("ZEBRA"), lcase)))))
    assert(DeltaStats.mayMatch(a,
      Seq(GreaterThanOrEqual(nc,
        Literal.create(UTF8String.fromString("PEACH"), lcase)))))
  }

  test("date min/max skip and keep") {
    val dt = AttributeReference("d", DateType)()
    val a = add(
      """{"numRecords":5,"minValues":{"d":"2024-01-01"},"maxValues":{"d":"2024-06-30"},"nullCount":{"d":0}}""")
    def lit(s: String) = Literal.create(java.time.LocalDate.parse(s), DateType)
    assert(!DeltaStats.mayMatch(a, Seq(GreaterThan(dt, lit("2024-07-01")))))
    assert(DeltaStats.mayMatch(a, Seq(GreaterThan(dt, lit("2024-03-01")))))
    assert(!DeltaStats.mayMatch(a, Seq(LessThan(dt, lit("2023-12-31")))))
  }

  test("decimal min/max skip and keep") {
    val dec = AttributeReference("p", DecimalType(10, 2))()
    val a = add(
      """{"numRecords":5,"minValues":{"p":"10.50"},"maxValues":{"p":"99.99"},"nullCount":{"p":0}}""")
    def lit(s: String) = Literal.create(new java.math.BigDecimal(s), DecimalType(10, 2))
    assert(!DeltaStats.mayMatch(a, Seq(LessThan(dec, lit("5.00")))))
    assert(!DeltaStats.mayMatch(a, Seq(EqualTo(dec, lit("100.00")))))
    assert(DeltaStats.mayMatch(a, Seq(EqualTo(dec, lit("50.00")))))
  }

  test("timestamp stats with explicit zone skip and keep") {
    val ts = AttributeReference("t", TimestampType)()
    val a = add(
      """{"numRecords":5,"minValues":{"t":"2024-01-01T00:00:00.000Z"},"maxValues":{"t":"2024-01-02T00:00:00.000Z"},"nullCount":{"t":0}}""")
    def lit(s: String) = Literal.create(java.time.Instant.parse(s), TimestampType)
    assert(!DeltaStats.mayMatch(a, Seq(GreaterThan(ts, lit("2024-01-03T00:00:00Z")))))
    assert(DeltaStats.mayMatch(a, Seq(GreaterThan(ts, lit("2024-01-01T12:00:00Z")))))
  }

  test("zone-less timestamp stats are interpreted in the SESSION zone, not the JVM default") {
    val ts = AttributeReference("t", TimestampType)()
    val a = add(
      """{"numRecords":5,"minValues":{"t":"2024-03-01 00:00:00"},"maxValues":{"t":"2024-03-01 00:00:00"},"nullCount":{"t":0}}""")
    val probe = Literal.create(java.time.Instant.parse("2024-03-01T04:00:00Z"), TimestampType)
    def inZone(zone: String): Boolean = {
      val conf = new SQLConf
      conf.setConfString("spark.sql.session.timeZone", zone)
      SQLConf.withExistingConf(conf) {
        DeltaStats.mayMatch(a, Seq(LessThan(ts, probe)))
      }
    }
    // UTC session: min = 2024-03-01T00:00Z < 04:00Z → rows may match
    assert(inZone("UTC"))
    // LA session: min = 2024-03-01T08:00Z ≥ 04:00Z → provably no match
    assert(!inZone("America/Los_Angeles"))
  }

  test("In: skips only when every list value is outside min/max") {
    val a = add(longStats)
    assert(!DeltaStats.mayMatch(a, Seq(In(k, Seq(Literal(1L), Literal(2L))))))
    assert(DeltaStats.mayMatch(a, Seq(In(k, Seq(Literal(1L), Literal(15L))))))
    // a non-literal list member → conservative keep
    assert(DeltaStats.mayMatch(a, Seq(In(k, Seq(Literal(1L), k)))))
  }

  test("IsNull / IsNotNull use nullCount against numRecords") {
    val noNulls = add(longStats)
    assert(!DeltaStats.mayMatch(noNulls, Seq(IsNull(k))))
    assert(DeltaStats.mayMatch(noNulls, Seq(IsNotNull(k))))
    val allNull = add(
      """{"numRecords":10,"minValues":{},"maxValues":{},"nullCount":{"k":10}}""")
    assert(DeltaStats.mayMatch(allNull, Seq(IsNull(k))))
    assert(!DeltaStats.mayMatch(allNull, Seq(IsNotNull(k))))
    val someNull = add(
      """{"numRecords":10,"minValues":{"k":10},"maxValues":{"k":20},"nullCount":{"k":3}}""")
    assert(DeltaStats.mayMatch(someNull, Seq(IsNull(k))))
    assert(DeltaStats.mayMatch(someNull, Seq(IsNotNull(k))))
  }

  test("conservatism: anything unprovable keeps the file") {
    val impossible = Seq(LessThan(k, Literal(5L)))
    // no stats at all
    assert(DeltaStats.mayMatch(
      DeltaReader.AddFile("f", 1L, Map.empty, None, None), impossible))
    // malformed stats JSON
    assert(DeltaStats.mayMatch(add("{not json"), impossible))
    // stats present but not for this column
    assert(DeltaStats.mayMatch(
      add("""{"numRecords":5,"minValues":{"other":1},"maxValues":{"other":2},"nullCount":{}}"""),
      impossible))
    // null stat values inside the JSON (writer wrote literal nulls)
    assert(DeltaStats.mayMatch(
      add("""{"numRecords":5,"minValues":{"k":null},"maxValues":{"k":null},"nullCount":{"k":null}}"""),
      impossible))
    // unknown filter shape (k + 1 < 5 is not attr-vs-literal)
    assert(DeltaStats.mayMatch(add(longStats),
      Seq(LessThan(Add(k, Literal(1L)), Literal(5L)))))
    // non-whitelisted type (binary): stats text encoding is writer-defined
    val b = AttributeReference("b", BinaryType)()
    assert(DeltaStats.mayMatch(
      add("""{"numRecords":5,"minValues":{"b":"aa"},"maxValues":{"b":"bb"},"nullCount":{"b":0}}"""),
      Seq(EqualTo(b, Literal(Array[Byte](0x7f))))))
    // empty file skips regardless of filters
    assert(!DeltaStats.mayMatch(
      add("""{"numRecords":0,"minValues":{},"maxValues":{},"nullCount":{}}"""), Nil))
  }

  test("And/Or compose three-valued skipping") {
    val a = add(longStats)
    val skip = LessThan(k, Literal(5L))
    val keep = EqualTo(k, Literal(15L))
    assert(!DeltaStats.mayMatch(a, Seq(And(skip, keep))))
    assert(DeltaStats.mayMatch(a, Seq(Or(skip, keep))))
    assert(!DeltaStats.mayMatch(a, Seq(Or(skip, skip))))
    // multiple top-level filters AND together
    assert(!DeltaStats.mayMatch(a, Seq(keep, skip)))
  }

  test("listFiles prunes stat-excluded files from a multi-file snapshot") {
    val path = Fixtures.deltaNationStats(spark, d)
    val df = DeltaReader.load(spark, path)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    assert(index.isInstanceOf[DeltaSnapshotFileIndex])
    def nFiles(filters: Seq[Expression]): Int =
      index.listFiles(Nil, filters).map(_.files.length).sum
    val key = AttributeReference("n_nationkey", IntegerType)()
    assert(nFiles(Nil) == 5)
    assert(nFiles(Seq(EqualTo(key, Literal(3)))) == 1)
    assert(nFiles(Seq(GreaterThan(key, Literal(14)))) == 2)
    assert(nFiles(Seq(GreaterThan(key, Literal(99)))) == 0)
    // end-to-end: the skipped scan still returns exactly the right rows
    val rows = df.filter(col("n_nationkey") === 3).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Int]("n_nationkey") == 3)
  }

  test("10k-add snapshot: index retains typed stats only, prunes to one file") {
    // log-only table: 10,000 add actions, each with a ~200-byte stats
    // string; no data files needed to exercise snapshot + FileIndex.
    // This pins the driver-memory design: the index parses stats once
    // and drops the JSON text, so a large table's long-lived footprint
    // is (FileStatus, typed bounds) per file — not the stats strings.
    val dir = java.nio.file.Files.createTempDirectory("graft_manyadds").toFile
    val logDir = new java.io.File(dir, "_delta_log"); logDir.mkdirs()
    val schemaJson = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType).json
    val q = "\"" + schemaJson.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$q,"partitionColumns":[],"configuration":{},"createdTime":0}}""") ++
      (0 until 10000).map { i =>
        val stats = s"""{\\"numRecords\\":10,\\"minValues\\":{\\"k\\":${i * 10}},\\"maxValues\\":{\\"k\\":${i * 10 + 9}},\\"nullCount\\":{\\"k\\":0}}"""
        s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":100,"modificationTime":0,"dataChange":true,"stats":"$stats"}}"""
      }
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${0L}%020d.json").toPath,
      lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val df = DeltaReader.load(spark, dir.getAbsolutePath)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get.asInstanceOf[DeltaSnapshotFileIndex]
    assert(index.inputFiles.length == 10000)
    // every file's stats parsed to the typed form at construction
    val retained = index.retainedStats
    assert(retained.size == 10000 && retained.forall(_.isDefined))
    // a point predicate touches exactly one file of the 10k
    assert(index.listFiles(Nil, Seq(EqualTo(k, Literal(73204L))))
      .map(_.files.length).sum == 1)
    assert(index.listFiles(Nil, Seq(GreaterThanOrEqual(k, Literal(99990L))))
      .map(_.files.length).sum == 1)
    assert(index.sizeInBytes == 10000L * 100)
  }

  test("partition pruning and stats skipping compose on one snapshot") {
    val path = Fixtures.deltaNationPartitioned(spark, d)
    val df = DeltaReader.load(spark, path)
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get
    def nFiles(part: Seq[Expression], data: Seq[Expression]): Int =
      index.listFiles(part, data).map(_.files.length).sum
    val region = AttributeReference("n_regionkey", IntegerType)()
    val key = AttributeReference("n_nationkey", IntegerType)()
    // the region-2 file's true key range, from the corpus itself
    val r2 = graft.Tables.t(spark, d, "nation")
      .filter(col("n_regionkey") === 2)
      .agg(min("n_nationkey"), max("n_nationkey")).collect()(0)
    val (lo, hi) = (r2.getInt(0), r2.getInt(1))
    assert(nFiles(Nil, Nil) == 5)
    // partition filter alone → one file
    assert(nFiles(Seq(EqualTo(region, Literal(2))), Nil) == 1)
    // stats filter alone → no file can hold keys past the global max
    assert(nFiles(Nil, Seq(GreaterThan(key, Literal(24)))) == 0)
    // composed: the surviving partition's file is then stats-pruned…
    assert(nFiles(Seq(EqualTo(region, Literal(2))),
      Seq(GreaterThan(key, Literal(hi)))) == 0)
    // …or kept when the predicate intersects its min/max range
    assert(nFiles(Seq(EqualTo(region, Literal(2))),
      Seq(GreaterThanOrEqual(key, Literal(lo)))) == 1)
    // end-to-end result stays correct under both prunings
    assert(df.filter(col("n_regionkey") === 2 && col("n_nationkey") >= lo)
      .count() == graft.Tables.t(spark, d, "nation")
      .filter(col("n_regionkey") === 2).count())
  }

  /** 10k adds that live ONLY in a checkpoint parquet, partitioned
    * p = i % 100, plus a JSON tail with one add in p=7 and one in p=8. */
  private def tenKCheckpointTable(): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graft_cpprune").toFile
    val logDir = new java.io.File(dir, "_delta_log"); logDir.mkdirs()
    val schemaJson = new StructType()
      .add("k", LongType).add("p", StringType).json
    val q = "\"" + schemaJson.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val cpLines = Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":$q,"partitionColumns":["p"],"configuration":{},"createdTime":0}}""") ++
      (0 until 10000).map { i =>
        s"""{"add":{"path":"p=${i % 100}/f$i.parquet","partitionValues":{"p":"${i % 100}"},"size":100,"modificationTime":0,"dataChange":true}}"""
      }
    import spark.implicits._
    val tmp = new java.io.File(dir, ".tmp_cp")
    spark.read.json(cpLines.toDS())
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(logDir, f"${0L}%020d.checkpoint.parquet").toPath)
    // JSON tail: one matching add, one non-matching (parse-time prune),
    // exercising both admission outcomes past the checkpoint
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${1L}%020d.json").toPath,
      (s"""{"add":{"path":"p=7/extra.parquet","partitionValues":{"p":"7"},"size":100,"modificationTime":0,"dataChange":true}}""" +
        "\n" +
        s"""{"add":{"path":"p=8/extra.parquet","partitionValues":{"p":"8"},"size":100,"modificationTime":0,"dataChange":true}}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    dir
  }

  test("checkpoint-side partition pruning: driver collects only matching adds") {
    // The past-10⁶-files path (SCALE.md "Scans"): 10k adds live ONLY in a
    // checkpoint parquet, partitioned p = i % 100. loadWhere must filter
    // the checkpoint adds as a DataFrame (executor-side) so the driver's
    // snapshot — and the long-lived FileIndex built from it — holds just
    // the admitted partition's file entries, not all 10k.
    val dir = tenKCheckpointTable()
    val snap = DeltaReader.snapshotAt(spark, dir.getAbsolutePath,
      Long.MaxValue, Map("p" -> Set("7")))
    assert(snap.files.size == 101) // 100 checkpoint adds + 1 tail add
    assert(snap.files.forall(_.partitionValues("p").contains("7")))

    // end-to-end through loadWhere: the retained index state is the
    // pruned set (the assertion the driver-memory design hangs on)
    val df = DeltaReader.loadWhere(spark, dir.getAbsolutePath,
      Map("p" -> Set("7")))
    val index = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.get.asInstanceOf[DeltaSnapshotFileIndex]
    assert(index.inputFiles.length == 101)
    assert(index.retainedStats.size == 101)

    // unpruned load still sees the full snapshot
    assert(DeltaReader.snapshot(spark, dir.getAbsolutePath).files.size == 10002)

    // pruning everything yields an empty, correctly-shaped relation
    val none = DeltaReader.loadWhere(spark, dir.getAbsolutePath,
      Map("p" -> Set("no_such_partition")))
    assert(none.columns.toSeq == Seq("k", "p") && none.count() == 0)
  }

  test("checkpoint cache keys on the prune map: either order keeps 101 of 10002") {
    def pruned(dir: java.io.File): Int = {
      val df = DeltaReader.loadWhere(spark, dir.getAbsolutePath,
        Map("p" -> Set("7")))
      df.queryExecution.analyzed.collectFirst {
        case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
      }.get.asInstanceOf[DeltaSnapshotFileIndex].inputFiles.length
    }
    def unpruned(dir: java.io.File): Int =
      DeltaReader.snapshot(spark, dir.getAbsolutePath).files.size
    // unpruned replay first, then the pruned one (each fixture is new, so
    // its checkpoint starts cold) ...
    val a = tenKCheckpointTable()
    assert(unpruned(a) == 10002)
    assert(pruned(a) == 101)
    assert(unpruned(a) == 10002)
    // ... and the reverse order
    val b = tenKCheckpointTable()
    assert(pruned(b) == 101)
    assert(unpruned(b) == 10002)
    assert(pruned(b) == 101)
  }

  test("checkpoint prune keeps adds whose partitionValues lack the key (map shape)") {
    // Spec-conforming checkpoints store partitionValues as
    // map<string,string>; element_at returns null both for an absent key
    // and for a null value, so the DF-side filter must keep nulls —
    // otherwise an add missing the prune key (or a prune on a
    // non-partition column) silently loses every checkpoint-resident
    // file while the JSON-tail path's `admitted` keeps it.
    val dir = java.nio.file.Files.createTempDirectory("graft_cpmap").toFile
    val logDir = new java.io.File(dir, "_delta_log"); logDir.mkdirs()
    val schemaJson = new StructType()
      .add("k", LongType).add("p", StringType).json
    val addT = new StructType()
      .add("path", StringType)
      .add("partitionValues", MapType(StringType, StringType))
      .add("size", LongType)
      .add("modificationTime", LongType)
      .add("dataChange", BooleanType)
    val protoT = new StructType()
      .add("minReaderVersion", IntegerType).add("minWriterVersion", IntegerType)
    val metaT = new StructType()
      .add("id", StringType)
      .add("format", new StructType()
        .add("provider", StringType)
        .add("options", MapType(StringType, StringType)))
      .add("schemaString", StringType)
      .add("partitionColumns", ArrayType(StringType))
      .add("configuration", MapType(StringType, StringType))
      .add("createdTime", LongType)
    val cpT = new StructType()
      .add("protocol", protoT).add("metaData", metaT).add("add", addT)
    import org.apache.spark.sql.Row
    def addRow(path: String, pv: Map[String, String]) =
      Row(null, null, Row(path, pv, 100L, 0L, true))
    val rows = Seq(
      Row(Row(1, 2), null, null),
      Row(null, Row("m", Row("parquet", Map.empty[String, String]),
        schemaJson, Seq("p"), Map.empty[String, String], 0L), null),
      addRow("p=7/a.parquet", Map("p" -> "7")),
      addRow("p=8/b.parquet", Map("p" -> "8")),
      addRow("nopart/c.parquet", Map.empty))
    val tmp = new java.io.File(dir, ".tmp_cp")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), cpT)
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(logDir, f"${0L}%020d.checkpoint.parquet").toPath)
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${1L}%020d.json").toPath,
      s"""{"add":{"path":"p=7/tail.parquet","partitionValues":{"p":"7"},"size":100,"modificationTime":0,"dataChange":true}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // prune on the partition column: p=8 drops; the key-less add is
    // KEPT, mirroring the JSON-tail path's conservative admission
    val snap = DeltaReader.snapshotAt(spark, dir.getAbsolutePath,
      Long.MaxValue, Map("p" -> Set("7")))
    assert(snap.files.map(_.path).toSet ==
      Set("p=7/a.parquet", "nopart/c.parquet", "p=7/tail.parquet"))

    // prune on a key no add carries (e.g. a non-partition column):
    // nothing may be dropped — every value is null at the filter
    val all = DeltaReader.snapshotAt(spark, dir.getAbsolutePath,
      Long.MaxValue, Map("c" -> Set("x")))
    assert(all.files.size == 4)
  }
}
