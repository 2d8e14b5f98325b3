package graft

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DeletionVectors, DeltaReader, DeltaWriter, Fixtures, Z85}

/** Delta reader semantics, including the reference's only test vectors —
  * the DV selection cases in
  * /root/reference/crates/providers/src/deltatable.rs:585-618. */
class DeltaSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val d = SparkTestSession.sfDir

  test("Z85 round-trips arbitrary 4-aligned bytes") {
    val data = Array.tabulate(64)(i => (i * 37 + 11).toByte)
    assert(Z85.decode(Z85.encode(data)).toSeq == data.toSeq)
  }

  test("roaring bitmap array round-trips row indexes") {
    val rows = Seq(0L, 1L, 3L, 65535L, 65536L, 100000L)
    val ser = DeletionVectors.serializeRoaringArray(rows)
    assert(DeletionVectors.parseRoaringArray(ser).toSet == rows.toSet)
  }

  // deltatable.rs:585-618 — selection-vector semantics. A selection
  // vector [t,t,t,f,t] means row 3 is deleted: our DV equivalent is a
  // bitmap containing exactly the deleted indexes.
  test("reference DV vectors: all-selected, none-selected, mixed") {
    // all selected → empty DV → every row survives
    assert(DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArray(Seq.empty)).isEmpty)
    // none selected → DV holds all indexes
    val none = DeletionVectors.serializeRoaringArray(Seq(0L, 1L, 2L))
    assert(DeletionVectors.parseRoaringArray(none).toSet == Set(0L, 1L, 2L))
    // mixed [t,t,t,f,t] → deleted = {3}; survivors = {0,1,2,4}
    val mixed = DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArray(Seq(3L))).toSet
    val survivors = (0L to 4L).filterNot(mixed)
    assert(survivors == Seq(0L, 1L, 2L, 4L))
  }

  test("snapshot replay applies removes and later-add-wins") {
    val dir = Fixtures.deltaNation(spark, d)
    val snap = DeltaReader.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet ==
      Set("part-a.parquet", "part-c.parquet"))
    assert(snap.partitionColumns.isEmpty)
    assert(snap.schema.fieldNames.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  test("partitioned snapshot splits partition values out of file schema") {
    val dir = Fixtures.deltaNationPartitioned(spark, d)
    val snap = DeltaReader.snapshot(spark, dir)
    assert(snap.partitionColumns == Seq("n_regionkey"))
    assert(snap.files.forall(_.partitionValues.contains("n_regionkey")))
    val df = DeltaReader.load(spark, dir)
    // partition column typed per schema and appended last
    assert(df.schema.fieldNames.last == "n_regionkey")
    assert(df.schema("n_regionkey").dataType.typeName == "integer")
    assert(df.count() == 25)
  }

  test("many-partition delta load is ONE scan node (no per-tuple union)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Fixtures.deltaNationPartitioned(spark, d)
    val df = DeltaReader.load(spark, dir)
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length == 1,
      s"plan must have exactly 1 scan node for 5 partitions, got ${scans.length}")
    assert(df.count() == 25)
  }

  test("partition filter prunes files inside the single delta scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = Fixtures.deltaNationPartitioned(spark, d)
    val df = DeltaReader.load(spark, dir)
      .filter(org.apache.spark.sql.functions.col("n_regionkey") === 3)
    df.collect() // populate scan metrics
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan node, got ${scans.length}")
    assert(scans.head.metrics("numFiles").value == 1,
      "partition filter should prune the listing to 1 of 5 files")
    assert(df.count() == 5)
  }

  test("DV table drops exactly the deleted row indexes (all 3 storage types)") {
    val dir = Fixtures.deltaNationDv(spark, d)
    val keys = DeltaReader.load(spark, dir)
      .select("n_nationkey").collect().map(_.getInt(0)).toSet
    assert(keys == (0 to 24).toSet -- Set(1, 3, 9, 19))
  }

  test("time travel: snapshotAt(0) sees the pre-remove file set") {
    val dir = Fixtures.deltaNation(spark, d)
    val v0 = DeltaReader.snapshotAt(spark, dir, 0L)
    assert(v0.files.map(_.path).toSet ==
      Set("part-a.parquet", "part-b.parquet"))
    val v1 = DeltaReader.snapshotAt(spark, dir, 1L)
    assert(v1.files.map(_.path).toSet ==
      Set("part-a.parquet", "part-c.parquet"))
  }

  test("column mapping 'name': physical parquet names, logical output") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_cmname").toFile
    // parquet file holds PHYSICAL column names; partition col not in file
    val tmp = new java.io.File(dir, ".tmp")
    spark.range(6).select(
      col("id").cast("int").as("col-aaa"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), col("id")).as("col-bbb"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "part-p0.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val size = new java.io.File(dir, "part-p0.parquet").length()
    val fields =
      """{"name":"k","type":"integer","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},""" +
        """{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}},""" +
        """{"name":"p","type":"integer","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-ccc"}}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[${fields.replace("\"", "\\\"")}]}"""
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":0}}
{"add":{"path":"part-p0.parquet","partitionValues":{"col-ccc":"7"},"size":$size,"modificationTime":0,"dataChange":true}}""")
    val df = DeltaReader.load(spark, dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "p"),
      "output schema must use LOGICAL names")
    val rows = df.orderBy("k").collect()
    assert(rows.length == 6)
    assert(rows.head.getInt(0) == 0 && rows.head.getString(1) == "v0" &&
      rows.head.getInt(2) == 7)
    // logical-name partition filter still prunes/filters correctly
    assert(df.filter(col("p") === 7).count() == 6)
    assert(df.filter(col("p") === 8).count() == 0)
  }

  test("loadWhere prune keys are LOGICAL names, mapped to physical partition keys") {
    import org.apache.spark.sql.functions.col
    // name-mapped table (partition col p is physically col-ccc) with two
    // partitions; pruning by the logical name must hit the physical key
    val dir = java.nio.file.Files.createTempDirectory("graft_cmprune").toFile
    val tmp = new java.io.File(dir, ".tmp")
    spark.range(6).select(
      col("id").cast("int").as("col-aaa"),
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("v"), col("id")).as("col-bbb"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    Seq("part-p7.parquet", "part-p8.parquet").foreach { n =>
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(dir, n).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val size = new java.io.File(dir, "part-p7.parquet").length()
    val fields =
      """{"name":"k","type":"integer","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-aaa"}},""" +
        """{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-bbb"}},""" +
        """{"name":"p","type":"integer","nullable":true,"metadata":{"delta.columnMapping.id":3,"delta.columnMapping.physicalName":"col-ccc"}}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[${fields.replace("\"", "\\\"")}]}"""
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":["p"],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"},"createdTime":0}}
{"add":{"path":"part-p7.parquet","partitionValues":{"col-ccc":"7"},"size":$size,"modificationTime":0,"dataChange":true}}
{"add":{"path":"part-p8.parquet","partitionValues":{"col-ccc":"8"},"size":$size,"modificationTime":0,"dataChange":true}}""")
    val snap = DeltaReader.snapshotAt(spark, dir.getAbsolutePath,
      Long.MaxValue, Map("p" -> Set("7")))
    assert(snap.files.map(_.path) == Seq("part-p7.parquet"))
    val df = DeltaReader.loadWhere(spark, dir.getAbsolutePath,
      Map("p" -> Set("7")))
    assert(df.count() == 6)
    assert(df.filter(col("p") === 7).count() == 6)
  }

  test("column mapping 'id': parquet columns matched by field id, not name") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmid").toFile
    // the data file carries PHYSICAL names and parquet field ids; ids are
    // the only link to the logical schema
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fileSchema = StructType(Seq(
      StructField("col-x1", IntegerType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("col-x2", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val rows = (0 until 5).map(i => Row(i, s"s$i"))
    val tmp = new java.io.File(dir, ".tmp")
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), fileSchema)
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dataFile = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.move(part.toPath, dataFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val fields =
      """{"name":"k","type":"integer","nullable":true,"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-x1"}},""" +
        """{"name":"v","type":"string","nullable":true,"metadata":{"delta.columnMapping.id":2,"delta.columnMapping.physicalName":"col-x2"}}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[${fields.replace("\"", "\\\"")}]}"""
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
{"metaData":{"id":"cmid","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":0}}
{"add":{"path":"part-0.parquet","partitionValues":{},"size":${dataFile.length()},"modificationTime":0,"dataChange":true}}""")
    val df = DeltaReader.load(spark, dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    val out = df.orderBy("k").collect()
    assert(out.length == 5)
    assert(out.head.getInt(0) == 0 && out.head.getString(1) == "s0")
  }

  test("fieldId read conf: id-mode load's session flag is inert for name-matched reads") {
    import org.apache.spark.sql.functions.col
    // the flag is a session-build conf now (AdtContext.engineConfs —
    // Spark reads it at physical-planning time, so it cannot be scoped
    // to one scan). Pin it explicitly rather than depending on the test
    // session's construction path:
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // with the flag on, reads whose schemas carry no field-id metadata
    // still match by name with identical results: plain parquet…
    val nation = Tables.t(spark, d, "nation")
    assert(nation.schema.forall(!_.metadata.contains("parquet.field.id")))
    assert(nation.count() == 25)
    assert(nation.filter(col("n_nationkey") === 3).count() == 1)
    // …and a NAME-mapped delta table (physical-name matching, no ids)
    val named = DeltaReader.load(spark, Fixtures.deltaNation(spark, d))
    assert(named.count() == 20)
  }

  test("schema evolution: later metaData wins, old files read with nulls") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_evo").toFile
    def writeOne(df: org.apache.spark.sql.DataFrame, name: String): Long = {
      val tmp = new java.io.File(dir, ".tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, name)
      java.nio.file.Files.move(part.toPath, dest.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dest.length()
    }
    val szA = writeOne(
      spark.range(3).select(col("id").cast("int").as("k")), "a.parquet")
    val szB = writeOne(
      spark.range(3, 5).select(col("id").cast("int").as("k"),
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("x"), col("id")).as("v2")),
      "b.parquet")
    def meta(fields: String) =
      s"""{"metaData":{"id":"evo","format":{"provider":"parquet","options":{}},"schemaString":"{\\"type\\":\\"struct\\",\\"fields\\":[$fields]}","partitionColumns":[],"configuration":{},"createdTime":0}}"""
    val kF = """{\"name\":\"k\",\"type\":\"integer\",\"nullable\":true,\"metadata\":{}}"""
    val vF = """{\"name\":\"v2\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}"""
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
${meta(kF)}
{"add":{"path":"a.parquet","partitionValues":{},"size":$szA,"modificationTime":0,"dataChange":true}}""")
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 19 + "1.json").toPath,
      s"""${meta(s"$kF,$vF")}
{"add":{"path":"b.parquet","partitionValues":{},"size":$szB,"modificationTime":0,"dataChange":true}}""")
    val df = DeltaReader.load(spark, dir.getAbsolutePath)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v2"))
    val rows = df.orderBy("k").collect()
    assert(rows.length == 5)
    assert(rows.take(3).forall(_.isNullAt(1)), "old-file rows must read v2 as null")
    assert(rows(3).getString(1) == "x3")
  }

  test("unknown column mapping mode is rejected with a clear error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cm").toFile
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      """{"metaData":{"id":"x","schemaString":"{\"type\":\"struct\",\"fields\":[]}","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"bogus"}}}""")
    val e = intercept[IllegalArgumentException] {
      DeltaReader.snapshot(spark, dir.getAbsolutePath)
    }
    assert(e.getMessage.contains("column mapping"))
  }

  test("checkpointed table stitches checkpoint + json tail") {
    val dir = Fixtures.deltaNationCheckpoint(spark, d)
    assert(DeltaReader.load(spark, dir).count() == 25)
  }

  test("multi-part checkpoint replays ALL parts; incomplete multi-part is ignored") {
    val dir = Fixtures.deltaNationMultiCheckpoint(spark, d)
    val df = DeltaReader.load(spark, dir)
    // parts 1+2 of checkpoint 0 (files A+B) + json commit 1 (file C):
    // missing any checkpoint part, using the orphan v1 part, or
    // accepting the v2 checkpoint whose part indices {2,3} are out of
    // range for "of 2" (file count matches — only an index-cover check
    // rejects it) would drop rows
    assert(df.count() == 25)
    val snap = DeltaReader.snapshot(spark, dir)
    assert(snap.files.map(_.path).toSet ==
      Set("part-a.parquet", "part-b.parquet", "part-c.parquet"))
  }

  test("protocol gate: unsupported reader features reject, supported ones read") {
    def table(protocolLine: String): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_proto").toFile
      import spark.implicits._
      val tmp = new java.io.File(dir, ".tmp")
      Seq((1, "a"), (2, "b")).toDF("k", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        new java.io.File(dir, "part-0.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val size = new java.io.File(dir, "part-0.parquet").length()
      val schemaJson = spark.read
        .parquet(new java.io.File(dir, "part-0.parquet").getAbsolutePath)
        .schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
      val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
      java.nio.file.Files.writeString(
        new java.io.File(log, "0" * 20 + ".json").toPath,
        s"""$protocolLine
{"metaData":{"id":"pg","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
{"add":{"path":"part-0.parquet","partitionValues":{},"size":$size,"modificationTime":0,"dataChange":true}}""")
      dir.getAbsolutePath
    }
    // a feature this reader does not implement must be rejected with an
    // actionable error, not misread
    val bad = intercept[IllegalArgumentException] {
      DeltaReader.load(spark, table(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["someFutureFeature"],"writerFeatures":["someFutureFeature"]}}"""))
    }
    assert(bad.getMessage.contains("someFutureFeature"))
    // reader version past the spec's current max also rejects
    val high = intercept[IllegalArgumentException] {
      DeltaReader.load(spark, table(
        """{"protocol":{"minReaderVersion":4,"minWriterVersion":7}}"""))
    }
    assert(high.getMessage.contains("minReaderVersion 4"))
    // every feature this reader implements passes the gate (incl.
    // v2Checkpoint since r14 — sidecar replay is its own test below)
    val ok = DeltaReader.load(spark, table(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","columnMapping","timestampNtz","v2Checkpoint"]}}"""))
    assert(ok.count() == 2)
  }

  test("v2Checkpoint: UUID checkpoint + sidecar adds + json tail stitch") {
    // both spec-legal checkpoint layouts — parquet and action-per-line
    // JSON — must replay identically
    for (dir <- Seq(Fixtures.deltaNationV2Checkpoint(spark, d),
        Fixtures.deltaNationV2CheckpointJson(spark, d))) {
      val df = DeltaReader.load(spark, dir)
      // live = B (sidecar add) + C (json tail add); A removed in the
      // tail. A replay that ignored sidecar actions would return only C
      // (8 rows); the JSON-layout table has commit 0 EXPIRED (cleanup),
      // so a reader that missed the .json checkpoint has no metaData at
      // all and fails loudly instead of replaying around it
      assert(df.count() == 16, dir)
      assert(df.agg(org.apache.spark.sql.functions.min("n_nationkey")
        .cast("long")).collect()(0).getLong(0) == 9L)
      val snap = DeltaReader.snapshot(spark, dir)
      assert(snap.files.map(_.path).toSet ==
        Set("part-b.parquet", "part-c.parquet"))
    }
  }

  test("run-container roaring round-trips, incl offsets section at >=4 containers") {
    // single short run
    val a = Seq(5L, 6L, 7L, 8L)
    assert(DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArrayRuns(a)).toSet == a.toSet)
    // multiple runs + container boundary crossing (65536 = new key)
    val b = Seq(0L, 1L, 2L, 10L, 65535L, 65536L, 65537L, 200000L)
    assert(DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArrayRuns(b)).toSet == b.toSet)
    // >= 4 containers in one bitmap → offsets section present in the
    // serialization and must be skipped correctly by the parser
    val c = (0 until 5).flatMap(k => Seq((k * 65536L) + 3, (k * 65536L) + 4))
    assert(DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArrayRuns(c)).toSet == c.toSet)
    // high-32-bit split across bitmaps
    val hi = Seq(7L, (1L << 32) + 9, (1L << 32) + 10)
    assert(DeletionVectors.parseRoaringArray(
      DeletionVectors.serializeRoaringArrayRuns(hi)).toSet == hi.toSet)
  }

  /** Hand-build a one-file delta table whose DV is inline-encoded with the
    * given serializer; returns the table dir. */
  private def dvTable(tag: String, nRows: Int, deleted: Seq[Long],
      ser: Seq[Long] => Array[Byte]): String = {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory(s"graft_dv_$tag").toFile
    val tmp = new java.io.File(dir, ".tmp")
    spark.range(nRows).select(col("id").cast("int").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dataFile = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.move(part.toPath, dataFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val bits = {
      val raw = ser(deleted)
      if (raw.length % 4 == 0) raw else raw ++ new Array[Byte](4 - raw.length % 4)
    }
    val schemaJson = spark.read.parquet(dataFile.getAbsolutePath).schema.json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val log = new java.io.File(dir, "_delta_log"); log.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(log, "0" * 20 + ".json").toPath,
      s"""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}
{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}
{"add":{"path":"part-0.parquet","partitionValues":{},"size":${dataFile.length()},"modificationTime":0,"dataChange":true,"deletionVector":{"storageType":"i","pathOrInlineDv":"${Z85.encode(bits)}","offset":0,"sizeInBytes":${bits.length},"cardinality":${deleted.size}}}}""")
    dir.getAbsolutePath
  }

  test("delta table with a RUN-container DV drops the run's rows") {
    val dir = dvTable("runs", 100, (20L to 59L),
      DeletionVectors.serializeRoaringArrayRuns)
    val kept = DeltaReader.load(spark, dir)
      .select("v").collect().map(_.getInt(0)).toSet
    assert(kept == ((0 until 100).toSet -- (20 to 59)))
  }

  test("large-cardinality DV decodes on executors, not the driver") {
    // 5000 deleted rows of 8000: the vector must reach the scan as a
    // descriptor inside the row-index predicate, decoded by the task
    // that reads the file — never a driver-built local relation of dead
    // rows, nor a dataset of them to join against (at 100 TB the bitmap
    // can hold billions of rows).
    val deleted = (1000L until 6000L)
    val dir = dvTable("big", 8000, deleted,
      DeletionVectors.serializeRoaringArrayRuns)
    val df = DeltaReader.load(spark, dir)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("LocalRelation"),
      "DV rows must not be materialized into a driver-side LocalRelation")
    assert(!plan.contains("ExternalRDD") && !plan.contains("Join"),
      "DV rows must not enter the plan as a dataset joined to the scan")
    assert(plan.contains("Filter NOT dv_deleted("),
      "the vector should filter the scan by file and row index")
    assert(df.count() == 3000)
  }

  private val aqe =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** The executed plan's node names after a collect, AQE stages included. */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect()
    aqe.collect(df.queryExecution.executedPlan) { case n => n.nodeName }
  }

  test("partitioned DV read over URI-encoded partition dirs equals copy-on-write delete, no join") {
    // `k=A B` is the directory Spark reports as `k=A%20B` in
    // `_metadata.file_path`: the vectors must be keyed on that spelling
    // or the `A B` partition's dead rows come back
    val dir = new File(Files.createTempDirectory("graft_dvpart").toFile, "t")
      .getAbsolutePath
    import spark.implicits._
    val rows = (0 until 300).map(i => (i.toLong, if (i % 2 == 0) "A B" else "plain"))
    DeltaWriter.append(rows.toDF("v", "k").repartition(2), dir, Seq("k"))
    val cow = copyTree(dir)
    val dead = col("v") % 3 === 0
    DeltaWriter.deleteWithVectors(spark, dir, dead)
    DeltaWriter.delete(spark, cow, dead)
    val snap = DeltaReader.snapshot(spark, dir)
    assert(snap.files.exists(a => a.deletionVector.nonEmpty &&
      a.partitionValues.get("k").flatten.contains("A B")))
    assert(DeltaReader.snapshot(spark, cow).files
      .forall(_.deletionVector.isEmpty))

    val df = DeltaReader.load(spark, dir)
    val nodes = executedNodes(df)
    assert(!nodes.exists(n => n.contains("Join") || n.contains("Exchange")),
      s"the vectors added a join or exchange: ${nodes.mkString(", ")}")
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.select("v", "k").collect().map(r => (r.getLong(0), r.getString(1)))
        .sorted.toSeq
    val got = sorted(df)
    assert(got == sorted(DeltaReader.load(spark, cow)))
    assert(got == rows.filter(_._1 % 3 != 0).sorted)
  }

  test("a DV'd file spanning several row groups and splits keeps file-global row indexes") {
    val dir = new File(Files.createTempDirectory("graft_dvsplit").toFile, "t")
      .getAbsolutePath
    import spark.implicits._
    val n = 40000
    val data = (0 until n).map(i => (i.toLong, s"row-$i")).toDF("v", "s")
    // small row groups: one file, many groups
    SparkTestSession.withConfs(Seq("parquet.block.size" -> "16384")) {
      DeltaWriter.append(data.repartition(1).sortWithinPartitions("v"), dir)
    }
    val files = DeltaReader.snapshot(spark, dir).files
    assert(files.size == 1)
    val file = new org.apache.hadoop.fs.Path(new File(dir,
      java.net.URLDecoder.decode(files.head.path, "UTF-8")).toURI)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups >= 4, s"expected several row groups, got $groups")

    // dead rows in every row group, including the last ones
    val dead = col("v") % 7 === 0 || col("v").between(n - 500, n - 1)
    DeltaWriter.deleteWithVectors(spark, dir, dead)
    assert(DeltaReader.snapshot(spark, dir).files.head.deletionVector.nonEmpty)
    val want = (0 until n).map(_.toLong)
      .filter(v => v % 7 != 0 && v < n - 500)
    val split = math.max(4096L, files.head.size / 4)
    SparkTestSession.withConfs(Seq(
        "spark.sql.files.maxPartitionBytes" -> split.toString,
        "spark.sql.files.openCostInBytes" -> "0")) {
      val df = DeltaReader.load(spark, dir)
      val scans = aqe.collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.size == 1)
      assert(scans.head.inputRDD.getNumPartitions >= 2,
        "the file should be read in several splits")
      assert(df.select("v").collect().map(_.getLong(0)).sorted.toSeq == want)
    }
  }

  // ------------------------------------------------ checkpoint state cache

  /** `body`'s result and the Spark jobs it launched from this thread.
    * Jobs are tagged with a fresh job group and counted by a listener; a
    * sentinel job in the same group fences the count, because the
    * listener bus delivers events in order. */
  private def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            group == e.properties.getProperty("spark.jobGroup.id"))
          started.add(e.properties.getProperty("spark.job.description"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val out =
        try body
        finally {
          sc.setJobDescription("sentinel")
          sc.parallelize(Seq(1), 1).count()
          sc.clearJobGroup()
        }
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!started.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains("sentinel"), "sentinel job start never arrived")
      (out, started.size - 1)
    } finally sc.removeSparkListener(listener)
  }

  /** A fresh checkpointed table: z-ordered files (tags), a deletion-vector
    * delete, a checkpoint, then two appends in the JSON tail. */
  private def checkpointedTable(): String = {
    val dir = new File(Files.createTempDirectory("graft_cpcache").toFile, "t")
      .getAbsolutePath
    val nation = Tables.t(spark, d, "nation")
    DeltaWriter.overwrite(nation, dir)
    DeltaWriter.optimizeZOrder(spark, dir, Seq("n_nationkey", "n_regionkey"), 2)
    DeltaWriter.deleteWithVectors(spark, dir, col("n_nationkey") % 3 === 0)
    DeltaWriter.checkpoint(spark, dir)
    DeltaWriter.append(nation.filter(col("n_nationkey") < 5), dir)
    DeltaWriter.append(nation.filter(col("n_nationkey") >= 20), dir)
    dir
  }

  private def copyTree(from: String): String = {
    val src = Path.of(from)
    val dst = Files.createTempDirectory("graft_cpcopy").resolve("t")
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p))))
    finally walk.close()
    dst.toString
  }

  test("checkpoint cache: a repeat snapshot is exact and launches no Spark job") {
    val dir = checkpointedTable()
    // (the writer's own post-checkpoint replays may already have cached it)
    val first = DeltaReader.snapshot(spark, dir)
    assert(first.files.exists(_.deletionVector.nonEmpty))
    assert(first.files.exists(_.tags.nonEmpty))
    assert(first.files.forall(_.stats.nonEmpty))
    val (second, hitJobs) = withJobCount(DeltaReader.snapshot(spark, dir))
    assert(hitJobs == 0)
    // files (DVs, stats, tags), version, schema, configuration: all of it
    assert(second == first)
    // a byte-for-byte copy at a new path has a new identity: a cold
    // decode, which must agree with the cached state
    val copy = copyTree(dir)
    val (fromCopy, copyJobs) = withJobCount(DeltaReader.snapshot(spark, copy))
    assert(copyJobs > 0, "a copy at a new path must decode its checkpoint")
    assert(fromCopy == first)
  }

  test("checkpoint cache: a checkpoint rewritten in place is re-read") {
    val dir = checkpointedTable()
    val other = checkpointedTable()
    val cp = "_delta_log/" + f"${2L}%020d.checkpoint.parquet"
    assert(new File(dir, cp).isFile && new File(other, cp).isFile)
    val cpFiles = DeltaReader.snapshotAt(spark, dir, 2L).files.map(_.path).toSet
    val before = DeltaReader.snapshot(spark, dir)
    val tail = before.files.map(_.path).toSet -- cpFiles
    val original = Files.readAllBytes(new File(dir, cp).toPath)
    // same version, different contents (other file names): overwrite the
    // bytes of the existing file, keeping its inode
    Files.write(new File(dir, cp).toPath,
      Files.readAllBytes(new File(other, cp).toPath))
    val after = DeltaReader.snapshot(spark, dir)
    val otherCp = DeltaReader.snapshotAt(spark, other, 2L).files.map(_.path)
    assert((after.files.map(_.path).toSet & cpFiles).isEmpty)
    assert(after.files.map(_.path).toSet == otherCp.toSet ++ tail)
    // and back by rename-replace, the way DeltaWriter.checkpoint publishes
    val staged = new File(dir, "cp.tmp").toPath
    Files.write(staged, original)
    Files.move(staged, new File(dir, cp).toPath,
      StandardCopyOption.REPLACE_EXISTING)
    assert(DeltaReader.snapshot(spark, dir) == before)
  }

  test("checkpoint cache: concurrent snapshots of one table agree") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // a copy nobody has replayed yet: both threads start on a miss
    val dir = copyTree(checkpointedTable())
    val both = Await.result(Future.sequence(Seq.fill(2)(
      Future(DeltaReader.snapshot(spark, dir)))), 5.minutes)
    assert(both(0) == both(1))
    assert(DeltaReader.snapshot(spark, dir) == both(0))
  }

  test("append of a 3-row local frame launches exactly one Spark job") {
    val spark = this.spark
    import spark.implicits._
    val dir = new File(Files.createTempDirectory("graft_appendjobs").toFile, "t")
      .getAbsolutePath
    DeltaWriter.append(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir)
    // the write job itself: its tasks collect the per-file stats, so no
    // second query reads the new file back
    val (_, jobs) = withJobCount(DeltaWriter.append(
      Seq((3, "c"), (4, "d"), (5, "e")).toDF("k", "v"), dir))
    assert(jobs == 1)
    assert(DeltaReader.snapshot(spark, dir).files.forall(_.stats.nonEmpty))
    assert(DeltaReader.load(spark, dir).count() == 5L)
  }

  test("replay order: a DV commit listing its add before its remove keeps its rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dv_order").toFile.getAbsolutePath
    DeltaWriter.append(Seq(1L, 2L, 3L, 4L).toDF("k").coalesce(1), dir) // v0
    DeltaWriter.deleteWithVectors(spark, dir, col("k") <= 2L) // v1
    assert(DeltaReader.load(spark, dir).count() == 2L)
    // the same actions, file actions reordered adds-first
    val v1 = new File(dir, f"_delta_log/${1L}%020d.json").toPath
    val lines = new String(Files.readAllBytes(v1), "UTF-8").split('\n').toSeq
    def isAdd(l: String) = l.startsWith("{\"add\"")
    def isRemove(l: String) = l.startsWith("{\"remove\"")
    val reordered = lines.filterNot(l => isAdd(l) || isRemove(l)) ++
      lines.filter(isAdd) ++ lines.filter(isRemove)
    assert(reordered != lines && reordered.sorted == lines.sorted)
    Files.write(v1, reordered.mkString("\n").getBytes("UTF-8"))
    assert(DeltaReader.load(spark, dir).count() == 2L)
  }

  test("replay keys files on (path, DV id): add(p, dv2) before remove(p, dv1) leaves one live file") {
    val dir = Files.createTempDirectory("graft_dv_key").toFile
    val log = new File(dir, "_delta_log"); log.mkdirs()
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))).json.replace("\"", "\\\"")
    def dv(z: String, card: Int) =
      s"""{"storageType":"i","pathOrInlineDv":"$z","offset":0,""" +
        s""""sizeInBytes":20,"cardinality":$card}"""
    def write(v: Long, lines: String*): Unit =
      Files.write(new File(log, f"$v%020d.json").toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    write(0L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"dvkey","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      s"""{"add":{"path":"p.parquet","partitionValues":{},"size":10,"modificationTime":0,"dataChange":true,"deletionVector":${dv("aaaaa", 1)}}}""")
    write(1L,
      s"""{"add":{"path":"p.parquet","partitionValues":{},"size":10,"modificationTime":0,"dataChange":true,"deletionVector":${dv("bbbbb", 2)}}}""",
      s"""{"remove":{"path":"p.parquet","deletionTimestamp":1,"dataChange":true,"deletionVector":${dv("aaaaa", 1)}}}""")
    val files = DeltaReader.snapshot(spark, dir.getAbsolutePath).files
    assert(files.size == 1)
    assert(files.head.deletionVector.map(_.pathOrInlineDv).contains("bbbbb"))
  }

  test("replay reads removes that name no vector: a DV'd file retired by path alone stays retired") {
    // the shape of logs written before removes carried the retired add's
    // deletion vector: two DV deletes on one file, each a vector-less
    // remove plus a re-add
    val dir = Files.createTempDirectory("graft_dv_legacy").toFile
    val log = new File(dir, "_delta_log"); log.mkdirs()
    val schemaJson = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType))).json.replace("\"", "\\\"")
    def add(dv: Option[String]) =
      s"""{"add":{"path":"p.parquet","partitionValues":{},"size":10,"modificationTime":0,"dataChange":true""" +
        dv.map(z => s""","deletionVector":{"storageType":"i","pathOrInlineDv":"$z","offset":0,"sizeInBytes":20,"cardinality":1}""")
          .getOrElse("") + "}}"
    val remove = """{"remove":{"path":"p.parquet","deletionTimestamp":1,"dataChange":true}}"""
    def write(v: Long, lines: String*): Unit =
      Files.write(new File(log, f"$v%020d.json").toPath,
        lines.mkString("\n").getBytes("UTF-8"))
    write(0L,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      s"""{"metaData":{"id":"dvlegacy","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":0}}""",
      add(None))
    write(1L, remove, add(Some("aaaaa")))
    write(2L, remove, add(Some("bbbbb")))
    val files = DeltaReader.snapshot(spark, dir.getAbsolutePath).files
    assert(files.map(_.deletionVector.map(_.pathOrInlineDv)) == Seq(Some("bbbbb")))
  }

  test("replay reads the old RESTORE shape: a re-add with no remove of the current vector replaces it") {
    // a RESTORE across a DV delete, as logs written before removes
    // carried the retired add's vector spelled it: v2 re-adds the v0
    // file with no remove of the v1 vector. The file is read once, whole
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dv_restore").toFile.getAbsolutePath
    DeltaWriter.append(Seq(1L, 2L, 3L, 4L).toDF("k").coalesce(1), dir) // v0
    DeltaWriter.deleteWithVectors(spark, dir, col("k") <= 2L) // v1
    val log = new File(dir, "_delta_log")
    val v0Add = new String(Files.readAllBytes(
      new File(log, f"${0L}%020d.json").toPath), "UTF-8")
      .split('\n').filter(_.startsWith("{\"add\"")).toSeq
    assert(v0Add.size == 1 && !v0Add.head.contains("deletionVector"))
    Files.write(new File(log, f"${2L}%020d.json").toPath,
      v0Add.head.getBytes("UTF-8"))
    val files = DeltaReader.snapshot(spark, dir).files
    assert(files.size == 1 && files.head.deletionVector.isEmpty)
    assert(DeltaReader.load(spark, dir).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // a later delete resolves the one live file it touches
    DeltaWriter.deleteWithVectors(spark, dir, col("k") === 4L)
    assert(DeltaReader.load(spark, dir).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }
}
