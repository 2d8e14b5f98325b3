package graft.sources

import java.io.File
import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Runtime-generated source fixtures (FIXTURES.md "Fixtures we must
  * generate"): CSV / NDJSON exports, a hive-partitioned parquet dir, and
  * hand-written Delta tables (plain, multi-commit with removes,
  * partitioned, deletion-vectored, checkpointed). Everything derives
  * deterministically from the driver corpus, keyed by sf dir, and is
  * created lazily exactly once per JVM.
  *
  * The Delta logs here are spelled out by hand on purpose, NOT through
  * [[DeltaActions]]: they stand in for a foreign writer, so the reader
  * is checked against log text this engine's own serializer did not
  * produce. */
object Fixtures {

  private def root(d: String): File = {
    val tag = new File(d).getName
    new File(sys.props("java.io.tmpdir"), s"graft_fixtures_$tag")
  }

  private def ensure(d: String, name: String)(build: File => Unit): String =
    synchronized {
      val dir = new File(root(d), name)
      val marker = new File(dir, "_GRAFT_READY")
      if (!marker.exists()) {
        if (dir.exists()) delete(dir)
        dir.mkdirs()
        build(dir)
        marker.createNewFile()
      }
      dir.getAbsolutePath
    }

  private def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }

  /** r16 SHARED-ARTIFACT stage: the dHash hamming≤2 near-dup PAIR
    * GRAPH, materialized per corpus dir — the q143/q147/q162/q181/q183
    * family all consume the same graph, and at 100 TB you compute it
    * once per corpus epoch and every downstream pass reads the
    * pair-count-sized result. `rebuild = true` (the PUBLISHER query,
    * q147) recomputes and rewrites on every call so benchmark reps
    * keep paying the true kernel cost; consumers build only on first
    * touch. The builder is passed in (the kernel lives in
    * queries.TextOps — no Fixtures→queries dependency). */
  def dhashPairsArtifact(d: String, rebuild: Boolean)
      (build: => org.apache.spark.sql.DataFrame): String = synchronized {
    val dir = new File(root(d), "dhash_pairs")
    val marker = new File(dir, "_GRAFT_READY")
    if (rebuild || !marker.exists()) {
      if (dir.exists()) delete(dir)
      build.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(dir.getAbsolutePath)
      marker.createNewFile()
    }
    dir.getAbsolutePath
  }

  // ------------------------------------------------------------- flat files

  def nationCsv(s: SparkSession, d: String): String =
    ensure(d, "nation_csv") { dir =>
      Tables.t(s, d, "nation").orderBy("n_nationkey").coalesce(1)
        .write.mode(SaveMode.Overwrite).option("header", "true")
        .csv(dir.getAbsolutePath)
    }

  def eventsNdjson(s: SparkSession, d: String): String =
    ensure(d, "events_ndjson") { dir =>
      Tables.t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(1)
        .write.mode(SaveMode.Overwrite).json(dir.getAbsolutePath)
    }

  def lineitemPartitioned(s: SparkSession, d: String): String =
    ensure(d, "lineitem_part") { dir =>
      Tables.t(s, d, "lineitem")
        .write.mode(SaveMode.Overwrite)
        .partitionBy("l_returnflag")
        .parquet(dir.getAbsolutePath)
    }

  /** The orders corpus rewritten as ORC (q158's fixture). */
  def ordersOrc(s: SparkSession, d: String): String =
    ensure(d, "orders_orc") { dir =>
      Tables.t(s, d, "orders")
        .write.mode(SaveMode.Overwrite).orc(dir.getAbsolutePath)
    }

  /** Arrow IPC file of the nation table, written in TWO record batches so
    * the reader's (file, batch) parallelism is exercised. */
  def nationArrow(s: SparkSession, d: String): String =
    ensure(d, "nation_arrow") { dir =>
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.{IntVector, VarCharVector, VectorSchemaRoot}
      import org.apache.arrow.vector.ipc.ArrowFileWriter
      import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
      import scala.jdk.CollectionConverters._
      val rows = Tables.t(s, d, "nation").orderBy("n_nationkey")
        .select("n_nationkey", "n_name", "n_regionkey").collect()
      val fields = List(
        new Field("n_nationkey", FieldType.nullable(new ArrowType.Int(32, true)), null),
        new Field("n_name", FieldType.nullable(ArrowType.Utf8.INSTANCE), null),
        new Field("n_regionkey", FieldType.nullable(new ArrowType.Int(32, true)), null)
      ).asJava
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(new ASchema(fields), alloc)
      val ch = java.nio.channels.FileChannel.open(
        new File(dir, "nation.arrow").toPath,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
      val w = new ArrowFileWriter(root, null, ch)
      w.start()
      rows.grouped(math.max(1, (rows.length + 1) / 2)).foreach { batch =>
        root.allocateNew()
        val k = root.getVector("n_nationkey").asInstanceOf[IntVector]
        val n = root.getVector("n_name").asInstanceOf[VarCharVector]
        val r = root.getVector("n_regionkey").asInstanceOf[IntVector]
        batch.zipWithIndex.foreach { case (row, i) =>
          k.setSafe(i, row.getInt(0))
          n.setSafe(i, row.getString(1).getBytes(StandardCharsets.UTF_8))
          r.setSafe(i, row.getInt(2))
        }
        root.setRowCount(batch.length)
        w.writeBatch()
      }
      w.end(); w.close(); ch.close(); root.close(); alloc.close()
    }

  // ------------------------------------------------------------ delta tables

  /** Write `df` as one parquet data file inside `table`, return its
    * relative name. */
  private def oneParquetFile(df: DataFrame, table: File, name: String): Long = {
    val tmp = new File(table, s".tmp_$name")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    val dest = new File(table, name)
    Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
    delete(tmp)
    dest.length()
  }

  private def metaJson(schemaJson: String, partCols: Seq[String]): String = {
    val pc = partCols.map(c => s""""$c"""").mkString("[", ",", "]")
    s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},"schemaString":${quote(schemaJson)},"partitionColumns":$pc,"configuration":{},"createdTime":0}}"""
  }

  private def protocolJson = """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""

  private def addJson(path: String, size: Long,
      partitionValues: Map[String, String] = Map.empty,
      dv: Option[String] = None,
      stats: Option[String] = None): String = {
    val pv = partitionValues.map { case (k, v) => s""""$k":"$v"""" }
      .mkString("{", ",", "}")
    val dvPart = dv.map(j => s""","deletionVector":$j""").getOrElse("")
    val statsPart = stats.map(j => s""","stats":${quote(j)}""").getOrElse("")
    s"""{"add":{"path":"$path","partitionValues":$pv,"size":$size,"modificationTime":0,"dataChange":true$dvPart$statsPart}}"""
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeCommit(table: File, version: Long, lines: Seq[String]): Unit = {
    val logDir = new File(table, "_delta_log")
    logDir.mkdirs()
    Files.write(new File(logDir, f"$version%020d.json").toPath,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Plain delta: commit 0 adds two files (nation split), commit 1
    * removes the second and adds a trimmed replacement → live rows are
    * n_nationkey 0..19 (log-replay + remove semantics). */
  def deltaNation(s: SparkSession, d: String): String =
    ensure(d, "delta_nation") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val szA = oneParquetFile(nation.filter(col("n_nationkey") <= 12), dir, "part-a.parquet")
      val szB = oneParquetFile(nation.filter(col("n_nationkey") > 12), dir, "part-b.parquet")
      writeCommit(dir, 0, Seq(protocolJson, metaJson(schemaJson, Nil),
        addJson("part-a.parquet", szA), addJson("part-b.parquet", szB)))
      val szC = oneParquetFile(
        nation.filter(col("n_nationkey").between(13, 19)), dir, "part-c.parquet")
      writeCommit(dir, 1, Seq(
        """{"remove":{"path":"part-b.parquet","deletionTimestamp":1,"dataChange":true}}""",
        addJson("part-c.parquet", szC)))
    }

  /** Delta with per-file `stats` JSON on every add action: five files of
    * five nations each keyed by n_nationkey range, carrying real
    * numRecords/minValues/maxValues/nullCount (the data-skipping inputs
    * the reference scan prunes with, deltatable.rs:279-284). Exercised by
    * DeltaStatsSpec's listFiles-level skipping assertions. */
  def deltaNationStats(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_stats") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val adds = (0 to 4).map { g =>
        val lo = g * 5; val hi = lo + 4
        val slice = nation.filter(col("n_nationkey").between(lo, hi))
        val names = slice.collect().map(_.getAs[String]("n_name"))
        val sz = oneParquetFile(slice, dir, f"part-g$g.parquet")
        val stats =
          s"""{"numRecords":${names.length},""" +
            s""""minValues":{"n_nationkey":$lo,"n_name":${quote(names.min)}},""" +
            s""""maxValues":{"n_nationkey":$hi,"n_name":${quote(names.max)}},""" +
            s""""nullCount":{"n_nationkey":0,"n_name":0}}"""
        addJson(f"part-g$g.parquet", sz, stats = Some(stats))
      }
      writeCommit(dir, 0, protocolJson +: metaJson(schemaJson, Nil) +: adds)
    }

  /** Hive-partitioned delta: one file per n_regionkey with the partition
    * column only in partitionValues (split out of the file schema, as in
    * deltatable.rs:136-189). */
  def deltaNationPartitioned(s: SparkSession, d: String): String =
    // _v2 suffix: fixture dirs are content-addressed only by name (the
    // _GRAFT_READY marker persists in /tmp across JVMs), so any change
    // to a fixture's CONTENT must bump its name
    ensure(d, "delta_nation_part_v2") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json // full schema incl partition col
      val adds = (0 to 4).map { r =>
        val slice = nation.filter(col("n_regionkey") === r)
        val keys = slice.select("n_nationkey").collect().map(_.getInt(0))
        val sz = oneParquetFile(
          slice.drop("n_regionkey"), dir, f"part-r$r.parquet")
        // real per-file stats so partition pruning AND stats skipping can
        // compose on one snapshot (DeltaStatsSpec)
        val stats =
          s"""{"numRecords":${keys.length},""" +
            s""""minValues":{"n_nationkey":${keys.min}},""" +
            s""""maxValues":{"n_nationkey":${keys.max}},""" +
            s""""nullCount":{"n_nationkey":0}}"""
        addJson(f"part-r$r.parquet", sz, Map("n_regionkey" -> r.toString),
          stats = Some(stats))
      }
      writeCommit(dir, 0,
        protocolJson +: metaJson(schemaJson, Seq("n_regionkey")) +: adds)
    }

  /** Deletion vectors across all three storage types: file A uses an
    * inline (Z85) DV deleting row indexes {1,3}; file B a UUID-relative
    * ("u") on-disk DV deleting row 0; file C an absolute-path ("p") DV
    * deleting row 2. Rows are key-sorted so row index i in a file holds
    * the i-th key of its range — the reference's mixed selection-vector
    * unit case (deltatable.rs:609-617) scaled up. */
  def deltaNationDv(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_dv") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val szA = oneParquetFile(nation.filter(col("n_nationkey") <= 8), dir, "part-a.parquet")
      val szB = oneParquetFile(
        nation.filter(col("n_nationkey").between(9, 16)), dir, "part-b.parquet")
      val szC = oneParquetFile(nation.filter(col("n_nationkey") > 16), dir, "part-c.parquet")

      def dvFileBytes(rows: Seq[Long]): (Array[Byte], Int) = {
        val bits = DeletionVectors.serializeRoaringArray(rows)
        val bb = ByteBuffer.allocate(1 + 4 + bits.length + 4)
          .order(ByteOrder.BIG_ENDIAN)
        bb.put(1.toByte)
        bb.putInt(bits.length)
        bb.put(bits)
        val crc = new CRC32(); crc.update(bits)
        bb.putInt(crc.getValue.toInt)
        (bb.array(), bits.length)
      }

      // A: inline Z85
      val bitsA = pad4(DeletionVectors.serializeRoaringArray(Seq(1L, 3L)))
      val dvA =
        s"""{"storageType":"i","pathOrInlineDv":"${Z85.encode(bitsA)}","offset":0,"sizeInBytes":${bitsA.length},"cardinality":2}"""

      // B: UUID-relative ("u") — file deletion_vector_<uuid>.bin at root
      val uuid = new java.util.UUID(0x1122334455667788L, 0x99aabbccddeeff00L)
      val ub = ByteBuffer.allocate(16)
      ub.putLong(uuid.getMostSignificantBits)
      ub.putLong(uuid.getLeastSignificantBits)
      val (fileB, sizeB) = dvFileBytes(Seq(0L))
      Files.write(new File(dir, s"deletion_vector_$uuid.bin").toPath, fileB)
      val dvB =
        s"""{"storageType":"u","pathOrInlineDv":"${Z85.encode(ub.array())}","offset":1,"sizeInBytes":$sizeB,"cardinality":1}"""

      // C: absolute path ("p")
      val (fileC, sizeC) = dvFileBytes(Seq(2L))
      val dvFileC = new File(dir, "deletion_vector_fixture.bin")
      Files.write(dvFileC.toPath, fileC)
      val dvC =
        s"""{"storageType":"p","pathOrInlineDv":"${dvFileC.getAbsolutePath}","offset":1,"sizeInBytes":$sizeC,"cardinality":1}"""

      writeCommit(dir, 0, Seq(protocolJson, metaJson(schemaJson, Nil),
        addJson("part-a.parquet", szA, dv = Some(dvA)),
        addJson("part-b.parquet", szB, dv = Some(dvB)),
        addJson("part-c.parquet", szC, dv = Some(dvC))))
    }

  /** Checkpointed delta: commit 0 (meta + file A) absorbed into a
    * checkpoint parquet, then a JSON commit 1 adds file B. Replay must
    * stitch checkpoint state + JSON tail. */
  def deltaNationCheckpoint(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_cp") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val szA = oneParquetFile(nation.filter(col("n_nationkey") <= 12), dir, "part-a.parquet")
      val szB = oneParquetFile(nation.filter(col("n_nationkey") > 12), dir, "part-b.parquet")
      writeCommit(dir, 0, Seq(protocolJson, metaJson(schemaJson, Nil),
        addJson("part-a.parquet", szA)))
      // checkpoint for version 0: same actions, columnar
      val logDir = new File(dir, "_delta_log")
      import s.implicits._
      val cpTmp = new File(dir, ".tmp_cp")
      s.read.json(Seq(protocolJson, metaJson(schemaJson, Nil),
        addJson("part-a.parquet", szA)).toDS())
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(cpTmp.getAbsolutePath)
      val cpPart = cpTmp.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.move(cpPart.toPath,
        new File(logDir, f"${0L}%020d.checkpoint.parquet").toPath,
        StandardCopyOption.REPLACE_EXISTING)
      delete(cpTmp)
      Files.write(new File(logDir, "_last_checkpoint").toPath,
        """{"version":0,"size":3}""".getBytes(StandardCharsets.UTF_8))
      writeCommit(dir, 1, Seq(addJson("part-b.parquet", szB)))
    }

  /** Multi-part checkpointed delta: commit 0 (meta + files A and B)
    * absorbed into a TWO-part checkpoint
    * (`0….checkpoint.0000000001.0000000002.parquet` + part 2), then a
    * JSON commit 1 adds file C. Also plants an ORPHAN part (version 1,
    * part 1 of 2, stale state) that replay must ignore — a multi-part
    * checkpoint with missing parts is unusable. */
  def deltaNationMultiCheckpoint(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_mcp_v3") { dir =>
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val szA = oneParquetFile(nation.filter(col("n_nationkey") <= 8), dir, "part-a.parquet")
      val szB = oneParquetFile(
        nation.filter(col("n_nationkey").between(9, 16)), dir, "part-b.parquet")
      val szC = oneParquetFile(nation.filter(col("n_nationkey") > 16), dir, "part-c.parquet")
      writeCommit(dir, 0, Seq(protocolJson, metaJson(schemaJson, Nil),
        addJson("part-a.parquet", szA), addJson("part-b.parquet", szB)))
      val logDir = new File(dir, "_delta_log")
      import s.implicits._
      def writeCpPart(name: String, lines: Seq[String]): Unit = {
        val tmp = new File(dir, ".tmp_cp")
        s.read.json(lines.toDS())
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, new File(logDir, name).toPath,
          StandardCopyOption.REPLACE_EXISTING)
        delete(tmp)
      }
      writeCpPart(f"${0L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
        Seq(protocolJson, metaJson(schemaJson, Nil), addJson("part-a.parquet", szA)))
      writeCpPart(f"${0L}%020d.checkpoint.${2}%010d.${2}%010d.parquet",
        Seq(addJson("part-b.parquet", szB)))
      Files.write(new File(logDir, "_last_checkpoint").toPath,
        """{"version":0,"size":4,"parts":2}""".getBytes(StandardCharsets.UTF_8))
      writeCommit(dir, 1, Seq(addJson("part-c.parquet", szC)))
      // orphan: version-1 checkpoint part 1 of 2, part 2 never written —
      // contains stale state (only file A) so using it would be visible
      writeCpPart(f"${1L}%020d.checkpoint.${1}%010d.${2}%010d.parquet",
        Seq(protocolJson, metaJson(schemaJson, Nil), addJson("part-a.parquet", szA)))
      // malformed: version-2 checkpoint whose two part files carry
      // out-of-range indices {2, 3} while claiming "of 2" — the file
      // COUNT matches `of`, so only an index-cover check rejects it;
      // accepting it would shadow the json replay with stale state
      // (only file A) and the 25-row assertion would fail
      writeCpPart(f"${2L}%020d.checkpoint.${2}%010d.${2}%010d.parquet",
        Seq(protocolJson, metaJson(schemaJson, Nil), addJson("part-a.parquet", szA)))
      writeCpPart(f"${2L}%020d.checkpoint.${3}%010d.${2}%010d.parquet",
        Seq(addJson("part-a.parquet", szA)))
      // junk filename whose 10-digit `of` overflows Int: replay must skip
      // it (never crash, never allocate a 1..of cover set)
      writeCpPart(s"${"0" * 17}003.checkpoint.0000000001.9999999999.parquet",
        Seq(addJson("part-a.parquet", szA)))
    }

  /** V2-spec checkpointed delta (`v2Checkpoint` reader feature): commit
    * 0 (protocol v3 + meta + files A and B) absorbed into a UUID-named
    * V2 checkpoint whose FILE ACTIONS live in two sidecar parquet files
    * under `_delta_log/_sidecars/` (the checkpoint file itself carries
    * only protocol, metaData, checkpointMetadata and the two `sidecar`
    * pointers), then a JSON commit 1 removes file A and adds file C.
    * Live rows = B + C (n_nationkey 9..24): a replay that ignored
    * sidecars would see only C; one that ignored the feature flag used
    * to reject outright. */
  def deltaNationV2Checkpoint(s: SparkSession, d: String): String =
    deltaNationV2CheckpointImpl(s, d, jsonLayout = false)

  /** The JSON-layout variant of [[deltaNationV2Checkpoint]] (the spec
    * allows `v.checkpoint.<uuid>.json` next to the parquet layout):
    * same actions, the checkpoint file is action-per-line JSON. */
  def deltaNationV2CheckpointJson(s: SparkSession, d: String): String =
    deltaNationV2CheckpointImpl(s, d, jsonLayout = true)

  private def deltaNationV2CheckpointImpl(
      s: SparkSession, d: String, jsonLayout: Boolean): String =
    ensure(d, if (jsonLayout) "delta_nation_v2cpj" else "delta_nation_v2cp") { dir =>
      val protoV2 =
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"],"writerFeatures":["v2Checkpoint"]}}"""
      val nation = Tables.t(s, d, "nation").orderBy("n_nationkey")
      val schemaJson = nation.schema.json
      val szA = oneParquetFile(nation.filter(col("n_nationkey") <= 8), dir, "part-a.parquet")
      val szB = oneParquetFile(
        nation.filter(col("n_nationkey").between(9, 16)), dir, "part-b.parquet")
      val szC = oneParquetFile(nation.filter(col("n_nationkey") > 16), dir, "part-c.parquet")
      // the JSON-layout variant mimics post-cleanup reality (commit 0
      // expired — metadata/adds live ONLY in the checkpoint+sidecars,
      // so a reader that misses the .json checkpoint fails loudly
      // rather than replaying around it); the parquet variant keeps
      // commit 0 so time travel to v0 is exercised there
      if (!jsonLayout)
        writeCommit(dir, 0, Seq(protoV2, metaJson(schemaJson, Nil),
          addJson("part-a.parquet", szA), addJson("part-b.parquet", szB)))
      val logDir = new File(dir, "_delta_log")
      logDir.mkdirs()
      val sidecarDir = new File(logDir, "_sidecars")
      sidecarDir.mkdirs()
      import s.implicits._
      def writeActionParquet(dest: File, lines: Seq[String]): Long = {
        val tmp = new File(dir, ".tmp_cp")
        s.read.json(lines.toDS())
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
        Files.move(part.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
        delete(tmp)
        dest.length()
      }
      val sz1 = writeActionParquet(new File(sidecarDir, "sc-1.parquet"),
        Seq(addJson("part-a.parquet", szA)))
      val sz2 = writeActionParquet(new File(sidecarDir, "sc-2.parquet"),
        Seq(addJson("part-b.parquet", szB)))
      val uuid = "0a1b2c3d-0000-4000-8000-000000000001"
      val cpActions = Seq(protoV2, metaJson(schemaJson, Nil),
        """{"checkpointMetadata":{"version":0}}""",
        s"""{"sidecar":{"path":"sc-1.parquet","sizeInBytes":$sz1,"modificationTime":0}}""",
        s"""{"sidecar":{"path":"sc-2.parquet","sizeInBytes":$sz2,"modificationTime":0}}""")
      if (jsonLayout)
        // ADVERSARIAL line order (spec-legal — the delta spec does not
        // order checkpoint actions): sidecars/checkpointMetadata FIRST,
        // protocol/metaData LAST, so a replay that processed lines in
        // file order would apply file actions before it knew the schema
        // or had run the feature gate — the reader must force
        // protocol → metaData → adds itself
        Files.write(
          new File(logDir, f"${0L}%020d.checkpoint.$uuid.json").toPath,
          cpActions.reverse.mkString("\n").getBytes(StandardCharsets.UTF_8))
      else
        writeActionParquet(
          new File(logDir, f"${0L}%020d.checkpoint.$uuid.parquet"), cpActions)
      Files.write(new File(logDir, "_last_checkpoint").toPath,
        """{"version":0,"size":5}""".getBytes(StandardCharsets.UTF_8))
      writeCommit(dir, 1, Seq(
        """{"remove":{"path":"part-a.parquet","deletionTimestamp":1,"dataChange":true}}""",
        addJson("part-c.parquet", szC)))
    }

  private def pad4(b: Array[Byte]): Array[Byte] =
    if (b.length % 4 == 0) b else b ++ new Array[Byte](4 - b.length % 4)

  /** A Delta table produced by GRAFT'S OWN WRITER ([[DeltaWriter]]), not
    * the hand-rolled commit JSON above: two appends of the orders corpus
    * split by order-key parity, hive-partitioned on o_orderpriority with
    * real per-file stats — the full writer → reader round trip q163 and
    * DeltaWriterSpec exercise (log replay over two commits, partition
    * values from the writer's paths, stats from its one-pass
    * aggregate). */
  def deltaOrdersWritten(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_written") { dir =>
      val orders = Tables.t(s, d, "orders")
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
        dir.getAbsolutePath, Seq("o_orderpriority"))
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
        dir.getAbsolutePath, Seq("o_orderpriority"))
    }

  /** A Delta table UPSERTED by graft's own merge verb: base = orders
    * with `o_orderkey % 3 != 0`, merged with every even-key order at
    * DOUBLED o_totalprice — so matched rows (even, not div-3) were
    * replaced in place, unmatched source rows (even AND div-3) were
    * inserted, and odd non-div-3 rows rode through untouched (q168
    * proves the composed state against the original corpus; the
    * file-granular copy-on-write semantics are pinned in
    * DeltaWriterSpec). */
  def deltaOrdersMerged(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_merged") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 3 =!= 0),
        path, Seq("o_orderpriority"))
      DeltaWriter.merge(
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        path, Seq("o_orderkey"))
      ()
    }

  /** A Delta table with rows DELETED by graft's own copy-on-write
    * delete verb: full orders, then `DELETE WHERE o_orderstatus = 'F'
    * AND o_orderkey % 5 = 0` (q169 proves the survivor set against the
    * original corpus). */
  def deltaOrdersDeleted(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_deleted") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders, path, Seq("o_orderpriority"))
      DeltaWriter.delete(s, path,
        col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
      ()
    }

  /** A Delta table UPDATED by graft's copy-on-write update verb: full
    * orders, then `UPDATE SET o_totalprice = o_totalprice / 2 WHERE
    * o_orderstatus = 'P'` — exact power-of-two halving, so both
    * engines' doubles are bit-identical (q170 proves the composed
    * state against a CASE expression over the original corpus). */
  def deltaOrdersUpdated(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_updated") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders, path, Seq("o_orderpriority"))
      DeltaWriter.update(s, path, col("o_orderstatus") === "P",
        Map("o_totalprice" -> (col("o_totalprice") / 2)))
      ()
    }

  /** A Delta table whose rows were deleted by graft's own
    * DELETION-VECTOR delete (merge-on-read: no file rewritten, dead
    * rows marked in roaring bitmaps the reader's DV anti-join
    * excludes): full orders, then `DELETE WHERE o_orderstatus = 'F'
    * AND o_orderkey % 5 = 0` via [[DeltaWriter.deleteWithVectors]] —
    * the same predicate as the copy-on-write fixture, so q171's oracle
    * is identical to q169's while the mechanism under test is entirely
    * different (writer-emitted vectors + protocol escalation decoded
    * by the reader's executor-side DV path). */
  def deltaOrdersDvDeleted(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_dv_deleted") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders, path, Seq("o_orderpriority"))
      DeltaWriter.deleteWithVectors(s, path,
        col("o_orderstatus") === "F" && col("o_orderkey") % 5 === 0)
      ()
    }

  /** A Delta table UPDATED merge-on-read (q184): every 'P'-status order
    * doubled in price via [[DeltaWriter.updateWithVectors]] — the old
    * rows die by writer-emitted vectors, the doubled versions land as
    * new files, NOTHING is rewritten in place (q170 pins the analogous
    * mutation through the copy-on-write verb, so a q184 divergence
    * isolates the vector+new-file path). */
  def deltaOrdersMorUpdated(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_mor_updated") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders, path, Seq("o_orderpriority"))
      DeltaWriter.updateWithVectors(s, path,
        col("o_orderstatus") === "P",
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      ()
    }

  /** A Delta table mutated ENTIRELY through the SQL DML surface
    * (`AdtContext.sql`: DELETE FROM + UPDATE SET dispatched through
    * [[Dml]] to the writer verbs) — the composed state must equal the
    * oracle's recomposition over the original corpus (q172). Same
    * predicates as the library-call fixtures q169/q170, so a
    * divergence isolates the SQL parsing/dispatch layer. */
  def deltaOrdersSqlDml(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_sql_dml") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders, path, Seq("o_orderpriority"))
      val ctx = new graft.AdtContext(s)
      ctx.sql(s"CREATE EXTERNAL TABLE sql_dml_fixture STORED AS DELTA LOCATION '$path'")
      ctx.sql("DELETE FROM sql_dml_fixture WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0")
      ctx.sql("UPDATE sql_dml_fixture SET o_totalprice = o_totalprice / 2 WHERE o_orderstatus = 'P'")
      ()
    }

  /** A Delta table that has lived the FULL maintenance life cycle on
    * graft's own writer: two appends, a partition backfill
    * (replacePartitions), an OPTIMIZE-style compaction clustered on
    * o_orderkey, a checkpoint, and a vacuum — final content must equal
    * the orders corpus exactly (q164 proves it against the original
    * rows; every op's atomic-commit semantics are pinned in
    * DeltaWriterSpec). */
  def deltaOrdersMaintained(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_maintained") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
        path, Seq("o_orderpriority"))
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
        path, Seq("o_orderpriority"))
      val prio = orders.agg(org.apache.spark.sql.functions.min(
        col("o_orderpriority"))).head().getString(0)
      DeltaWriter.replacePartitions(
        orders.filter(col("o_orderpriority") === prio), path,
        Map("o_orderpriority" -> Set(prio)))
      DeltaWriter.compact(s, path, sortBy = Seq("o_orderkey"))
      DeltaWriter.checkpoint(s, path)
      DeltaWriter.vacuum(s, path)
      ()
    }

  /** A Delta table rewritten by `OPTIMIZE ZORDER` (q176): lineitem's
    * key/dim columns appended in two stats-useless commits (each parity
    * file spans the full (l_partkey, l_suppkey) range, so neither dim
    * prunes anything), then [[DeltaWriter.optimizeZOrder]] re-clusters
    * into Morton-range files whose per-file min/max are tight in BOTH
    * dims. q176 proves the rewrite lost/duplicated nothing; the
    * either-dim file-skipping contrast is pinned in DeltaWriterSpec. */
  def deltaLineitemZOrdered(s: SparkSession, d: String): String =
    ensure(d, "delta_lineitem_zordered") { dir =>
      val li = Tables.t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      val path = dir.getAbsolutePath
      DeltaWriter.append(li.filter(col("l_orderkey") % 2 === 0), path)
      DeltaWriter.append(li.filter(col("l_orderkey") % 2 =!= 0), path)
      DeltaWriter.optimizeZOrder(s, path, "l_partkey", "l_suppkey",
        targetFiles = 8)
      ()
    }

  /** An SCD2 dimension maintained in SNAPSHOT mode (q182): bootstrap at
    * ts=100, then a COMPLETE extract at ts=200 containing only keys
    * < 15 (with the `%3==0` subset renamed) — so keys ≥ 15 are soft
    * deleted (closed, no successor), renamed keys close+reopen, and
    * the rest ride through open. */
  def deltaNationScd2Snapshot(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_scd2_snapshot") { dir =>
      val nation = Tables.t(s, d, "nation")
      val path = dir.getAbsolutePath
      DeltaWriter.scd2Apply(nation, path, Seq("n_nationkey"), 100L)
      val extract = nation.filter(col("n_nationkey") < 15)
        .withColumn("n_name", when(col("n_nationkey") % 3 === 0,
          concat(col("n_name"), lit("_V2"))).otherwise(col("n_name")))
      DeltaWriter.scd2Apply(extract, path, Seq("n_nationkey"), 200L,
        snapshotMode = true)
      ()
    }

  /** A Delta table RESTORED by graft's own restore verb (q179): two
    * appends, a copy-on-write DELETE of every 'F'-status order, then
    * `RESTORE TO VERSION AS OF 1` — the final table must equal the
    * untouched corpus again (the delete undone as a NEW commit, so the
    * deleted state stays time-travelable). */
  def deltaOrdersRestored(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_restored") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0), path)
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0), path)
      DeltaWriter.delete(s, path, col("o_orderstatus") === "F")
      DeltaWriter.restore(s, path, 1L)
      ()
    }

  /** An SCD TYPE-2 nation dimension maintained by
    * [[DeltaWriter.scd2Apply]] (q177): bootstrap at ts=100, a rename
    * batch at ts=200 for every `%3==0` key (with key 1 re-delivered
    * UNCHANGED — must create no version), and a region shift at ts=300
    * for every even key plus one brand-new key. The oracle recomposes
    * the identical history from the untouched corpus with a lead()
    * window. */
  def deltaNationScd2(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_scd2") { dir =>
      import s.implicits._
      val nation = Tables.t(s, d, "nation")
      val path = dir.getAbsolutePath
      DeltaWriter.scd2Apply(nation, path, Seq("n_nationkey"), 100L)
      val b2 = nation.filter(col("n_nationkey") % 3 === 0)
        .withColumn("n_name", concat(col("n_name"), lit("_V2")))
        .unionByName(nation.filter(col("n_nationkey") === 1))
      DeltaWriter.scd2Apply(b2, path, Seq("n_nationkey"), 200L)
      val b3 = nation.filter(col("n_nationkey") % 2 === 0)
        .withColumn("n_name", when(col("n_nationkey") % 3 === 0,
          concat(col("n_name"), lit("_V2"))).otherwise(col("n_name")))
        .withColumn("n_regionkey", col("n_regionkey") + 10)
        .unionByName(Seq((99, "NEW NATION", 0))
          .toDF("n_nationkey", "n_name", "n_regionkey"))
      DeltaWriter.scd2Apply(b3, path, Seq("n_nationkey"), 300L)
      ()
    }

  /** An incrementally-maintained COUNT/SUM materialization exercised
    * the way production runs it: base commit → refresh → base commit →
    * refresh, so the SECOND refresh genuinely reads only the second
    * commit's rows through the CDC feed (q167 proves the final
    * materialization equals the full aggregate computed by the
    * oracle). Layout: `<dir>/base` is the two-commit base table,
    * `<dir>/mv` the materialization. */
  def deltaOrdersIvm(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0), base)
      graft.operators.IncrementalAgg.refresh(
        s, base, mv, "o_orderpriority", cents)
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0), base)
      graft.operators.IncrementalAgg.refresh(
        s, base, mv, "o_orderpriority", cents)
      ()
    }

  /** A Delta table with a NON-APPEND change history for the full CDF
    * read (q185): v0 = the whole orders corpus, v1 = merge-on-read
    * delete of every `o_orderkey % 7 = 0` row (deletion vectors — the
    * minimal-feed path), v2 = copy-on-write UPDATE doubling
    * o_totalprice where `o_orderkey % 5 = 0` (delete+insert pairs whose
    * survivor churn must cancel exactly in any net consumer). */
  def deltaOrdersCdf(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cdf") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      // created WITH delta.enableChangeDataFeed (an overwrite at v0
      // carries properties), so the update commit writes cdc images
      // and version numbering stays v0/v1/v2
      DeltaWriter.overwrite(orders, path,
        properties = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaWriter.deleteWithVectors(s, path, col("o_orderkey") % 7 === 0)
      DeltaWriter.update(s, path, col("o_orderkey") % 5 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      ()
    }

  /** A COUNT/SUM materialization maintained by the STREAMING IVM
    * pipeline (q197): base = even-key orders hit by a DV delete and a
    * copy-on-write doubling update, folded via
    * `graft.streaming.StreamIvm` (CDF source, one micro-batch per
    * change commit); the base then moves on (odd-key append + CoW
    * delete) and the SAME checkpointed pipeline restarts, folding only
    * the new commits. The materialization under `mv/` must equal the
    * oracle recomputation over the mutated corpus. */
  def deltaOrdersIvmStreamed(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_streamed") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val ckpt = new File(dir.getParentFile, "delta_orders_ivm_streamed_ckpt")
      delete(ckpt)
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0), base)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 14 === 0)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 2,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      graft.streaming.StreamIvm.runToCompletion(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0), base)
      DeltaWriter.delete(s, base, col("o_orderkey") % 9 === 0)
      graft.streaming.StreamIvm.runToCompletion(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      ()
    }

  /** A Delta table whose ONLY change commit is a copy-on-write DELETE
    * (q204): v0 = the whole orders corpus, v1 = CoW delete of every
    * `o_orderkey % 3 = 0` row. The commit carries cdc actions, so the
    * CDF window (0..1] must emit EXACTLY the deleted rows — the oracle
    * counts the %3 class, so one leaked touched-file survivor breaks
    * the hash. */
  def deltaOrdersCdcDelete(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cdc_delete") { dir =>
      val orders = Tables.t(s, d, "orders")
      val path = dir.getAbsolutePath
      DeltaWriter.overwrite(orders, path,
        properties = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaWriter.delete(s, path, col("o_orderkey") % 3 === 0)
      ()
    }

  /** A partitioned CDF table maintained by ONE replacePartitions
    * (q207): v0 = orders partitioned by o_orderpriority with
    * `delta.enableChangeDataFeed`; v1 replaces the 1-URGENT partition
    * with doubled-price versions of its even-key rows. The verb
    * commits plain removes + adds (delta-spark writes no cdc for
    * overwrite-class commits either) and the feed's file-diff
    * derivation is EXACT here by construction: a replaced partition
    * has no survivors, so every removed row really is a delete and
    * every added row an insert. */
  def deltaOrdersCdcReplace(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cdc_replace") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.overwrite(orders, path,
        partitionBy = Seq("o_orderpriority"),
        properties = Map("delta.enableChangeDataFeed" -> "true"))
      DeltaWriter.replacePartitions(
        orders.filter(col("o_orderpriority") === "1-URGENT" &&
            col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        path, Map("o_orderpriority" -> Set("1-URGENT")))
      ()
    }

  /** A Delta table maintained by ONE MERGE (q205): base = even-key
    * orders; source = doubled-price versions of the %10=0 rows (all
    * even → matched updates) plus the odd %5=0 rows (unmatched
    * inserts). The merge commit's cdc actions spell the feed as exact
    * update_preimage / update_postimage / insert events. */
  def deltaOrdersCdcMerge(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cdc_merge") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.overwrite(orders.filter(col("o_orderkey") % 2 === 0),
        path, properties = Map("delta.enableChangeDataFeed" -> "true"))
      val src = orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(orders.filter(col("o_orderkey") % 2 === 1 &&
          col("o_orderkey") % 5 === 0))
      DeltaWriter.merge(src, path, Seq("o_orderkey"))
      ()
    }

  /** A Delta table with a GENERATED partition column (q196):
    * `o_year = year(o_orderdate)` declared at create — the canonical
    * derived-time-partitioning shape. The first append computes and
    * stamps it, the second append does NOT carry the column (the
    * writer computes it from the declared expression), and an UPDATE
    * then shifts `o_orderdate` on some rows — the generated partition
    * key must follow the source column (rows re-bucket into their new
    * year dirs in the same commit). */
  def deltaOrdersGenerated(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_generated") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0), path,
        Seq("o_year"), generated = Map("o_year" -> "year(o_orderdate)"))
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0), path,
        Seq("o_year"))
      DeltaWriter.update(s, path, col("o_orderkey") % 10 === 6,
        Map("o_orderdate" -> expr("o_orderdate + INTERVAL 365 DAYS")))
      ()
    }

  /** A SHALLOW CLONE of [[deltaOrdersCdf]] that then DIVERGED (q195):
    * version 0 references the source's post-DV-delete post-update
    * snapshot by absolute path (zero bytes copied, "u" vectors
    * re-addressed "p"), then a copy-on-write DELETE of every
    * `o_orderkey % 3 = 0` row rewrote only the touched absolute files
    * INTO the clone — the source and its q185/q194 windows stay
    * byte-identical. */
  def deltaOrdersCloned(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cloned") { dir =>
      val src = deltaOrdersCdf(s, d)
      DeltaWriter.cloneShallow(s, src, dir.getAbsolutePath)
      DeltaWriter.delete(s, dir.getAbsolutePath,
        col("o_orderkey") % 3 === 0)
      ()
    }

  /** The q185 change history REPLAYED THROUGH THE STREAMING CDF SOURCE
    * (q194): `readStream(graft-delta, readChangeFeed=true,
    * startingVersion=1, maxFilesPerTrigger=1)` over [[deltaOrdersCdf]]
    * — several micro-batches by construction — with each batch of
    * row-level events landed by the exactly-once sink, so the landed
    * event table equals the batch `loadChangeFeed(0, 2]` iff
    * commit-version offsets, per-window state seeding, and DV
    * row-diffs compose across micro-batch boundaries. */
  def deltaOrdersCdfStreamed(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_cdf_streamed") { dir =>
      val src = deltaOrdersCdf(s, d)
      val ckpt = new File(dir.getParentFile, "delta_orders_cdf_streamed_ckpt")
      delete(ckpt)
      val q = s.readStream.format("graft-delta")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .writeStream.format("graft-delta")
        .option("path", dir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }

  /** A COLUMN-MAPPED (mode=name) Delta table produced by graft's own
    * writer (q187): created mapped, appended twice (parity split,
    * hive-partitioned — dirs and partitionValues carry the minted
    * physical names), then `o_custkey` RENAMED to `customer_key` — the
    * metadata-only edit mapping exists for; every data file is
    * untouched and the reader resolves the new logical name through
    * the schemaString metadata. */
  def deltaOrdersMapped(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_mapped") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
        path, Seq("o_orderpriority"), columnMapping = "name")
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
        path, Seq("o_orderpriority"))
      DeltaWriter.renameColumn(s, path, "o_custkey", "customer_key")
      ()
    }

  /** A COLUMN-MAPPED table driven through the FULL verb surface (q188):
    * created mode=name hive-partitioned, `o_custkey` renamed, then
    * copy-on-write DELETE (%7), merge-on-read DV delete (%11),
    * copy-on-write UPDATE (%5, price doubled), compact, and a full
    * OPTIMIZE ZORDER — every rewrite staged back under the minted
    * physical names, every scan resolving them back to logical. A user
    * who creates a mapped table keeps the whole row-verb surface. */
  def deltaOrdersMappedVerbs(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_mapped_verbs") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
        path, Seq("o_orderpriority"), columnMapping = "name")
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
        path, Seq("o_orderpriority"))
      DeltaWriter.renameColumn(s, path, "o_custkey", "customer_key")
      DeltaWriter.delete(s, path, col("o_orderkey") % 7 === 0)
      DeltaWriter.deleteWithVectors(s, path, col("o_orderkey") % 11 === 0)
      DeltaWriter.update(s, path, col("o_orderkey") % 5 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, path)
      DeltaWriter.optimizeZOrder(s, path,
        Seq("o_orderkey", "customer_key"), targetFiles = 4)
      ()
    }

  /** An ID-MAPPED (mode=id) table driven through the full verb surface
    * (q190): created mode=id hive-partitioned — every staged parquet
    * file stamped with parquet field ids, the delta `id` contract —
    * then `o_custkey` renamed, CoW DELETE (%9), merge-on-read DV
    * delete (%13), CoW UPDATE (%4, price doubled), compact, OPTIMIZE
    * ZORDER. Scans resolve columns by FIELD ID (names in the files are
    * irrelevant), so a missed id stamp on any rewrite reads back
    * null. */
  def deltaOrdersIdMapped(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_id_mapped") { dir =>
      val orders = Tables.t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
      val path = dir.getAbsolutePath
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 === 0),
        path, Seq("o_orderpriority"), columnMapping = "id")
      DeltaWriter.append(orders.filter(col("o_orderkey") % 2 =!= 0),
        path, Seq("o_orderpriority"))
      DeltaWriter.renameColumn(s, path, "o_custkey", "customer_key")
      DeltaWriter.delete(s, path, col("o_orderkey") % 9 === 0)
      DeltaWriter.deleteWithVectors(s, path, col("o_orderkey") % 13 === 0)
      DeltaWriter.update(s, path, col("o_orderkey") % 4 === 0,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, path)
      DeltaWriter.optimizeZOrder(s, path,
        Seq("o_orderkey", "customer_key"), targetFiles = 4)
      ()
    }

  /** A Delta table REPLICATED from [[deltaOrdersWritten]] through the
    * full declarative streaming pipeline — `readStream.format
    * ("graft-delta")` (the commit-version-offset source, paced by
    * maxFilesPerTrigger) into `writeStream.format("graft-delta")` (the
    * txn-ledger exactly-once sink) — so the replica holds exactly the
    * source's rows iff commit-window replay and atomic micro-batch
    * commits compose losslessly end to end (q191 proves the composed
    * state against the original corpus). */
  def deltaOrdersReplicated(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_replica") { dir =>
      val src = deltaOrdersWritten(s, d)
      // the offset checkpoint lives OUTSIDE the replica dir; a stale
      // one from an aborted build would resume offsets against the
      // freshly-wiped replica, so it is rebuilt with the table
      val ckpt = new File(dir.getParentFile, "delta_orders_replica_ckpt")
      delete(ckpt)
      val q = s.readStream.format("graft-delta")
        .option("maxFilesPerTrigger", "8").load(src)
        .writeStream.format("graft-delta")
        .option("path", dir.getAbsolutePath)
        .option("checkpointLocation", ckpt.getAbsolutePath)
        .partitionBy("o_orderpriority")
        .start()
      try q.processAllAvailable() finally q.stop()
      ()
    }

  /** MIN/MAX IVM maintained THROUGH RETRACTIONS (q189): a
    * `(key, n, mn, mx)` materialization of order cents per priority,
    * refreshed, then hit with copy-on-write delete (%10=3 — certain to
    * retract some group extrema), DV delete (%10=4), copy-on-write
    * update (%10=5 doubled: retracts old values AND inserts new maxima)
    * and compact, then refreshed again — the second refresh merges
    * insert bounds for free and re-scans ONLY extremum-touched groups.
    * Oracle = the full recompute over the mutated corpus. */
  def deltaOrdersIvmMinMax(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_minmax") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders, base)
      graft.operators.IncrementalAgg.refreshMinMax(
        s, base, mv, "o_orderpriority", cents)
      DeltaWriter.delete(s, base, col("o_orderkey") % 10 === 3)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 10 === 4)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 5,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, base)
      graft.operators.IncrementalAgg.refreshMinMax(
        s, base, mv, "o_orderpriority", cents)
      ()
    }

  /** MIN/MAX materialization maintained by the STREAMING IVM pipeline
    * (q199): the q189 mutation classes driven through
    * `StreamIvm.runToCompletionMinMax` — a DV delete lands before the
    * first run (extremum retractions cross micro-batch boundaries),
    * then the base takes a copy-on-write delete, a doubling update
    * (retracts old values AND inserts new maxima) and a compaction,
    * and the SAME checkpointed pipeline restarts, folding only the new
    * commits with targeted rescans riding the base snapshot at each
    * window's top version. Final corpus — and therefore the oracle —
    * is exactly q189's. */
  def deltaOrdersIvmMinMaxStreamed(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_minmax_streamed") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val ckpt = new File(dir.getParentFile,
        "delta_orders_ivm_minmax_streamed_ckpt")
      delete(ckpt)
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders, base)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 10 === 4)
      graft.streaming.StreamIvm.runToCompletionMinMax(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      DeltaWriter.delete(s, base, col("o_orderkey") % 10 === 3)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 5,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, base)
      graft.streaming.StreamIvm.runToCompletionMinMax(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      ()
    }

  /** The q199 pipeline under the SKETCHED fold (q203) — the fourth
    * cell of the {poll, stream} × {scalar, sketched} matrix: same base
    * mutations, same checkpointed restart, but each trigger pops
    * sketches instead of rescanning. The oracle stays q189's. */
  def deltaOrdersIvmMinMaxSketchStreamed(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_minmax_sk_streamed") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val ckpt = new File(dir.getParentFile,
        "delta_orders_ivm_minmax_sk_streamed_ckpt")
      delete(ckpt)
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders, base)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 10 === 4)
      graft.streaming.StreamIvm.runToCompletionMinMaxSketched(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      DeltaWriter.delete(s, base, col("o_orderkey") % 10 === 3)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 5,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, base)
      graft.streaming.StreamIvm.runToCompletionMinMaxSketched(s, base, mv,
        "o_orderpriority", cents, Some(ckpt.getAbsolutePath),
        maxFilesPerTrigger = Some(1))
      ()
    }

  /** The q189 churn maintained by the SKETCHED MIN/MAX verb (q200):
    * same base mutations, but the materialization carries per-group
    * k=8 value sketches (`refreshMinMaxSketched`) — extremum deletes
    * pop the sketch instead of rescanning; the final (key, n, mn, mx)
    * must still hash-match the oracle's full recompute, proving the
    * sketch path exact, not just cheap. */
  def deltaOrdersIvmMinMaxSketched(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_minmax_sketched") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders, base)
      graft.operators.IncrementalAgg.refreshMinMaxSketched(
        s, base, mv, "o_orderpriority", cents)
      DeltaWriter.delete(s, base, col("o_orderkey") % 10 === 3)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 10 === 4)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 5,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, base)
      graft.operators.IncrementalAgg.refreshMinMaxSketched(
        s, base, mv, "o_orderpriority", cents)
      ()
    }

  /** A plain hive-partitioned parquet directory CONVERTED to delta in
    * place (q201): written by the ordinary parquet writer (no log),
    * migrated by `convertToDelta` (version 0 references the existing
    * files where they lie, stats computed), then mutated by a REAL
    * delta DELETE — proving the converted table carries the full verb
    * surface, and that conversion preserved every row/partition. */
  def deltaOrdersConverted(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_converted") { dir =>
      val orders = Tables.t(s, d, "orders")
      orders.write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(dir.getAbsolutePath)
      DeltaWriter.convertToDelta(s, dir.getAbsolutePath)
      DeltaWriter.delete(s, dir.getAbsolutePath, col("o_orderkey") % 6 === 0)
      ()
    }

  /** A landing-zone COPY INTO life cycle (q202): wave 1 of plain
    * parquet files ingested into a schema-only table, the SAME call
    * re-run (idempotent no-op against the per-file txn ledger), wave 2
    * dropped into the same landing root and ingested — only the new
    * files land. The final table must equal the whole corpus. */
  def deltaOrdersCopied(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_copied") { dir =>
      val orders = Tables.t(s, d, "orders")
      val landing = new File(dir, "landing")
      val tbl = new File(dir, "table").getAbsolutePath
      orders.filter(col("o_orderkey") % 2 === 0).repartition(2)
        .write.parquet(new File(landing, "w1").getAbsolutePath)
      DeltaWriter.append(orders.limit(0), tbl) // schema-only create
      DeltaWriter.copyInto(s, tbl, landing.getAbsolutePath)
      DeltaWriter.copyInto(s, tbl, landing.getAbsolutePath) // no-op
      orders.filter(col("o_orderkey") % 2 =!= 0).repartition(2)
        .write.parquet(new File(landing, "w2").getAbsolutePath)
      DeltaWriter.copyInto(s, tbl, landing.getAbsolutePath)
      ()
    }

  /** SQL INSERT INTO driven end-to-end (q206): a delta table created
    * from nation, then one full-row VALUES insert and one
    * partial-column-list SELECT insert landed through the SQL dispatch
    * (`AdtContext.sql` → [[Dml]] → [[DeltaWriter.append]]) — absent
    * columns null-fill, each statement is a real commit. The oracle
    * recomposes corpus + literals. */
  def deltaNationInserted(s: SparkSession, d: String): String =
    ensure(d, "delta_nation_inserted") { dir =>
      val nation = Tables.t(s, d, "nation")
      val tbl = new File(dir, "table").getAbsolutePath
      DeltaWriter.append(nation, tbl)
      val ctx = new graft.AdtContext(s)
      ctx.sql(s"CREATE EXTERNAL TABLE q206_ins STORED AS DELTA LOCATION '$tbl'")
      ctx.sql("INSERT INTO q206_ins VALUES " +
        "(900, 'INSERTED-A', 1), (901, 'INSERTED-B', 2)")
      ctx.sql("INSERT INTO q206_ins (n_nationkey, n_name) " +
        "SELECT CAST(n_nationkey + 1000 AS INT), concat('COPY-', n_name) " +
        "FROM q206_ins WHERE n_nationkey < 5")
      ()
    }

  /** IVM materialization maintained THROUGH RETRACTIONS (q186): refresh
    * after the initial append, then copy-on-write delete + deletion-
    * vector delete + copy-on-write update + compact on the base, then
    * one more refresh consuming the signed change feed — so the final
    * mv reflects every mutation class incrementally (the oracle is the
    * full recompute over the mutated corpus). */
  def deltaOrdersIvmRetract(s: SparkSession, d: String): String =
    ensure(d, "delta_orders_ivm_retract") { dir =>
      val orders = Tables.t(s, d, "orders")
      val base = new File(dir, "base").getAbsolutePath
      val mv = new File(dir, "mv").getAbsolutePath
      val cents = "CAST(round(o_totalprice * 100) AS BIGINT)"
      DeltaWriter.append(orders, base)
      graft.operators.IncrementalAgg.refresh(
        s, base, mv, "o_orderpriority", cents)
      DeltaWriter.delete(s, base, col("o_orderkey") % 10 === 3)
      DeltaWriter.deleteWithVectors(s, base, col("o_orderkey") % 10 === 4)
      DeltaWriter.update(s, base, col("o_orderkey") % 10 === 5,
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      DeltaWriter.compact(s, base)
      graft.operators.IncrementalAgg.refresh(
        s, base, mv, "o_orderpriority", cents)
      ()
    }
}
