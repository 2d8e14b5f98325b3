package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonToken
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types.{DataType, StructType}

/** The Delta transaction log's action format, in one place: the typed
  * actions, the one parser (Jackson tree → typed) and the one
  * serializer, and the one listing of a `_delta_log` directory's commit
  * and checkpoint files. [[DeltaReader]], [[DeltaWriter]] and the
  * streaming source speak only these types, so a field the protocol
  * defines is spelled, parsed and carried by exactly one piece of code
  * (delta-kernel-rs's `actions` module and delta-spark's
  * `actions.scala` play the same role, SURVEY §0, §7.4).
  *
  * A file action is identified as the protocol identifies it: (path,
  * deletion vector unique id) — [[AddFile.key]], [[RemoveFile.key]]. A
  * remove is always derived from the add it retires ([[RemoveFile.of]]),
  * so it names the same key and carries the add's partition values and
  * size.
  *
  * Parsing is null-tolerant: a JSON null reads as an absent field, the
  * shape a checkpoint row takes once Spark has unified the action
  * columns. Action kinds this engine does not model (`domainMetadata`,
  * `checkpointMetadata`, …) parse to None and replay skips them, as the
  * spec asks of readers.
  */
object DeltaActions {

  sealed trait Action

  /** `protocol`: the reader/writer version floors plus, from reader 3 /
    * writer 7, the explicit table-feature lists. */
  final case class Protocol(
      minReaderVersion: Int = 1,
      minWriterVersion: Int = 2,
      readerFeatures: Option[Seq[String]] = None,
      writerFeatures: Option[Seq[String]] = None) extends Action {

    /** This protocol announcing `feature` as a reader AND writer table
      * feature (floors raised to 3/7, existing features kept) — itself
      * when the feature is already announced. */
    def withFeature(feature: String): Protocol =
      if (readerFeatures.exists(_.contains(feature))) this
      else Protocol(3, 7,
        Some((readerFeatures.getOrElse(Nil) :+ feature).distinct),
        Some((writerFeatures.getOrElse(Nil) :+ feature).distinct))
  }

  /** `metaData`: table identity, schema, partitioning and properties. */
  final case class Metadata(
      id: String,
      schemaString: String,
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      createdTime: Option[Long] = None,
      name: Option[String] = None,
      description: Option[String] = None,
      provider: String = "parquet",
      formatOptions: Map[String, String] = Map.empty) extends Action {

    /** The logical schema (Delta's schemaString IS Spark's StructType
      * JSON), decoded once per action. */
    lazy val schema: StructType =
      DataType.fromJson(schemaString).asInstanceOf[StructType]

    def columnMappingMode: String =
      configuration.getOrElse("delta.columnMapping.mode", "none")

    /** logical → physical column name; empty unless column mapping is
      * on (parquet files and partitionValues keys use physical names). */
    lazy val physicalNames: Map[String, String] =
      if (columnMappingMode == "none") Map.empty
      else schema.fields.map { f =>
        f.name -> (
          if (f.metadata.contains("delta.columnMapping.physicalName"))
            f.metadata.getString("delta.columnMapping.physicalName")
          else f.name)
      }.toMap

    /** logical → parquet field id; empty unless `mode = id`. */
    lazy val fieldIds: Map[String, Long] =
      if (columnMappingMode != "id") Map.empty
      else schema.fields.collect {
        case f if f.metadata.contains("delta.columnMapping.id") =>
          f.name -> f.metadata.getLong("delta.columnMapping.id")
      }.toMap
  }

  final case class DvDescriptor(
      storageType: String, // "i" inline | "p" absolute path | "u" relative
      pathOrInlineDv: String,
      offset: Int,
      sizeInBytes: Int,
      cardinality: Long) {

    /** The protocol's identity of a vector: storage type and location,
      * plus the offset for file-stored vectors. */
    def uniqueId: String =
      if (storageType == "i") storageType + pathOrInlineDv
      else s"$storageType$pathOrInlineDv@$offset"

    /** Table-relative path of a `"u"` vector's `.bin` file:
      * `[prefix/]deletion_vector_<uuid>.bin`, where pathOrInlineDv is
      * the prefix followed by the Z85-encoded 16-byte UUID. */
    def relativeFile: String = {
      require(storageType == "u", s"not a relative DV: $storageType")
      require(pathOrInlineDv.length >= 20,
        s"malformed UUID DV path: $pathOrInlineDv")
      val (prefix, uuidPart) =
        pathOrInlineDv.splitAt(pathOrInlineDv.length - 20)
      val bb = java.nio.ByteBuffer.wrap(Z85.decode(uuidPart))
      val name = s"deletion_vector_${new java.util.UUID(bb.getLong, bb.getLong)}.bin"
      if (prefix.isEmpty) name else s"$prefix/$name"
    }
  }

  object DvDescriptor {
    /** The `"u"` pathOrInlineDv spelling of a `.bin` file's UUID (no
      * prefix: the file sits at the table root). */
    def relativeId(uuid: java.util.UUID): String = {
      val bb = java.nio.ByteBuffer.allocate(16)
      bb.putLong(uuid.getMostSignificantBits)
      bb.putLong(uuid.getLeastSignificantBits)
      Z85.encode(bb.array())
    }
  }

  final case class AddFile(
      path: String,
      size: Long, // from the add action — file sizes without filesystem stats
      partitionValues: Map[String, Option[String]],
      deletionVector: Option[DvDescriptor] = None,
      /** per-file statistics JSON (`numRecords`/`minValues`/`maxValues`/
        * `nullCount`) as written by the committing engine; powers
        * file-level data skipping in [[DeltaSnapshotFileIndex]]. */
      stats: Option[String] = None,
      /** the add action's `tags` map (spec-optional file annotations —
        * e.g. `optimized=zorder`, which [[DeltaWriter]]'s incremental
        * z-order uses to recognize its own outputs). */
      tags: Map[String, String] = Map.empty,
      modificationTime: Long = 0L,
      dataChange: Boolean = true) extends Action {
    def key: (String, Option[String]) = (path, deletionVector.map(_.uniqueId))
  }

  final case class RemoveFile(
      path: String,
      deletionTimestamp: Option[Long] = None,
      dataChange: Boolean = true,
      extendedFileMetadata: Option[Boolean] = None,
      partitionValues: Option[Map[String, Option[String]]] = None,
      size: Option[Long] = None,
      deletionVector: Option[DvDescriptor] = None) extends Action {
    def key: (String, Option[String]) = (path, deletionVector.map(_.uniqueId))
  }

  object RemoveFile {
    /** The remove that retires `add`: same (path, DV) key, with the
      * add's partition values and size (extended file metadata). */
    def of(add: AddFile, deletionTimestamp: Long,
        dataChange: Boolean): RemoveFile =
      RemoveFile(add.path, Some(deletionTimestamp), dataChange,
        Some(true), Some(add.partitionValues), Some(add.size),
        add.deletionVector)
  }

  /** `cdc`: a change-data file of one commit (feed data, never table
    * state). */
  final case class AddCDCFile(
      path: String,
      partitionValues: Map[String, Option[String]],
      size: Long,
      dataChange: Boolean = false) extends Action

  /** `txn`: one entry of the exactly-once producer ledger. */
  final case class Txn(appId: String, version: Long,
      lastUpdated: Option[Long] = None) extends Action

  /** `commitInfo`: the audit record this engine leads every commit
    * with (the stamp timestamp time travel resolves against). */
  final case class CommitInfo(timestamp: Option[Long] = None,
      operation: Option[String] = None,
      engineInfo: Option[String] = None) extends Action

  /** `sidecar`: a V2 checkpoint's pointer to a file of file actions
    * under `_delta_log/_sidecars/`. */
  final case class Sidecar(path: String, sizeInBytes: Long,
      modificationTime: Long) extends Action

  /** The `_last_checkpoint` body (not a log action). */
  final case class LastCheckpoint(version: Long, size: Long,
      parts: Option[Int] = None)

  /** A commit that only moves rows between files (compact / z-order):
    * it has file actions and every one carries `dataChange = false`.
    * Change feeds and the streaming source skip such commits. */
  def isLayoutOnly(actions: Seq[Action]): Boolean = {
    val changes = actions.collect {
      case a: AddFile => a.dataChange
      case r: RemoveFile => r.dataChange
    }
    changes.nonEmpty && !changes.contains(true)
  }

  // ----------------------------------------------------------- serializer

  /** One action as its log line. */
  def write(a: Action): String = a match {
    case p: Protocol => line("protocol",
      "minReaderVersion" -> Some(p.minReaderVersion.toString),
      "minWriterVersion" -> Some(p.minWriterVersion.toString),
      "readerFeatures" -> p.readerFeatures.map(strs),
      "writerFeatures" -> p.writerFeatures.map(strs))
    case m: Metadata => line("metaData",
      "id" -> Some(jstr(m.id)),
      "name" -> m.name.map(jstr),
      "description" -> m.description.map(jstr),
      "format" -> Some(obj("provider" -> Some(jstr(m.provider)),
        "options" -> Some(strMap(m.formatOptions)))),
      "schemaString" -> Some(jstr(m.schemaString)),
      "partitionColumns" -> Some(strs(m.partitionColumns)),
      "configuration" -> Some(strMap(m.configuration)),
      "createdTime" -> m.createdTime.map(_.toString))
    case f: AddFile => line("add",
      "path" -> Some(jstr(f.path)),
      "partitionValues" -> Some(pvMap(f.partitionValues)),
      "size" -> Some(f.size.toString),
      "modificationTime" -> Some(f.modificationTime.toString),
      "dataChange" -> Some(f.dataChange.toString),
      "stats" -> f.stats.map(jstr),
      "deletionVector" -> f.deletionVector.map(dv),
      "tags" -> Some(f.tags).filter(_.nonEmpty).map(strMap))
    case r: RemoveFile => line("remove",
      "path" -> Some(jstr(r.path)),
      "deletionTimestamp" -> r.deletionTimestamp.map(_.toString),
      "dataChange" -> Some(r.dataChange.toString),
      "extendedFileMetadata" -> r.extendedFileMetadata.map(_.toString),
      "partitionValues" -> r.partitionValues.map(pvMap),
      "size" -> r.size.map(_.toString),
      "deletionVector" -> r.deletionVector.map(dv))
    case c: AddCDCFile => line("cdc",
      "path" -> Some(jstr(c.path)),
      "partitionValues" -> Some(pvMap(c.partitionValues)),
      "size" -> Some(c.size.toString),
      "dataChange" -> Some(c.dataChange.toString))
    case t: Txn => line("txn",
      "appId" -> Some(jstr(t.appId)),
      "version" -> Some(t.version.toString),
      "lastUpdated" -> t.lastUpdated.map(_.toString))
    case c: CommitInfo => line("commitInfo",
      "timestamp" -> c.timestamp.map(_.toString),
      "operation" -> c.operation.map(jstr),
      "engineInfo" -> c.engineInfo.map(jstr))
    case s: Sidecar => line("sidecar",
      "path" -> Some(jstr(s.path)),
      "sizeInBytes" -> Some(s.sizeInBytes.toString),
      "modificationTime" -> Some(s.modificationTime.toString))
  }

  def write(lc: LastCheckpoint): String =
    obj("version" -> Some(lc.version.toString),
      "size" -> Some(lc.size.toString),
      "parts" -> lc.parts.map(_.toString))

  /** JSON string literal: quote, backslash and control characters
    * escaped; everything else (non-ASCII included) verbatim UTF-8. */
  private[sources] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def line(kind: String, fields: (String, Option[String])*): String =
    obj(kind -> Some(obj(fields: _*)))

  private def obj(fields: (String, Option[String])*): String =
    fields.collect { case (k, Some(v)) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")

  private def strs(xs: Seq[String]): String = xs.map(jstr).mkString("[", ",", "]")

  private def strMap(m: Map[String, String]): String =
    obj(m.toSeq.map { case (k, v) => k -> Some(jstr(v)) }: _*)

  private def pvMap(m: Map[String, Option[String]]): String =
    obj(m.toSeq.map { case (k, v) => k -> Some(v.fold("null")(jstr)) }: _*)

  private def dv(d: DvDescriptor): String =
    obj("storageType" -> Some(jstr(d.storageType)),
      "pathOrInlineDv" -> Some(jstr(d.pathOrInlineDv)),
      "offset" -> Some(d.offset.toString),
      "sizeInBytes" -> Some(d.sizeInBytes.toString),
      "cardinality" -> Some(d.cardinality.toString))

  // --------------------------------------------------------------- parser

  private val mapper = new ObjectMapper()

  /** One log line → its action; None for a blank line or an action kind
    * this engine does not model. */
  def parse(line: String): Option[Action] =
    if (line.trim.isEmpty) None else parse(mapper.readTree(line))

  def parse(root: JsonNode): Option[Action] = {
    val kinds: Seq[(String, JsonNode => Action)] = Seq(
      "add" -> parseAdd, "remove" -> parseRemove, "metaData" -> parseMeta,
      "protocol" -> parseProtocol, "txn" -> parseTxn, "cdc" -> parseCdc,
      "commitInfo" -> parseCommitInfo, "sidecar" -> parseSidecar)
    kinds.collectFirst { case (k, f) if field(root, k).isDefined =>
      f(root.get(k))
    }
  }

  private def parseAdd(n: JsonNode): Action = AddFile(
    text(n, "path").get, long(n, "size").getOrElse(0L),
    pvOf(n).getOrElse(Map.empty), dvOf(n),
    text(n, "stats").filter(_.nonEmpty), strMapOf(n, "tags"),
    long(n, "modificationTime").getOrElse(0L),
    bool(n, "dataChange").getOrElse(true))

  private def parseRemove(n: JsonNode): Action = RemoveFile(
    text(n, "path").get, long(n, "deletionTimestamp"),
    bool(n, "dataChange").getOrElse(true), bool(n, "extendedFileMetadata"),
    pvOf(n), long(n, "size"), dvOf(n))

  private def parseMeta(n: JsonNode): Action = {
    val format = field(n, "format")
    Metadata(
      text(n, "id").getOrElse(""), text(n, "schemaString").get,
      field(n, "partitionColumns").toSeq
        .flatMap(_.elements().asScala).map(_.asText()),
      strMapOf(n, "configuration"), long(n, "createdTime"),
      text(n, "name"), text(n, "description"),
      format.flatMap(text(_, "provider")).getOrElse("parquet"),
      format.map(strMapOf(_, "options")).getOrElse(Map.empty))
  }

  private def parseProtocol(n: JsonNode): Action = {
    def feats(k: String) =
      field(n, k).map(_.elements().asScala.map(_.asText()).toSeq)
    Protocol(long(n, "minReaderVersion").fold(1)(_.toInt),
      long(n, "minWriterVersion").fold(2)(_.toInt),
      feats("readerFeatures"), feats("writerFeatures"))
  }

  private def parseTxn(n: JsonNode): Action =
    Txn(text(n, "appId").get, long(n, "version").get, long(n, "lastUpdated"))

  private def parseCdc(n: JsonNode): Action = AddCDCFile(
    text(n, "path").get, pvOf(n).getOrElse(Map.empty),
    long(n, "size").getOrElse(0L), bool(n, "dataChange").getOrElse(false))

  private def parseCommitInfo(n: JsonNode): Action = CommitInfo(
    long(n, "timestamp"), text(n, "operation"), text(n, "engineInfo"))

  private def parseSidecar(n: JsonNode): Action = Sidecar(
    text(n, "path").get, long(n, "sizeInBytes").getOrElse(0L),
    long(n, "modificationTime").getOrElse(0L))

  private def field(n: JsonNode, k: String): Option[JsonNode] =
    Option(n.get(k)).filterNot(_.isNull)
  private def text(n: JsonNode, k: String) = field(n, k).map(_.asText())
  private def long(n: JsonNode, k: String) = field(n, k).map(_.asLong())
  private def bool(n: JsonNode, k: String) = field(n, k).map(_.asBoolean())

  private def strMapOf(n: JsonNode, k: String): Map[String, String] =
    field(n, k).map(_.properties().asScala.collect {
      case e if !e.getValue.isNull => e.getKey -> e.getValue.asText()
    }.toMap).getOrElse(Map.empty)

  private def pvOf(n: JsonNode): Option[Map[String, Option[String]]] =
    field(n, "partitionValues").map(_.properties().asScala.map { e =>
      e.getKey -> Option(e.getValue).filterNot(_.isNull).map(_.asText())
    }.toMap)

  private def dvOf(n: JsonNode): Option[DvDescriptor] =
    field(n, "deletionVector").map(d => DvDescriptor(
      text(d, "storageType").get, text(d, "pathOrInlineDv").get,
      long(d, "offset").fold(0)(_.toInt), long(d, "sizeInBytes").get.toInt,
      long(d, "cardinality").get))

  // ------------------------------------------------------------- log files

  /** A `_delta_log` directory's commits (versions, ascending) and its
    * COMPLETE checkpoints (version → file names). */
  final case class LogListing(commits: Vector[Long],
      checkpoints: Map[Long, Seq[String]]) {
    def isEmpty: Boolean = commits.isEmpty && checkpoints.isEmpty
    def newestCheckpoint(atOrBelow: Long = Long.MaxValue): Option[Long] =
      checkpoints.keys.filter(_ <= atOrBelow).maxOption
    /** Newest version the log records (a checkpoint counts: after log
      * cleanup it may be all that is left). */
    def latestVersion: Option[Long] =
      (commits.lastOption.toSeq ++ checkpoints.keys).maxOption
  }

  def listLog(logDir: File): LogListing = {
    val names = Option(logDir.list()).getOrElse(Array.empty[String]).toSeq
    LogListing(names.flatMap(commitVersion).sorted.toVector,
      checkpointsOf(names))
  }

  private val CommitName = "(\\d{20})\\.json".r

  /** Version of a commit file name (filename numbers are untrusted: an
    * overflowing one is not a commit). */
  def commitVersion(name: String): Option[Long] = name match {
    case CommitName(v) => scala.util.Try(v.toLong).toOption
    case _ => None
  }

  def commitFile(logDir: File, version: Long): File =
    new File(logDir, f"$version%020d.json")

  /** Run `body` over commit `version`'s actions, streamed line by line
    * (a caller that stops early reads no further). */
  def commitActions[A](logDir: File, version: Long)(
      body: Iterator[Action] => A): A = {
    val src = scala.io.Source.fromFile(commitFile(logDir, version), "UTF-8")
    try body(src.getLines().flatMap(parse(_: String)))
    finally src.close()
  }

  def readCommit(logDir: File, version: Long): Vector[Action] =
    commitActions(logDir, version)(_.toVector)

  /** Commit `version`'s `txn` actions. A line is parsed in full only
    * when its action key — the object's first field, read by a
    * streaming parser that stops there — is `txn`, so the add lines
    * and their stats, the bulk of a commit, are never tree-parsed. */
  def readTxns(logDir: File, version: Long): Vector[Txn] = {
    def isTxn(line: String): Boolean = {
      val p = mapper.getFactory.createParser(line)
      try p.nextToken() == JsonToken.START_OBJECT &&
        p.nextToken() == JsonToken.FIELD_NAME && p.currentName == "txn"
      finally p.close()
    }
    val src = scala.io.Source.fromFile(commitFile(logDir, version), "UTF-8")
    try src.getLines().filter(isTxn).flatMap(parse(_: String))
      .collect { case t: Txn => t }.toVector
    finally src.close()
  }

  def writeLastCheckpoint(logDir: File, lc: LastCheckpoint): Unit =
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      write(lc).getBytes(StandardCharsets.UTF_8))

  private val SingleCp = "(\\d{20})\\.checkpoint\\.parquet".r
  private val MultiCp = "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
  private val UuidCp = ("(\\d{20})\\.checkpoint\\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}" +
    "-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\\.(parquet|json)").r

  /** Version → the file names of each COMPLETE checkpoint at that
    * version, across every layout: classic single-file
    * `v.checkpoint.parquet`; multi-part `v.checkpoint.<part>.<of>.parquet`
    * (usable only when the part INDICES cover exactly 1..of — counting
    * files would accept a malformed log whose parts are out of range and
    * silently drop actions); and V2 UUID `v.checkpoint.<uuid>.{parquet|json}`
    * (several may coexist at one version — the lexicographically first
    * is taken for determinism, which also prefers .json over .parquet of
    * the identical state). Filename numbers are untrusted: an
    * overflowing one skips the file. */
  private def checkpointsOf(names: Seq[String]): Map[Long, Seq[String]] = {
    def num(s: String) = scala.util.Try(s.toLong).toOption
    val single = names.flatMap {
      case n @ SingleCp(v) => num(v).map(_ -> Seq(n))
      case _ => None
    }.toMap
    val multi = names.flatMap {
      case n @ MultiCp(v, part, of) =>
        scala.util.Try((v.toLong, part.toInt, of.toInt, n)).toOption
      case _ => None
    }.groupBy(t => (t._1, t._3)).collect {
      case ((v, of), xs) if xs.size == of &&
          xs.map(_._2).toSet == (1 to of).toSet =>
        v -> xs.map(_._4).sorted
    }
    val uuid = names.flatMap {
      case n @ UuidCp(v, _, _) => num(v).map(_ -> n)
      case _ => None
    }.groupBy(_._1).map { case (v, xs) => v -> Seq(xs.map(_._2).min) }
    multi ++ single ++ uuid
  }
}
