package graft.sources

import java.io.File
import java.lang.ref.SoftReference
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Serializable task payload for executor-side deletion-vector decode:
  * one row per DV'd data file; flatMapped into (file_path, row_index)
  * pairs ON EXECUTORS so the driver never materializes a bitmap. */
final case class DvSpec(
    file: String, // `_metadata.file_path`-formatted absolute path
    storageType: String,
    pathOrInlineDv: String,
    offset: Int,
    sizeInBytes: Int,
    tableRoot: String)

/** Minimal Delta Lake reader — no delta-spark dependency.
  *
  * Re-derives the behavior of the reference's kernel-based provider
  * (/root/reference/crates/providers/src/deltatable.rs:85-384): snapshot =
  * log replay of the `_delta_log` JSON commits on top of the latest parquet
  * checkpoint; schema from the snapshot's metaData action (Delta's
  * schemaString IS Spark's StructType JSON); file list + partition values
  * from surviving `add` actions (deltatable.rs:431-489); deletion vectors
  * become a row-index anti-filter (deltatable.rs:495-577 maps them to
  * parquet row-group/row selections — Spark's `_metadata.row_index`
  * expresses the same semantics declaratively and lets the vectorized
  * reader run unchanged).
  *
  * Scale notes: the JSON tail of the log is tiny by protocol design (the
  * checkpoint absorbs history), so driver-side replay of the tail is the
  * standard approach. The checkpoint is read through Spark once per file
  * identity (path, length, nanosecond mtime, file key) and prune map;
  * later replays of the same checkpoint reuse its decoded state from
  * [[checkpointCache]] — at most a small constant number of entries,
  * each O(#files) like the snapshot itself and softly referenced, so the
  * heap can reclaim it under pressure — and replay only the JSON tail. Data
  * reading is a plain multi-file vectorized parquet scan, so column
  * pruning and predicate pushdown are inherited; partition values are
  * attached via a broadcast join on `_metadata.file_path` (one tiny dim
  * per file — no shuffle of the fact side).
  */
object DeltaReader {

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------ checkpoint cache

  /** A checkpoint's replayed state: its protocol and metaData actions in
    * file order, and the adds `admitted` under the replay's prune map in
    * replay order (V2 sidecar adds included). */
  private final case class CheckpointState(protocols: Seq[JsonNode],
      metaData: Seq[JsonNode], adds: Vector[AddFile])

  /** A checkpoint file's identity short of its bytes: absolute path,
    * length, nanosecond mtime and the filesystem's file key (device +
    * inode on Unix, null where there is none). Checkpoints are immutable
    * by protocol; a file rewritten in place changes its mtime, and one
    * replaced by rename changes its file key. */
  private final case class FileIdentity(path: String, length: Long,
      mtimeNanos: Long, fileKey: Any)

  private def fileIdentity(f: File): FileIdentity = {
    val a = Files.readAttributes(f.toPath, classOf[BasicFileAttributes])
    FileIdentity(f.getAbsolutePath, a.size(),
      a.lastModifiedTime().to(TimeUnit.NANOSECONDS), a.fileKey())
  }

  private type CheckpointKey = (Seq[FileIdentity], Map[String, Set[String]])

  private val MaxCachedCheckpoints = 8

  /** Decoded checkpoint states, keyed by the identity of every file of
    * the checkpoint plus the replay's prune map (the admitted adds depend
    * on it). V2 sidecars need no identity of their own: the top file
    * names them. An access-ordered LRU of at most [[MaxCachedCheckpoints]]
    * entries whose values are soft references, so a 10⁶-add state is
    * reclaimable under heap pressure; a reclaimed entry is a miss. Guard
    * with `checkpointCache.synchronized` — two replays that miss at once
    * both decode, and the later put wins with an equal state. */
  private val checkpointCache =
    new java.util.LinkedHashMap[CheckpointKey,
      SoftReference[CheckpointState]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[CheckpointKey,
          SoftReference[CheckpointState]]): Boolean =
        size() > MaxCachedCheckpoints
    }

  private def cachedCheckpoint(key: CheckpointKey): Option[CheckpointState] =
    checkpointCache.synchronized {
      Option(checkpointCache.get(key)).flatMap { ref =>
        val state = Option(ref.get())
        if (state.isEmpty) checkpointCache.remove(key)
        state
      }
    }

  final case class AddFile(
      path: String,
      size: Long, // from the add action — file sizes without filesystem stats
      partitionValues: Map[String, Option[String]],
      deletionVector: Option[DvDescriptor],
      /** per-file statistics JSON (`numRecords`/`minValues`/`maxValues`/
        * `nullCount`) as written by the committing engine; powers
        * file-level data skipping in [[DeltaSnapshotFileIndex]]. */
      stats: Option[String] = None,
      /** the add action's `tags` map (spec-optional file annotations —
        * e.g. `optimized=zorder`, which [[DeltaWriter]]'s incremental
        * z-order uses to recognize its own outputs). */
      tags: Map[String, String] = Map.empty)

  final case class DvDescriptor(
      storageType: String, // "i" inline | "p" absolute path | "u" relative
      pathOrInlineDv: String,
      offset: Int,
      sizeInBytes: Int,
      cardinality: Long)

  final case class Snapshot(
      schema: StructType, // logical names (what queries see)
      partitionColumns: Seq[String], // logical names
      files: Seq[AddFile],
      version: Long,
      /** logical → physical column name, non-empty only under column
        * mapping (parquet files + partition value keys use the physical
        * names). */
      physicalNames: Map[String, String] = Map.empty,
      /** logical → parquet field id, non-empty only under
        * `delta.columnMapping.mode = id` (the scan matches parquet
        * columns by field id, not name). */
      fieldIds: Map[String, Long] = Map.empty,
      /** the metaData action's `configuration` map (table properties —
        * column-mapping mode, `delta.constraints.*` CHECK constraints,
        * …) as of this snapshot. */
      configuration: Map[String, String] = Map.empty,
      /** the last protocol action's version floors (spec defaults 1/2
        * when the log carries no protocol line) — DESCRIBE DETAIL's
        * protocol columns. */
      minReaderVersion: Int = 1,
      minWriterVersion: Int = 2)

  // ---------------------------------------------------------------- replay

  /** Replay the delta log into the latest snapshot. */
  def snapshot(spark: SparkSession, tablePath: String): Snapshot =
    snapshotAt(spark, tablePath, Long.MaxValue)

  /** Replay up to and including `maxVersion` (time travel; the reference
    * always reads latest — kernel snapshots support the same bound).
    *
    * `prune` is the past-10⁶-files path (SCALE.md "Scans"): a map of
    * partition column (logical name) → admitted string values (delta
    * stores partition values as strings). When non-empty, checkpoint
    * adds are filtered AS A DATAFRAME inside the checkpoint scan —
    * executor-side, before any driver collection — and JSON-tail adds
    * are filtered on parse, so the driver's live-file map only ever
    * holds matching adds. Pruning is conservative: adds that lack the
    * column pass through; a null partition value never matches. */
  def snapshotAt(spark: SparkSession, tablePath: String,
      maxVersion: Long,
      prune: Map[String, Set[String]] = Map.empty): Snapshot = {
    val logDir = new File(tablePath, "_delta_log")
    require(logDir.isDirectory, s"not a delta table (no _delta_log): $tablePath")

    val entries = logDir.listFiles().toSeq.map(_.getName)
    val jsonVersions = entries
      .collect { case n if n.matches("\\d{20}\\.json") => n.take(20).toLong }
      .sorted
    val checkpoints: Map[Long, Seq[String]] = checkpointsOf(entries)
    val checkpointVersions = checkpoints.keys.toSeq.sorted

    val usableJson = jsonVersions.filter(_ <= maxVersion)
    require(maxVersion == Long.MaxValue || usableJson.nonEmpty ||
      checkpointVersions.exists(_ <= maxVersion),
      s"no log entries at or before version $maxVersion at $tablePath — " +
        s"the earliest replayable version is ${(jsonVersions ++
          checkpointVersions).minOption.getOrElse(0L)}; history below it " +
        "was removed by log-retention cleanup (DeltaWriter.cleanupLogs / " +
        "delta.logRetentionDuration) or never existed")
    val cpVersion = checkpointVersions.filter(_ <= maxVersion).lastOption
    val live = mutable.LinkedHashMap[String, AddFile]()
    var schema: Option[StructType] = None
    var partCols: Seq[String] = Seq.empty
    var physNames: Map[String, String] = Map.empty
    var fldIds: Map[String, Long] = Map.empty
    var config: Map[String, String] = Map.empty

    // Protocol gate (the delta spec's reader contract): a table whose
    // protocol demands a reader version or reader FEATURE this replay
    // does not implement must be REJECTED, not silently misread.
    // v2Checkpoint is SUPPORTED (r14): UUID-named checkpoints are
    // discovered above and their sidecar file actions replayed below —
    // the feature whose omission previously forced a clean reject.
    val SupportedReaderFeatures =
      Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint")
    var protocolSeen = false
    var minReaderSeen = 1
    var minWriterSeen = 2
    def applyProtocol(node: JsonNode): Unit = {
      protocolSeen = true
      val minReader =
        Option(node.get("minReaderVersion")).map(_.asInt()).getOrElse(1)
      minReaderSeen = minReader
      minWriterSeen =
        Option(node.get("minWriterVersion")).map(_.asInt()).getOrElse(2)
      require(minReader <= 3,
        s"delta minReaderVersion $minReader is not supported by this reader")
      val feats = Option(node.get("readerFeatures")).toSeq
        .flatMap(_.elements().asScala).map(_.asText()).toSet
      val unsupported = feats -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        "delta reader features not supported by this reader: " +
          unsupported.toSeq.sorted.mkString(", "))
    }

    def applyMeta(node: JsonNode): Unit = {
      val mode = Option(node.get("configuration"))
        .flatMap(c => Option(c.get("delta.columnMapping.mode")))
        .map(_.asText()).getOrElse("none")
      // `name` mapping: the parquet files (and partitionValues keys)
      // carry the stable physical names from each field's metadata.
      // `id` mapping: the scan must match parquet columns by FIELD ID —
      // expressed through Spark's native parquet field-id resolution.
      require(mode == "none" || mode == "name" || mode == "id",
        s"column mapping mode '$mode' is not supported by this reader")
      val st = DataType.fromJson(node.get("schemaString").asText())
        .asInstanceOf[StructType]
      schema = Some(st)
      physNames =
        if (mode == "none") Map.empty
        else st.fields.map { f =>
          f.name -> (
            if (f.metadata.contains("delta.columnMapping.physicalName"))
              f.metadata.getString("delta.columnMapping.physicalName")
            else f.name)
        }.toMap
      fldIds =
        if (mode != "id") Map.empty
        else st.fields.collect {
          case f if f.metadata.contains("delta.columnMapping.id") =>
            f.name -> f.metadata.getLong("delta.columnMapping.id")
        }.toMap
      partCols = Option(node.get("partitionColumns")).toSeq
        .flatMap(_.elements().asScala).map(_.asText())
      config = Option(node.get("configuration")).map { c =>
        c.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
      }.getOrElse(Map.empty)
    }

    def parseDv(node: JsonNode): Option[DvDescriptor] =
      Option(node.get("deletionVector")).map { dv =>
        DvDescriptor(
          dv.get("storageType").asText(),
          dv.get("pathOrInlineDv").asText(),
          Option(dv.get("offset")).map(_.asInt()).getOrElse(0),
          dv.get("sizeInBytes").asInt(),
          dv.get("cardinality").asLong())
      }

    // prune admission shared by the checkpoint-DataFrame filter and the
    // JSON-tail parse — the two MUST agree: column absent → keep
    // (conservative); null value → drop; otherwise membership test.
    // Keys map through physNames because partitionValues carry physical
    // names under column mapping (metaData always precedes adds in a
    // spec-conforming log, so physNames is populated by add time).
    def admitted(pv: Map[String, Option[String]]): Boolean =
      prune.forall { case (c, vs) =>
        pv.get(physNames.getOrElse(c, c)).forall(_.exists(vs.contains))
      }

    def applyAdd(node: JsonNode): Unit = {
      val path = node.get("path").asText()
      val pv = Option(node.get("partitionValues")).map { m =>
        m.properties().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None else Some(e.getValue.asText()))
        }.toMap
      }.getOrElse(Map.empty[String, Option[String]])
      if (admitted(pv)) {
        val size = Option(node.get("size")).map(_.asLong()).getOrElse(0L)
        // `stats` is a JSON-encoded STRING inside the add action
        val stats = Option(node.get("stats")).filterNot(_.isNull)
          .map(_.asText()).filter(_.nonEmpty)
        val tags = Option(node.get("tags")).filterNot(_.isNull).map { t =>
          t.properties().asScala
            .filterNot(_.getValue.isNull)
            .map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty[String, String])
        live(path) = AddFile(path, size, pv, parseDv(node), stats, tags)
      } else live.remove(path) // newest action wins even when pruned out
    }

    /** The checkpoint miss path: read checkpoint `names` through Spark,
      * applying every action to the replay state; returns the protocol
      * and metaData actions it applied. Typed Row collection: project
      * just the action struct and JSON-encode it executor-side with
      * to_json (the nested partitionValues / configuration shapes vary
      * by writer — map vs inferred struct — so the polymorphic decode
      * goes through one compact JSON string per action instead of a
      * whole-row toJSON round-trip). */
    def decodeCheckpoint(names: Seq[String]): (Seq[JsonNode], Seq[JsonNode]) = {
      // checkpoint-side add replay, shared by the checkpoint file itself
      // and any V2 sidecar files. Checkpoint-side pruning (the
      // past-10⁶-files path): the prune predicate runs inside the
      // parquet scan, so only surviving adds are ever serialized to the
      // driver. The DF filter keeps a SUPERSET of `admitted`'s keep-set
      // — an add whose partitionValues lack the prune key (or carry
      // null) passes through, exactly like the JSON-tail path — and
      // `admitted` re-applies the precise predicate when each surviving
      // add is parsed, so over-keeping here costs driver memory only,
      // never correctness. Writers store partitionValues as a
      // map<string,string> (spec) or an inferred struct — both shapes
      // filter; anything else falls back to keep-all.
      def replayAdds(src: DataFrame): Unit =
        if (src.columns.contains("add")) {
          val adds = src.where(col("add").isNotNull)
          val pruned = prune.foldLeft(adds) { case (df, (c, vs)) =>
            val key = physNames.getOrElse(c, c)
            val access = df.schema("add").dataType match {
              case s: StructType => s.find(_.name == "partitionValues")
                .map(_.dataType).flatMap {
                  case _: MapType =>
                    Some(element_at(col("add.partitionValues"), lit(key)))
                  case pv: StructType if pv.fieldNames.contains(key) =>
                    Some(col(s"add.partitionValues.`$key`").cast("string"))
                  case _ => None
                }
              case _ => None
            }
            access.map(a => df.where(a.isNull || a.isin(vs.toSeq: _*)))
              .getOrElse(df)
          }
          pruned.select(to_json(col("add")))
            .collect().foreach { r =>
              applyAdd(mapper.readTree(r.getString(0)))
            }
        }

      val cpPaths = names.map(n => new File(logDir, n).getAbsolutePath)
      // Both checkpoint layouts load as a DataFrame and share ALL the
      // replay logic below — which forces the protocol → metaData →
      // adds ordering regardless of row/line order inside the file
      // (the delta spec does not order checkpoint actions; metaData
      // must be applied before adds so `admitted` sees physNames), and
      // keeps inline adds flowing through the executor-side prune scan
      // even for a JSON-layout V2 checkpoint with 10⁶ inline actions.
      // mergeSchema (parquet): multi-part checkpoint parts may carry
      // disjoint action columns (one part all adds, another the
      // metaData); without the union schema, Spark infers from ONE
      // part's footer and the other action columns silently vanish
      // from the replay.
      val cp =
        if (names.forall(_.endsWith(".json"))) spark.read.json(cpPaths: _*)
        else spark.read.option("mergeSchema", "true").parquet(cpPaths: _*)
      // protocol, metaData and V2 sidecar pointers are metadata-sized:
      // ONE collect fetches all three (to_json of an absent action is
      // null). Protocol and metaData are applied before any add is
      // admitted, because the prune filter's physNames come from
      // metaData.
      val actionCols =
        Seq("protocol", "metaData", "sidecar").filter(cp.columns.contains)
      val actions =
        if (actionCols.isEmpty) Array.empty[Row]
        else cp.where(actionCols.map(c => col(c).isNotNull).reduce(_ || _))
          .select(actionCols.map(c => to_json(col(c))): _*).collect()
      def decoded(c: String): Seq[JsonNode] = {
        val i = actionCols.indexOf(c)
        if (i < 0) Nil
        else actions.toSeq.collect {
          case r if !r.isNullAt(i) => mapper.readTree(r.getString(i))
        }
      }
      val protocols = decoded("protocol")
      val metaData = decoded("metaData")
      protocols.foreach(applyProtocol)
      metaData.foreach(applyMeta)
      replayAdds(cp)
      val sidecarNames = decoded("sidecar").map(_.get("path").asText())
      // V2 checkpoint sidecars: the checkpoint's `sidecar` actions name
      // parquet files under `_delta_log/_sidecars/` holding the file
      // actions (the spec allows inline OR sidecar storage — both are
      // replayed; sidecar `remove`s are expired-tombstone bookkeeping,
      // ignored exactly like classic checkpoint removes). The sidecar
      // name list is metadata-sized on the driver; all sidecar files
      // are read in ONE multi-file parquet scan so the add replay (and
      // its executor-side pruning) parallelizes across them, the same
      // economics as the multi-part path.
      if (sidecarNames.nonEmpty) {
        val sidecarPaths = sidecarNames.map { p =>
          if (p.startsWith("/") || p.contains("://")) p
          else new File(new File(logDir, "_sidecars"), p).getAbsolutePath
        }
        replayAdds(spark.read.option("mergeSchema", "true")
          .parquet(sidecarPaths: _*))
      }
      (protocols, metaData)
    }

    // 1. checkpoint state (parquet with add/remove/metaData columns),
    // decoded once per checkpoint file identity and prune map (see
    // [[checkpointCache]]). A hit re-applies the cached protocol — the
    // reader-feature gate runs again — and metaData, then restores the
    // admitted adds in their replay order; only a miss reads through
    // Spark.
    cpVersion.foreach { v =>
      val names = checkpoints(v)
      val key = (names.map(n => fileIdentity(new File(logDir, n))), prune)
      cachedCheckpoint(key) match {
        case Some(cached) =>
          cached.protocols.foreach(applyProtocol)
          cached.metaData.foreach(applyMeta)
          cached.adds.foreach(a => live(a.path) = a)
        case None =>
          val (protocols, metaData) = decodeCheckpoint(names)
          checkpointCache.synchronized {
            checkpointCache.put(key, new SoftReference(
              CheckpointState(protocols, metaData, live.values.toVector)))
          }
      }
    }

    // 2. JSON commits after the checkpoint, in version order
    val tail = usableJson.filter(v => cpVersion.forall(_ < v))
    tail.foreach { v =>
      val f = new File(logDir, f"$v%020d.json")
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala
        .filter(_.nonEmpty).foreach { line =>
          val node = mapper.readTree(line)
          if (node.has("protocol")) applyProtocol(node.get("protocol"))
          if (node.has("metaData")) applyMeta(node.get("metaData"))
          if (node.has("add")) applyAdd(node.get("add"))
          if (node.has("remove")) live.remove(node.get("remove").get("path").asText())
        }
    }

    // a spec-conforming checkpoint always restates the protocol; a replay
    // that used a checkpoint but saw none anywhere ran UNGATED — surface
    // it rather than silently trusting a contra-spec log
    if (cpVersion.isDefined && !protocolSeen)
      System.err.println(
        s"[delta] WARNING: no protocol action across checkpoint + JSON " +
          s"tail of $tablePath — reader-feature gate could not run")

    val finalSchema = schema.getOrElse(
      throw new IllegalStateException(s"no metaData action in log: $tablePath"))
    // version: newest JSON commit, or the checkpoint's own version when
    // log cleanup removed every JSON commit it covers (reporting 0
    // there would make version-keyed consumers — CDC windows, the
    // incremental-maintenance no-op return — silently restart)
    Snapshot(finalSchema, partCols,
      live.values.toSeq,
      (cpVersion.toSeq ++ usableJson).maxOption.getOrElse(0L), physNames,
      fldIds, config, minReaderSeen, minWriterSeen)
  }

  // ------------------------------------------------------------- dataframe

  /** Load a delta table as a DataFrame (schema = file cols ++ partition
    * cols, mirroring deltatable.rs:136-189).
    *
    * Partitioned tables are ONE multi-file scan over a snapshot-backed
    * [[DeltaSnapshotFileIndex]] (the same pattern as delta-spark's
    * TahoeFileIndex): partition values come typed from the delta log, the
    * plan has a single scan node regardless of partition count, and
    * filters on partition columns prune files statically through
    * `FileIndex.listFiles(partitionFilters, …)` — O(1) plan size where
    * the old per-tuple union was O(#distinct tuples)
    * (deltatable.rs:454-469 prunes inside the kernel the same way).
    *
    * Deletion vectors: DV descriptors (a few hundred bytes per file) are
    * parallelized to EXECUTORS, decoded there into (file, row_index)
    * pairs, and anti-joined against the scan on the `_metadata` row
    * address. No bitmap is ever materialized on the driver, so a 100 TB
    * table with billions of deleted rows costs the driver only the
    * descriptor list; the join strategy is left to Catalyst/AQE (broadcast
    * when small, shuffle when not). */
  def load(spark: SparkSession, tablePath: String): DataFrame =
    loadAt(spark, tablePath, Long.MaxValue)

  /** The past-10⁶-files scan path (SCALE.md "Scans"): load with
    * partition-value pruning applied DURING log replay, so the driver's
    * snapshot holds only the matching file entries — the checkpoint's
    * adds are filtered executor-side as a DataFrame before collection.
    * The result contains exactly the rows of the admitted partitions
    * (`partitionValues`: logical column → admitted string values, the
    * encoding delta stores). The plain [[load]] path keeps whole-snapshot
    * replay + `listFiles`-time pruning, which is right up to ~10⁶ files. */
  def loadWhere(spark: SparkSession, tablePath: String,
      partitionValues: Map[String, Set[String]],
      version: Long = Long.MaxValue): DataFrame =
    loadAt(spark, tablePath, version, partitionValues)

  /** Timestamp-based time travel: the version that was current at
    * `tsMillis` — the LAST version whose commit stamp is <= the query
    * stamp. Per-commit stamps come from the commit's own
    * `commitInfo.timestamp` when present ([[DeltaWriter]] emits one on
    * every commit; real engines do too) and fall back to the commit
    * file's mtime for hand-written logs; stamps are adjusted to a
    * running max first (delta-spark's rule — clock skew between
    * commits must not make the version mapping non-monotone). Commits
    * removed by log cleanup have no stamp: time travel reaches back
    * only to the earliest surviving JSON commit, and a `tsMillis`
    * before that is refused rather than silently clamped. Driver cost:
    * one metadata-sized read per surviving commit. */
  def versionAtTimestamp(tablePath: String, tsMillis: Long): Long = {
    val commits = commitHistory(tablePath)
    require(commits.nonEmpty,
      s"no JSON commits under $tablePath — their timestamps are the time " +
        "travel index, and log cleanup removed them")
    require(tsMillis >= commits.head._2,
      s"timestamp $tsMillis predates the earliest available commit " +
        s"(version ${commits.head._1} at ${commits.head._2})")
    commits.filter(_._2 <= tsMillis).map(_._1).max
  }

  /** `(version, stampMillis, operation)` per surviving JSON commit,
    * version ascending — the table's history as `DESCRIBE HISTORY`
    * reports it and [[versionAtTimestamp]] indexes it. Stamps come
    * from each commit's `commitInfo.timestamp` (file mtime fallback
    * for hand-written logs) adjusted to a running max — delta-spark's
    * rule, so clock skew between commits cannot make the
    * version↦stamp mapping non-monotone. Operation is commitInfo's
    * (empty when the commit carries none). */
  def commitHistory(tablePath: String): Seq[(Long, Long, String)] =
    scanCommitLog(tablePath, withStats = false)
      .map(c => (c._1, c._2, c._3))

  /** [[commitHistory]] plus per-commit OPERATION METRICS in the SAME
    * single pass over the JSON log — `(version, stampMillis,
    * operation, numAddedFiles, numRemovedFiles, numOutputRows)`, where
    * numOutputRows sums the add actions' written `stats.numRecords`
    * (adds without stats contribute 0; an all-statless commit reports
    * None). The DESCRIBE HISTORY surface — delta-spark's audit
    * columns — without re-reading the log a second time. */
  def commitHistoryWithMetrics(tablePath: String)
      : Seq[(Long, Long, String, Long, Long, Option[Long])] =
    scanCommitLog(tablePath, withStats = true)

  /** One pass over the surviving JSON commits: commitInfo stamp
    * (mtime fallback, running-max monotone per delta-spark's rule) +
    * operation, and — only when `withStats` (the DESCRIBE HISTORY
    * path) — add/remove counts and summed written row counts. When
    * `withStats` is false the per-file scan STOPS at the first
    * commitInfo line (publish always writes it first), so the
    * versionAtTimestamp / vacuum / streaming-source callers keep
    * their one-metadata-line-per-commit cost — a full action scan on
    * a 5,000-add commit would be a 5,000× parse regression on every
    * timestamp resolution. */
  private def scanCommitLog(tablePath: String, withStats: Boolean)
      : Seq[(Long, Long, String, Long, Long, Option[Long])] = {
    val logDir = new File(tablePath, "_delta_log")
    require(logDir.isDirectory, s"not a delta table (no _delta_log): $tablePath")
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val raw = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json"))
      .map { f =>
        val v = f.getName.take(20).toLong
        var ci: Option[(Option[Long], String)] = None
        var adds = 0L; var removes = 0L
        var rows = 0L; var statted = false
        val declared = scala.io.Source.fromFile(f, "UTF-8")
        try {
          val lines = declared.getLines()
          var done = false
          while (lines.hasNext && !done) {
            val line = lines.next()
            if (ci.isEmpty && line.contains("\"commitInfo\""))
              Option(jackson.readTree(line).get("commitInfo")).foreach(n =>
                ci = Some((Option(n.get("timestamp")).map(_.asLong()),
                  Option(n.get("operation")).map(_.asText()).getOrElse(""))))
            if (!withStats) done = ci.nonEmpty
            else {
              if (line.contains("\"add\""))
                Option(jackson.readTree(line).get("add")).foreach { a =>
                  adds += 1
                  Option(a.get("stats")).filterNot(_.isNull)
                    .map(_.asText()).filter(_.nonEmpty).foreach { st =>
                      Option(jackson.readTree(st).get("numRecords"))
                        .foreach { n => rows += n.asLong(); statted = true }
                    }
                }
              if (line.contains("\"remove\"") &&
                jackson.readTree(line).has("remove")) removes += 1
            }
          }
        } finally declared.close()
        (v, ci.flatMap(_._1).getOrElse(f.lastModified()),
          ci.map(_._2).getOrElse(""), adds, removes,
          if (statted) Some(rows) else None)
      }.sortBy(_._1).toSeq
    if (raw.isEmpty) Nil
    else raw.tail.scanLeft(raw.head) { case ((_, prev, _, _, _, _), c) =>
      (c._1, math.max(prev, c._2), c._3, c._4, c._5, c._6)
    }
  }

  /** Time travel: load the snapshot as of `version`
    * (`OPTIONS(versionAsOf='N')` through the DDL shim). */
  def loadAt(spark: SparkSession, tablePath: String,
      version: Long, prune: Map[String, Set[String]] = Map.empty,
      tagSourceFile: Boolean = false): DataFrame = {
    val snap = snapshotAt(spark, tablePath, version, prune)
    if (snap.files.isEmpty)
      // no live files — every file pruned out, or the table is
      // legitimately EMPTY (a delete that matched every row, an IVM
      // materialization whose groups all retracted): an empty relation
      // in the table's schema, not a refusal — the metaData commit is
      // what proves a delta table exists here, snapshotAt already
      // failed if it does not
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)

    // Under column mapping the parquet files and partitionValues keys use
    // physical names. `name` mode: the scan runs on physical names and
    // the final projection restores logical names. `id` mode: the scan
    // keeps logical names but tags each field with its parquet field id
    // and lets Spark's native field-id resolution match columns
    // (spark.sql.parquet.fieldId.read.enabled) — names in the file are
    // irrelevant, exactly the delta `id` contract.
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    val idMode = snap.fieldIds.nonEmpty
    // id-mode needs spark.sql.parquet.fieldId.read.enabled, a
    // session-build conf ([[graft.AdtContext.engineConfs]] — every
    // session entry point sets it; Spark reads the key from session
    // state at physical-planning time, so a scan-scoped save/restore
    // could not carry it).
    def scanName(n: String): String = if (idMode) n else phys(n)
    val partSet = snap.partitionColumns.toSet
    val fileFields = snap.schema.filterNot(f => partSet(f.name))
    val fileSchema = StructType(fileFields.map { f =>
      val meta =
        if (idMode && snap.fieldIds.contains(f.name))
          new MetadataBuilder()
            .putLong("parquet.field.id", snap.fieldIds(f.name)).build()
        else Metadata.empty
      StructField(scanName(f.name), f.dataType, f.nullable, meta)
    })
    val partSchema = StructType(snap.partitionColumns.map { n =>
      val f = snap.schema(snap.schema.fieldIndex(n))
      StructField(phys(n), f.dataType, f.nullable)
    })
    val root = new File(tablePath).getAbsolutePath
    val hasDv = snap.files.exists(_.deletionVector.nonEmpty)

    // Partitioned AND unpartitioned tables share the snapshot-backed
    // FileIndex scan: one scan node, static partition pruning through
    // listFiles, and file-level DATA SKIPPING from the add actions' stats
    // (min/max per column — the same per-file pruning the reference gets
    // from kernel scan metadata, deltatable.rs:279-284,454-469).
    val base = {
      val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val index = new DeltaSnapshotFileIndex(spark, snap, root, partSchema,
        snap.partitionColumns.map(phys))
      classic.baseRelationToDataFrame(HadoopFsRelation(
        index, partSchema, fileSchema, None, new ParquetFileFormat,
        Map.empty[String, String])(spark))
    }

    val assembled =
      if (!hasDv) base
      else {
        // `_metadata` row addresses are only materialized when some file
        // actually carries a DV.
        val df = base
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__row", col("_metadata.row_index"))
        val specs = snap.files.flatMap { a =>
          a.deletionVector.map { dv =>
            // the join key must match `_metadata.file_path` EXACTLY —
            // Spark emits "file:/abs/path" with RFC-encoded specials
            // (a partition dir like `k=A B` reads as `k=A%20B`), which
            // File.toURI reproduces; a decoded spelling would silently
            // skip the file's vector and resurrect its dead rows
            // (caught by the partitioned deleteWithVectors spec).
            val uri = new File(resolved(root, decodePath(a.path)))
              .toURI.toString
            DvSpec(uri, dv.storageType,
              dv.pathOrInlineDv, dv.offset, dv.sizeInBytes, root)
          }
        }
        import spark.implicits._
        val sc = spark.sparkContext
        val deleted = spark
          .createDataset(sc.parallelize(specs,
            math.max(1, math.min(specs.size, sc.defaultParallelism))))
          .flatMap { sp =>
            DeletionVectors
              .deletedRows(DvDescriptor(sp.storageType, sp.pathOrInlineDv,
                sp.offset, sp.sizeInBytes, -1L), sp.tableRoot)
              .map(r => (sp.file, r))
          }
          .toDF("__file", "__row")
        df.join(deleted, Seq("__file", "__row"), "left_anti")
          .withColumnRenamed("__file", "__source_file")
          .withColumnRenamed("__row", "__row_index")
      }

    // `tagSourceFile` (copy-on-write / deletion-vector verbs:
    // DeltaWriter.merge/delete/update/deleteWithVectors) appends the
    // absolute file URI and physical row index each row came from —
    // resolved HERE, against the pre-projection relation, because
    // `_metadata` is a scan-relation column that does not survive the
    // logical-name projection below.
    val outCols =
      fileFields.map(f => col(scanName(f.name)).as(f.name)) ++
        snap.partitionColumns.map(n => col(phys(n)).as(n)) ++
        (if (!tagSourceFile) Nil
         else if (hasDv) Seq(col("__source_file"), col("__row_index"))
         else Seq(col("_metadata.file_path").as("__source_file"),
           col("_metadata.row_index").as("__row_index")))
    assembled.select(outCols: _*)
  }

  /** Delta paths are URL-encoded relative paths. */
  private[sources] def decodePath(p: String): String =
    java.net.URLDecoder.decode(p, "UTF-8")

  /** Resolve an already-decoded file-action path against the table
    * root. Delta paths are table-relative OR ABSOLUTE — the shallow-
    * clone contract ([[DeltaWriter.cloneShallow]]): a cloned table's
    * version-0 adds point into the source table by absolute path, so
    * every scan site resolves through here instead of blindly
    * prefixing the root. */
  private[sources] def resolved(root: String, decoded: String): String =
    if (decoded.startsWith("/")) decoded
    else new File(root, decoded).getAbsolutePath

  /** Latest `txn` version recorded for `appId` — the exactly-once
    * producer ledger ([[DeltaWriter.appendOnce]]'s check): max over the
    * JSON commits' txn actions plus any checkpoint parquet's carried
    * txn rows (this engine's checkpoint writer carries them verbatim,
    * so the ledger survives log cleanup). None when the app has no
    * record (including a not-yet-created table). */
  def lastTxnVersion(spark: SparkSession, tablePath: String,
      appId: String): Option[Long] = {
    val logDir = new File(tablePath, "_delta_log")
    val files = Option(logDir.listFiles()).getOrElse(Array.empty[File])
    val mapper = new ObjectMapper()
    var best: Option[Long] = None
    def consider(v: Long): Unit =
      if (best.forall(_ < v)) best = Some(v)
    files.filter(_.getName.matches("\\d{20}\\.json")).foreach { f =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split('\n').filter(_.contains("\"txn\""))
        .foreach { l =>
          Option(mapper.readTree(l).get("txn")).foreach { t =>
            if (t.get("appId").asText() == appId)
              consider(t.get("version").asLong())
          }
        }
    }
    newestCheckpointTxns(spark, logDir).foreach { case (id, v) =>
      if (id == appId) consider(v)
    }
    best
  }

  /** Version → the file names of each COMPLETE checkpoint at that
    * version, across every layout this reader supports: classic
    * single-file `v.checkpoint.parquet`, multi-part
    * `v.checkpoint.<part>.<of>.parquet` (usable only when the part
    * INDICES cover exactly 1..of — counting files would accept a
    * malformed log whose parts are out of range and silently drop
    * actions; filename numbers are untrusted, overflow skips the
    * file), and V2 UUID `v.checkpoint.<uuid>.{parquet|json}` (multiple
    * UUID checkpoints can coexist at one version — take the
    * lexicographically first for determinism, which also prefers .json
    * over .parquet of the identical state). Shared by the snapshot
    * replay and the txn-ledger reads, so a ledger consumer can never
    * see FEWER checkpoints than replay does. */
  private def checkpointsOf(entries: Seq[String]): Map[Long, Seq[String]] = {
    val singleCps: Map[Long, Seq[String]] = entries
      .collect { case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.take(20).toLong -> n }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2) }
    val MultiCp = "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
    val multiCps: Map[Long, Seq[String]] = entries
      .flatMap {
        case n @ MultiCp(v, part, of) =>
          scala.util.Try((v.toLong, part.toInt, of.toInt, n)).toOption
        case _ => None
      }
      .groupBy(t => (t._1, t._3))
      .collect { case ((v, of), xs)
          if xs.size == of && xs.map(_._2).toSet == (1 to of).toSet =>
        v -> xs.map(_._4).distinct.sorted
      }
    val UuidCp = ("(\\d{20})\\.checkpoint\\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}" +
      "-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\\.(parquet|json)").r
    val uuidCps: Map[Long, Seq[String]] = entries
      .flatMap {
        case n @ UuidCp(v, _, _) => Some(v.toLong -> n)
        case _ => None
      }
      .groupBy(_._1).map { case (v, xs) => v -> Seq(xs.map(_._2).min) }
    multiCps ++ singleCps ++ uuidCps
  }

  /** The `(appId, version)` txn rows carried by the NEWEST complete
    * checkpoint (any layout — the V2 top file carries txn INLINE, its
    * sidecars hold only file actions). The durability read both
    * [[lastTxnVersion]] and [[txnAppIds]] layer under the retained
    * JSON commits: reading only single-file checkpoints here would
    * silently lose the ledger on multi-part/V2 tables the snapshot
    * replay itself handles. */
  private def newestCheckpointTxns(spark: SparkSession,
      logDir: File): Seq[(String, Long)] = {
    val entries = Option(logDir.listFiles())
      .getOrElse(Array.empty[File]).toSeq.map(_.getName)
    val cps = checkpointsOf(entries)
    if (cps.isEmpty) return Nil
    val files = cps(cps.keys.max)
    files.flatMap { n =>
      val f = new File(logDir, n)
      if (n.endsWith(".json"))
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .split('\n').filter(_.contains("\"txn\""))
          .flatMap(l => Option(mapper.readTree(l).get("txn")).map(t =>
            (t.get("appId").asText(), t.get("version").asLong())))
          .toSeq
      else {
        val df = spark.read.parquet(f.getAbsolutePath)
        if (!df.columns.contains("txn")) Nil
        else df.select(col("txn.appId"), col("txn.version")).collect()
          .toSeq.collect {
            case r if !r.isNullAt(0) && !r.isNullAt(1) =>
              (r.getString(0), r.getLong(1))
          }
      }
    }
  }

  /** One row per LIVE file: `__i` (the file's index in `snap.files`)
    * plus the partition columns TYPED per the metaData schema —
    * partition values looked up under column mapping's physical
    * spellings, NULL for `__HIVE_DEFAULT_PARTITION__`-style absent
    * values. The shared frame partition-scoped maintenance
    * (`OPTIMIZE … WHERE`) filters and `SHOW PARTITIONS` distincts —
    * driver-held metadata, zero data I/O. */
  def partitionValuesFrame(spark: SparkSession,
      snap: Snapshot): org.apache.spark.sql.DataFrame = {
    val pcols = snap.partitionColumns
    require(pcols.nonEmpty, "partitionValuesFrame: unpartitioned snapshot")
    val rows = snap.files.zipWithIndex.map { case (a, i) =>
      org.apache.spark.sql.Row.fromSeq(i.toLong +: pcols.map(c =>
        a.partitionValues.get(snap.physicalNames.getOrElse(c, c))
          .flatten.orNull))
    }
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(
        StructField("__i", org.apache.spark.sql.types.LongType)
          +: pcols.map(c => StructField(c,
            org.apache.spark.sql.types.StringType))))
    raw.select(col("__i") +: pcols.map(c =>
      col(c).cast(snap.schema(c).dataType).as(c)): _*)
  }

  /** Every recorded txn appId with the given prefix — ONE scan of the
    * retained JSON commits plus any checkpoint's carried txn rows
    * (same durability as [[lastTxnVersion]], amortized over a whole
    * ledger family instead of one appId per scan). COPY INTO's
    * already-ingested-file set reads through this. */
  def txnAppIds(spark: SparkSession, tablePath: String,
      prefix: String): Set[String] = {
    val logDir = new File(tablePath, "_delta_log")
    val files = Option(logDir.listFiles()).getOrElse(Array.empty[File])
    val mapper = new ObjectMapper()
    val out = scala.collection.mutable.Set.empty[String]
    files.filter(_.getName.matches("\\d{20}\\.json")).foreach { f =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split('\n').filter(_.contains("\"txn\""))
        .foreach { l =>
          Option(mapper.readTree(l).get("txn")).foreach { t =>
            val id = t.get("appId").asText()
            if (id.startsWith(prefix)) out += id
          }
        }
    }
    newestCheckpointTxns(spark, logDir).foreach { case (id, _) =>
      if (id.startsWith(prefix)) out += id
    }
    out.toSet
  }

  /** Incremental CDC read: the rows ADDED in versions
    * `(fromExclusive .. toInclusive]` and still live at `toInclusive` —
    * the change feed an incremental ingest (q159's routing, a streaming
    * backfill, a downstream materialization) consumes instead of
    * re-scanning the table. Append-only CDC by declared contract: add
    * actions inside the window minus files also removed inside it
    * (update/delete feeds need deletion-vector diffing — that is
    * [[loadChangeFeed]]; name-mapped tables scan physical spellings and
    * project back to logical, id-mapped tables resolve file columns by
    * parquet field id — q190 drives the full id-mapped life cycle
    * through this feed). Layout-only
    * commits (compact / z-order: every file action carries
    * dataChange=false) move rows between files without changing the row
    * multiset and are TRANSPARENT — their adds are not new data and
    * their removes don't trip the append-only guard, so the feed
    * composes with table maintenance (the original files stay on disk
    * until vacuum, and this feed reads them at the version they were
    * added). Partition columns are restored typed from the adds'
    * partitionValues, one `lit().cast()` projection per distinct
    * partition-value tuple in the window — metadata-sized by
    * construction (the window's files grouped by their partition
    * dirs), unioned under ONE logical plan. */
  def loadChanges(spark: SparkSession, tablePath: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val snap = snapshotAt(spark, tablePath, toInclusive)
    // NAME-mapped tables: files + partitionValues carry physical
    // spellings; the feed scans physical and projects back to logical.
    // ID-mapped tables resolve file columns by parquet field id (the
    // same native path [[loadAt]] uses — scan keeps logical names,
    // fields tagged with their id; the session read flag is set at
    // session build, [[graft.AdtContext.engineConfs]]); their
    // partitionValues keys stay physical either way.
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    val idMode = snap.fieldIds.nonEmpty
    val mapper = new ObjectMapper()
    val logDir = new File(tablePath, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json"))
      .filter { f =>
        val v = f.getName.take(20).toLong
        v > fromExclusive && v <= toInclusive
      }.sortBy(_.getName)
    require(commits.nonEmpty || fromExclusive >= toInclusive,
      s"no commits in ($fromExclusive, $toInclusive] at $tablePath")
    val added = mutable.LinkedHashMap
      .empty[String, Map[String, Option[String]]]
    commits.foreach { f =>
      val nodes = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).map(mapper.readTree).toSeq
      val fileActs = nodes.flatMap(n =>
        Option(n.get("add")).orElse(Option(n.get("remove"))))
      // dataChange defaults true when absent (hand-written logs)
      if (fileActs.nonEmpty && fileActs.forall(a =>
          Option(a.get("dataChange")).exists(!_.asBoolean())))
        () // layout-only commit (compact / z-order): transparent
      else nodes.foreach { node =>
          Option(node.get("add")).foreach { a =>
            // an add carrying a deletion vector mutates pre-existing
            // rows — not expressible as an append-only feed
            require(Option(a.get("deletionVector")).forall(_.isNull),
              s"loadChanges($fromExclusive, $toInclusive] at $tablePath: " +
                "window contains a deletion-vector commit — the CDC feed " +
                "is append-only; refresh consumers from a full snapshot")
            val pv = Option(a.get("partitionValues")).map { m =>
              m.properties().asScala.map { e =>
                e.getKey -> (if (e.getValue.isNull) None
                             else Some(e.getValue.asText()))
              }.toMap
            }.getOrElse(Map.empty[String, Option[String]])
            added(decodePath(a.get("path").asText())) = pv
          }
          Option(node.get("remove")).foreach { r =>
            val p = decodePath(r.get("path").asText())
            // ENFORCED append-only contract (IncrementalAgg consumes
            // this feed — feeding it a rewrite window would double-count
            // survivor rows as new data): a remove may only cancel an
            // add made EARLIER IN the window (same-window supersede); a
            // remove of a pre-window file means the window mutated
            // existing data (delete/update/merge/compact/backfill) and
            // the feed cannot represent it.
            require(added.contains(p),
              s"loadChanges($fromExclusive, $toInclusive] at $tablePath: " +
                s"window removes pre-window file $p — the CDC feed is " +
                "append-only; refresh consumers from a full snapshot")
            added.remove(p)
          }
        }
    }
    val partCols = snap.partitionColumns
    val dataFields = snap.schema.fields.toIndexedSeq
      .filterNot(f => partCols.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      if (idMode) StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder()
          .putLong("parquet.field.id", snap.fieldIds(f.name)).build())
      else StructField(phys(f.name), f.dataType, f.nullable)))
    if (added.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], snap.schema)
    val byPv = added.toSeq.groupBy(_._2)
    val parts = byPv.toSeq.map { case (pv, files) =>
      val scanned = spark.read.schema(dataSchema)
        .parquet(files.map(f =>
          resolved(new File(tablePath).getAbsolutePath, f._1)): _*)
      val base =
        if (idMode) scanned // already logical (field-id resolution)
        else scanned
          .select(dataFields.map(f => col(phys(f.name)).as(f.name)): _*)
      partCols.foldLeft(base) { (df, c) =>
        val dt = snap.schema(c).dataType
        df.withColumn(c, pv.get(phys(c)).flatten match {
          case Some(v) => lit(v).cast(dt)
          case None => lit(null).cast(dt)
        })
      }
    }
    parts.reduce(_ unionByName _)
      .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Full change-data-feed read over versions `(fromExclusive ..
    * toInclusive]` — the CDC feed that composes with the WHOLE write
    * surface, not just appends: every commit in the window is replayed
    * into row-level change events tagged `_change_type`
    * ('insert' | 'delete' | 'update_preimage' | 'update_postimage' —
    * delta's own spellings) and `_commit_version`. Commits carrying
    * `cdc` actions (the row verbs — update, CoW delete, merge — write
    * them, [[DeltaWriter.stageCdcFiles]]) are read from their
    * change-data files VERBATIM — exactly the event rows
    * (update_preimage/update_postimage for updates and merge's
    * replaced rows, delete/insert for the others), per the delta
    * spec's rule that cdc actions are a commit's complete change
    * representation. Commits without
    * cdc reduce to file/DV diffs (the DV semantics this reconciles are
    * the reference's row-selection mapping, deltatable.rs:495-577):
    * there an update appears as delete+insert pairs — and a
    * copy-on-write rewrite's untouched survivors ride along as
    * self-cancelling delete+insert churn (exact in net effect; a
    * cdc-carrying commit has no churn at all). Layout-only commits
    * (compact / z-order: every file action carries dataChange=false)
    * are transparent — nothing is emitted for them, delta's CDF
    * contract — so a consumer pays for data changes only, never
    * maintenance churn.
    *
    * Per cdc-less commit, per touched path, against the running
    * pre-state (seeded from the snapshot at `fromExclusive`):
    *  - new path            → its alive rows as inserts
    *  - removed path        → its previously-alive rows as deletes
    *  - same path, DV grew  → exactly the newly-dead rows as deletes
    *    (row diff: in(postDv) ∧ ¬in(preDv)); symmetrically, newly-
    *    alive rows as inserts when a DV shrinks (RESTORE rollback).
    *
    * Files are read AT THE VERSION THEY CHANGED — delta data files are
    * immutable, so a later rewrite never alters an earlier event; a
    * window reaching behind [[DeltaWriter.vacuum]]'s horizon fails at
    * scan time rather than fabricating rows, and a window whose JSON
    * commits were log-cleaned is refused up front. Driver cost: the
    * window's action lines only; DV bitmaps decode on EXECUTORS (the
    * same no-driver-bitmap posture as [[load]]). Scans group per
    * (version, change, partition tuple) with per-file branches only
    * where a DV row-diff is needed — metadata-sized for any sane
    * window. [[graft.operators.IncrementalAgg]] consumes this feed
    * with retractions, so a materialization follows deletes/updates
    * without ever re-scanning the base. */
  def loadChangeFeed(spark: SparkSession, tablePath: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val snap = snapshotAt(spark, tablePath, toInclusive)
    // NAME-mapped: scan physical spellings, project to logical.
    // ID-mapped: native parquet field-id resolution (loadAt's path;
    // read flag set at session build, [[graft.AdtContext.engineConfs]]).
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    val idMode = snap.fieldIds.nonEmpty
    val jackson = new ObjectMapper()
    val logDir = new File(tablePath, "_delta_log")
    val commits = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json"))
      .filter { f =>
        val v = f.getName.take(20).toLong
        v > fromExclusive && v <= toInclusive
      }.sortBy(_.getName)
    val have = commits.map(_.getName.take(20).toLong).toSet
    (math.max(0L, fromExclusive + 1) to toInclusive).foreach(v =>
      require(have.contains(v),
        s"loadChangeFeed($fromExclusive, $toInclusive] at $tablePath: " +
          s"JSON commit $v is gone (log cleanup) — the change window " +
          "cannot be replayed; bootstrap consumers from a snapshot"))

    // running live state, seeded at the window start
    val state = mutable.LinkedHashMap.empty[String, AddFile]
    if (fromExclusive >= 0L)
      snapshotAt(spark, tablePath, fromExclusive).files
        .foreach(a => state(a.path) = a)

    def parseDvNode(node: JsonNode): Option[DvDescriptor] =
      Option(node.get("deletionVector")).filterNot(_.isNull).map { dv =>
        DvDescriptor(
          dv.get("storageType").asText(),
          dv.get("pathOrInlineDv").asText(),
          Option(dv.get("offset")).map(_.asInt()).getOrElse(0),
          dv.get("sizeInBytes").asInt(),
          dv.get("cardinality").asLong())
      }
    def parsePv(node: JsonNode): Map[String, Option[String]] =
      Option(node.get("partitionValues")).map { m =>
        m.properties().asScala.map { e =>
          e.getKey -> (if (e.getValue.isNull) None
                       else Some(e.getValue.asText()))
        }.toMap
      }.getOrElse(Map.empty)

    /** one row-producing scan unit: rows of `file` that are in
      * `mustIn`'s DV (None = no constraint) and NOT in `mustNotIn`'s. */
    final case class Emit(version: Long, change: String, file: AddFile,
        mustIn: Option[DvDescriptor], mustNotIn: Option[DvDescriptor])
    val emits = mutable.ArrayBuffer.empty[Emit]
    // commits carrying `cdc` actions (the row verbs,
    // [[DeltaWriter.stageCdcFiles]]): per the delta spec the cdc files
    // ARE the commit's complete change representation — read them
    // verbatim (delta's own event spellings for exactly the matched
    // rows) and derive NOTHING from the commit's
    // file diffs, which would re-introduce the survivor churn the cdc
    // files exist to eliminate. State still advances from add/remove.
    val cdcEmits = mutable.ArrayBuffer
      .empty[(Long, Seq[(String, Map[String, Option[String]])])]
    commits.foreach { f =>
      val v = f.getName.take(20).toLong
      val nodes = new String(Files.readAllBytes(f.toPath),
        StandardCharsets.UTF_8)
        .split('\n').filter(_.nonEmpty).map(jackson.readTree).toSeq
      val acts: Seq[(Boolean, JsonNode)] = nodes.flatMap(n =>
        Option(n.get("add")).map((true, _))
          .orElse(Option(n.get("remove")).map((false, _))))
      val layoutOnly = acts.nonEmpty && acts.forall { case (_, a) =>
        Option(a.get("dataChange")).exists(!_.asBoolean())
      }
      val cdcPaths = nodes.flatMap(n =>
        Option(n.get("cdc")).filterNot(_.isNull)).map(c =>
        (decodePath(c.get("path").asText()), parsePv(c)))
      if (cdcPaths.nonEmpty && !layoutOnly) cdcEmits += ((v, cdcPaths))
      // net per-path outcome WITHIN the commit (a DV update is
      // remove+add of the same path in one commit: the add wins)
      val outcome = mutable.LinkedHashMap.empty[String, Option[AddFile]]
      acts.foreach {
        case (true, a) =>
          val p = decodePath(a.get("path").asText())
          outcome(p) = Some(AddFile(p,
            Option(a.get("size")).map(_.asLong()).getOrElse(0L),
            parsePv(a), parseDvNode(a)))
        case (false, r) =>
          outcome(decodePath(r.get("path").asText())) = None
      }
      outcome.foreach { case (p, out) =>
        if (!layoutOnly && cdcPaths.isEmpty) (state.get(p), out) match {
          case (None, Some(add)) =>
            emits += Emit(v, "insert", add, None, add.deletionVector)
          case (Some(old), None) =>
            emits += Emit(v, "delete", old, None, old.deletionVector)
          case (Some(old), Some(add)) =>
            if (old.deletionVector != add.deletionVector) {
              add.deletionVector.foreach(post => // newly-dead rows
                emits += Emit(v, "delete", add,
                  Some(post), old.deletionVector))
              old.deletionVector.foreach(pre => // newly-alive (restore)
                emits += Emit(v, "insert", add,
                  Some(pre), add.deletionVector))
            }
          case (None, None) => ()
        }
        out match {
          case Some(add) => state(p) = add
          case None => state.remove(p)
        }
      }
    }

    val partCols = snap.partitionColumns
    val dataFields = snap.schema.fields.toIndexedSeq
      .filterNot(f => partCols.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      if (idMode) StructField(f.name, f.dataType, f.nullable,
        new MetadataBuilder()
          .putLong("parquet.field.id", snap.fieldIds(f.name)).build())
      else StructField(phys(f.name), f.dataType, f.nullable)))
    def toLogical(df: DataFrame): DataFrame =
      if (idMode) df // already logical (field-id resolution)
      else {
        val extras = df.columns.filterNot(c =>
          dataFields.exists(f => phys(f.name) == c)).toIndexedSeq
        df.select(dataFields.map(f => col(phys(f.name)).as(f.name)) ++
          extras.map(col): _*)
      }
    val feedFields = snap.schema.fields.toIndexedSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false)
    if (emits.isEmpty && cdcEmits.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(feedFields))
    val root = new File(tablePath).getAbsolutePath
    def withPv(df: DataFrame, pv: Map[String, Option[String]]): DataFrame =
      partCols.foldLeft(df) { (d2, c) =>
        val dt = snap.schema(c).dataType
        d2.withColumn(c, pv.get(phys(c)).flatten match {
          case Some(x) => lit(x).cast(dt)
          case None => lit(null).cast(dt)
        })
      }
    // DV row sets decode on executors (driver never holds a bitmap)
    def dvRows(dv: DvDescriptor): DataFrame = {
      import spark.implicits._
      spark.createDataset(spark.sparkContext.parallelize(
          Seq(DvSpec("", dv.storageType, dv.pathOrInlineDv,
            dv.offset, dv.sizeInBytes, root)), 1))
        .flatMap(sp => DeletionVectors.deletedRows(
          DvDescriptor(sp.storageType, sp.pathOrInlineDv, sp.offset,
            sp.sizeInBytes, -1L), sp.tableRoot))
        .toDF("__row")
    }
    val (plain, dvDiff) =
      emits.partition(e => e.mustIn.isEmpty && e.mustNotIn.isEmpty)
    val plainParts = plain.groupBy(e =>
        (e.version, e.change, e.file.partitionValues)).toSeq
      .map { case ((v, ch, pv), es) =>
        val df = toLogical(spark.read.schema(dataSchema).parquet(
          es.map(e => resolved(root, e.file.path)).toSeq: _*))
        withPv(df, pv)
          .withColumn("_change_type", lit(ch))
          .withColumn("_commit_version", lit(v))
      }
    val dvParts = dvDiff.toSeq.map { e =>
      // single-file scan: the physical row index alone addresses rows
      val base = spark.read.schema(dataSchema)
        .parquet(resolved(root, e.file.path))
        .withColumn("__row", col("_metadata.row_index"))
      val inOk = e.mustIn.fold(base)(dv =>
        base.join(dvRows(dv), Seq("__row"), "left_semi"))
      val notOk = e.mustNotIn.fold(inOk)(dv =>
        inOk.join(dvRows(dv), Seq("__row"), "left_anti"))
      withPv(toLogical(notOk.drop("__row")), e.file.partitionValues)
        .withColumn("_change_type", lit(e.change))
        .withColumn("_commit_version", lit(e.version))
    }
    // cdc files carry the logical NON-PARTITION row plus _change_type;
    // partition columns live in each cdc action's partitionValues
    // (hive-partitioned `_change_data/`, the writer's delta-parity
    // layout) and are restored typed here, exactly like the data-file
    // emits above. Pre-r20 cdc files (partition columns inline, empty
    // partitionValues) read through the legacy schema — on a
    // partitioned table an EMPTY pv marks that layout. Pinned schemas
    // either way: no inference pass.
    val cdcSchema = StructType(
      snap.schema.fields.toIndexedSeq
        .filterNot(f => partCols.contains(f.name)) :+
      StructField("_change_type", StringType, nullable = false))
    val cdcLegacySchema = StructType(snap.schema.fields.toIndexedSeq :+
      StructField("_change_type", StringType, nullable = false))
    val cdcParts = cdcEmits.toSeq.flatMap { case (v, entries) =>
      val (legacy, hived) = entries.partition { case (_, pv) =>
        partCols.nonEmpty && pv.isEmpty
      }
      val legacyPart =
        if (legacy.isEmpty) Nil
        else Seq(spark.read.schema(cdcLegacySchema)
          .parquet(legacy.map(e => resolved(root, e._1)): _*))
      val hivedParts = hived.groupBy(_._2).toSeq.map { case (pv, es) =>
        withPv(spark.read.schema(cdcSchema)
          .parquet(es.map(e => resolved(root, e._1)): _*), pv)
      }
      (legacyPart ++ hivedParts).map(_.withColumn("_commit_version", lit(v)))
    }
    (plainParts ++ dvParts ++ cdcParts).reduce(_ unionByName _)
      .select(feedFields.map(f => col(f.name)): _*)
  }
}

/** Snapshot-backed [[FileIndex]]: the delta log IS the file listing, so
  * `listFiles` serves partition directories straight from the replayed
  * snapshot (file sizes from the add actions — no filesystem stats) and
  * evaluates Catalyst partition filters against the typed partition
  * values, giving native static + dynamic partition pruning through the
  * standard `FileSourceStrategy` path. One scan node for any partition
  * count. */
private[sources] class DeltaSnapshotFileIndex(
    spark: SparkSession,
    snap: DeltaReader.Snapshot,
    root: String,
    override val partitionSchema: StructType,
    /** keys into each add action's partitionValues (physical names when
      * column mapping is on; logical otherwise). */
    partitionKeys: Seq[String]) extends FileIndex {

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  private def statusOf(a: DeltaReader.AddFile): FileStatus =
    new FileStatus(a.size, false, 1, 128L * 1024 * 1024, 0L,
      new Path("file:" + DeltaReader.resolved(
        root, DeltaReader.decodePath(a.path))))

  /** Driver-retained state is bounded deliberately: the raw `stats` JSON
    * strings — the dominant per-file cost of a snapshot on wide tables
    * (KBs per file) — are parsed ONCE here into typed [[DeltaStats
    * .FileStats]] and then dropped, so the long-lived index of a
    * million-file table holds only (FileStatus, typed bounds) per file,
    * not the stats text. The snapshot itself is not referenced past
    * construction. */
  private val grouped: Seq[(InternalRow,
      Seq[(FileStatus, Option[DeltaStats.FileStats])])] = snap.files
    .groupBy(a => partitionKeys.map(c => a.partitionValues.get(c).flatten))
    .toSeq.sortBy(_._1.toString)
    .map { case (pv, files) =>
      // delta stores partition values as strings; string → typed scalar
      // via Catalyst Cast (same conversion the old literal path used)
      val values = InternalRow.fromSeq(pv.zipWithIndex.map { case (v, i) =>
        v.map(s => Cast(Literal(UTF8String.fromString(s), StringType),
          partitionSchema(i).dataType, Option(zone)).eval(null)).orNull
      })
      (values, files.map(a => (statusOf(a), a.stats.flatMap(DeltaStats.parse))))
    }

  private val allInputFiles: Array[String] =
    snap.files.map(a => "file:" +
    DeltaReader.resolved(root, DeltaReader.decodePath(a.path))).toArray

  private val totalBytes: Long = snap.files.map(_.size).sum

  /** Test seam: per-file typed stats actually retained (snapshot dropped). */
  private[sources] def retainedStats: Seq[Option[DeltaStats.FileStats]] =
    grouped.flatMap(_._2.map(_._2))

  override def rootPaths: Seq[Path] = Seq(new Path(s"file:$root"))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val partPruned =
      if (partitionFilters.isEmpty) grouped
      else {
        val bound = CatalystPredicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val i = partitionSchema.fieldIndex(a.name)
              BoundReference(i, partitionSchema(i).dataType, nullable = true)
          })
        grouped.filter { case (values, _) => bound.eval(values) }
      }
    partPruned.map { case (values, files) =>
      PartitionDirectory(values,
        files.collect {
          case (st, fs) if DeltaStats.mayMatch(fs, dataFilters) => st
        }.toArray)
    }.filter(_.files.nonEmpty)
  }

  override def inputFiles: Array[String] = allInputFiles

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = totalBytes
}

/** Deletion-vector decode: Z85-inline or file-stored roaring bitmaps.
  *
  * Semantics ported from the reference's selection-vector mapping
  * (deltatable.rs:495-577 and its unit tests :585-618): the bitmap holds
  * DELETED row indexes; surviving rows are everything else.
  */
object DeletionVectors {

  /** All deleted row indexes for one DV descriptor. */
  def deletedRows(dv: DeltaReader.DvDescriptor, tableRoot: String): Seq[Long] =
    dv.storageType match {
      case "i" => // inline: pathOrInlineDv is Z85-encoded bitmap bytes
        parseRoaringArray(Z85.decode(dv.pathOrInlineDv))
      case "p" => // absolute path; offset points at [size:int32][data]
        val all = Files.readAllBytes(Paths.get(dv.pathOrInlineDv))
        sliceAtOffset(all, dv.offset, dv.sizeInBytes)
      case "u" =>
        // pathOrInlineDv = [random prefix]<z85-encoded 16-byte UUID> (the
        // last 20 chars are the UUID); file is
        // [prefix/]deletion_vector_<canonical uuid>.bin under the table
        // root, same [version byte][size][data][crc] layout as "p".
        val enc = dv.pathOrInlineDv
        require(enc.length >= 20, s"malformed UUID DV path: $enc")
        val (prefix, uuidPart) = enc.splitAt(enc.length - 20)
        val bytes = Z85.decode(uuidPart)
        val bb = ByteBuffer.wrap(bytes)
        val uuid = new java.util.UUID(bb.getLong, bb.getLong)
        val dir = if (prefix.isEmpty) tableRoot else s"$tableRoot/$prefix"
        val all = Files.readAllBytes(
          Paths.get(s"$dir/deletion_vector_$uuid.bin"))
        sliceAtOffset(all, dv.offset, dv.sizeInBytes)
      case other =>
        throw new IllegalArgumentException(s"unknown DV storageType: $other")
    }

  private def sliceAtOffset(all: Array[Byte], offset: Int, size: Int): Seq[Long] = {
    val bb = ByteBuffer.wrap(all).order(ByteOrder.BIG_ENDIAN)
    bb.position(offset)
    val sz = bb.getInt
    require(sz == size, s"DV size mismatch: $sz vs descriptor $size")
    val data = new Array[Byte](sz)
    bb.get(data)
    parseRoaringArray(data)
  }

  /** Delta RoaringBitmapArray "portable" format: [magic:int32 LE]
    * [nBitmaps:int64 LE][each: standard 32-bit roaring serialization].
    * Bitmap i holds the low 32 bits of indexes with high 32 bits = i. */
  private[graft] def parseRoaringArray(bytes: Array[Byte]): Seq[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == 1681511377, s"bad RoaringBitmapArray magic: $magic")
    val n = bb.getLong
    (0L until n).flatMap { hi =>
      parseRoaring32(bb).map(lo => (hi << 32) | (lo.toLong & 0xffffffffL))
    }
  }

  /** Standard 32-bit RoaringBitmap portable serialization — all three
    * container kinds (array, bitmap, run). Run containers are what real
    * engines emit for large sequential deletes (the reference reads them
    * via roaring-rs, deltatable.rs:529-577), so a production DV'd table
    * parses here too. */
  private def parseRoaring32(bb: ByteBuffer): Seq[Int] = {
    val cookie = bb.getInt
    val hasRuns = (cookie & 0xffff) == 12347
    require((cookie & 0xffff) == 12346 || hasRuns,
      s"unsupported roaring cookie: $cookie")
    // With runs the container count rides in the cookie's high 16 bits
    // (minus one) and a bitset marks which containers are run-encoded;
    // without runs the count is its own int32.
    val nContainers =
      if (hasRuns) (cookie >>> 16) + 1 else bb.getInt
    val runFlags = new Array[Byte](if (hasRuns) (nContainers + 7) / 8 else 0)
    if (hasRuns) bb.get(runFlags)
    def isRun(i: Int): Boolean =
      hasRuns && (runFlags(i / 8) & (1 << (i % 8))) != 0
    val keys = new Array[Int](nContainers)
    val cards = new Array[Int](nContainers)
    (0 until nContainers).foreach { i =>
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
    }
    // offsets section: always present without runs; with runs only when
    // there are >= 4 containers (NO_OFFSET_THRESHOLD in the spec)
    if (!hasRuns || nContainers >= 4)
      (0 until nContainers).foreach(_ => bb.getInt)
    (0 until nContainers).flatMap { i =>
      if (isRun(i)) {
        val nRuns = bb.getShort & 0xffff
        (0 until nRuns).flatMap { _ =>
          val start = bb.getShort & 0xffff
          val len = bb.getShort & 0xffff // run covers start..start+len
          (start to start + len).map(v => (keys(i) << 16) | v)
        }
      } else if (cards(i) <= 4096) {
        (0 until cards(i)).map(_ => (keys(i) << 16) | (bb.getShort & 0xffff))
      } else { // 8 KiB bitmap container
        val words = new Array[Long](1024)
        (0 until 1024).foreach(j => words(j) = bb.getLong)
        (0 until 65536).filter(b => (words(b >> 6) & (1L << (b & 63))) != 0)
          .map(b => (keys(i) << 16) | b)
      }
    }
  }

  /** Serialize with RUN containers (for fixtures + round-trip tests of
    * the run decode path): every container is run-encoded, matching what
    * real engines emit for large sequential deletes. */
  private[graft] def serializeRoaringArrayRuns(rows: Seq[Long]): Array[Byte] = {
    require(rows.forall(_ >= 0))
    val byHi = rows.map(r => (r >> 32, (r & 0xffffffffL).toInt))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    val nBitmaps = if (byHi.isEmpty) 0L else byHi.keys.max + 1
    val out = ByteBuffer.allocate(1 << 20).order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(1681511377)
    out.putLong(nBitmaps)
    (0L until nBitmaps).foreach { hi =>
      val vals = byHi.getOrElse(hi, Seq.empty)
      val byKey = vals.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      val n = byKey.size
      if (n == 0) {
        // an empty bitmap can't use the run cookie ((n-1) would underflow
        // its 16-bit container count) — emit a legal empty no-run bitmap
        out.putInt(12346)
        out.putInt(0)
      } else {
      // runs-present cookie: low 16 bits = 12347, high 16 = nContainers-1
      out.putInt(12347 | ((n - 1) << 16))
      val runFlags = new Array[Byte]((n + 7) / 8)
      (0 until n).foreach(i => runFlags(i / 8) =
        (runFlags(i / 8) | (1 << (i % 8))).toByte)
      out.put(runFlags)
      def runsOf(vs: Seq[Int]): Seq[(Int, Int)] = {
        val sorted = vs.map(_ & 0xffff)
        val runs = mutable.ArrayBuffer[(Int, Int)]()
        var start = sorted.head
        var prev = sorted.head
        sorted.tail.foreach { v =>
          if (v == prev + 1) prev = v
          else { runs += ((start, prev - start)); start = v; prev = v }
        }
        runs += ((start, prev - start))
        runs.toSeq
      }
      val allRuns = byKey.map { case (k, vs) => (k, vs.size, runsOf(vs)) }
      allRuns.foreach { case (k, card, _) =>
        out.putShort(k.toShort)
        out.putShort((card - 1).toShort)
      }
      if (n >= 4) { // offsets only at/after NO_OFFSET_THRESHOLD
        var offset = 4 + runFlags.length + n * 4 + n * 4
        allRuns.foreach { case (_, _, runs) =>
          out.putInt(offset)
          offset += 2 + runs.size * 4
        }
      }
      allRuns.foreach { case (_, _, runs) =>
        out.putShort(runs.size.toShort)
        runs.foreach { case (s, l) =>
          out.putShort(s.toShort)
          out.putShort(l.toShort)
        }
      }
      }
    }
    out.flip()
    val res = new Array[Byte](out.remaining())
    out.get(res)
    res
  }

  /** Serialize (fixtures, round-trip tests, AND the write side of
    * [[graft.sources.DeltaWriter.deleteWithVectors]]): inverse of
    * parseRoaringArray. Containers above the 4096-cardinality
    * threshold MUST be 8 KiB bitmap containers — the portable format
    * dispatches on cardinality, so an oversized array container would
    * be mis-read as a bitmap. Distinct input assumed sorted-safe
    * (dedup applied here). */
  private[graft] def serializeRoaringArray(rows: Seq[Long]): Array[Byte] = {
    require(rows.forall(_ >= 0))
    val byHi = rows.distinct.map(r => (r >> 32, (r & 0xffffffffL).toInt))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val nBitmaps = if (byHi.isEmpty) 0L else byHi.keys.max + 1
    val est = 16 + rows.size * 8 + byHi.size * 65536
    val out = ByteBuffer.allocate(math.max(1 << 20, est))
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(1681511377)
    out.putLong(nBitmaps)
    (0L until nBitmaps).foreach { hi =>
      val vals = byHi.getOrElse(hi, Seq.empty)
      val byKey = vals.groupBy(v => v >>> 16).toSeq.sortBy(_._1)
      out.putInt(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      out.putInt(byKey.size)
      byKey.foreach { case (k, vs) =>
        out.putShort(k.toShort)
        out.putShort((vs.size - 1).toShort)
      }
      def containerBytes(card: Int): Int =
        if (card <= 4096) card * 2 else 8192
      var offset = 4 + 4 + byKey.size * 4 + byKey.size * 4
      byKey.foreach { case (_, vs) =>
        out.putInt(offset)
        offset += containerBytes(vs.size)
      }
      byKey.foreach { case (_, vs) =>
        if (vs.size <= 4096)
          vs.foreach(v => out.putShort((v & 0xffff).toShort))
        else {
          val words = new Array[Long](1024)
          vs.foreach { v =>
            val b = v & 0xffff
            words(b >> 6) |= 1L << (b & 63)
          }
          words.foreach(out.putLong)
        }
      }
    }
    out.flip()
    val res = new Array[Byte](out.remaining())
    out.get(res)
    res
  }
}

/** Z85 (ZeroMQ base-85) codec used by inline deletion vectors. */
object Z85 {
  private val chars =
    "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private val dec: Array[Int] = {
    val a = Array.fill(128)(-1)
    chars.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  def encode(data: Array[Byte]): String = {
    require(data.length % 4 == 0, "Z85 input must be 4-byte aligned")
    val sb = new StringBuilder
    data.grouped(4).foreach { g =>
      var v = 0L
      g.foreach(b => v = (v << 8) | (b & 0xff))
      val digits = new Array[Char](5)
      (4 to 0 by -1).foreach { i => digits(i) = chars((v % 85).toInt); v /= 85 }
      sb.appendAll(digits)
    }
    sb.toString
  }

  def decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, "Z85 input must be 5-char aligned")
    val out = new Array[Byte](s.length / 5 * 4)
    var oi = 0
    s.grouped(5).foreach { g =>
      var v = 0L
      g.foreach(c => v = v * 85 + dec(c.toInt))
      (3 to 0 by -1).foreach { i => out(oi + i) = (v & 0xff).toByte; v >>= 8 }
      oi += 4
    }
    out
  }
}
