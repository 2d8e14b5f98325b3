package graft.sources

import java.io.File
import java.lang.ref.SoftReference
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DvDeleted
import graft.sources.DeltaActions.{Action, AddCDCFile, AddFile, CommitInfo, DvDescriptor, Protocol, RemoveFile, Sidecar, Txn, isLayoutOnly}

/** Minimal Delta Lake reader — no delta-spark dependency.
  *
  * Re-derives the behavior of the reference's kernel-based provider
  * (/root/reference/crates/providers/src/deltatable.rs:85-384): snapshot =
  * log replay of the `_delta_log` JSON commits on top of the latest
  * checkpoint, over the typed actions of [[DeltaActions]] (the one module
  * that parses the log). Replay holds at most one live add per path: an
  * add replaces the path's entry, and a remove retires it when it names
  * the entry's (path, deletion-vector unique id), as the protocol keys
  * files, or no vector at all (logs this engine wrote before removes
  * carried the retired add's vector). Within one commit removes apply
  * before adds whatever the line order. The snapshot carries the
  * typed protocol, metaData and txn ledger it replayed; schema comes from
  * the metaData (Delta's schemaString IS Spark's StructType JSON); file
  * list + partition values from surviving `add` actions
  * (deltatable.rs:431-489); deletion vectors become a row-index filter
  * inside the scan (deltatable.rs:495-577 maps them to parquet
  * row-group/row selections — [[DvDeleted]] over
  * `_metadata.file_path`/`row_index` expresses the same semantics and
  * lets the vectorized reader run unchanged).
  *
  * Scale notes: the JSON tail of the log is tiny by protocol design (the
  * checkpoint absorbs history), so driver-side replay of the tail is the
  * standard approach. The checkpoint is read through Spark once per file
  * identity (path, length, nanosecond mtime, file key) and prune map;
  * later replays of the same checkpoint reuse its decoded state from
  * [[checkpointCache]] — at most a small constant number of entries,
  * each O(#files) like the snapshot itself and softly referenced, so the
  * heap can reclaim it under pressure — and replay only the JSON tail. Data
  * reading is [[scan]], the one reader of table data files: a
  * multi-file vectorized parquet scan over a snapshot-backed FileIndex,
  * so column pruning, predicate pushdown and partition pruning are
  * inherited, and partition values come typed from the add actions.
  */
object DeltaReader {

  // ------------------------------------------------------ checkpoint cache

  /** A checkpoint's decoded state: its protocol, metaData and txn
    * actions, and the adds `admitted` under the decode's prune map (V2
    * sidecar adds included). */
  private final case class CheckpointState(protocol: Option[Protocol],
      metadata: Option[DeltaActions.Metadata], txns: Seq[Txn],
      adds: Vector[AddFile])

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
    * the checkpoint plus the decode's prune map (the admitted adds depend
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

  private def checkpointState(spark: SparkSession, logDir: File,
      names: Seq[String], prune: Map[String, Set[String]]): CheckpointState = {
    val key = (names.map(n => fileIdentity(new File(logDir, n))), prune)
    val hit = checkpointCache.synchronized {
      Option(checkpointCache.get(key)).flatMap { ref =>
        val state = Option(ref.get())
        if (state.isEmpty) checkpointCache.remove(key)
        state
      }
    }
    hit.getOrElse {
      val state = decodeCheckpoint(spark, logDir, names, prune)
      checkpointCache.synchronized {
        checkpointCache.put(key, new SoftReference(state))
      }
      state
    }
  }

  /** The checkpoint miss path: read checkpoint `names` through Spark.
    * Every action is collected as one compact `to_json` string per row
    * and decoded by [[DeltaActions.parse]] (the nested partitionValues /
    * configuration shapes vary by writer — map vs inferred struct — and
    * the JSON form erases the difference).
    *
    * Both checkpoint layouts load as a DataFrame and share the decode —
    * which forces the protocol → metaData → adds ordering regardless of
    * row order inside the file (the spec does not order checkpoint
    * actions; metaData must be known before adds are admitted, because
    * the prune keys map through its physical names), and keeps inline
    * adds flowing through the executor-side prune scan even for a
    * JSON-layout V2 checkpoint with 10⁶ inline actions. mergeSchema
    * (parquet): multi-part checkpoint parts may carry disjoint action
    * columns; without the union schema Spark infers from ONE part's
    * footer and the other action columns silently vanish. */
  private def decodeCheckpoint(spark: SparkSession, logDir: File,
      names: Seq[String], prune: Map[String, Set[String]]): CheckpointState = {
    val cp = {
      val paths = names.map(n => new File(logDir, n).getAbsolutePath)
      if (names.forall(_.endsWith(".json"))) spark.read.json(paths: _*)
      else spark.read.option("mergeSchema", "true").parquet(paths: _*)
    }
    // protocol, metaData, txn and V2 sidecar pointers are metadata-sized:
    // ONE collect fetches all of them
    val small = {
      val cols = Seq("protocol", "metaData", "txn", "sidecar")
        .filter(cp.columns.contains)
      if (cols.isEmpty) Nil
      else cp.where(cols.map(c => col(c).isNotNull).reduce(_ || _))
        .select(cols.map(c => to_json(struct(col(c)))): _*).collect()
        .toSeq.flatMap(r => cols.indices.filterNot(r.isNullAt)
          .flatMap(i => DeltaActions.parse(r.getString(i))))
    }
    val metadata = small.collect { case m: DeltaActions.Metadata => m }.lastOption
    val physNames = metadata.fold(Map.empty[String, String])(_.physicalNames)
    val adds = Vector.newBuilder[AddFile]
    // Checkpoint-side pruning (the past-10⁶-files path): the prune
    // predicate runs inside the parquet scan, so only surviving adds are
    // ever serialized to the driver. The DF filter keeps a SUPERSET of
    // `admitted`'s keep-set — an add whose partitionValues lack the prune
    // key (or carry null) passes through, exactly like the JSON-tail
    // path — and `admitted` re-applies the precise predicate on parse.
    // Writers store partitionValues as a map<string,string> (spec) or an
    // inferred struct — both shapes filter; anything else keeps all.
    def replayAdds(src: DataFrame): Unit =
      if (src.columns.contains("add")) {
        val pruned = prune.foldLeft(src.where(col("add").isNotNull)) {
          case (df, (c, vs)) =>
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
        pruned.select(to_json(struct(col("add")))).collect().foreach { r =>
          DeltaActions.parse(r.getString(0)).foreach {
            case a: AddFile if admitted(prune, physNames, a) => adds += a
            case _ =>
          }
        }
      }
    replayAdds(cp)
    // V2 checkpoint sidecars: the checkpoint's `sidecar` actions name
    // parquet files under `_delta_log/_sidecars/` holding the file
    // actions (sidecar `remove`s are expired-tombstone bookkeeping,
    // ignored like classic checkpoint removes). All sidecar files are
    // read in ONE multi-file scan, so the add replay (and its
    // executor-side pruning) parallelizes across them.
    val sidecars = small.collect { case s: Sidecar =>
      if (s.path.startsWith("/") || s.path.contains("://")) s.path
      else new File(new File(logDir, "_sidecars"), s.path).getAbsolutePath
    }
    if (sidecars.nonEmpty)
      replayAdds(spark.read.option("mergeSchema", "true").parquet(sidecars: _*))
    CheckpointState(small.collect { case p: Protocol => p }.lastOption,
      metadata, small.collect { case t: Txn => t }, adds.result())
  }

  /** Prune admission shared by the checkpoint decode and the JSON-tail
    * replay — the two MUST agree: column absent → keep (conservative);
    * null value → drop; otherwise membership test. Keys map through the
    * physical names because partitionValues carry them under column
    * mapping. */
  private def admitted(prune: Map[String, Set[String]],
      physNames: Map[String, String], a: AddFile): Boolean =
    prune.forall { case (c, vs) =>
      a.partitionValues.get(physNames.getOrElse(c, c))
        .forall(_.exists(vs.contains))
    }

  /** A replayed table version: the typed protocol (spec defaults 1/2
    * when the log carries none) and metaData, the live files, and the
    * txn ledger entries the replay applied (newest per appId). */
  final case class Snapshot(
      protocol: Protocol,
      metadata: DeltaActions.Metadata,
      files: Seq[AddFile],
      version: Long,
      txns: Map[String, Txn] = Map.empty) {
    def schema: StructType = metadata.schema // logical names
    def partitionColumns: Seq[String] = metadata.partitionColumns
    /** logical → physical column name, non-empty only under column
      * mapping (parquet files + partition value keys use the physical
      * names). */
    def physicalNames: Map[String, String] = metadata.physicalNames
    /** logical → parquet field id, non-empty only under
      * `delta.columnMapping.mode = id`. */
    def fieldIds: Map[String, Long] = metadata.fieldIds
    /** table properties — column-mapping mode, `delta.constraints.*`
      * CHECK constraints, … */
    def configuration: Map[String, String] = metadata.configuration
    def minReaderVersion: Int = protocol.minReaderVersion
    def minWriterVersion: Int = protocol.minWriterVersion
  }

  // ---------------------------------------------------------------- replay

  /** Replay the delta log into the latest snapshot. */
  def snapshot(spark: SparkSession, tablePath: String): Snapshot =
    snapshotAt(spark, tablePath, Long.MaxValue)

  /** Reader features this replay implements. v2Checkpoint: UUID-named
    * checkpoints are listed by [[DeltaActions.listLog]] and their
    * sidecar file actions replayed. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "timestampNtz", "v2Checkpoint")

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
    val log = DeltaActions.listLog(logDir)
    val usableJson = log.commits.filter(_ <= maxVersion)
    val cpVersion = log.newestCheckpoint(maxVersion)
    require(maxVersion == Long.MaxValue || usableJson.nonEmpty ||
      cpVersion.nonEmpty,
      s"no log entries at or before version $maxVersion at $tablePath — " +
        s"the earliest replayable version is ${(log.commits ++
          log.checkpoints.keys).minOption.getOrElse(0L)}; history below it " +
        "was removed by log-retention cleanup (DeltaWriter.cleanupLogs / " +
        "delta.logRetentionDuration) or never existed")
    // path → its live add: at most one entry per path. An add replaces
    // the path's entry (the protocol's same-key rewrite, and the old
    // RESTORE shape this engine once wrote: a re-add with no remove of
    // the current vector). A remove retires the entry when it names the
    // entry's vector, or no vector at all (logs this engine wrote before
    // removes carried the retired add's vector)
    val live = mutable.LinkedHashMap[String, AddFile]()
    def put(a: AddFile): Unit = live(a.path) = a
    def retire(r: RemoveFile): Unit =
      if (live.get(r.path).exists(a => r.deletionVector.isEmpty ||
          a.key == r.key)) live.remove(r.path)
    val txns = mutable.LinkedHashMap[String, Txn]()
    var protocol: Option[Protocol] = None
    var metadata: Option[DeltaActions.Metadata] = None

    // Protocol gate (the delta spec's reader contract): a table whose
    // protocol demands a reader version or reader FEATURE this replay
    // does not implement must be REJECTED, not silently misread.
    def applyProtocol(p: Protocol): Unit = {
      require(p.minReaderVersion <= 3,
        s"delta minReaderVersion ${p.minReaderVersion} is not supported by this reader")
      val unsupported = p.readerFeatures.getOrElse(Nil).toSet -- SupportedReaderFeatures
      require(unsupported.isEmpty,
        "delta reader features not supported by this reader: " +
          unsupported.toSeq.sorted.mkString(", "))
      protocol = Some(p)
    }
    // `name` mapping: the parquet files (and partitionValues keys) carry
    // the stable physical names from each field's metadata. `id`
    // mapping: the scan matches parquet columns by FIELD ID — Spark's
    // native parquet field-id resolution.
    def applyMeta(m: DeltaActions.Metadata): Unit = {
      val mode = m.columnMappingMode
      require(mode == "none" || mode == "name" || mode == "id",
        s"column mapping mode '$mode' is not supported by this reader")
      m.schema // decode now: a malformed schemaString fails the replay
      metadata = Some(m)
    }
    def physNames = metadata.fold(Map.empty[String, String])(_.physicalNames)

    // 1. checkpoint state, decoded once per checkpoint file identity and
    // prune map (see [[checkpointCache]]); the reader-feature gate runs
    // on every replay, cached or not
    cpVersion.foreach { v =>
      val cp = checkpointState(spark, logDir, log.checkpoints(v), prune)
      cp.protocol.foreach(applyProtocol)
      cp.metadata.foreach(applyMeta)
      cp.txns.foreach(t => txns(t.appId) = t)
      cp.adds.foreach(put)
    }

    // 2. JSON commits after the checkpoint, in version order. Within a
    // commit: protocol and metaData first (admission maps prune keys
    // through the new physical names), then removes, then adds — the
    // commit's net effect does not depend on its line order
    usableJson.filter(v => cpVersion.forall(_ < v)).foreach { v =>
      val actions = DeltaActions.readCommit(logDir, v)
      actions.foreach {
        case p: Protocol => applyProtocol(p)
        case m: DeltaActions.Metadata => applyMeta(m)
        case t: Txn => txns(t.appId) = t
        case _ =>
      }
      actions.foreach { case r: RemoveFile => retire(r); case _ => }
      actions.foreach {
        case a: AddFile =>
          if (admitted(prune, physNames, a)) put(a)
          else live.remove(a.path) // newest action wins even when pruned out
        case _ =>
      }
    }

    // a spec-conforming checkpoint always restates the protocol; a replay
    // that used a checkpoint but saw none anywhere ran UNGATED — surface
    // it rather than silently trusting a contra-spec log
    if (cpVersion.isDefined && protocol.isEmpty)
      System.err.println(
        s"[delta] WARNING: no protocol action across checkpoint + JSON " +
          s"tail of $tablePath — reader-feature gate could not run")

    // version: newest JSON commit, or the checkpoint's own version when
    // log cleanup removed every JSON commit it covers (reporting 0
    // there would make version-keyed consumers — CDC windows, the
    // incremental-maintenance no-op return — silently restart)
    Snapshot(protocol.getOrElse(Protocol()),
      metadata.getOrElse(throw new IllegalStateException(
        s"no metaData action in log: $tablePath")),
      live.values.toSeq,
      (cpVersion.toSeq ++ usableJson).maxOption.getOrElse(0L),
      txns.toMap)
  }

  /** The exactly-once producer ledger at `snap`: appId → its newest
    * `txn` action (with `lastUpdated`, which checkpoint retention
    * reads). Durable across log cleanup: the snapshot's replay (the
    * newest complete checkpoint at or below its version, which carries
    * the ledger forward, plus the JSON tail) over the txns of the
    * retained commits that checkpoint covers — older than what it
    * carries, except for entries its retention already expired. */
  def txns(tablePath: String, snap: Snapshot): Map[String, Txn] = {
    val logDir = new File(tablePath, "_delta_log")
    val log = DeltaActions.listLog(logDir)
    log.newestCheckpoint(snap.version).fold(Map.empty[String, Txn]) { cp =>
      log.commits.filter(_ <= cp).flatMap(DeltaActions.readTxns(logDir, _))
        .map(t => t.appId -> t).toMap
    } ++ snap.txns
  }

  /** The ledger at the latest version; empty for a table that does not
    * exist yet. */
  def txns(spark: SparkSession, tablePath: String): Map[String, Txn] =
    if (DeltaActions.listLog(new File(tablePath, "_delta_log")).isEmpty)
      Map.empty
    else txns(tablePath, snapshot(spark, tablePath))

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
    * Deletion vectors: the scan is filtered by one [[DvDeleted]]
    * predicate on the `_metadata` row address. Only the DV descriptors
    * (a few hundred bytes per DV'd file) travel, once per stage in the
    * task binary; each task decodes the bitmaps of the files it reads.
    * No bitmap is decoded on the driver and no (file, row) pair is ever
    * joined, shuffled, broadcast or collected, so a 100 TB table with
    * billions of deleted rows costs the driver only the descriptor list
    * and the plan no exchange. */
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
    val raw = DeltaActions.listLog(logDir).commits.map { v =>
      DeltaActions.commitActions(logDir, v) { actions =>
        var ci: Option[CommitInfo] = None
        var adds = 0L; var removes = 0L
        var rows = 0L; var statted = false
        while (actions.hasNext && (withStats || ci.isEmpty))
          actions.next() match {
            case c: CommitInfo => if (ci.isEmpty) ci = Some(c)
            case a: AddFile if withStats =>
              adds += 1
              a.stats.flatMap(DeltaStats.parse).flatMap(_.numRecords)
                .foreach { n => rows += n; statted = true }
            case _: RemoveFile if withStats => removes += 1
            case _ =>
          }
        (v, ci.flatMap(_.timestamp)
            .getOrElse(DeltaActions.commitFile(logDir, v).lastModified()),
          ci.flatMap(_.operation).getOrElse(""), adds, removes,
          if (statted) Some(rows) else None)
      }
    }
    if (raw.isEmpty) Nil
    else raw.tail.scanLeft(raw.head) { case ((_, prev, _, _, _, _), c) =>
      (c._1, math.max(prev, c._2), c._3, c._4, c._5, c._6)
    }
  }

  /** Time travel: load the snapshot as of `version`
    * (`OPTIONS(versionAsOf='N')` through the DDL shim). */
  def loadAt(spark: SparkSession, tablePath: String,
      version: Long, prune: Map[String, Set[String]] = Map.empty,
      tagSourceFile: Boolean = false): DataFrame =
    scan(spark, tablePath, snapshotAt(spark, tablePath, version, prune),
      tagSourceFile)

  /** The rows of an already-replayed snapshot — the only code that
    * turns `add` actions into logical rows. It is the scan body of
    * [[loadAt]] and the one read of a [[DeltaWriter]] verb, which takes
    * its file list and its rows from the same snapshot; the change
    * feeds and incremental z-order read a snapshot narrowed to the adds
    * they need (`snap.copy(files = …)`, with their encoded paths). */
  private[sources] def scan(spark: SparkSession, tablePath: String,
      snap: Snapshot, tagSourceFile: Boolean): DataFrame = {
    if (snap.files.isEmpty)
      // no live files — every file pruned out, or the table is
      // legitimately EMPTY (a delete that matched every row, an IVM
      // materialization whose groups all retracted): an empty relation
      // in the table's schema, not a refusal — the metaData commit is
      // what proves a delta table exists here, snapshotAt already
      // failed if it does not. A tagged scan keeps its tag columns, so a
      // row verb on an emptied table matches nothing instead of failing
      // analysis
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        if (!tagSourceFile) snap.schema
        else snap.schema.add("__source_file", StringType)
          .add("__row_index", LongType))

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

    // Deletion vectors filter the scan itself: one predicate over the
    // `_metadata` row address, carrying only the descriptors, keyed by
    // [[fileUri]]
    val vectors = snap.files.flatMap { a =>
      a.deletionVector.map(dv => fileUri(root, a) -> dv)
    }.toMap
    val live =
      if (vectors.isEmpty) base
      else base.filter(!DvDeleted.dvDeleted(col("_metadata.file_path"),
        col("_metadata.row_index"), vectors, root))

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
         else Seq(col("_metadata.file_path").as("__source_file"),
           col("_metadata.row_index").as("__row_index")))
    live.select(outCols: _*)
  }

  /** Delta paths are URL-encoded relative paths. */
  private[graft] def decodePath(p: String): String =
    java.net.URLDecoder.decode(p, "UTF-8")

  /** The file-action spelling of an on-disk relative path, inverse to
    * [[decodePath]]: `%`, `+` and space are the characters URL decoding
    * rewrites, so they are percent-escaped (a hive dir `p=a+b` or
    * `p=c%25d` would otherwise decode to a directory that does not
    * exist). */
  private[graft] def encodePath(p: String): String =
    p.replace("%", "%25").replace("+", "%2B").replace(" ", "%20")

  /** Resolve an already-decoded file-action path against the table
    * root. Delta paths are table-relative OR ABSOLUTE — the shallow-
    * clone contract ([[DeltaWriter.cloneShallow]]): a cloned table's
    * version-0 adds point into the source table by absolute path, so
    * every scan site resolves through here instead of blindly
    * prefixing the root. */
  private[sources] def resolved(root: String, decoded: String): String =
    if (decoded.startsWith("/")) decoded
    else new File(root, decoded).getAbsolutePath

  /** `a`'s file as `_metadata.file_path` spells it, the key of a
    * [[DvDeleted]] vector map. It must match EXACTLY — Spark emits
    * "file:/abs/path" with RFC-encoded specials (a partition dir like
    * `k=A B` reads as `k=A%20B`), which File.toURI reproduces; a decoded
    * spelling would silently skip the file's vector and resurrect its
    * dead rows (caught by the partitioned deleteWithVectors spec). */
  private def fileUri(root: String, a: AddFile): String =
    new File(resolved(root, decodePath(a.path))).toURI.toString

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

  /** The retained JSON commits in `(fromExclusive, toInclusive]`,
    * version ascending, with their typed actions. */
  private def windowCommits(tablePath: String, fromExclusive: Long,
      toInclusive: Long): Seq[(Long, Vector[Action])] = {
    val logDir = new File(tablePath, "_delta_log")
    DeltaActions.listLog(logDir).commits
      .filter(v => v > fromExclusive && v <= toInclusive)
      .map(v => v -> DeltaActions.readCommit(logDir, v))
  }

  /** Incremental CDC read: the rows ADDED in versions
    * `(fromExclusive .. toInclusive]` and still live at `toInclusive` —
    * the change feed an incremental ingest (q159's routing, a streaming
    * backfill, a downstream materialization) consumes instead of
    * re-scanning the table. Append-only CDC by declared contract: add
    * actions inside the window minus files also removed inside it
    * (update/delete feeds need deletion-vector diffing — that is
    * [[loadChangeFeed]]; q190 drives the full id-mapped life cycle
    * through this feed). Layout-only
    * commits (compact / z-order: every file action carries
    * dataChange=false) move rows between files without changing the row
    * multiset and are TRANSPARENT — their adds are not new data and
    * their removes don't trip the append-only guard, so the feed
    * composes with table maintenance (the original files stay on disk
    * until vacuum, and this feed reads them at the version they were
    * added). The surviving adds are read by ONE [[scan]] over the
    * snapshot at `toInclusive` narrowed to them — column mapping and
    * typed partition values exactly as [[load]] reads them, one scan
    * node whatever the number of partition tuples. */
  def loadChanges(spark: SparkSession, tablePath: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val snap = snapshotAt(spark, tablePath, toInclusive)
    val commits = windowCommits(tablePath, fromExclusive, toInclusive)
    require(commits.nonEmpty || fromExclusive >= toInclusive,
      s"no commits in ($fromExclusive, $toInclusive] at $tablePath")
    // decoded path → the add as logged ([[scan]] decodes its path)
    val added = mutable.LinkedHashMap.empty[String, AddFile]
    // layout-only commits (compact / z-order) are transparent
    commits.filterNot(c => isLayoutOnly(c._2)).foreach { case (_, actions) =>
      actions.foreach {
        case r: RemoveFile =>
          val p = decodePath(r.path)
          // ENFORCED append-only contract (IncrementalAgg consumes this
          // feed — feeding it a rewrite window would double-count
          // survivor rows as new data): a remove may only cancel an add
          // made EARLIER IN the window (same-window supersede); a remove
          // of a pre-window file means the window mutated existing data
          // (delete/update/merge/compact/backfill) and the feed cannot
          // represent it.
          require(added.contains(p),
            s"loadChanges($fromExclusive, $toInclusive] at $tablePath: " +
              s"window removes pre-window file $p — the CDC feed is " +
              "append-only; refresh consumers from a full snapshot")
          added.remove(p)
        case _ =>
      }
      actions.foreach {
        case a: AddFile =>
          // an add carrying a deletion vector mutates pre-existing rows
          // — not expressible as an append-only feed
          require(a.deletionVector.isEmpty,
            s"loadChanges($fromExclusive, $toInclusive] at $tablePath: " +
              "window contains a deletion-vector commit — the CDC feed " +
              "is append-only; refresh consumers from a full snapshot")
          added(decodePath(a.path)) = a
        case _ =>
      }
    }
    scan(spark, tablePath, snap.copy(files = added.values.toSeq),
      tagSourceFile = false)
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
    * window's action lines only. The data-file events of one (version,
    * change) are ONE [[scan]] over the snapshot at `toInclusive`
    * narrowed to their files, each file carrying its ¬in vector as its
    * deletion vector, and the in vectors a [[DvDeleted]] filter over
    * the tagged row address; DV bitmaps decode in the tasks that read
    * their files. [[graft.operators.IncrementalAgg]] consumes this feed
    * with retractions, so a materialization follows deletes/updates
    * without ever re-scanning the base. */
  def loadChangeFeed(spark: SparkSession, tablePath: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val snap = snapshotAt(spark, tablePath, toInclusive)
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    val commits = windowCommits(tablePath, fromExclusive, toInclusive)
    val have = commits.map(_._1).toSet
    (math.max(0L, fromExclusive + 1) to toInclusive).foreach(v =>
      require(have.contains(v),
        s"loadChangeFeed($fromExclusive, $toInclusive] at $tablePath: " +
          s"JSON commit $v is gone (log cleanup) — the change window " +
          "cannot be replayed; bootstrap consumers from a snapshot"))

    // running live state by decoded path, seeded at the window start;
    // each value is the add as logged ([[scan]] decodes its path)
    val state = mutable.LinkedHashMap.empty[String, AddFile]
    if (fromExclusive >= 0L)
      snapshotAt(spark, tablePath, fromExclusive).files
        .foreach(a => state(decodePath(a.path)) = a)

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
    commits.foreach { case (v, actions) =>
      val layoutOnly = isLayoutOnly(actions)
      val cdcPaths = actions.collect { case c: AddCDCFile =>
        (decodePath(c.path), c.partitionValues)
      }
      if (cdcPaths.nonEmpty && !layoutOnly) cdcEmits += ((v, cdcPaths))
      // net per-path outcome WITHIN the commit: removes apply before
      // adds, so a DV update (remove+add of one path) ends as the add
      val outcome = mutable.LinkedHashMap.empty[String, Option[AddFile]]
      actions.foreach {
        case r: RemoveFile => outcome(decodePath(r.path)) = None
        case _ =>
      }
      actions.foreach {
        case a: AddFile => outcome(decodePath(a.path)) = Some(a)
        case _ =>
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
    val feedFields = snap.schema.fields.toIndexedSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false)
    if (emits.isEmpty && cdcEmits.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(feedFields))
    val root = new File(tablePath).getAbsolutePath
    def asFeed(df: DataFrame, change: Column, version: Long): DataFrame =
      df.select(snap.schema.fieldNames.toIndexedSeq.map(col) :+
        change.as("_change_type") :+ lit(version).as("_commit_version"): _*)
    // one scan per (version, change): the scan drops each file's
    // `mustNotIn` rows as its deletion vector, and the `mustIn` files
    // keep only their vector's rows
    val dataParts = emits.groupBy(e => (e.version, e.change)).toSeq.map {
      case ((v, change), es) =>
        val mustIn = es.flatMap(e => e.mustIn.map(fileUri(root, e.file) -> _))
          .toMap
        val rows = scan(spark, tablePath, snap.copy(files =
          es.map(e => e.file.copy(deletionVector = e.mustNotIn)).toSeq),
          tagSourceFile = mustIn.nonEmpty)
        asFeed(
          if (mustIn.isEmpty) rows
          else rows.filter(!col("__source_file").isin(mustIn.keys.toSeq: _*) ||
            DvDeleted.dvDeleted(col("__source_file"), col("__row_index"),
              mustIn, root)),
          lit(change), v)
    }
    // cdc files carry the logical NON-PARTITION row plus _change_type,
    // under logical names even on a column-mapped table; partition
    // columns live in each cdc action's partitionValues
    // (hive-partitioned `_change_data/`, the writer's delta-parity
    // layout) and are restored typed here. Pre-r20 cdc files (partition
    // columns inline, empty partitionValues) read through the legacy
    // schema — on a partitioned table an EMPTY pv marks that layout.
    // Pinned schemas either way: no inference pass.
    def withPv(df: DataFrame, pv: Map[String, Option[String]]): DataFrame =
      partCols.foldLeft(df) { (d2, c) =>
        d2.withColumn(c,
          lit(pv.get(phys(c)).flatten.orNull).cast(snap.schema(c).dataType))
      }
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
      (legacyPart ++ hivedParts).map(asFeed(_, col("_change_type"), v))
    }
    (dataParts ++ cdcParts).reduce(_ union _)
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

  private def statusOf(a: AddFile): FileStatus =
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
  def deletedRows(dv: DvDescriptor, tableRoot: String): Seq[Long] =
    dv.storageType match {
      case "i" => // inline: pathOrInlineDv is Z85-encoded bitmap bytes
        parseRoaringArray(Z85.decode(dv.pathOrInlineDv))
      case "p" => // absolute path; offset points at [size:int32][data]
        val all = Files.readAllBytes(Paths.get(dv.pathOrInlineDv))
        sliceAtOffset(all, dv.offset, dv.sizeInBytes)
      case "u" => // [prefix/]deletion_vector_<uuid>.bin under the table
        // root, same [version byte][size][data][crc] layout as "p"
        val all = Files.readAllBytes(Paths.get(s"$tableRoot/${dv.relativeFile}"))
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
