package graft.streaming

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graftbridge.StreamFrameBridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{DeltaActions, DeltaReader}
import graft.sources.DeltaActions.{AddFile, RemoveFile}
import DeltaStreamSource.{Append, Change, Kind, Transparent}

/** Delta table as a STRUCTURED STREAMING SOURCE —
  * `spark.readStream.format("graft-delta").load(path)` tails the
  * commit log, the read twin of the exactly-once sink
  * ([[graft.sources.GraftDeltaSource]]): together they make a
  * table-to-table replication / derived-table pipeline one
  * `readStream → transform → writeStream` statement, with end-to-end
  * exactly-once from the engine's offset checkpoint (this side) and
  * the table's txn ledger (that side). The reference has no streaming
  * surface at all; this extends its Delta family
  * (deltatable.rs:136-189 read semantics) the way Structured
  * Streaming extends batch.
  *
  * Offsets are COMMIT VERSIONS (`LongOffset(v)` = "versions ≤ v
  * emitted"), so a batch is an exact, deterministic log window and a
  * crash-redelivered `getBatch(start, end]` replays bit-identically —
  * delta data files are immutable and [[DeltaReader.loadChanges]]
  * reads each add at the version it landed. Per commit the driver
  * parses ONLY the action lines (metadata-sized); row data never
  * touches the driver.
  *
  * Commit classes, from the commit's own action profile (the same
  * taxonomy the OCC conflict matrix uses):
  *  - metadata/txn-only and LAYOUT commits (every file action
  *    `dataChange=false`: compact, z-order) are TRANSPARENT — a
  *    consumer pays for data, never maintenance churn;
  *  - APPEND commits (new files only) stream through;
  *  - CHANGE commits (delete/update/merge rewrites, deletion vectors)
  *    REFUSE by default — this source is append-only, a row it
  *    emitted is never retracted — naming the two real options:
  *    `skipChangeCommits=true` (delta's own escape hatch: the whole
  *    commit is skipped, downstream keeps the pre-image) or the
  *    row-level change feed below for consumers that need retractions.
  *
  * `readChangeFeed=true` switches the source to the CHANGE-DATA-FEED:
  * batches are [[DeltaReader.loadChangeFeed]] windows — row-level
  * events tagged `_change_type` ('insert' | 'delete' |
  * 'update_preimage' | 'update_postimage') and
  * `_commit_version` — so change commits stream through as exact
  * retraction pairs instead of refusing, and a downstream
  * materialization (the IncrementalAgg fold) follows deletes/updates
  * without ever re-scanning the base. `startingVersion=earliest`
  * replays the table's full retained history as inserts (the initial
  * snapshot IS version 0's events); `latest`/N tail from there.
  *
  * Admission control: `maxFilesPerTrigger` caps a micro-batch's data
  * files, `maxBytesPerTrigger` its data BYTES (from the add actions'
  * own `size` fields — metadata the driver already holds, no
  * filesystem stats), both at COMMIT granularity (a commit is this
  * writer's atomic batch quantum, so it is never split; the first
  * data commit always admits — progress is guaranteed even when one
  * commit alone exceeds either budget, delta's own soft-max
  * semantics). Set together, whichever budget fills first closes the
  * batch. `startingVersion` = `earliest` (default: replay the full
  * retained log), `latest` (tail only), or a version number. A start
  * behind the log-retention horizon refuses naming the cleanup, not
  * fabricating rows.
  *
  * `stopAtLatest=true` (alias `availableNow=true`) is the BOUNDED
  * CATCH-UP posture (Trigger.AvailableNow's semantics as a source
  * option): the commit ceiling is pinned ONCE at query start, the
  * paced batches drain exactly the commits present then — commits
  * landing while the drain runs are never offered — and getOffset
  * then reports caught-up, so `processAllAvailable()` returns with
  * the drain complete. The batch-backfill step every replication
  * pipeline runs before switching to continuous tailing: each restart
  * re-pins the ceiling at its own start and resumes past the drained
  * floor (the engine checkpoint + the durable floor below), so
  * backfill → backfill → continuous composes with zero duplicates.
  * (Engine-side `Trigger.AvailableNow` also works — UNPACED: Spark's
  * generic V1 wrapper captures one getOffset at start, so combined
  * with maxFiles/maxBytes pacing it would stop after the first paced
  * window; a paced bounded drain is exactly what `stopAtLatest` is
  * for.) */
final class DeltaStreamSource(
    spark: SparkSession,
    tablePath: String,
    metadataPath: String,
    startingVersion: String,
    maxFilesPerTrigger: Option[Int],
    skipChangeCommits: Boolean,
    readChangeFeed: Boolean = false,
    startingTimestamp: Option[String] = None,
    maxBytesPerTrigger: Option[Long] = None,
    stopAtLatest: Boolean = false) extends Source {

  require(startingTimestamp.isEmpty ||
    startingVersion.equalsIgnoreCase("earliest"),
    "graft-delta stream: startingVersion and startingTimestamp are " +
      "mutually exclusive — pick one start spelling")

  require(!(skipChangeCommits && readChangeFeed),
    "graft-delta stream: skipChangeCommits and readChangeFeed are " +
      "mutually exclusive — the change feed EMITS change commits as " +
      "row-level events, there is nothing to skip")

  private val logDir = new File(tablePath, "_delta_log")
  require(logDir.isDirectory,
    s"graft-delta stream: no Delta table at $tablePath (no _delta_log)")

  /** Logical schema at source creation — pinned for the query's
    * lifetime; a mid-stream schema change refuses (below) rather than
    * silently emitting differently-shaped rows into a running plan.
    * CDF mode appends delta's event columns. */
  override val schema: StructType = {
    val base = DeltaReader.snapshot(spark, tablePath).schema
    if (!readChangeFeed) base
    else StructType(base.fields.toIndexedSeq :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
  }

  /** Durable source state under the query's checkpoint
    * (`metadataPath`, the engine-assigned per-source directory): the
    * ONCE-resolved start position and the highest ENGINE-COMMITTED
    * offset, one atomically-replaced text file. Without it a restart
    * after all batches committed would re-resolve
    * `latest`/`startingTimestamp` starts (jumping past a
    * checkpointed-but-unprocessed batch 0 — silent row loss) or rewind
    * the pacing cursor to the start (a `maxFilesPerTrigger` getOffset
    * then returns an offset BELOW the engine-committed one and
    * already-committed windows re-plan as NEW batchIds, which the
    * exactly-once sink's txn ledger lands again). The FileStreamSource
    * discipline: resolve once, floor forever — but the floor only
    * advances on engine commit (see [[commit]]), never on planning. */
  private val stateFile: File = {
    val p = if (metadataPath.startsWith("file:"))
      new java.net.URI(metadataPath).getPath else metadataPath
    new File(p, "graft-delta-source-state")
  }

  private val restored: Option[(Long, Long)] =
    if (!stateFile.isFile) None
    else {
      val raw = new String(Files.readAllBytes(stateFile.toPath),
        StandardCharsets.UTF_8).trim
      val parts = raw.split(' ')
      try {
        require(parts.length == 2,
          s"expected 2 space-separated longs, got ${parts.length} field(s)")
        Some((parts(0).toLong, parts(1).toLong))
      } catch {
        case e @ (_: NumberFormatException | _: IllegalArgumentException) =>
          throw new IllegalStateException(
            s"graft-delta stream: corrupt source state file $stateFile " +
              s"(content: '$raw'): ${e.getMessage}. Delete the file (or " +
              "the whole checkpoint) to re-resolve the start position", e)
      }
    }

  /** Exclusive lower bound of the first batch. `startingTimestamp`
    * resolves to the FIRST commit whose (monotone) declared stamp is
    * at-or-after the given time — delta's own streaming semantics;
    * a timestamp past the head means "future commits only". Resolved
    * exactly once per checkpoint: restarts restore the stored value. */
  private val startPosition: Long = restored.map(_._1).getOrElse {
    startingTimestamp match {
      case Some(ts) =>
        val millis = graft.sources.Ddl.parseTsMillis(ts)
        DeltaReader.commitHistory(tablePath)
          .find(_._2 >= millis).map(_._1 - 1L)
          .orElse(latestVersion()).getOrElse(-1L)
      case None => startingVersion.toLowerCase match {
        case "earliest" => -1L
        case "latest" => latestVersion().getOrElse(-1L)
        case v =>
          require(v.matches("\\d+"),
            s"graft-delta stream: startingVersion must be 'earliest', " +
              s"'latest' or a version number, got '$startingVersion'")
          v.toLong - 1L
      }
    }
  }

  /** Highest version already handed to the engine (in-memory pacing
    * cursor) — floored monotone across getOffset/getBatch/commit, so
    * a later getOffset never re-plans a window the engine already saw
    * within this process. */
  private var position: Long =
    math.max(restored.map(_._2).getOrElse(startPosition), startPosition)

  /** Durable floor: the highest ENGINE-COMMITTED offset, persisted
    * only from [[commit]]. Persisting planned-but-uncommitted offsets
    * (the old getOffset-time persist) opened a withholding window: a
    * crash after our persist but before the engine WAL'd the offset
    * restored `position` past versions the engine never planned, and
    * getOffset then returned None for them until the NEXT base commit
    * — indefinitely on a quiescent table. Re-offering a
    * planned-but-uncommitted window after restart is SAFE (the version
    * window is deterministic: immutable commit jsons + deterministic
    * pacing re-plan the same end, and WAL'd batches replay under the
    * same batchId, deduped by the sink ledger); skipping is not. */
  private var committedFloor: Long =
    math.max(restored.map(_._2).getOrElse(startPosition), startPosition)

  private def persist(): Unit = {
    Files.createDirectories(stateFile.toPath.getParent)
    val tmp = new File(stateFile.getParentFile,
      ".graft-delta-source-state.tmp")
    Files.write(tmp.toPath,
      s"$startPosition $committedFloor".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, stateFile.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  if (restored.isEmpty) persist() // pin the resolved start immediately

  private def latestVersion(): Option[Long] =
    DeltaActions.listLog(logDir).commits.lastOption

  /** The drain ceiling under `stopAtLatest`: pinned ONCE, at source
    * construction (= query start). Deliberately NOT persisted — each
    * run of a bounded-catch-up query re-pins at its own start, which
    * is exactly what a scheduled backfill wants. */
  private val drainCeiling: Option[Long] =
    if (stopAtLatest) Some(latestVersion().getOrElse(-1L)) else None

  /** Commit jsons are immutable — classification memoizes forever. */
  private val kinds = mutable.Map.empty[Long, Kind]

  private def kindOf(v: Long): Kind = kinds.getOrElseUpdate(v, {
    require(DeltaActions.commitFile(logDir, v).exists(),
      s"graft-delta stream at $tablePath: commit $v is no longer in " +
        "_delta_log (log-retention cleanup) — restart with option " +
        "startingVersion set to a retained version (or 'latest') and " +
        "backfill consumers from a batch snapshot")
    val actions = DeltaActions.readCommit(logDir, v)
    val adds = actions.collect { case a: AddFile => a }
    val removes = actions.collect { case r: RemoveFile => r }
    val changing = adds.count(_.dataChange) + removes.count(_.dataChange)
    if (changing == 0) Transparent
    else {
      val addedHere = adds.map(_.path).toSet
      val mutates = adds.exists(_.deletionVector.nonEmpty) ||
        removes.exists(r => r.dataChange && !addedHere.contains(r.path))
      val bytes = adds.filter(_.dataChange).map(_.size).sum
      if (mutates) Change(changing, bytes)
      else Append(adds.count(_.dataChange), bytes)
    }
  })

  override def getOffset: Option[OffsetV1] = {
    val head = latestVersion().getOrElse(return None)
    // bounded catch-up: never offer a commit past the pinned ceiling
    val latest = drainCeiling.fold(head)(math.min(head, _))
    val from = math.max(position, startPosition)
    if (latest <= from) return None
    val budget = maxFilesPerTrigger.getOrElse(Int.MaxValue)
    val byteBudget = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    var files = 0
    var bytes = 0L
    var end = from
    var admitted = false
    var v = from + 1
    var open = true
    while (open && v <= latest) {
      val (n, b) = kindOf(v) match {
        case Append(k, sz) => (k, sz)
        case Change(k, sz) => (math.max(1, k), sz) // getBatch refuses/skips/feeds
        case Transparent => (0, 0L)
      }
      // both budgets are soft maxima at commit granularity: the first
      // data commit always admits (progress), after that a commit that
      // would overflow EITHER budget closes the batch
      if (n > 0 && admitted && (files + n > budget || bytes + b > byteBudget))
        open = false
      else {
        files += n; bytes += b; admitted = admitted || n > 0; end = v; v += 1
      }
    }
    if (end > from) {
      // in-memory floor only — durability waits for the engine's commit
      position = end; Some(LongOffset(end))
    } else None
  }

  private def ver(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val s = start.map(ver).getOrElse(startPosition)
    val e = ver(end)
    // engine-WAL'd replay after restart: floor the pacing cursor so
    // the next getOffset continues past this window (in-memory only;
    // the durable floor still waits for commit())
    if (e > position) position = e
    val batch =
      if (readChangeFeed) DeltaReader.loadChangeFeed(spark, tablePath, s, e)
      else appendOnlyBatch(s, e)
    require(batch.schema.fields.toSeq.map(f => (f.name, f.dataType)) ==
      schema.fields.toSeq.map(f => (f.name, f.dataType)),
      s"graft-delta stream at $tablePath: table schema changed inside " +
        s"window ($s, $e] — restart the streaming query to pick up the " +
        "new schema")
    StreamFrameBridge.asStreamingBatch(batch)
  }

  /** Append-only batch for window `(s, e]`: maximal spans of
    * non-Change commits, each one [[DeltaReader.loadChanges]] plan
    * (layout commits inside are transparent there); Change commits
    * refuse, or drop whole with `skipChangeCommits`. */
  private def appendOnlyBatch(s: Long, e: Long): DataFrame = {
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var spanStart = -1L
    (s + 1) to e foreach { v =>
      kindOf(v) match {
        case Change(_, _) if !skipChangeCommits =>
          throw new IllegalStateException(
            s"graft-delta stream at $tablePath: commit $v changes " +
              "existing rows (delete/update/merge or deletion vector) " +
              "— this source is append-only. Set option " +
              "skipChangeCommits=true to skip such commits, or " +
              "readChangeFeed=true to stream row-level change events")
        case Change(_, _) =>
          if (spanStart >= 0) { spans += ((spanStart, v - 1)); spanStart = -1 }
        case _ => if (spanStart < 0) spanStart = v
      }
    }
    if (spanStart >= 0) spans += ((spanStart, e))
    spans.toSeq
      .map { case (a, b) => DeltaReader.loadChanges(spark, tablePath, a - 1, b) }
      .reduceOption(_ unionByName _)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
  }

  override def commit(end: OffsetV1): Unit = {
    // the ONLY durable-persist site: `end` is engine-committed (in the
    // engine's commit log), so restoring it can never withhold a
    // version the engine still needs to plan
    val e = ver(end)
    if (e > position) position = e
    if (e > committedFloor) { committedFloor = e; persist() }
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftDeltaStreamSource[$tablePath]"
}

private object DeltaStreamSource {
  sealed trait Kind
  case object Transparent extends Kind // metadata-only / layout
  // bytes = the data-changing ADD actions' own `size` fields (what a
  // consumer will scan); removes carry no reliable size and charge 0
  final case class Append(nFiles: Int, bytes: Long) extends Kind
  // rewrite / delete / DV; nFiles = data-changing file actions (the
  // CDF scan-work proxy the pacing budget charges)
  final case class Change(nFiles: Int, bytes: Long) extends Kind
}
