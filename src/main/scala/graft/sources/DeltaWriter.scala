package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Delta Lake WRITER — the committing half of [[DeltaReader]] (the
  * reference only reads Delta; writing makes the table-format story
  * round-trip: an ingest pipeline can land curated output as a Delta
  * table that this engine — or any Delta reader — scans with partition
  * pruning and stats-based file skipping). Beyond append, the verb set
  * covers the full life cycle: row-level mutation (merge / delete /
  * update, copy-on-write AND merge-on-read via writer-emitted deletion
  * vectors), SCD Type-2 history (changes-feed and snapshot-feed),
  * maintenance (replacePartitions / compact / optimizeZOrder +
  * incremental / vacuum / checkpoint in classic, multi-part, and V2
  * sidecar layouts / evolveSchema / restore), CHECK constraints and
  * generic table properties, and timestamp-indexed commits
  * (commitInfo) for time travel and DESCRIBE HISTORY.
  *
  * Commit protocol (the delta spec's JSON transaction log):
  *  - data files stage under `.stage-<v>`, then move into the table
  *    root (partition dirs preserved) — Spark part-file names carry a
  *    per-job UUID, so names never collide across commits and a crashed
  *    stage leaves only an orphaned dot-directory no log replay reads;
  *  - `_delta_log/<v padded to 20>.json` is written to a temp file and
  *    atomically renamed — the rename fails if the version exists,
  *    which is the poor man's optimistic-concurrency gate (one winner
  *    per version; a real multi-writer deployment needs a commit
  *    coordinator, declared out of scope);
  *  - version 0 carries protocol + metaData (schemaString = Spark
  *    schema JSON, the same form [[DeltaReader]] parses); later appends
  *    carry adds only and REQUIRE an unchanged schema — schema
  *    evolution is a metaData commit this writer deliberately refuses
  *    to emit implicitly;
  *  - minReaderVersion escalates to 3 + readerFeatures only when the
  *    schema demands it (TimestampNTZ), mirroring
  *    `DeltaReader.applyProtocol`'s supported set.
  *
  * Per-file statistics are computed in ONE distributed pass: the
  * freshly moved files are re-read with `_metadata.file_path` and
  * aggregated per file (numRecords, min/max cast to string, nullCount)
  * — a single map-side-combined aggregate over data that is still hot
  * in the page cache, never a per-file driver loop, so the shape holds
  * at thousands of files per commit. Min/max are emitted as Spark's own
  * cast-to-string forms, which round-trip through `Cast(string → dt)`
  * in the session zone — exactly how [[DeltaStats.mayMatch]] interprets
  * them on the read side; types outside the round-trip-proven set carry
  * no min/max (readers keep such files conservatively).
  */
object DeltaWriter {

  /** A lost version race where a winner carries a `txn` action for the
    * same appId as this commit — the one conflict an idempotent
    * producer must NOT blindly retry (the winner may be this very batch,
    * redelivered; landing it again breaks exactly-once). Mirrors Delta's
    * ConcurrentTransactionException. [[appendOnce]] catches it and
    * re-checks the ledger. */
  final class ConcurrentTransactionException(msg: String)
    extends IllegalStateException(msg)

  /** Append `df` to the Delta table at `tablePath`, creating it (with
    * protocol + metaData) when no log exists. Returns the committed
    * version. `txn` stamps the commit with the delta spec's transaction
    * identifier action `{"txn":{"appId":…,"version":…}}` — the
    * exactly-once ledger an idempotent producer ([[appendOnce]], the
    * streaming sink) checks before re-committing.
    *
    * `columnMapping = "name"` (table creation only) creates the table
    * in `delta.columnMapping.mode = name`: every column gets a minted
    * stable physical name (`col-<uuid>`) + field id in the schema
    * metadata, the parquet files and partitionValues carry the
    * PHYSICAL names, and queries keep the logical ones — the layout
    * that makes later column renames a metadata edit instead of a
    * table rewrite (the reference's reader semantics,
    * deltatable.rs:136-189). Appends to an existing mapped table
    * rename the incoming logical frame to physical at staging time
    * automatically. `columnMapping = "id"` (r16) additionally mints
    * field ids 1..n and stamps them into every staged parquet file
    * ([[toPhysical]]), so the reader's native field-id resolution —
    * the delta `id` contract — matches columns however they are
    * named. */
  def append(rawDf: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil,
      txn: Option[(String, Long)] = None,
      columnMapping: String = "none",
      generated: Map[String, String] = Map.empty): Long = {
    require(columnMapping == "none" || columnMapping == "name" ||
      columnMapping == "id",
      s"columnMapping must be 'none', 'name' or 'id', got '$columnMapping'")
    val table = new File(tablePath)
    val version = nextVersion(table)
    require(version == 0L || columnMapping == "none",
      "columnMapping is fixed at table creation (version 0)")
    require(generated.isEmpty || version == 0L,
      "generation expressions are declared at table creation (version 0); " +
        "later appends read them from the table schema")
    require(generated.isEmpty || columnMapping == "none",
      "generated columns compose with unmapped tables only")
    val providedGenerated = rawDf.columns.toSet
    val df = applyGenerated(rawDf, tablePath, version, generated)
    // exactly-once, second gate: the ledger is re-read AFTER the commit
    // version is pinned, so every same-appId commit BELOW `version` is
    // visible here and every one AT-OR-ABOVE it is caught by
    // publishOptimistic's winner scan — together the two checks leave
    // no window for a concurrent same-appId producer to land the same
    // batch twice (appendOnce converts this throw into a ledger
    // re-check and a no-op).
    txn.foreach { case (appId, tv) =>
      if (version > 0L && DeltaReader
          .lastTxnVersion(df.sparkSession, tablePath, appId)
          .exists(_ >= tv))
        throw new ConcurrentTransactionException(
          s"txn ($appId, $tv) already recorded at $tablePath — " +
            "redelivered batch; consult the ledger")
    }
    validateAgainstTable(df, tablePath, partitionBy, version,
      generatedToCheck = Some(providedGenerated))
    val (phys, fids): (Map[String, String], Map[String, Long]) =
      if (version == 0L) {
        val minted =
          if (columnMapping == "none") Map.empty[String, String]
          else df.schema.fieldNames.map(n =>
            n -> s"col-${java.util.UUID.randomUUID()}").toMap
        val ids =
          if (columnMapping == "id")
            df.schema.fieldNames.zipWithIndex
              .map { case (n, i) => n -> (i + 1).toLong }.toMap
          else Map.empty[String, Long]
        (minted, ids)
      } else {
        val snap = DeltaReader.snapshot(df.sparkSession, tablePath)
        (snap.physicalNames, snap.fieldIds)
      }
    val (staged, stagedBy) = toPhysical(df, phys, fids, partitionBy)
    val adds = stageDataFiles(staged, table, version, stagedBy)
    // lastUpdated dates the ledger entry so checkpoint writes can expire
    // it once it ages past delta.setTransactionRetentionDuration
    // ([[carryActions]]) — without a stamp an entry is undatable and is
    // carried forever (delta's own posture for stampless txn actions)
    val txnLine = txn.map { case (appId, v) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$v,""" +
        s""""lastUpdated":${System.currentTimeMillis()}}}"""
    }.toSeq
    publishOptimistic(table, version,
      header(df, partitionBy, version, columnMapping, phys) ++
        txnLine ++ adds)
  }

  /** Rename a logical-named frame (and its partition columns) to the
    * table's physical column names for staging — identity for unmapped
    * tables. The logical→physical projection is pure aliasing: zero
    * cost in the written plan. For `id`-mapped tables each column also
    * carries `parquet.field.id` metadata; [[stageDataFiles]] detects
    * that metadata and enables the parquet field-id WRITE flag scoped
    * to the staged write only (the write is EAGER, so a save/restore
    * brackets it exactly — unlike the READ flag, which lazy scans force
    * to session-build scope, [[graft.AdtContext.engineConfs]]), so every staged
    * file is stamped with the ids the delta `id` contract resolves
    * columns by. */
  private def toPhysical(df: DataFrame, phys: Map[String, String],
      fieldIds: Map[String, Long],
      partitionBy: Seq[String]): (DataFrame, Seq[String]) =
    if (phys.isEmpty && fieldIds.isEmpty) (df, partitionBy)
    else {
      (df.select(df.schema.fieldNames.toIndexedSeq.map { n =>
        val c = col(n)
        fieldIds.get(n) match {
          case Some(id) => c.as(phys.getOrElse(n, n),
            new MetadataBuilder().putLong("parquet.field.id", id).build())
          case None => c.as(phys.getOrElse(n, n))
        }
      }: _*),
        partitionBy.map(n => phys.getOrElse(n, n)))
    }

  /** Stage a LOGICAL-named frame against a possibly column-mapped
    * table: rename to physical names (identity when unmapped) and hand
    * off to [[stageDataFiles]] — the one seam every rewriting verb
    * (merge / delete / update / scd2 / compact / z-order /
    * replacePartitions) goes through, so column mapping threads the
    * whole verb surface without each verb re-deriving the aliasing. */
  private def stageLogical(df: DataFrame, snap: DeltaReader.Snapshot,
      table: File, version: Long,
      tags: Map[String, String] = Map.empty,
      dataChange: Boolean = true): Seq[String] = {
    val (staged, stagedBy) = toPhysical(df, snap.physicalNames,
      snap.fieldIds, snap.partitionColumns)
    stageDataFiles(staged, table, version, stagedBy, tags, dataChange)
  }

  /** Idempotent append: commit `df` stamped with `(appId, txnVersion)`
    * UNLESS the table has already recorded a txn for `appId` at or past
    * `txnVersion` — then no-op and return None. This is what makes a
    * redelivered micro-batch (foreachBatch is at-least-once across a
    * crash between commit and checkpoint) converge to exactly-once:
    * the batchId is the txn version, and the table itself is the
    * ledger. Safe under CONCURRENT same-appId writers too (zombie
    * driver, duplicate sink instance): the ledger check and the commit
    * are not one atomic step, but [[publishOptimistic]] refuses to
    * retry past a winner that carries a txn for the same appId
    * (mirroring Delta's ConcurrentTransactionException), and this verb
    * then re-checks the ledger — if the winner already landed this
    * batch, the duplicate converges to a no-op instead of a second
    * commit. */
  def appendOnce(df: DataFrame, tablePath: String,
      partitionBy: Seq[String], appId: String,
      txnVersion: Long): Option[Long] =
    if (DeltaReader.lastTxnVersion(df.sparkSession, tablePath, appId)
        .exists(_ >= txnVersion)) None
    else try Some(append(df, tablePath, partitionBy,
      txn = Some((appId, txnVersion))))
    catch {
      case e: DeltaWriter.ConcurrentTransactionException =>
        // a same-appId winner beat us to a version — consult the
        // ledger: redelivery of an already-landed batch no-ops, a
        // genuinely NEWER batch from a racing producer must surface
        // (two live instances is an operational fault, not redelivery)
        if (DeltaReader.lastTxnVersion(df.sparkSession, tablePath, appId)
            .exists(_ >= txnVersion)) None
        else throw e
    }

  /** COPY INTO: idempotent BATCH file ingestion — the landing-zone
    * verb for pipelines that drop files into a directory and load them
    * exactly once WITHOUT a streaming checkpoint. Every source file
    * ever ingested is recorded as a per-file `txn` action
    * (`appId = "graft-copy-into:<absolute path>"`) in the SAME atomic
    * commit that lands its rows, so the ingestion ledger is the
    * table's own log: re-running COPY INTO skips recorded files (a
    * no-op publishes nothing), new files land in one commit, and the
    * ledger survives checkpoint + log cleanup because the checkpoint
    * writer carries txn actions forward (the appendOnce durability,
    * proven in DeltaWriterSpec). Identity is the file PATH — a file
    * modified in place is NOT reloaded (delta's own COPY INTO
    * posture); `force = true` ignores the ledger and reloads
    * everything. CSV/NDJSON sources read under the TABLE's declared
    * schema (no inference drift); parquet under its own footers
    * projected to the table's columns. The target must exist — COPY
    * INTO is ingestion, not table creation. Two concurrent COPY INTOs
    * racing on the SAME new files is an operational fault (two live
    * loaders), same stance as the streaming sink's ledger.
    * Returns (committed version if anything landed, ingested files). */
  def copyInto(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, sourceDir: String, format: String = "parquet",
      force: Boolean = false,
      /** fresh-file count past which the CSV header probe runs as a
        * DISTRIBUTED pass instead of a driver loop — the same
        * scale-safety posture as [[walkScalably]]'s listing threshold
        * (a ~10⁶-file landing zone must not re-serialize through the
        * driver one 64 KiB read at a time right after the listing went
        * distributed). Parameterized so specs can force the
        * distributed path on small fixtures. */
      probeThreshold: Int = 4096): (Option[Long], Seq[String]) = {
    require(tableExists(tablePath),
      s"copyInto: no Delta table at $tablePath — COPY INTO ingests " +
        "into an existing table (CREATE it first)")
    val src = new File(sourceDir)
    require(src.isDirectory, s"copyInto: no source directory at $sourceDir")
    val ext = format.toLowerCase match {
      case "parquet" => ".parquet"
      case "csv" => ".csv"
      case "json" | "ndjson" => ".json"
      case other => throw new IllegalArgumentException(
        s"copyInto: FILEFORMAT must be PARQUET, CSV or JSON, got '$other'")
    }
    // scale-safe listing: driver BFS for the common landing dir, one
    // distributed pass past the threshold ([[walkScalably]])
    val found = walkScalably(spark, src,
      skipName = n => n.startsWith(".") || n == "_delta_log",
      keepName = _.endsWith(ext)).map(_._1).sorted
    // an empty (drained) landing dir is the STEADY STATE of a pipeline
    // that archives loaded files — the scheduled rerun must no-op, not
    // throw (only a missing DIRECTORY is a caller error, above)
    if (found.isEmpty) return (None, Nil)
    val prefix = "graft-copy-into:"
    val already =
      if (force) Set.empty[String]
      else DeltaReader.txnAppIds(spark, tablePath, prefix)
        .map(_.stripPrefix(prefix))
    val fresh = found.filterNot(already)
    if (fresh.isEmpty) return (None, Nil)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val raw = format.toLowerCase match {
      case "parquet" => spark.read.parquet(fresh: _*)
      case "csv" =>
        // NAME-based binding: a multi-file `spark.read.csv` infers
        // column names from ONE file's header and (under the default
        // enforceSchema=true) binds every OTHER file positionally — a
        // producer that reordered its columns would load transposed
        // data silently. So files are grouped by their exact header
        // line (one cheap first-line read per fresh file — the same
        // driver pass that just listed them) and each header group is
        // read separately, cast per the table's schema BY NAME, and
        // unioned — reordered headers bind correctly, and a group
        // missing a table column refuses in the analyzer naming it.
        // enforceSchema=false is kept as a backstop: a file whose
        // header drifted WITHIN its group refuses instead of binding
        // positionally.
        // the header probe must not let one bad landing file poison
        // the batch: a ZERO-BYTE file (in-flight marker, touch'd
        // placeholder) contributes no rows but IS ledgered below
        // (exactly what the old multi-file read did — it skipped the
        // empty content and recorded the path), and malformed bytes
        // decode with replacement (Spark's own CSV posture) instead of
        // crashing the probe. The probe reads ≤64 KiB — headers past
        // that group together and the enforceSchema=false backstop
        // refuses any real in-group drift. Past `probeThreshold` fresh
        // files the per-file reads run DISTRIBUTED (one task batch per
        // partition, collecting only (path, header) pairs — the same
        // metadata-sized collect the listing itself makes); below it
        // the driver loop wins on job overhead.
        val headers: Seq[(String, Option[String])] =
          if (fresh.length <= probeThreshold)
            fresh.map(p => (p, headerLineOf(p)))
          else spark.sparkContext
            .parallelize(fresh, math.max(1, math.min(fresh.length, 64)))
            .map(p => (p, headerLineOf(p)))
            .collect().toSeq
        val byHeader = headers.collect { case (p, Some(h)) => h -> p }
          .groupBy(_._1).map { case (h, ps) => h -> ps.map(_._2) }
        // an all-empty wave still lands (0 rows) so the markers ledger
        // and the scheduled rerun no-ops — never a rerun-forever wedge
        if (byHeader.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            snap.schema)
        else byHeader.values.map { group =>
          spark.read.option("header", "true")
            .option("enforceSchema", "false").csv(group: _*)
            .select(snap.schema.fields.toIndexedSeq.map(f =>
              col(f.name).cast(f.dataType).as(f.name)): _*)
        }.reduce(_.unionByName(_))
      case _ => spark.read.schema(snap.schema).json(fresh: _*)
    }
    // project to the table's exact column set/order — a source file
    // MISSING a table column refuses in the analyzer naming it; extra
    // source columns are dropped (COPY INTO is lenient on supersets —
    // the table schema is the contract, not the landing files')
    val df = raw.select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
    val table = new File(tablePath)
    val version = nextVersion(table)
    validateAgainstTable(df, tablePath, snap.partitionColumns, version,
      generatedToCheck = Some(df.columns.toSet))
    val adds = stageLogical(df, snap, table, version)
    val now = System.currentTimeMillis()
    val txns = fresh.map(p =>
      s"""{"txn":{"appId":${jstr(prefix + p)},"version":1,""" +
        s""""lastUpdated":$now}}""")
    val v = publishOptimistic(table, version, txns ++ adds,
      operation = "COPY INTO")
    (Some(v), fresh)
  }

  /** EXPLICIT additive schema evolution — the metaData commit the
    * append path's unchanged-schema guard points to. The new schema
    * must carry every existing column with its type unchanged; new
    * columns must be nullable (old files null-fill on read — the
    * later-metaData-wins replay semantics DeltaSpec pins on the reader
    * side). Column drops/renames/retypes are refused: they change the
    * meaning of already-written files and need a rewrite, not a
    * metadata edit. The commit patches ONLY `schemaString` inside the
    * table's last metaData action (table id, partitioning and
    * configuration ride through verbatim), so evolution never forks
    * table identity. Subsequent appends must carry the full new
    * schema. */
  def evolveSchema(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, newSchema: StructType): Long = {
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val old = snap.schema
    val badOld = old.fields.filterNot(f =>
      newSchema.find(_.name == f.name).exists(_.dataType == f.dataType))
    require(badOld.isEmpty,
      s"schema evolution is additive-only; missing/retyped columns: " +
        badOld.map(_.name).mkString(", "))
    val added = newSchema.fields.filterNot(f => old.fieldNames.contains(f.name))
    require(added.forall(_.nullable),
      s"new columns must be nullable (old files null-fill): " +
        added.filterNot(_.nullable).map(_.name).mkString(", "))
    if (snap.physicalNames.isEmpty)
      // patch schemaString inside the last metaData line, verbatim
      // otherwise (id/partitionColumns/configuration preserved)
      patchMetaData(spark, tablePath, "ADD COLUMNS")(meta =>
        meta.put("schemaString", newSchema.json))
    else {
      // name-mapped table: existing fields keep their schemaString
      // metadata VERBATIM (their physical name/id are the layout
      // contract for already-written files); each added field mints a
      // fresh physical name and the next column id, and maxColumnId
      // advances — so the mapped life cycle round-trips through
      // evolution (append → evolve → append reads back whole). In `id`
      // mode the same minting applies (physicalName AND id), and later
      // appends stamp the new field's id into their files.
      val oldByName = old.fields.map(f => f.name -> f).toMap
      val maxId = math.max(
        snap.configuration.get("delta.columnMapping.maxColumnId")
          .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(0L),
        old.fields.map(f =>
          if (f.metadata.contains("delta.columnMapping.id"))
            f.metadata.getLong("delta.columnMapping.id")
          else 0L).max)
      var nextId = maxId
      val mapped = StructType(newSchema.fields.map { f =>
        oldByName.get(f.name) match {
          case Some(existing) => existing
          case None =>
            nextId += 1
            f.copy(metadata = new MetadataBuilder()
              .withMetadata(f.metadata)
              .putString("delta.columnMapping.physicalName",
                s"col-${java.util.UUID.randomUUID()}")
              .putLong("delta.columnMapping.id", nextId)
              .build())
        }
      })
      patchMetaData(spark, tablePath, "ADD COLUMNS") { meta =>
        meta.put("schemaString", mapped.json)
        val cfg = meta.get("configuration") match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case _ => meta.putObject("configuration")
        }
        cfg.put("delta.columnMapping.maxColumnId", nextId.toString)
        ()
      }
    }
  }

  /** Rename a column on a NAME-mapped table — the metadata-only edit
    * column mapping exists to enable: the field keeps its physical
    * name and id (every written file is untouched — on a 100 TB table
    * this is one log line vs a full rewrite), only the logical name
    * changes. Refused on unmapped tables (their files carry the
    * logical names, so a rename there needs a rewrite) and while a
    * CHECK constraint references the old name. Renaming a partition
    * column updates `partitionColumns` in the same commit. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, from: String, to: String): Long = {
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(snap.physicalNames.nonEmpty,
      "renameColumn needs a column-mapped table (mode=name or id) — " +
        "unmapped files carry logical column names, so a rename needs " +
        "a rewrite")
    require(snap.schema.fieldNames.contains(from), s"no such column: $from")
    require(!snap.schema.fieldNames.contains(to),
      s"column already exists: $to")
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"new column name must be an identifier: '$to'")
    val refs = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") &&
        v.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(from)}\\b.*") =>
          k.stripPrefix("delta.constraints.")
    }
    require(refs.isEmpty,
      s"CHECK constraint(s) reference $from: ${refs.mkString(", ")} — " +
        "drop them first")
    val renamed = StructType(snap.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    patchMetaData(spark, tablePath, "RENAME COLUMN") { meta =>
      meta.put("schemaString", renamed.json)
      if (snap.partitionColumns.contains(from)) {
        val arr = meta.putArray("partitionColumns")
        snap.partitionColumns.foreach(c =>
          arr.add(if (c == from) to else c))
      }
      ()
    }
  }

  /** Drop a column on a COLUMN-MAPPED table — [[renameColumn]]'s
    * sibling and the OTHER metadata-only edit column mapping exists
    * for: the physical parquet column stays in every written file,
    * only the logical field leaves the schema, so readers stop
    * projecting it (one log line vs a full rewrite on a 100 TB
    * table). Re-adding the same logical name later ([[evolveSchema]])
    * mints a FRESH physical name and column id, so the old data can
    * never resurrect under the new column — delta's tombstone
    * semantics, guaranteed structurally by the mapping. Refused on
    * unmapped tables naming the mode (their files carry logical
    * names: dropping one there silently null-fills nothing — the data
    * is still read), on partition columns (they define file layout),
    * on a generated column's SOURCE (the expression would dangle),
    * and while a CHECK constraint references the column. */
  def dropColumn(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, column: String): Long = {
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(snap.physicalNames.nonEmpty,
      "dropColumn needs a column-mapped table (set " +
        "delta.columnMapping.mode = name or id at creation) — unmapped " +
        "files carry logical column names, so a drop there would still " +
        "read the data back; rewrite the table instead")
    val field = snap.schema.fields.find(_.name == column)
    require(field.nonEmpty, s"no such column: $column")
    require(!snap.partitionColumns.contains(column),
      s"$column is a partition column — it defines the table's file " +
        "layout and cannot be dropped as a metadata edit")
    require(snap.schema.fields.length > 1,
      s"cannot drop $column — it is the table's only column")
    // (?s): constraint/generation expressions may span lines — a
    // newline must not let a referencing expression evade the guard
    val word = s"(?s).*\\b${java.util.regex.Pattern.quote(column)}\\b.*"
    val genRefs = generationExpressions(snap.schema).collect {
      case (c, g) if c != column && g.matches(word) => c
    }
    require(genRefs.isEmpty,
      s"generated column(s) ${genRefs.mkString(", ")} are computed " +
        s"from $column — drop them first")
    val conRefs = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") &&
        v.matches(word) => k.stripPrefix("delta.constraints.")
    }
    require(conRefs.isEmpty,
      s"CHECK constraint(s) reference $column: ${conRefs.mkString(", ")}" +
        " — drop them first")
    val dropped = StructType(snap.schema.fields.filterNot(_.name == column))
    patchMetaData(spark, tablePath, "DROP COLUMN")(meta =>
      meta.put("schemaString", dropped.json))
  }

  /** Carry the table's newest metaData record forward (JSON commits
    * first, newest-checkpoint fallback after log cleanup — the same
    * rule [[checkpoint]] uses), apply `patch` to the metaData object,
    * and publish it as a metaData commit. Shared by [[evolveSchema]]
    * and the CHECK-constraint verbs. */
  private def patchMetaData(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, operation: String)(
      patch: com.fasterxml.jackson.databind.node.ObjectNode => Unit): Long = {
    val table = new File(tablePath)
    val logDir = new File(table, "_delta_log")
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    var metaLine: Option[String] = None
    Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach(l =>
          if (l.contains("\"metaData\"")) metaLine = Some(l))
        finally src.close()
      }
    if (metaLine.isEmpty)
      newestCheckpointFrame(spark, logDir).foreach { df =>
        if (df.columns.contains("metaData"))
          metaLine = df.filter(col("metaData").isNotNull)
            .select(to_json(struct(col("metaData")))).collect()
            .headOption.map(_.getString(0))
      }
    require(metaLine.nonEmpty,
      s"no metaData action found in $tablePath's JSON commits or " +
        "its newest checkpoint")
    val root = jackson.readTree(metaLine.get)
    patch(root.get("metaData")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    val version = nextVersion(table)
    publish(table, version, Seq(jackson.writeValueAsString(root)), operation)
    version
  }

  /** Add a CHECK constraint (Delta's `delta.constraints.<name>` table
    * property): `exprSql` must hold — SQL CHECK semantics, violated
    * only when it evaluates to literal FALSE, NULL passes — for every
    * CURRENT row (verified with one filtered count before the commit)
    * and every future write ([[validateAgainstTable]] enforces all
    * declared constraints on the incoming frame of append / overwrite /
    * merge / scd2Apply). Declared as a metaData commit so any Delta
    * reader sees the property; enforcement is this writer's. */
  def addCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, name: String, exprSql: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier: '$name'")
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(!snap.configuration.contains(s"delta.constraints.$name"),
      s"constraint $name already exists (drop it first)")
    val violating = DeltaReader.load(spark, tablePath)
      .filter(coalesce(expr(exprSql), lit(true)) === false).count()
    require(violating == 0L,
      s"cannot add CHECK constraint $name: $violating existing row(s) " +
        s"violate ($exprSql)")
    patchMetaData(spark, tablePath, "ADD CONSTRAINT") { meta =>
      val cfg = meta.get("configuration") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => meta.putObject("configuration")
      }
      cfg.put(s"delta.constraints.$name", exprSql)
      ()
    }
  }

  /** Set a table property (metaData configuration entry) — e.g.
    * `delta.enableDeletionVectors = true`, which flips the SQL
    * DELETE/UPDATE dispatch to the merge-on-read verbs. CHECK
    * constraints are refused here (their verbs validate the rows);
    * column-mapping mode is immutable (the reader's layout contract
    * was fixed at write time). */
  def setTableProperty(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, key: String, value: String): Long = {
    require(!key.startsWith("delta.constraints."),
      s"use addCheckConstraint for $key — constraints validate current rows")
    require(key != "delta.columnMapping.mode",
      "column mapping mode is immutable after table creation")
    patchMetaData(spark, tablePath, "SET TBLPROPERTIES") { meta =>
      val cfg = meta.get("configuration") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => meta.putObject("configuration")
      }
      cfg.put(key, value)
      ()
    }
  }

  /** Unset a table property set by [[setTableProperty]]. */
  def unsetTableProperty(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, key: String): Long = {
    require(!key.startsWith("delta.constraints."),
      s"use dropCheckConstraint for $key")
    patchMetaData(spark, tablePath, "UNSET TBLPROPERTIES") { meta =>
      meta.get("configuration") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o.remove(key)
        case _ =>
      }
      ()
    }
  }

  /** Drop a CHECK constraint added by [[addCheckConstraint]]. */
  def dropCheckConstraint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, name: String): Long = {
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(snap.configuration.contains(s"delta.constraints.$name"),
      s"no such constraint: $name")
    patchMetaData(spark, tablePath, "DROP CONSTRAINT") { meta =>
      meta.get("configuration") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          o.remove(s"delta.constraints.$name")
        case _ =>
      }
      ()
    }
  }

  /** Partition-level overwrite (Delta `replaceWhere` restricted to
    * partition columns — the backfill primitive: atomically swap the
    * admitted partitions' contents for `df`'s rows). Emits `remove`
    * actions for every live file whose partition values fall inside
    * `partitionValues` plus `add`s for the staged replacement, in ONE
    * commit — readers see the old or the new partition content, never a
    * mix. Refuses rows outside the admitted partitions (the guard that
    * makes "replace" mean replace, not "replace and also append
    * elsewhere"). Old files stay on disk for time travel until
    * [[vacuum]]. */
  def replacePartitions(df: DataFrame, tablePath: String,
      partitionValues: Map[String, Set[String]]): Long = {
    val spark = df.sparkSession
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(snap.partitionColumns.nonEmpty,
      s"$tablePath is unpartitioned — replacePartitions needs partition columns")
    val bad = partitionValues.keySet -- snap.partitionColumns.toSet
    require(bad.isEmpty, s"not partition columns of $tablePath: $bad")
    require(partitionValues.nonEmpty, "no partitions admitted")
    val version = nextVersion(table)
    validateAgainstTable(df, tablePath, snap.partitionColumns, version)
    // every incoming row must land in an admitted partition
    val inScope = partitionValues.map { case (k, vs) =>
      col(k).cast("string").isin(vs.toSeq: _*)
    }.reduce(_ && _)
    val outside = df.filter(!inScope).count()
    require(outside == 0L,
      s"$outside rows fall outside the admitted partitions $partitionValues")

    val removes = snap.files.filter { a =>
      partitionValues.forall { case (k, vs) =>
        // add-action partitionValues are keyed by PHYSICAL names under
        // column mapping; the caller speaks logical
        a.partitionValues.get(snap.physicalNames.getOrElse(k, k))
          .flatten.exists(vs.contains)
      }
    }.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    val adds = stageLogical(df, snap, table, version)
    publishOptimistic(table, version, removes ++ adds)
  }

  /** MERGE (upsert): rows of `source` REPLACE target rows sharing their
    * `keys` tuple; unmatched source rows are inserted — `WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, the shape an
    * ingest pipeline's dedup-and-refresh step runs daily. Copy-on-write
    * at FILE granularity, one atomic commit:
    *
    *  1. touched files = a key-only left-semi join of the tagged target
    *     scan against the source's distinct keys, collected DISTINCT —
    *     file-count-sized metadata, never row data (and the scan is
    *     column-pruned to the key columns + file path);
    *  2. survivors = rows of ONLY the touched files (broadcast
    *     semi-join on the file id) anti-joined against the source keys
    *     — untouched files are never read or rewritten, which is what
    *     keeps a 10-row merge into a 10⁹-row table proportional to the
    *     overlap, not the table;
    *  3. survivors ∪ source are staged as new files (fresh one-pass
    *     stats) and published with removes of the touched files —
    *     readers see pre- or post-merge, never a mix.
    *
    * Sources with duplicate key tuples are refused (the multiple-match
    * ambiguity Delta's own MERGE rejects). Mapped tables work in BOTH
    * modes: the tagged scan already restores logical names and
    * [[stageLogical]] renames the rewrite back to physical at staging
    * (`id` mode additionally stamps field ids). DV'd touched files rewrite
    * correctly: the tagged scan already excludes DV-deleted rows, and
    * the file-level remove retires the vector with its file. */
  def merge(source: DataFrame, tablePath: String,
      keys: Seq[String]): Long = {
    val spark = source.sparkSession
    import spark.implicits._
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(keys.nonEmpty, "merge needs at least one key column")
    val missing = keys.filterNot(snap.schema.fieldNames.contains)
    require(missing.isEmpty, s"merge keys absent from table schema: $missing")
    val version = nextVersion(table)
    validateAgainstTable(source, tablePath, snap.partitionColumns, version)
    require(source.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).isEmpty,
      s"source has duplicate key tuples on $keys — upsert is ambiguous")

    val tagged = DeltaReader.loadAt(spark, tablePath, Long.MaxValue,
      tagSourceFile = true)
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val touched = tagged.select(keys.map(col) :+ col("__source_file"): _*)
      .join(srcKeys, keys, "left_semi")
      .select("__source_file").distinct()
      .collect().map(_.getString(0)).toSet
    val root = table.getAbsolutePath
    def absPath(rel: String): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(rel))
    val removedAdds = snap.files.filter(a =>
      touched.exists(t => new java.net.URI(t).getPath == absPath(a.path)))
    require(removedAdds.length == touched.size,
      s"internal: ${touched.size} touched files resolved to " +
        s"${removedAdds.length} add actions")

    val survivors =
      if (touched.isEmpty) source.limit(0)
      else tagged
        .join(broadcast(touched.toSeq.toDF("__source_file")),
          Seq("__source_file"), "left_semi")
        .drop("__source_file", "__row_index")
        .join(srcKeys, keys, "left_anti")
    val fields = snap.schema.fieldNames.toIndexedSeq
    val srcNorm = source.select(fields.map(col): _*)
    val out = survivors.unionByName(srcNorm)
    val adds = stageLogical(out, snap, table, version)
    // exact CDF images ([[stageCdcFiles]]) when the table declares a
    // consumer ([[cdfEnabled]]): replaced target rows =
    // update_preimage (bounded by the touched files), their source
    // versions = update_postimage, unmatched source rows = insert —
    // the feed never ships touched-file survivor churn
    val cdcLines = if (!cdfEnabled(snap)) Nil else {
      val touchedRows =
        if (touched.isEmpty) tagged.limit(0)
        else tagged.join(broadcast(touched.toSeq.toDF("__source_file")),
          Seq("__source_file"), "left_semi")
      val pre = touchedRows
        .join(srcKeys, keys, "left_semi")
        .drop("__source_file", "__row_index")
        .select(fields.map(col): _*)
      val matchedKeys = pre.select(keys.map(col): _*).distinct()
      // DUPLICATE-KEY TARGETS: replace-all semantics turn N matching
      // target rows into ONE source row, but matchedKeys is
      // key-distinct — a naive feed would pair N `update_preimage`
      // rows with a single `update_postimage`, breaking the 1:1
      // pre/post pairing CDF consumers assume. So exactly one
      // pre-image per key keeps the update spelling and the surplus
      // N−1 emit as `delete` (which is what replace-all did to them);
      // the signed net is identical either way, the pairing contract
      // holds. Which duplicate becomes THE pre-image is arbitrary
      // (they share the key; replace-all destroys them all alike) —
      // row_number over the key cols picks one without imposing a
      // spurious total order.
      val keyW = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(keys.map(col): _*)
      // localCheckpoint PINS one evaluation of the tie-broken ranking:
      // the rn===1 and rn>1 branches below would otherwise re-evaluate
      // the window independently (only the exchange is reused), and
      // with duplicates tied under the key-only ordering the two
      // re-evaluations could DISAGREE on which row is "the" pre-image
      // — one duplicate appearing in the feed twice and its sibling
      // never, corrupting downstream folds. EAGER, so the blocks exist
      // before either branch runs (a lazy cache would leave the two
      // branches racing to compute the same partition); lost blocks
      // fail the job rather than recompute (deterministic-or-fail, the
      // q89 CC discipline). Matched-rows-sized; released EXPLICITLY
      // below once the cdc files are staged (r21 — a long-lived session
      // running many merges otherwise accumulates checkpointed RDD
      // blocks until ContextCleaner GC).
      val preTagged = pre.withColumn("__rn", row_number().over(keyW))
        .localCheckpoint()
      try stageCdcFiles(
        preTagged.filter(col("__rn") === 1).drop("__rn")
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(preTagged.filter(col("__rn") > 1).drop("__rn")
            .withColumn("_change_type", lit("delete")))
          .unionByName(srcNorm.join(matchedKeys, keys, "left_semi")
            .withColumn("_change_type", lit("update_postimage")))
          .unionByName(srcNorm.join(matchedKeys, keys, "left_anti")
            .withColumn("_change_type", lit("insert"))),
        table, version, snap)
      finally preTagged.unpersist()
    }
    val removes = removedAdds.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    publishOptimistic(table, version, cdcLines ++ removes ++ adds,
      operation = "MERGE")
  }

  /** SCD TYPE-2 APPLY — the versioned-dimension maintenance every
    * warehouse runs on top of a table format: the table carries the
    * FULL HISTORY of each key as `[valid_from, valid_to)` windows
    * (`valid_to IS NULL` = the current version), and one call applies a
    * change batch effective at integer stamp `ts`:
    *
    *  - a changed key (any non-key attribute differs from its current
    *    version, NULL-safe) closes the current row (`valid_to = ts`)
    *    and opens a new current row (`valid_from = ts`);
    *  - an UNCHANGED key is a no-op — re-delivering the same snapshot
    *    creates no versions (the idempotence a snapshot-feed loader
    *    needs);
    *  - a brand-new key opens its first version;
    *  - a key absent from the batch is untouched (changes-feed
    *    semantics: absence ≠ deletion — the `snapshotMode` overload
    *    flips this to snapshot-feed soft deletes);
    *  - out-of-order batches are REFUSED: a changed key whose current
    *    `valid_from >= ts` throws (history must stay monotone).
    *
    * First call on an empty table bootstraps it (every row current at
    * `ts`). Copy-on-write at FILE granularity, exactly [[merge]]'s
    * discipline: only files holding a closing current row rewrite;
    * closed + new versions land with the survivors in one atomic
    * commit. `changes` must carry the table schema minus the validity
    * columns. Shapes at 100 TB: discovery = one key semi-join with an
    * any-attr-differs filter; everything else is bounded by the change
    * batch + touched files, never the history size. */
  def scd2Apply(changes: DataFrame, tablePath: String,
      keys: Seq[String], ts: Long): Long =
    scd2Apply(changes, tablePath, keys, ts, snapshotMode = false)

  /** `snapshotMode = true` switches from changes-feed to SNAPSHOT-feed
    * semantics: the batch is the COMPLETE current extract, so a key
    * absent from it is gone from the source — its current row CLOSES at
    * `ts` with no successor (the soft delete an SCD2 history records).
    * Changed/unchanged/new keys behave exactly as in the default mode,
    * including the published-nothing idempotent no-op on an identical
    * re-delivery. */
  def scd2Apply(changes: DataFrame, tablePath: String,
      keys: Seq[String], ts: Long, snapshotMode: Boolean): Long = {
    val spark = changes.sparkSession
    import spark.implicits._
    require(keys.nonEmpty, "scd2Apply needs at least one key column")
    require(!changes.columns.contains("valid_from") &&
      !changes.columns.contains("valid_to"),
      "changes must NOT carry validity columns — the verb stamps them")
    require(changes.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).isEmpty,
      s"change batch has duplicate key tuples on $keys")
    val stamped = changes
      .withColumn("valid_from", lit(ts))
      .withColumn("valid_to", lit(null).cast("long"))
    if (!tableExists(tablePath)) return append(stamped, tablePath)

    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val attrs = snap.schema.fieldNames.toSeq
      .filterNot(keys.contains).filterNot(Seq("valid_from", "valid_to").contains)
    val missing = (keys ++ attrs).filterNot(changes.columns.contains)
    require(missing.isEmpty, s"change batch is missing columns: $missing")
    val version = nextVersion(table)
    validateAgainstTable(stamped, tablePath, snap.partitionColumns, version)

    val tagged = DeltaReader.loadAt(spark, tablePath, Long.MaxValue,
      tagSourceFile = true)
    val cur = tagged.filter(col("valid_to").isNull)
    // changed keys: current attrs differ (NULL-safe) from the batch's
    val s = changes.select((keys ++ attrs).map(col): _*)
      .withColumnsRenamed(attrs.map(a => a -> s"__s_$a").toMap)
    val joined = cur.join(s, keys)
    val differs = attrs.map(a => !(col(a) <=> col(s"__s_$a")))
      .reduce(_ || _)
    val lateKeys = joined.filter(differs && col("valid_from") >= ts).count()
    require(lateKeys == 0L,
      s"out-of-order SCD2 batch: $lateKeys changed key(s) have a current " +
        s"version at or past ts=$ts — history must stay monotone")
    val changedKeys0 = joined.filter(differs)
      .select(keys.map(col): _*).distinct()
    val newKeys = changes.select(keys.map(col): _*)
      .join(tagged.select(keys.map(col): _*).distinct(), keys, "left_anti")
      .cache()
    // snapshot mode: a current key ABSENT from the complete extract is
    // gone at the source — close it (no successor). The same
    // monotonicity guard applies to the closing rows.
    val absentKeys =
      if (!snapshotMode) cur.limit(0).select(keys.map(col): _*)
      else cur.select(keys.map(col): _*).distinct()
        .join(changes.select(keys.map(col): _*), keys, "left_anti")
    if (snapshotMode) {
      val lateAbsent = cur.join(absentKeys, keys, "left_semi")
        .filter(col("valid_from") >= ts).count()
      require(lateAbsent == 0L,
        s"out-of-order SCD2 snapshot: $lateAbsent absent key(s) have a " +
          s"current version at or past ts=$ts — history must stay monotone")
    }
    // closingKeys close their current row; only changed keys reopen
    val changedKeys = changedKeys0.cache()
    val closingKeys = changedKeys.unionByName(absentKeys).distinct().cache()
    if (closingKeys.isEmpty && newKeys.isEmpty) {
      // the whole batch re-delivered current state — idempotent no-op,
      // publish NOTHING (an empty commit would still advance the
      // version and dirty every incremental consumer's window)
      changedKeys.unpersist(); closingKeys.unpersist(); newKeys.unpersist()
      return snap.version
    }

    val touched = cur.join(closingKeys, keys, "left_semi")
      .select("__source_file").distinct()
      .collect().map(_.getString(0)).toSet
    val root = table.getAbsolutePath
    def absPath(rel: String): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(rel))
    val removedAdds = snap.files.filter(a =>
      touched.exists(t => new java.net.URI(t).getPath == absPath(a.path)))
    require(removedAdds.length == touched.size,
      s"internal: ${touched.size} touched files resolved to " +
        s"${removedAdds.length} add actions")

    val fields = snap.schema.fieldNames.toIndexedSeq
    val inTouched =
      if (touched.isEmpty) tagged.limit(0)
      else tagged.join(broadcast(touched.toSeq.toDF("__source_file")),
        Seq("__source_file"), "left_semi")
        .drop("__source_file", "__row_index")
    // survivors: every touched-file row EXCEPT the closing current ones
    val survivors = inTouched
      .join(closingKeys, keys, "left_anti")
      .unionByName(inTouched.filter(col("valid_to").isNotNull)
        .join(closingKeys, keys, "left_semi"))
    val closed = inTouched.filter(col("valid_to").isNull)
      .join(closingKeys, keys, "left_semi")
      .withColumn("valid_to", lit(ts))
    val opened = stamped
      .join(changedKeys.unionByName(newKeys), keys, "left_semi")
    val out = Seq(survivors, closed, opened)
      .map(_.select(fields.map(col): _*)).reduce(_.unionByName(_))
    val adds = stageLogical(out, snap, table, version)
    val removes = removedAdds.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    val committed = publishOptimistic(table, version, removes ++ adds,
      operation = "SCD2 APPLY")
    changedKeys.unpersist(); closingKeys.unpersist(); newKeys.unpersist()
    committed
  }

  /** DELETE WHERE: drop every row matching `predicate` in one atomic
    * copy-on-write commit. Touched-file discovery is a real filtered
    * scan, so the snapshot FileIndex's stats-based skipping prunes
    * files whose min/max exclude the predicate BEFORE any data is read
    * — a delete keyed on a clustered column touches only the files that
    * can match. Untouched files are never rewritten; touched ones are
    * rewritten without their matching rows (SQL three-valued logic:
    * NULL-predicate rows are NOT deleted, as in `DELETE FROM t WHERE
    * p`). Same column-mapping restriction as [[merge]]. */
  def delete(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      /** audit name for the commitInfo line — TRUNCATE rides this verb
        * with an all-rows predicate and its own operation label. */
      operation: String = "DELETE"): Long = {
    import spark.implicits._
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val version = nextVersion(table)
    val tagged = DeltaReader.loadAt(spark, tablePath, Long.MaxValue,
      tagSourceFile = true)
    val touched = tagged.filter(predicate)
      .select("__source_file").distinct()
      .collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return version - 1 // nothing matches: no commit
    val root = table.getAbsolutePath
    def absPath(rel: String): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(rel))
    val removedAdds = snap.files.filter(a =>
      touched.exists(t => new java.net.URI(t).getPath == absPath(a.path)))
    require(removedAdds.length == touched.size,
      s"internal: ${touched.size} touched files resolved to " +
        s"${removedAdds.length} add actions")
    val survivors = tagged
      .join(broadcast(touched.toSeq.toDF("__source_file")),
        Seq("__source_file"), "left_semi")
      .drop("__source_file", "__row_index")
      .filter(coalesce(!predicate, lit(true))) // NULL predicate keeps the row
    val adds = stageLogical(survivors, snap, table, version)
    // exact CDF delete images ([[stageCdcFiles]]) when the table
    // declares a consumer ([[cdfEnabled]]): the verb knows the matched
    // rows, so the feed never ships touched-file survivor churn
    val cdcLines = if (!cdfEnabled(snap)) Nil else stageCdcFiles(
      tagged.filter(predicate)
        .drop("__source_file", "__row_index")
        .select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
        .withColumn("_change_type", lit("delete")),
      table, version, snap)
    val removes = removedAdds.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    publishOptimistic(table, version, cdcLines ++ removes ++ adds,
      operation = operation)
  }

  /** DELETE WHERE via DELETION VECTORS — the merge-on-read spelling of
    * [[delete]]: instead of rewriting every touched file, each one is
    * re-added (same path, same stats) with a roaring-bitmap descriptor
    * marking its dead row indexes, in ONE atomic remove+re-add commit.
    * At 100 TB this is THE row-level delete for hot wide files: the
    * write cost is proportional to the DELETED ROW COUNT (the bitmap),
    * not the touched files' bytes — a 100-row delete across ten 1 GB
    * files writes a few hundred bitmap bytes, not 10 GB. The reader
    * side already pays the anti-join only for snapshots that carry
    * DVs.
    *
    * Mechanics:
    *  - discovery = the same stats-skipped predicate scan as [[delete]],
    *    but collecting `(file, row_index)` — driver memory is bounded
    *    by the deleted-row count, the same order as the DV bytes being
    *    built (a rewrite-style delete remains the right verb when a
    *    predicate kills most of a table);
    *  - a file that ALREADY carries a DV gets the union of its old and
    *    new dead rows (the tagged scan yields post-DV rows, so new
    *    indexes never collide with old ones);
    *  - small bitmaps inline into the log as Z85 (`storageType:"i"`,
    *    zero extra files); larger ones land in ONE
    *    `deletion_vector_<uuid>.bin` per commit holding every touched
    *    file's bitmap at its own offset (`storageType:"u"`, the delta
    *    spec's `[version:1][per-DV: size:int32BE|data|crc32]` layout
    *    [[DeletionVectors.deletedRows]] slices);
    *  - [[checkpoint]] re-emits descriptors verbatim, so DVs survive
    *    log cleanup; [[vacuum]]'s walk only considers `.parquet`, so a
    *    DV `.bin` is never swept while its table lives.
    *
    * Compaction ([[compact]]) or a rewriting [[delete]] later absorbs
    * the vectors (the tagged scan already excludes DV'd rows), which is
    * exactly the merge-on-read → copy-on-write maintenance cycle
    * production Delta runs. */
  def deleteWithVectors(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, predicate: org.apache.spark.sql.Column,
      inlineMax: Int = 512): Long =
    dvMarkDead(spark, tablePath, predicate, inlineMax) match {
      case None => nextVersion(new File(tablePath)) - 1 // no match: no commit
      case Some(p) =>
        publishOptimistic(p.table, p.version,
          p.protoLine ++ p.removes ++ p.dvAdds, operation = "DELETE")
    }

  /** Merge-on-read UPDATE: the matched rows are marked dead with
    * writer-emitted deletion vectors (NOTHING is rewritten in place —
    * [[deleteWithVectors]]'s cost model: bitmap bytes ∝ matched-row
    * count, not touched-file bytes) and their post-SET versions land as
    * NEW files in the SAME atomic commit. The merge-on-read twin of
    * [[update]]: a 100-row update across ten 1 GB files writes a few
    * hundred bitmap bytes plus one small file of updated rows; a later
    * compact/rewrite absorbs the vectors. CHECK constraints gate the
    * post-SET rows exactly like the copy-on-write path. */
  def updateWithVectors(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      inlineMax: Int = 512): Long = {
    val snap0 = DeltaReader.snapshot(spark, tablePath)
    require(set.nonEmpty, "updateWithVectors needs at least one SET assignment")
    val unknown = set.keySet.filterNot(snap0.schema.fieldNames.contains)
    require(unknown.isEmpty, s"SET targets absent from table schema: $unknown")
    // generated-column invariant, same contract as [[update]]
    val gens = generationExpressions(snap0.schema)
    val genHit = set.keySet.intersect(gens.keySet)
    require(genHit.isEmpty,
      s"cannot SET generated column(s) ${genHit.mkString(", ")} — " +
        "update their source columns; the writer recomputes them")
    dvMarkDead(spark, tablePath, predicate, inlineMax) match {
      case None => nextVersion(new File(tablePath)) - 1 // no match: no commit
      case Some(p) =>
        val updated = p.tagged.filter(predicate)
          .drop("__source_file", "__row_index")
          .select(p.snap.schema.fields.toIndexedSeq.map { f =>
            set.get(f.name) match {
              case Some(e) => e.cast(f.dataType).as(f.name)
              case None => col(f.name)
            }
          }: _*)
          .transform(df2 => recomputeGenerated(df2, p.snap.schema, gens))
        enforceRowInvariants(updated, p.snap, tablePath)
        val newAdds = stageLogical(updated, p.snap, p.table, p.version)
        // exact CDF update images when the table declares a consumer
        // ([[cdfEnabled]]), same mechanism as the CoW verb: the DV'd
        // rows are the pre-images, `updated` the post-images
        val cdcLines = if (!cdfEnabled(p.snap)) Nil else {
          val pre = p.tagged.filter(predicate)
            .drop("__source_file", "__row_index")
            .select(p.snap.schema.fieldNames.toIndexedSeq.map(col): _*)
          stageCdcFiles(
            pre.withColumn("_change_type", lit("update_preimage"))
              .unionByName(
                updated.withColumn("_change_type", lit("update_postimage"))),
            p.table, p.version, p.snap)
        }
        publishOptimistic(p.table, p.version,
          p.protoLine ++ cdcLines ++ p.removes ++ p.dvAdds ++ newAdds,
          operation = "UPDATE")
    }
  }

  /** The shared merge-on-read core: build merged deletion vectors for
    * every file holding a predicate-matched row, plus the re-add/remove
    * action lines and protocol escalation — WITHOUT publishing (the
    * caller owns the commit, so [[updateWithVectors]] can append its
    * new-version files atomically alongside). None = nothing matched. */
  private final case class DvMark(table: File,
      snap: DeltaReader.Snapshot, tagged: DataFrame, version: Long,
      protoLine: Seq[String], removes: Seq[String], dvAdds: Seq[String])

  private def dvMarkDead(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, predicate: org.apache.spark.sql.Column,
      inlineMax: Int): Option[DvMark] = {
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val version = nextVersion(table)
    val tagged = DeltaReader.loadAt(spark, tablePath, Long.MaxValue,
      tagSourceFile = true)
    val hit = tagged.filter(predicate)
      .groupBy(col("__source_file"))
      .agg(collect_list(col("__row_index")).as("__rows"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    if (hit.isEmpty) return None // nothing matches
    val root = table.getAbsolutePath
    def absPath(rel: String): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(rel))
    val touched = snap.files.flatMap { a =>
      hit.collectFirst {
        case (uri, rows) if new java.net.URI(uri).getPath == absPath(a.path) =>
          a -> rows
      }
    }
    require(touched.length == hit.size,
      s"internal: ${hit.size} touched files resolved to ${touched.length}")

    // merged bitmap per file (old DV rows ∪ new dead rows), serialized
    // in the reader's own RoaringBitmapArray format
    val bitmaps = touched.map { case (a, fresh) =>
      val old = a.deletionVector.toSeq.flatMap(dv =>
        DeletionVectors.deletedRows(dv, root))
      val all = (old ++ fresh).distinct.sorted
      (a, all, DeletionVectors.serializeRoaringArray(all))
    }

    // one on-disk .bin for everything too big to inline
    val spill = bitmaps.filter(_._3.length > inlineMax)
    val onDisk: Map[String, (String, Int)] = if (spill.isEmpty) Map.empty
    else {
      val uuid = java.util.UUID.randomUUID()
      val bbUuid = java.nio.ByteBuffer.allocate(16)
      bbUuid.putLong(uuid.getMostSignificantBits)
      bbUuid.putLong(uuid.getLeastSignificantBits)
      val enc = Z85.encode(bbUuid.array())
      val out = new java.io.ByteArrayOutputStream()
      out.write(1) // format version byte
      val offsets = spill.map { case (a, _, bytes) =>
        val off = out.size()
        val szBuf = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.BIG_ENDIAN).putInt(bytes.length)
        out.write(szBuf.array()); out.write(bytes)
        val crc = new java.util.zip.CRC32(); crc.update(bytes)
        val crcBuf = java.nio.ByteBuffer.allocate(4)
          .order(java.nio.ByteOrder.BIG_ENDIAN).putInt(crc.getValue.toInt)
        out.write(crcBuf.array())
        a.path -> (enc, off)
      }.toMap
      Files.write(new File(table, s"deletion_vector_$uuid.bin").toPath,
        out.toByteArray)
      offsets
    }

    // spec contract: a table carrying DVs must announce the reader
    // feature — escalate the protocol IN the same commit (existing
    // features preserved), once
    val protoLine = dvProtocolEscalation(spark, table)

    val removes = bitmaps.map { case (a, _, _) =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}"""
    }
    val adds = bitmaps.map { case (a, rows, bytes) =>
      val dv = onDisk.get(a.path) match {
        case Some((enc, off)) => DeltaReader.DvDescriptor("u", enc, off,
          bytes.length, rows.length.toLong)
        case None => DeltaReader.DvDescriptor("i", Z85.encode(pad4(bytes)),
          0, bytes.length, rows.length.toLong)
      }
      // the re-add keeps stats and tags (an `optimized=zorder` file
      // stays recognized by incremental z-order after a DV delete)
      addJson(a.copy(deletionVector = Some(dv)), dataChange = true)
    }
    Some(DvMark(table, snap, tagged, version, protoLine, removes, adds))
  }

  /** The escalated protocol line a first DV commit must carry
    * (minReaderVersion 3 + readerFeatures incl `deletionVectors`,
    * existing features preserved) — empty when the table already
    * announces the feature. */
  private def dvProtocolEscalation(
      spark: org.apache.spark.sql.SparkSession, table: File): Seq[String] = {
    val logDir = new File(table, "_delta_log")
    var proto: Option[String] = None
    newestCheckpointFrame(spark, logDir).foreach { df =>
      if (df.columns.contains("protocol"))
        proto = df.filter(col("protocol").isNotNull)
          .select(to_json(struct(col("protocol")))).collect()
          .headOption.map(_.getString(0)).orElse(proto)
    }
    Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach(l =>
          if (l.contains("\"protocol\"")) proto = Some(l))
        finally src.close()
      }
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = proto.map(jackson.readTree(_).get("protocol"))
    def feats(field: String): Seq[String] = node.toSeq.flatMap { n =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      Option(n.get(field)).foreach { arr =>
        val it = arr.elements()
        while (it.hasNext) out += it.next().asText()
      }
      out.toSeq
    }
    val rf = feats("readerFeatures")
    if (rf.contains("deletionVectors")) Nil
    else {
      val nrf = (rf :+ "deletionVectors").distinct
      val nwf = (feats("writerFeatures") :+ "deletionVectors").distinct
      Seq(s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        s""""readerFeatures":[${nrf.map(jstr).mkString(",")}],""" +
        s""""writerFeatures":[${nwf.map(jstr).mkString(",")}]}}""")
    }
  }

  /** Z85 needs 4-byte alignment; the roaring array parser reads only
    * the containers it declares, so zero-padding the tail is inert. */
  private def pad4(bytes: Array[Byte]): Array[Byte] =
    if (bytes.length % 4 == 0) bytes
    else bytes ++ new Array[Byte](4 - bytes.length % 4)

  private[sources] def dvJson(dv: DeltaReader.DvDescriptor): String =
    s"""{"storageType":${jstr(dv.storageType)},""" +
      s""""pathOrInlineDv":${jstr(dv.pathOrInlineDv)},""" +
      s""""offset":${dv.offset},"sizeInBytes":${dv.sizeInBytes},""" +
      s""""cardinality":${dv.cardinality}}"""

  /** UPDATE … SET … WHERE: apply `set` expressions to every row
    * matching `predicate`, copy-on-write at file granularity like
    * [[delete]] — the discovery scan's predicate rides the snapshot
    * FileIndex's stats skipping, untouched files carry forward
    * unrewritten, and touched files rewrite with non-matching rows
    * passed through bit-identical (`when(predicate, expr)
    * .otherwise(col)` — NULL predicates take the otherwise branch, so
    * three-valued logic matches SQL UPDATE). Set expressions are cast
    * back to the column's declared type (an UPDATE never drifts the
    * schema). Updating a partition column is allowed: the staged
    * rewrite re-buckets moved rows into their new hive directories in
    * the same commit. */
  def update(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    import spark.implicits._
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    require(set.nonEmpty, "update needs at least one SET assignment")
    val unknown = set.keySet.filterNot(snap.schema.fieldNames.contains)
    require(unknown.isEmpty, s"SET targets absent from table schema: $unknown")
    // generated columns keep their invariant through updates: a direct
    // SET on one is refused, and whenever a SET touches a row every
    // generated column is recomputed from its expression (its source
    // columns may just have changed)
    val gens = generationExpressions(snap.schema)
    val genHit = set.keySet.intersect(gens.keySet)
    require(genHit.isEmpty,
      s"cannot SET generated column(s) ${genHit.mkString(", ")} — " +
        "update their source columns; the writer recomputes them")
    val version = nextVersion(table)
    val tagged = DeltaReader.loadAt(spark, tablePath, Long.MaxValue,
      tagSourceFile = true)
    val touched = tagged.filter(predicate)
      .select("__source_file").distinct()
      .collect().map(_.getString(0)).toSet
    if (touched.isEmpty) return version - 1 // nothing matches: no commit
    val root = table.getAbsolutePath
    def absPath(rel: String): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(rel))
    val removedAdds = snap.files.filter(a =>
      touched.exists(t => new java.net.URI(t).getPath == absPath(a.path)))
    require(removedAdds.length == touched.size,
      s"internal: ${touched.size} touched files resolved to " +
        s"${removedAdds.length} add actions")
    val rewritten = tagged
      .join(broadcast(touched.toSeq.toDF("__source_file")),
        Seq("__source_file"), "left_semi")
      .drop("__source_file", "__row_index")
      .select(snap.schema.fields.toIndexedSeq.map { f =>
        set.get(f.name) match {
          case Some(e) =>
            when(predicate, e.cast(f.dataType)).otherwise(col(f.name))
              .as(f.name)
          case None => col(f.name)
        }
      }: _*)
      // generated columns recompute OVER the post-SET rows (their
      // source columns may just have changed); for rows the predicate
      // did not touch the expression reproduces the held invariant
      // bit-identically, so pass-through stays exact
      .transform(df2 => recomputeGenerated(df2, snap.schema, gens))
    // an UPDATE can move rows OUT of a declared CHECK range or SET a
    // non-nullable column to NULL — same gates as the append-family
    // verbs, over the rewritten (post-SET) rows
    enforceRowInvariants(rewritten, snap, tablePath)
    val adds = stageLogical(rewritten, snap, table, version)
    // the verb knows the exact matched rows — when the table declares
    // a CDF consumer ([[cdfEnabled]]), publish them as delta's own
    // update images ([[stageCdcFiles]]) in the same commit
    val cdcLines = if (!cdfEnabled(snap)) Nil else {
      val matched = tagged.filter(predicate)
        .drop("__source_file", "__row_index")
      val matchedPre = matched
        .select(snap.schema.fieldNames.toIndexedSeq.map(col): _*)
      val matchedPost = matched
        .select(snap.schema.fields.toIndexedSeq.map { f =>
          set.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        .transform(df2 => recomputeGenerated(df2, snap.schema, gens))
      stageCdcFiles(
        matchedPre.withColumn("_change_type", lit("update_preimage"))
          .unionByName(
            matchedPost.withColumn("_change_type", lit("update_postimage"))),
        table, version, snap)
    }
    val removes = removedAdds.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    publishOptimistic(table, version, cdcLines ++ removes ++ adds,
      operation = "UPDATE")
  }

  /** Full-table overwrite in ONE atomic commit: removes every live file
    * and adds the staged replacement — the "refresh this
    * materialization" verb (IncrementalAgg's publish step). Readers see
    * the old or the new table, never a mix; old files remain for time
    * travel until [[vacuum]]. Creates the table when absent. */
  def overwrite(rawDf: DataFrame, tablePath: String,
      partitionBy: Seq[String] = Nil,
      /** table properties published ATOMICALLY with the data swap (one
        * commit carries the patched metaData + removes + adds) — the
        * hook [[graft.operators.IncrementalAgg]] uses to ride its
        * watermark in the same commit as the rows it describes; a
        * separate setTableProperty commit would open a torn-state
        * window between the two. */
      properties: Map[String, String] = Map.empty): Long = {
    val table = new File(tablePath)
    val version = nextVersion(table)
    // same generated-column symmetry as [[append]]: an absent declared
    // column is computed, a provided one validates below
    val df = applyGenerated(rawDf, tablePath, version, Map.empty)
    validateAgainstTable(df, tablePath, partitionBy, version,
      generatedToCheck = Some(rawDf.columns.toSet))
    val (removes, phys, fids) =
      if (version == 0L)
        (Nil, Map.empty[String, String], Map.empty[String, Long])
      else {
        val snap = DeltaReader.snapshot(df.sparkSession, tablePath)
        (snap.files.map(a =>
          s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
            s"""${System.currentTimeMillis()},"dataChange":true}}"""),
          snap.physicalNames, snap.fieldIds)
      }
    val (staged, stagedBy) = toPhysical(df, phys, fids, partitionBy)
    val adds = stageDataFiles(staged, table, version, stagedBy)
    // a non-create overwrite carrying properties re-emits the latest
    // metaData with the patched configuration IN THIS commit
    val metaPatch =
      if (properties.isEmpty || version == 0L) Nil
      else Seq(patchedMetaLine(df.sparkSession, tablePath, properties))
    publishOptimistic(table, version,
      header(df, partitionBy, version, extraProps = properties) ++
        metaPatch ++ removes ++ adds)
  }

  /** The table's latest metaData line with `props` merged into its
    * configuration — the INLINE spelling of [[patchMetaData]] for verbs
    * that must publish the patch atomically with other actions. */
  private def patchedMetaLine(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, props: Map[String, String]): String = {
    val (_, metaRaw, _) = carryActions(spark,
      new File(tablePath, "_delta_log"), tablePath)
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = jackson.readTree(metaRaw)
    val meta = root.get("metaData")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val cfg = meta.get("configuration") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => meta.putObject("configuration")
    }
    props.foreach { case (k, v) => cfg.put(k, v) }
    jackson.writeValueAsString(root)
  }

  /** Write a classic single-part checkpoint parquet for the CURRENT
    * version plus `_last_checkpoint`, so log replay of a long-lived
    * table starts from one parquet scan instead of replaying every JSON
    * commit (the reader's checkpoint path, exercised from the producing
    * side). Protocol, metaData, and the per-appId `txn` ledger are
    * carried over from the surviving JSON commits (verbatim lines,
    * preserving table id/configuration), falling back to the newest
    * existing checkpoint for records that log cleanup already removed —
    * so repeated checkpoint→cleanup cycles lose nothing; file actions
    * are re-emitted from the replayed snapshot with
    * `dataChange:false`. Remove tombstones are not carried (fine for
    * readers of the latest version; a concurrent-vacuum coordination
    * protocol is out of scope). Returns the checkpointed version.
    *
    * `parts > 1` writes the delta spec's MULTI-PART layout
    * (`v.checkpoint.<part>.<of>.parquet`, indices 1..of) — the shape a
    * >10⁶-file table needs so no single checkpoint file becomes a
    * multi-GB write/read bottleneck ([[DeltaReader]] already replays
    * multi-part sets, and ignores an incomplete one). The action rows
    * are sharded in ONE distributed round-robin write — never a
    * per-part driver loop — so part files are near-equal in size;
    * schema unification across parts is the reader's job (its
    * checkpoint scan merges part schemas, since the spec lets parts
    * carry disjoint action columns). Part files land under dotted
    * stage names first and are moved in ascending order, so a crashed
    * writer leaves either an ignorable partial set or a complete one. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, parts: Int = 1): Long = {
    import spark.implicits._
    val table = new File(tablePath)
    val logDir = new File(table, "_delta_log")
    val version = nextVersion(table) - 1
    require(version >= 0L, s"no commits to checkpoint at $tablePath")
    val (protoLine, metaLine, txnLines) =
      carryActions(spark, logDir, tablePath)
    val proto = Some(protoLine)
    val meta = Some(metaLine)
    val txns = txnLines
    val snap = DeltaReader.snapshot(spark, tablePath)
    // a DV'd file MUST re-emit its descriptor (a checkpoint that
    // dropped it would silently resurrect the deleted rows), and tags
    // carry through too (incremental z-order recognizes its outputs by
    // them; losing the tag across a checkpoint would re-churn every
    // optimized file on the next pass)
    val adds = snap.files.map(a => addJson(a, dataChange = false))
    require(parts >= 1, s"parts must be >= 1, got $parts")
    val lines = Seq(proto.get, meta.get) ++ txns ++ adds
    // parquet of action rows (schema from the JSON lines, the same
    // layout the reader's checkpoint replay scans) — one file for the
    // classic layout, a round-robin shard set for multi-part
    val tmp = new File(table, ".cp-stage")
    if (tmp.exists()) delete(tmp)
    val actionRows = spark.read.json(lines.toDS())
    (if (parts == 1) actionRows.coalesce(1)
     else actionRows.repartition(parts))
      .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
    // round-robin may leave a partition empty when actions < parts —
    // `of` is the count of REAL part files, keeping indices exactly 1..of
    val written = collectParquet(tmp).sortBy(_.getName)
    if (parts == 1) {
      val dest = new File(logDir, f"$version%020d.checkpoint.parquet")
      Files.move(written.head.toPath, dest.toPath,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      val of = written.length
      written.zipWithIndex.foreach { case (f, i) =>
        val dest = new File(logDir,
          f"$version%020d.checkpoint.${i + 1}%010d.$of%010d.parquet")
        Files.move(f.toPath, dest.toPath, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    delete(tmp)
    val partsField =
      if (parts == 1) "" else s""","parts":${written.length}"""
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      s"""{"version":$version,"size":${lines.length}$partsField}"""
        .getBytes(StandardCharsets.UTF_8))
    version
  }

  /** Delete every data file under the table root that the LATEST
    * snapshot does not reference (the tombstoned leftovers of
    * [[replacePartitions]]/[[compact]] and any orphaned files of a lost
    * commit race) and whose tombstone — or, for an orphan with no
    * tombstone, the file itself — is older than `retainMs` (the
    * production retention window: a concurrent reader of a pre-vacuum
    * snapshot keeps its files until the window passes; `retainMs = 0`,
    * the default, is the test-determinism mode that sweeps
    * immediately). DV sidecar `.bin` files are swept by the same rule
    * once no live descriptor references them (a compaction/rewrite
    * absorbed the vectors); referenced ones always stay. Returns the
    * deleted relative paths. By design this breaks time travel to
    * versions older than the window. */
  def vacuum(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, retainMs: Long = 0L,
      /** `VACUUM … DRY RUN`: report the files the sweep WOULD delete
        * without touching anything — the operational preview every
        * irreversible sweep deserves (vacuum is the one verb that
        * destroys time travel and can break shallow clones). */
      dryRun: Boolean = false,
      /** dead-file count past which the unlink loop distributes —
        * the same knob shape as [[copyInto]]'s probeThreshold, so
        * specs can force the distributed branch on small fixtures. */
      unlinkThreshold: Int = 4096): Seq[String] = {
    val table = new File(tablePath)
    val snapFiles = DeltaReader.snapshot(spark, tablePath).files
    val live = snapFiles.map(_.path).toSet ++
      // DV sidecars referenced by any LIVE descriptor stay; a .bin left
      // behind once a compaction/rewrite absorbed its vectors is dead
      snapFiles.flatMap(_.deletionVector)
        .filter(_.storageType == "u").map { dv =>
          val enc = dv.pathOrInlineDv
          val (prefix, uuidPart) = enc.splitAt(enc.length - 20)
          val bb = java.nio.ByteBuffer.wrap(Z85.decode(uuidPart))
          val uuid = new java.util.UUID(bb.getLong, bb.getLong)
          val name = s"deletion_vector_$uuid.bin"
          if (prefix.isEmpty) name else s"$prefix/$name"
        }
    // tombstone timestamps from the surviving JSON commits (an orphan
    // from a lost commit race has none — its mtime stands in); the same
    // scan collects live CHANGE DATA references — a `_change_data/` cdc
    // file stays exactly while its commit's JSON survives (the horizon
    // that bounds loadChangeFeed's replayability: once log cleanup
    // removes the commit, the feed refuses the window and the file is
    // sweepable)
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val tombstoned = scala.collection.mutable.Map.empty[String, Long]
    val cdcLive = scala.collection.mutable.Set.empty[String]
    Option(new File(table, "_delta_log").listFiles())
      .getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json")).foreach { f =>
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
          .split('\n').foreach { l =>
            if (l.contains("\"remove\""))
              Option(jackson.readTree(l).get("remove")).foreach { r =>
                tombstoned(DeltaReader.decodePath(r.get("path").asText())) =
                  Option(r.get("deletionTimestamp")).map(_.asLong())
                    .getOrElse(0L)
              }
            if (l.contains("\"cdc\""))
              Option(jackson.readTree(l).get("cdc")).foreach(c =>
                cdcLive += DeltaReader.decodePath(c.get("path").asText()))
          }
      }
    val horizon = System.currentTimeMillis() - retainMs
    // scale-safe listing shared with COPY INTO ([[walkScalably]]): the
    // walk carries each file's mtime, so the orphan-horizon check below
    // needs no second driver stat pass
    val tableAbs = table.toPath.toAbsolutePath
    val dead = walkScalably(spark, table,
        skipName = n => n == "_delta_log" || n.startsWith("."),
        keepName = n => n.endsWith(".parquet") ||
          n.matches("deletion_vector_.*\\.bin"))
      .map { case (abs, mtime) =>
        (new File(abs), tableAbs.relativize(
          java.nio.file.Paths.get(abs)).toString, mtime)
      }
      .filterNot { case (_, rel, _) => live.contains(rel) || cdcLive(rel) }
      .filter { case (_, rel, mtime) =>
        tombstoned.get(rel).getOrElse(mtime) <= horizon
      }
    if (dryRun) return dead.map(_._2)
    // the unlink itself distributes past the same threshold the
    // listing uses: a 10⁶-dead-file sweep must not issue one
    // driver-serial delete per file (on an object store, one DELETE
    // call each) right after walkScalably made the listing
    // scale-safe. The empty-dir collapse stays driver-side EITHER way
    // — it walks distinct PARENT dirs (partition-count-sized, and
    // racy to run concurrently from executors: two tasks probing one
    // dir's emptiness interleave with each other's deletes).
    if (dead.length <= unlinkThreshold) dead.foreach(_._1.delete())
    else {
      val paths = dead.map(_._1.getAbsolutePath)
      spark.sparkContext
        .parallelize(paths, math.max(1, math.min(paths.length, 64)))
        .foreach(p => new File(p).delete())
    }
    // drop now-empty partition dirs up to (not including) the root —
    // compared as absolute paths (the walk returns absolute files,
    // the caller's tablePath may be relative); distinct parents, so
    // the probe count is partition-dir-sized, not dead-file-sized
    dead.map(_._1.getParentFile).distinct.foreach { parent =>
      var p = parent
      while (p != null && p.toPath.toAbsolutePath != tableAbs &&
        Option(p.listFiles()).exists(_.isEmpty)) { p.delete(); p = p.getParentFile }
    }
    // crash hygiene: a writer killed in the stage→publish window leaves
    // a `.stage-<v>-<uuid>` dot-dir (killed mid-stage; never read by
    // replay) and/or a `_delta_log/.tmp-…` commit draft (killed before
    // the hard-link publish; never matched by replay) — swept once past
    // the same retention horizon (a LIVE writer's in-flight stage dir
    // inside the window is left alone)
    Option(table.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(".stage-") &&
        f.lastModified() <= horizon)
      .foreach(delete)
    Option(new File(table, "_delta_log").listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith(".tmp-") &&
        f.lastModified() <= horizon)
      .foreach(_.delete())
    dead.map(_._2)
  }

  /** Retention-driven LOG cleanup — the delta protocol's
    * `delta.logRetentionDuration` made operational. JSON commits that
    * are (a) at or below the NEWEST complete checkpoint (replay below
    * it never needs them) and (b) older than the retention window are
    * deleted, as a CONTIGUOUS PREFIX of the log — commit stamps are
    * running-max monotone ([[DeltaReader.commitHistory]]), and
    * prefix-ness guarantees a later replay can never start from a
    * mid-history JSON commit with no checkpoint beneath it. No
    * checkpoint → nothing is removable (returns Nil). Checkpoint files
    * themselves stay: versions AT an older checkpoint remain
    * time-travelable; versions below the horizon with no checkpoint
    * are refused by the reader NAMING the cleanup
    * ([[DeltaReader.snapshotAt]]'s earliest-replayable message), and
    * [[DeltaReader.loadChangeFeed]] refuses change windows that reach
    * into cleaned history. At 100 TB this is what keeps a years-old
    * high-churn table's `_delta_log` listing O(retention window), not
    * O(table age) — driver cost is one directory listing plus the
    * commitHistory stamps. `retainMs` defaults to the table's
    * `delta.logRetentionDuration` property (`interval N
    * minutes|hours|days|weeks`, delta-spark's spelling, or plain
    * millis), then 30 days. Returns the deleted commit file names. */
  def cleanupLogs(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, retainMs: Option[Long] = None): Seq[String] = {
    val table = new File(tablePath)
    val logDir = new File(table, "_delta_log")
    require(logDir.isDirectory,
      s"not a delta table (no _delta_log): $tablePath")
    val snap = DeltaReader.snapshot(spark, tablePath)
    val window = retainMs
      .orElse(snap.configuration.get("delta.logRetentionDuration")
        .map(parseRetention))
      .getOrElse(30L * 24 * 3600 * 1000)
    require(window >= 0L, s"negative retention window: $window ms")
    val horizon = System.currentTimeMillis() - window
    val entries = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName)
    // newest COMPLETE checkpoint in any layout (classic single-file,
    // multi-part with the full 1..of part set, V2 uuid) — the same
    // completeness rules the reader's replay applies
    val single = entries.collect {
      case n if n.matches("\\d{20}\\.checkpoint\\.parquet") =>
        n.take(20).toLong
    }
    val MultiCp = "(\\d{20})\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet".r
    val multi = entries.flatMap {
      case MultiCp(v, part, of) =>
        scala.util.Try((v.toLong, part.toInt, of.toInt)).toOption
      case _ => None
    }.groupBy(t => (t._1, t._3)).collect {
      case ((v, of), xs) if xs.map(_._2).toSet == (1 to of).toSet => v
    }
    val UuidCp = ("(\\d{20})\\.checkpoint\\.([0-9a-fA-F]{8}-[0-9a-fA-F]{4}" +
      "-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12})\\.(parquet|json)").r
    val uuid = entries.collect { case UuidCp(v, _, _) => v.toLong }
    (single ++ multi ++ uuid).maxOption match {
      case None => Nil // nothing is safely removable without a checkpoint
      case Some(newestCp) =>
        val expired = DeltaReader.commitHistory(tablePath)
          .takeWhile { case (v, ts, _) => v <= newestCp && ts <= horizon }
        expired.map { case (v, _, _) =>
          val f = new File(logDir, f"$v%020d.json")
          f.delete()
          f.getName
        }
    }
  }

  /** `delta.logRetentionDuration` spellings: `interval N
    * minutes|hours|days|weeks` (delta-spark's form) or plain millis. */
  private[sources] def parseRetention(s: String): Long = {
    val IntervalP =
      """(?i)\s*interval\s+(\d+)\s+(minute|hour|day|week)s?\s*""".r
    s match {
      case IntervalP(n, unit) =>
        val ms = unit.toLowerCase match {
          case "minute" => 60000L
          case "hour" => 3600000L
          case "day" => 86400000L
          case "week" => 7L * 86400000L
        }
        n.toLong * ms
      case _ => scala.util.Try(s.trim.toLong).getOrElse(
        throw new IllegalArgumentException(
          s"cannot parse delta.logRetentionDuration: '$s'"))
    }
  }

  /** OPTIMIZE-style compaction: rewrite the CURRENT rows so each hive
    * partition lands in ONE file (optionally clustered on `sortBy`
    * within it — the poor man's `OPTIMIZE … ZORDER BY` when handed a
    * z-value column), committing the adds plus removes of every prior
    * file in one atomic version. Production would bin-pack to a target
    * byte size instead of one-file-per-partition; the commit shape —
    * rewrite, adds + removes, `dataChange:true` — is identical. Old
    * files remain for time travel until [[vacuum]]. */
  def compact(spark: org.apache.spark.sql.SparkSession, tablePath: String,
      sortBy: Seq[String] = Nil,
      /** partition-SCOPED maintenance (`OPTIMIZE … WHERE`): rewrite
        * only the files whose PARTITION VALUES satisfy this predicate
        * — at 100 TB a whole-table OPTIMIZE is not an operation, so
        * real maintenance runs one recent-partition scope at a time.
        * The predicate may reference partition columns ONLY (a row
        * predicate would make the rewrite row-selective — that is
        * DELETE's job); files outside the scope are untouched by
        * construction, not rewritten-and-re-added. */
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val version = nextVersion(table)
    val scoped = where.map { pred =>
      require(snap.partitionColumns.nonEmpty,
        s"compact: OPTIMIZE … WHERE needs a partitioned table; " +
          s"$tablePath has no partition columns")
      // evaluate the predicate once per FILE over its typed partition
      // values ([[DeltaReader.partitionValuesFrame]] — driver-held
      // metadata, no data I/O). The frame carries ONLY the partition
      // columns, so analysis itself enforces the partition-columns-only
      // contract — a row-column reference fails to resolve and is
      // rethrown with the contract named.
      val typed = DeltaReader.partitionValuesFrame(spark, snap)
      try typed.filter(pred).select(col("__i")).collect()
        .map(_.getLong(0).toInt).toSet
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"compact: the OPTIMIZE predicate may reference partition " +
              s"columns only (${snap.partitionColumns.mkString(", ")})", e)
      }
    }
    val targetFiles = scoped match {
      case Some(idx) => snap.files.zipWithIndex.collect {
        case (a, i) if idx(i) => a
      }
      case None => snap.files
    }
    if (targetFiles.isEmpty) return version - 1 // nothing in scope: no-op
    val current = where match {
      // a pure-partition predicate prunes the scan to exactly the
      // scoped files — the rewrite never reads outside its scope
      case Some(pred) => DeltaReader.load(spark, tablePath).filter(pred)
      case None => DeltaReader.load(spark, tablePath)
    }
    val clustered = {
      val base =
        if (snap.partitionColumns.nonEmpty)
          current.repartition(snap.partitionColumns.map(col): _*)
        else current.coalesce(1)
      if (sortBy.nonEmpty) base.sortWithinPartitions(sortBy.map(col): _*)
      else base
    }
    // layout-only commit: the row multiset is unchanged, so every file
    // action carries dataChange=false and the CDC feeds skip the commit
    val adds = stageLogical(clustered, snap, table, version,
      dataChange = false)
    val removes = targetFiles.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":false}}""")
    publishOptimistic(table, version, removes ++ adds,
      operation = "OPTIMIZE")
  }

  /** `OPTIMIZE … ZORDER BY (x, y)`: rewrite the table's live rows
    * clustered on the Morton interleave of two numeric dims, so each
    * file's written min/max stats are tight in BOTH dims and
    * either-dim predicates skip files through the reader's stats
    * pruning. (A single-key clustering — [[compact]]`(sortBy)` — leaves
    * the second dim spanning ~its full range in every file, so
    * [[DeltaStats]] prunes nothing for it; q154 MEASURES that
    * difference, this verb PERSISTS the layout that fixes it.)
    *
    * Layout math is exactly q154's: both dims normalize to a shared
    * 8-bit grid via one cheap max pre-agg (interleaving mismatched bit
    * widths would let the wide dim dominate), the z key is
    * [[graft.functions.ZOrder]]'s 8 shift-mask ops, and file boundaries
    * are `repartitionByRange(targetFiles, …z)` + sortWithinPartitions —
    * the write-time realization of the equal-count buckets q154's rank
    * DIV emulates. Hive partition columns stay leading range keys, so
    * each hive dir clusters independently. Like compact, the rewrite
    * reads through DV filtering — deletion vectors are absorbed and
    * their files released.
    *
    * Contract: both z dims non-negative (validated against the same
    * pre-agg) and non-all-NULL; NULL dim rows sort to a range edge and
    * are preserved. Cost: one read + one range exchange + one write —
    * compact's envelope; at 100 TB you run it per partition/time-slice,
    * which the partition-leading range keys already give you. */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, xCol: String, yCol: String,
      targetFiles: Int): Long =
    optimizeZOrder(spark, tablePath, Seq(xCol, yCol), targetFiles)

  /** Column-list spelling: 2 dims interleave on the classic every-other
    * -bit Morton key, 3 dims on the every-third-bit variant
    * ([[graft.functions.ZOrder.morton3]]) — both over the same shared
    * 8-bit grid. More than 3 dims is refused: each extra dim costs a
    * factor of bit resolution per dim, and past 3 the per-dim locality
    * that makes stats skipping work is gone (real engines cap similarly
    * in practice). */
  def optimizeZOrder(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, cols: Seq[String],
      targetFiles: Int = 8): Long = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    require(cols.size == 2 || cols.size == 3,
      s"ZORDER BY takes 2 or 3 columns (Morton interleave), got " +
        s"(${cols.mkString(", ")})")
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val version = nextVersion(table)
    val current = DeltaReader.load(spark, tablePath)
    val aggs = cols.flatMap(c => Seq(
      max(col(c).cast("long")), min(col(c).cast("long"))))
    val m = current.agg(aggs.head, aggs.tail: _*).head()
    cols.indices.foreach { i =>
      require(!m.isNullAt(2 * i),
        s"z-order dim must not be all-NULL: ${cols(i)}")
      require(m.getLong(2 * i + 1) >= 0L,
        s"z-order dims must be non-negative: ${cols(i)} in " +
          s"[${m.getLong(2 * i + 1)}, ${m.getLong(2 * i)}]")
    }
    val grid = cols.indices.map(i => expr(
      s"CAST(${cols(i)} AS BIGINT) * 256 DIV ${m.getLong(2 * i) + 1}"))
    val z =
      if (cols.size == 2) graft.functions.ZOrder.morton(grid(0), grid(1))
      else graft.functions.ZOrder.morton3(grid(0), grid(1), grid(2))
    val keys = snap.partitionColumns.map(col) :+ col("__z")
    val clustered = current.withColumn("__z", z)
      .repartitionByRange(targetFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__z")
    // layout-only commit (DVs absorbed = already-dead rows dropped):
    // dataChange=false throughout, so the CDC feeds skip it
    val adds = stageLogical(clustered, snap, table, version,
      tags = ZOrderedTag, dataChange = false)
    val removes = snap.files.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":false}}""")
    publishOptimistic(table, version, removes ++ adds,
      operation = "OPTIMIZE")
  }

  /** INCREMENTAL z-order maintenance — the steady-state loop that keeps
    * an ingested table clustered without ever re-paying the full
    * rewrite: fresh appends land unclustered (their files span ~the
    * whole key space), and this verb rewrites ONLY those, leaving
    * already-tight files physically untouched. The admit/skip decision
    * AND the grid normalization come from the WRITTEN per-file stats —
    * no data is read except the loose files being rewritten, so a pass
    * over a 100 TB table with a 1 GB unclustered tail costs ~1 GB.
    *
    * A file is loose when it is NOT an optimize output (the add-action
    * `tags` mark `optimized=zorder` — written by both z-order verbs,
    * carried through checkpoints — which makes the loop convergent BY
    * CONSTRUCTION: a quantile z-slice can straddle a curve
    * discontinuity and project wide in both dims, so a purely
    * stats-shaped rule could re-flag an already-optimized file forever)
    * AND its stats are missing or its span exceeds `spanPermille`/1000
    * of the global range in BOTH dims (both, not either: an
    * unclustered ingest file is wide in both; a file tight in one dim
    * still prunes for that dim and needn't churn). The global range is
    * the stats-union, widened by the loose rows' own max pre-agg so
    * out-of-range fresh keys can't overflow the grid.
    * No loose files → NO commit (idempotent steady state). Files
    * carrying deletion vectors are refused — rewrite those through
    * [[optimizeZOrder]]/[[compact]], which read through DV filtering.
    * Hive-partitioned tables work too: loose detection runs PER
    * partition tuple (each dir is its own key space), the partition
    * columns are restored from the add actions by reading the loose
    * tail grouped by partition tuple (hive layout strips them from the
    * files; part-file NAMES are not unique across dirs, so a
    * name-keyed restore would collide), and the rewrite
    * range-partitions on (partitionCols ++ z) so each dir's tail
    * clusters independently. */
  def optimizeZOrderIncremental(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, xCol: String, yCol: String,
      targetFiles: Int = 8, spanPermille: Int = 500): Long =
    optimizeZOrderIncremental(spark, tablePath, Seq(xCol, yCol),
      targetFiles, spanPermille)

  /** Column-list spelling — 2 dims (every-other-bit Morton) or 3 dims
    * (every-third-bit, [[graft.functions.ZOrder.morton3]]), matching
    * the full verb's dimensionality so a 3-column-tagged table gets a
    * steady-state incremental loop too. Loose = untagged ∧
    * (stats-missing ∨ wide in EVERY dim). */
  def optimizeZOrderIncremental(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, cols: Seq[String], targetFiles: Int,
      spanPermille: Int): Long = {
    require(targetFiles > 0, s"targetFiles must be positive: $targetFiles")
    require(spanPermille > 0 && spanPermille <= 1000,
      s"spanPermille must be in (0, 1000]: $spanPermille")
    require(cols.size == 2 || cols.size == 3,
      s"incremental z-order takes 2 or 3 columns (Morton interleave), " +
        s"got (${cols.mkString(", ")})")
    val table = new File(tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    // written stats and file columns are keyed by PHYSICAL names under
    // column mapping; the caller speaks logical
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    def bound(a: DeltaReader.AddFile, field: String,
        wantMax: Boolean): Option[Long] =
      a.stats.flatMap(DeltaStats.parse).flatMap { st =>
        (if (wantMax) st.maxValues else st.minValues).get(field)
          .flatMap(n => scala.util.Try(n.asText().toLong).toOption)
      }
    // per file: per-dim (min, max), present only when EVERY dim has
    // usable stats
    val bounds: Seq[(DeltaReader.AddFile, Option[Seq[(Long, Long)]])] =
      snap.files.map { a =>
        val bs = cols.map(c => for {
          lo <- bound(a, phys(c), wantMax = false)
          hi <- bound(a, phys(c), wantMax = true)
        } yield (lo, hi))
        a -> (if (bs.forall(_.isDefined)) Some(bs.map(_.get)) else None)
      }
    val knownAll = bounds.flatMap(_._2)
    require(knownAll.nonEmpty,
      "no usable column stats on any file — run the full optimizeZOrder")
    def optimized(a: DeltaReader.AddFile): Boolean =
      a.tags.get("optimized").contains("zorder")
    // loose detection runs PER HIVE PARTITION tuple — each dir is its
    // own key space (the full verb clusters each independently), so a
    // file tight within its dir must not be flagged against the global
    // range and vice versa
    val loose: Seq[DeltaReader.AddFile] =
      bounds.groupBy(_._1.partitionValues).values.flatMap { grp =>
        val known = grp.flatMap(_._2)
        if (known.isEmpty) grp.map(_._1).filterNot(optimized)
        else {
          val ranges = cols.indices.map(i => math.max(1L,
            known.map(_(i)._2).max - known.map(_(i)._1).min))
          grp.collect {
            case (a, None) if !optimized(a) => a
            case (a, Some(b))
                if !optimized(a) && cols.indices.forall(i =>
                  (b(i)._2 - b(i)._1) * 1000L >
                    spanPermille.toLong * ranges(i)) => a
          }
        }
      }.toSeq
    if (loose.isEmpty) return snap.version // steady state: no commit
    require(loose.forall(_.deletionVector.isEmpty),
      "loose files carry deletion vectors — rewrite through " +
        "optimizeZOrder/compact (they read through DV filtering)")
    val version = nextVersion(table)
    val root = table.getAbsolutePath
    def absOf(a: DeltaReader.AddFile): String =
      DeltaReader.resolved(root, DeltaReader.decodePath(a.path))
    val partSet = snap.partitionColumns.toSet
    val dataFields = snap.schema.fields.toIndexedSeq
      .filterNot(f => partSet.contains(f.name))
    // scan schema carries the PHYSICAL spellings the files were written
    // with; the projection below restores logical names (identity when
    // unmapped)
    val dataSchema = StructType(dataFields.map(f =>
      StructField(phys(f.name), f.dataType, f.nullable)))
    // hive layout strips partition columns from the files — restore
    // them by reading the loose tail GROUPED BY partition tuple and
    // attaching each group's values as literals (one scan branch per
    // distinct loose tuple, metadata-sized by this verb's bounded-tail
    // contract). NOT a per-file-name lookup: one partitioned staged
    // write emits the SAME part-file name into every hive dir it
    // touches, so a basename-keyed map would last-win every colliding
    // file onto one dir's partition values — silent row corruption
    // (the identical collision the stageDataFiles stats keying fixed).
    def toLogical(df: DataFrame): DataFrame =
      df.select(dataFields.map(f => col(phys(f.name)).as(f.name)): _*)
    val looseDf =
      if (snap.partitionColumns.isEmpty)
        toLogical(spark.read.schema(dataSchema).parquet(loose.map(absOf): _*))
      else loose.groupBy(_.partitionValues).map { case (pv, grp) =>
        val g = toLogical(
          spark.read.schema(dataSchema).parquet(grp.map(absOf): _*))
        snap.partitionColumns.foldLeft(g) { (df, pc) =>
          df.withColumn(pc, lit(pv.get(phys(pc)).flatten.orNull)
            .cast(snap.schema(pc).dataType))
        }
      }.reduce(_ unionByName _)
    // grid maxima: stats-union widened by the loose rows' own pre-agg
    val m = looseDf.agg(max(col(cols.head).cast("long")),
      cols.tail.map(c => max(col(c).cast("long"))): _*).head()
    cols.indices.foreach(i => require(!m.isNullAt(i),
      s"z-order dims must not be all-NULL in the loose tail: ${cols(i)}"))
    val grid = cols.indices.map { i =>
      val mx = math.max(knownAll.map(_(i)._2).max, m.getLong(i))
      expr(s"CAST(`${cols(i)}` AS BIGINT) * 256 DIV ${mx + 1}")
    }
    val z =
      if (cols.size == 2) graft.functions.ZOrder.morton(grid(0), grid(1))
      else graft.functions.ZOrder.morton3(grid(0), grid(1), grid(2))
    val keys = snap.partitionColumns.map(col) :+ col("__z")
    val clustered = looseDf.withColumn("__z", z)
      .repartitionByRange(targetFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__z")
    val adds = stageLogical(clustered, snap, table, version,
      tags = ZOrderedTag, dataChange = false)
    val removes = loose.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":false}}""")
    publishOptimistic(table, version, removes ++ adds,
      operation = "OPTIMIZE")
  }

  /** Add-action tag both z-order verbs stamp on their outputs (and
    * checkpoints carry through) — [[optimizeZOrderIncremental]]'s
    * convergence marker. */
  private val ZOrderedTag = Map("optimized" -> "zorder")

  /** The carry-forward record set every checkpoint layout must re-emit:
    * the last protocol/metaData lines (newest-existing-checkpoint seed
    * first — after log cleanup it may hold the ONLY surviving records —
    * then the JSON scan overrides with anything newer) and the last txn
    * line PER appId (the exactly-once producer ledger must survive the
    * log cleanup a checkpoint enables). Shared by [[checkpoint]] and
    * [[checkpointV2]].
    *
    * TXN RETENTION (`delta.setTransactionRetentionDuration`): without a
    * bound, a landing pipeline's per-file [[copyInto]] ledger grows one
    * entry per ingested file FOREVER — ~10⁷ files/year re-emitted in
    * every checkpoint and re-read by every ledger consult, an unbounded
    * checkpoint-size and driver-memory leak. When the table declares
    * the property ([[parseRetention]] spellings), txn entries whose
    * `lastUpdated` stamp is older than the window are DROPPED from the
    * new checkpoint — once log cleanup also removes their JSON
    * commits, the ledger has forgotten them, and re-delivering a batch
    * (or re-landing a file) from beyond the window ingests again: that
    * is the DECLARED contract (delta's own), the window being the
    * operator's promise about maximum redelivery lag. Entries without
    * a `lastUpdated` stamp are undatable and are carried forever
    * (delta's posture); absent the property nothing expires. */
  private def carryActions(spark: org.apache.spark.sql.SparkSession,
      logDir: File, tablePath: String): (String, String, Seq[String]) = {
    var proto: Option[String] = None
    var meta: Option[String] = None
    // appId → (txn line, lastUpdated stamp if the entry carries one)
    val txns = scala.collection.mutable.LinkedHashMap
      .empty[String, (String, Option[Long])]
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    newestCheckpointFrame(spark, logDir).foreach { df =>
      def carry(field: String): Option[String] =
        if (!df.columns.contains(field)) None
        else df.filter(col(field).isNotNull)
          .select(to_json(struct(col(field)))).collect()
          .headOption.map(_.getString(0))
      proto = carry("protocol").orElse(proto)
      meta = carry("metaData").orElse(meta)
      if (df.columns.contains("txn")) {
        // lastUpdated may be absent from an older checkpoint's schema
        val hasLu = df.schema("txn").dataType match {
          case s: StructType => s.fieldNames.contains("lastUpdated")
          case _ => false
        }
        val luCol = if (hasLu) col("txn.lastUpdated")
                    else lit(null).cast("long")
        df.select(col("txn.appId"), col("txn.version"), luCol).collect()
          .foreach { r =>
            if (!r.isNullAt(0) && !r.isNullAt(1)) {
              val lu = if (r.isNullAt(2)) None else Some(r.getLong(2))
              val luPart = lu.map(v => s""","lastUpdated":$v""").getOrElse("")
              txns(r.getString(0)) =
                (s"""{"txn":{"appId":${jstr(r.getString(0))},""" +
                  s""""version":${r.getLong(1)}$luPart}}""", lu)
            }
          }
      }
    }
    Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.matches("\\d{20}\\.json")).sortBy(_.getName)
      .foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { l =>
          if (l.contains("\"protocol\"")) proto = Some(l)
          if (l.contains("\"metaData\"")) meta = Some(l)
          if (l.contains("\"txn\""))
            Option(jackson.readTree(l).get("txn")).foreach(t =>
              txns(t.get("appId").asText()) =
                (l, Option(t.get("lastUpdated")).filterNot(_.isNull)
                  .map(_.asLong())))
        } finally src.close()
      }
    require(proto.nonEmpty && meta.nonEmpty,
      s"protocol/metaData not found in $tablePath's JSON commits or " +
        "its newest checkpoint — not a replayable delta log")
    val retention = Option(jackson.readTree(meta.get)
        .path("metaData").path("configuration")
        .get("delta.setTransactionRetentionDuration"))
      .filterNot(_.isNull).map(n => parseRetention(n.asText()))
    val kept = retention match {
      case None => txns.values.map(_._1).toSeq
      case Some(windowMs) =>
        val horizon = System.currentTimeMillis() - windowMs
        txns.values.collect {
          case (line, lu) if lu.forall(_ > horizon) => line
        }.toSeq
    }
    (proto.get, meta.get, kept)
  }

  /** V2 (UUID-named) checkpoint with SIDECAR file actions — the layout
    * real engines shard >10⁶-file tables into
    * (`v.checkpoint.<uuid>.json` carrying protocol/metaData/txn +
    * `sidecar` pointers; add actions live in parquet files under
    * `_delta_log/_sidecars/`). This engine's reader already replays it
    * (q149, golden6); EMITTING it closes the loop — a table this
    * writer maintains can hand its snapshot to any v2-capable reader
    * in the layout those readers shard best. The sidecar shard write
    * is one distributed pass (round-robin over `sidecars` files); adds
    * carry stats/DV descriptors/tags through [[addJson]] exactly like
    * the classic layout. */
  def checkpointV2(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, sidecars: Int = 2): Long = {
    import spark.implicits._
    require(sidecars >= 1, s"sidecars must be >= 1, got $sidecars")
    val table = new File(tablePath)
    val logDir = new File(table, "_delta_log")
    val version = nextVersion(table) - 1
    require(version >= 0L, s"no commits to checkpoint at $tablePath")
    val (proto, meta, txns) = carryActions(spark, logDir, tablePath)
    val snap = DeltaReader.snapshot(spark, tablePath)
    val addLines = snap.files.map(a => addJson(a, dataChange = false))
    val scDir = new File(logDir, "_sidecars")
    scDir.mkdirs()
    val sidecarActions =
      if (addLines.isEmpty) Nil
      else {
        val tmp = new File(table, ".cp2-stage")
        if (tmp.exists()) delete(tmp)
        spark.read.json(addLines.toDS())
          .repartition(sidecars)
          .write.mode(SaveMode.Overwrite).parquet(tmp.getAbsolutePath)
        val moved = collectParquet(tmp).sortBy(_.getName).map { f =>
          val name = s"${java.util.UUID.randomUUID()}.parquet"
          val dest = new File(scDir, name)
          Files.move(f.toPath, dest.toPath)
          s"""{"sidecar":{"path":"$name","sizeInBytes":${dest.length()},""" +
            s""""modificationTime":${dest.lastModified()}}}"""
        }
        delete(tmp)
        moved
      }
    val lines = Seq(proto, meta) ++ txns ++ sidecarActions
    val dest = new File(logDir,
      f"$version%020d.checkpoint.${java.util.UUID.randomUUID()}.json")
    Files.write(dest.toPath,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // "size" = the action count OF THE MANIFEST FILE ITSELF (protocol +
    // metaData + txn + sidecar pointer actions) — the convention a
    // foreign reader can cross-check by counting the manifest's lines
    // (ADVICE r15: engines validate size against the manifest; sidecar
    // CONTENTS are sized by their own sizeInBytes fields, and this
    // engine's reader discovers checkpoints by listing, never by size)
    Files.write(new File(logDir, "_last_checkpoint").toPath,
      s"""{"version":$version,"size":${lines.length}}"""
        .getBytes(StandardCharsets.UTF_8))
    version
  }

  /** Serialize a live [[DeltaReader.AddFile]] back to its add-action
    * line, every field carried (partitionValues, stats, DV descriptor,
    * tags) — shared by [[checkpoint]] (dataChange=false) and
    * [[restore]] (dataChange=true). */
  private def addJson(a: DeltaReader.AddFile, dataChange: Boolean): String = {
    val pvJ = a.partitionValues.map {
      case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
      case (k, None) => s"${jstr(k)}:null"
    }.mkString("{", ",", "}")
    val statsPart = a.stats.map(s => s""","stats":${jstr(s)}""").getOrElse("")
    val dvPart = a.deletionVector.map(dv => s""","deletionVector":""" +
      dvJson(dv)).getOrElse("")
    val tagsPart =
      if (a.tags.isEmpty) ""
      else s""","tags":${a.tags.map { case (k, v) =>
        s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")}"""
    s"""{"add":{"path":"${a.path}","partitionValues":$pvJ,""" +
      s""""size":${a.size},"modificationTime":0,""" +
      s""""dataChange":$dataChange$statsPart$dvPart$tagsPart}}"""
  }

  /** `RESTORE TABLE … TO VERSION AS OF v`: one atomic commit that makes
    * the CURRENT snapshot equal the version-`v` snapshot again —
    * removes every live file the old snapshot lacks and re-adds (with
    * their original partition values, stats, DV descriptors, and tags)
    * every old file no longer live. History is preserved: the restore
    * is a NEW version on top, so the pre-restore state remains time-
    * travelable. Refused when: the old snapshot's schema differs from
    * the current one (restoring across a schema evolution would
    * silently drop columns — the same non-additive posture as
    * [[evolveSchema]]); or any file to re-add was already vacuumed
    * (named in the error — a retention window that outlives the restore
    * horizon is the operational fix). CDF posture (documented): restore
    * commits plain removes + re-adds and the feed derives delete/insert
    * from the file diff — delta-spark writes no cdc for restore either;
    * rows SHARED between the removed and re-added files (e.g. a
    * compaction between the two versions) ride as self-cancelling
    * delete+insert pairs, exact in net. */
  def restore(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, version: Long): Long = {
    val table = new File(tablePath)
    val old = DeltaReader.snapshotAt(spark, tablePath, version)
    val cur = DeltaReader.snapshot(spark, tablePath)
    require(version <= cur.version,
      s"cannot restore to future version $version (current ${cur.version})")
    require(old.schema == cur.schema,
      "restore across a schema change is refused (columns would be " +
        "silently dropped/retyped) — evolve first, then restore data")
    val curByPath = cur.files.map(a => a.path -> a).toMap
    val oldPaths = old.files.map(_.path).toSet
    // a path live in BOTH snapshots can still differ — a deletion
    // vector added after `version` must be rolled back by re-emitting
    // the OLD add action (the newest add for a path wins at replay)
    val toAdd = old.files.filter(a =>
      !curByPath.contains(a.path) ||
        curByPath(a.path).deletionVector != a.deletionVector)
    val toRemove = cur.files.filterNot(a => oldPaths.contains(a.path))
    val missing = toAdd.map(_.path).filterNot(rel =>
      new File(DeltaReader.resolved(table.getAbsolutePath,
        DeltaReader.decodePath(rel))).isFile)
    require(missing.isEmpty,
      s"restore to version $version needs vacuumed file(s): " +
        s"${missing.take(5).mkString(", ")}" +
        (if (missing.size > 5) s" (+${missing.size - 5} more)" else ""))
    val newVersion = nextVersion(table)
    if (toAdd.isEmpty && toRemove.isEmpty) return newVersion - 1 // no-op
    val removes = toRemove.map(a =>
      s"""{"remove":{"path":"${a.path}","deletionTimestamp":""" +
        s"""${System.currentTimeMillis()},"dataChange":true}}""")
    publishOptimistic(table, newVersion,
      removes ++ toAdd.map(a => addJson(a, dataChange = true)),
      operation = "RESTORE")
  }

  /** SHALLOW CLONE: create a NEW table at `tablePath` whose version-0
    * commit references every live file of the source's current
    * snapshot BY ABSOLUTE PATH — zero bytes copied, the delta
    * protocol's allowance that an add's `path` may be absolute (every
    * scan site resolves through [[DeltaReader.resolved]]). The clone
    * carries the source's protocol and metaData VERBATIM (schema,
    * partitioning, column mapping, CHECK constraints, properties —
    * the raw action lines, not a re-derivation) under a FRESH table
    * id, with stats and tags riding on every add, so file skipping
    * and incremental z-order admit/skip work on the clone from birth.
    * From version 0 the histories diverge independently:
    *
    *  - writes to the clone land relative files in its OWN dir;
    *  - a row verb on the clone rewrites touched source files INTO
    *    the clone and removes the absolute reference — source bytes
    *    are never modified;
    *  - the clone's vacuum can never delete source data by
    *    construction: its walk covers only the clone's dir, and an
    *    absolute-path tombstone matches nothing in that walk;
    *  - time travel on the clone starts at ITS version 0 (delta's
    *    CLONE semantics — history does not follow).
    *
    * Live relative ("u") deletion vectors are re-addressed as
    * absolute ("p") descriptors pointing at the source's sidecar
    * `.bin` files — same bitmap bytes, same offsets, no copy; inline
    * ("i") vectors ride verbatim. The flip side of zero-copy is a
    * LIVENESS DEPENDENCY, same as every shallow-clone implementation:
    * a vacuum on the SOURCE may delete files the clone still
    * references (the source's log does not know about clone readers),
    * failing the clone's scans at read time — deep-copy via
    * overwrite(load(clone)) is the decoupling escape hatch. */
  def cloneShallow(spark: org.apache.spark.sql.SparkSession,
      sourcePath: String, tablePath: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcTable = new File(sourcePath)
    require(new File(srcTable, "_delta_log").isDirectory,
      s"cloneShallow: no Delta table at $sourcePath")
    val table = new File(tablePath)
    require(nextVersion(table) == 0L,
      s"cloneShallow: a Delta table already exists at $tablePath")
    val snap = versionAsOf match {
      case Some(v) => DeltaReader.snapshotAt(spark, sourcePath, v)
      case None => DeltaReader.snapshot(spark, sourcePath)
    }
    val (proto, metaRaw) = cloneCarry(spark, srcTable, sourcePath, versionAsOf)
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaRoot = jackson.readTree(metaRaw)
    metaRoot.get("metaData")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("id", java.util.UUID.randomUUID().toString)
    val srcRoot = srcTable.getAbsolutePath
    // readers decode add paths with URLDecoder, which rewrites both
    // %XX escapes AND '+' (→ space) — a root containing either would
    // decode to a nonexistent path on every scan of the clone
    require(!srcRoot.contains("%") && !srcRoot.contains("+"),
      s"cloneShallow: source root must not contain '%' or '+' " +
        s"($srcRoot) — add paths keep their percent-encoding and " +
        "readers URL-decode once ('+' decodes to a space)")
    val adds = snap.files.map { a =>
      // keep the action's ORIGINAL percent-encoding: every scan site
      // URL-decodes an add path exactly once, so the absolute spelling
      // must stay encoded (a pre-decoded path with escaped specials —
      // 'k=x%3Dy' partition dirs — would double-decode to a missing
      // file); a source add that is ALREADY absolute (clone of a
      // clone) rides verbatim
      val abs =
        if (DeltaReader.decodePath(a.path).startsWith("/")) a.path
        else s"$srcRoot/${a.path}"
      val dv = a.deletionVector.map {
        case d if d.storageType == "u" =>
          // re-address the table-relative sidecar absolutely: same
          // [version byte][size][data][crc] layout, same offset — the
          // "p" read path slices identically
          val enc = d.pathOrInlineDv
          val (prefix, uuidPart) = enc.splitAt(enc.length - 20)
          val bb = java.nio.ByteBuffer.wrap(Z85.decode(uuidPart))
          val uuid = new java.util.UUID(bb.getLong, bb.getLong)
          val dir = if (prefix.isEmpty) srcRoot else s"$srcRoot/$prefix"
          d.copy(storageType = "p",
            pathOrInlineDv = s"$dir/deletion_vector_$uuid.bin")
        case d => d
      }
      addJson(a.copy(path = abs, deletionVector = dv), dataChange = true)
    }
    publish(table, 0L,
      proto +: jackson.writeValueAsString(metaRoot) +: adds, "CLONE")
    0L
  }

  /** The protocol + metaData action lines a clone's version 0 carries
    * VERBATIM from its source — current head via [[carryActions]], or
    * AS OF `versionAsOf` (a later schema evolution or property change
    * does not belong to the cloned state): last lines at-or-below v
    * among the RETAINED JSON commits, falling back to any checkpoint
    * at c ≤ v (which cannot carry metadata postdating v); a horizon
    * wholly above v refuses naming the cleanup instead of cloning a
    * chimera. Shared by [[cloneShallow]] and [[cloneDeep]]. */
  private def cloneCarry(spark: org.apache.spark.sql.SparkSession,
      srcTable: File, sourcePath: String,
      versionAsOf: Option[Long]): (String, String) = versionAsOf match {
    case None =>
      val (p, m, _) =
        carryActions(spark, new File(srcTable, "_delta_log"), sourcePath)
      (p, m)
    case Some(v) =>
      var proto: Option[String] = None
      var meta: Option[String] = None
      Option(new File(srcTable, "_delta_log").listFiles())
        .getOrElse(Array.empty[File])
        .filter(_.getName.matches("\\d{20}\\.json"))
        .filter(_.getName.take(20).toLong <= v).sortBy(_.getName)
        .foreach { f =>
          val s = scala.io.Source.fromFile(f, "UTF-8")
          try s.getLines().foreach { l =>
            if (l.contains("\"protocol\"")) proto = Some(l)
            if (l.contains("\"metaData\"")) meta = Some(l)
          } finally s.close()
        }
      if (proto.isEmpty || meta.isEmpty)
        newestCheckpointFrame(spark,
          new File(srcTable, "_delta_log"), Some(v)).foreach { df =>
          def carry(field: String): Option[String] =
            if (!df.columns.contains(field)) None
            else df.filter(col(field).isNotNull)
              .select(to_json(struct(col(field)))).collect()
              .headOption.map(_.getString(0))
          if (proto.isEmpty) proto = carry("protocol")
          if (meta.isEmpty) meta = carry("metaData")
        }
      require(proto.nonEmpty && meta.nonEmpty,
        s"clone: protocol/metaData at-or-below version $v are " +
          s"no longer in $sourcePath's retained JSON commits or any " +
          "checkpoint at-or-below it (log-retention cleanup) — clone " +
          "the current version, or a version at or past the retained " +
          "horizon")
      (proto.get, meta.get)
  }

  /** DEEP CLONE: create a NEW table at `tablePath` whose version-0
    * commit references physical COPIES of every live file of the
    * source snapshot — the decoupling twin of [[cloneShallow]]. The
    * clone carries the source's protocol and metaData verbatim under
    * a fresh table id (same carry as the shallow verb, stats and tags
    * riding on every add), but owns every byte it references, so the
    * shallow clone's one liveness coupling is gone BY CONSTRUCTION: a
    * vacuum on the source — or deleting the source table outright —
    * can never break this clone's scans.
    *
    * The copy itself is a DISTRIBUTED job (the file list parallelized
    * over the cluster, one copy per task), not a driver loop — at
    * 100 TB the bytes move executor-side with the cluster's aggregate
    * bandwidth; the driver handles only the metadata-sized add list.
    *
    * Deletion vectors follow their files: relative ("u") sidecars are
    * copied under the same relative spelling (descriptor verbatim),
    * inline ("i") bitmaps ride in the log, and absolute ("p")
    * descriptors — a deep clone OF a shallow clone — are copied in
    * and re-addressed as table-relative "u", which is exactly the
    * escape hatch the shallow clone's scaladoc promises: deep-cloning
    * a shallow clone heals its source-vacuum dependency. */
  def cloneDeep(spark: org.apache.spark.sql.SparkSession,
      sourcePath: String, tablePath: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcTable = new File(sourcePath)
    require(new File(srcTable, "_delta_log").isDirectory,
      s"cloneDeep: no Delta table at $sourcePath")
    val table = new File(tablePath)
    require(nextVersion(table) == 0L,
      s"cloneDeep: a Delta table already exists at $tablePath")
    val snap = versionAsOf match {
      case Some(v) => DeltaReader.snapshotAt(spark, sourcePath, v)
      case None => DeltaReader.snapshot(spark, sourcePath)
    }
    val (proto, metaRaw) = cloneCarry(spark, srcTable, sourcePath, versionAsOf)
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaRoot = jackson.readTree(metaRaw)
    metaRoot.get("metaData")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("id", java.util.UUID.randomUUID().toString)
    val srcRoot = srcTable.getAbsolutePath
    // copy plan (srcAbsolute → cloneRelative, both DECODED spellings) +
    // the re-addressed adds. Relative source adds keep their relative
    // path (and original percent-encoding) verbatim; absolute ones —
    // the source is itself a shallow clone — get a fresh
    // collision-free relative name in the clone root.
    val plan = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val adds = snap.files.zipWithIndex.map { case (a, i) =>
      val decoded = DeltaReader.decodePath(a.path)
      val (src, destEnc) =
        if (!decoded.startsWith("/")) (s"$srcRoot/$decoded", a.path)
        else {
          val base = a.path.substring(a.path.lastIndexOf('/') + 1)
          (decoded, f"deep_$i%05d_$base")
        }
      plan += ((src, DeltaReader.decodePath(destEnc)))
      val dv = a.deletionVector.map {
        case d if d.storageType == "u" =>
          // sidecar rides under the same relative spelling — copy it,
          // keep the descriptor verbatim (offsets into the copied
          // bytes are unchanged)
          val enc = d.pathOrInlineDv
          val (prefix, uuidPart) = enc.splitAt(enc.length - 20)
          val bb = java.nio.ByteBuffer.wrap(Z85.decode(uuidPart))
          val uuid = new java.util.UUID(bb.getLong, bb.getLong)
          val name = s"deletion_vector_$uuid.bin"
          val rel = if (prefix.isEmpty) name else s"$prefix/$name"
          plan += ((s"$srcRoot/$rel", rel))
          d
        case d if d.storageType == "p" =>
          // absolute sidecar (shallow-clone source): copy it into the
          // clone root and re-address table-relative — the healed form
          val binName = new File(d.pathOrInlineDv).getName
          val uuid = java.util.UUID.fromString(binName
            .stripPrefix("deletion_vector_").stripSuffix(".bin"))
          val bbUuid = java.nio.ByteBuffer.allocate(16)
          bbUuid.putLong(uuid.getMostSignificantBits)
          bbUuid.putLong(uuid.getLeastSignificantBits)
          plan += ((d.pathOrInlineDv, binName))
          d.copy(storageType = "u",
            pathOrInlineDv = Z85.encode(bbUuid.array()))
        case d => d // inline "i": the bitmap lives in the log line
      }
      addJson(a.copy(path = destEnc, deletionVector = dv),
        dataChange = true)
    }
    // the distributed copy: executor-side byte movement (local-FS
    // spelling of a distcp; shared storage on a real cluster), the
    // same sidecar deduped once
    val destRoot = table.getAbsolutePath
    val work = plan.distinct.toSeq
    if (work.nonEmpty)
      spark.sparkContext
        .parallelize(work, math.min(work.size, 64))
        .foreach { case (src, rel) =>
          val dst = new File(destRoot, rel)
          Files.createDirectories(dst.getParentFile.toPath)
          Files.copy(new File(src).toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
    publish(table, 0L,
      proto +: jackson.writeValueAsString(metaRoot) +: adds, "CLONE")
    0L
  }

  /** CONVERT TO DELTA: create a delta log IN PLACE over an existing
    * parquet directory — zero bytes copied or moved, the migration
    * verb that upgrades a plain listing-scan table to the full delta
    * surface (DML, time travel, OPTIMIZE, constraints, streaming)
    * without rewriting 100 TB of data. Version 0 references every
    * parquet file under the root at its existing (possibly
    * hive-partitioned) path, with per-file stats computed by the same
    * ONE distributed pass staged writes use, so skip-pruning works
    * from the first post-convert scan. Partition columns and their
    * types come from Spark's own partition discovery over the
    * directory layout; a layout where files disagree on partitioning
    * depth/keys refuses rather than guessing. Zero-row parquet files
    * are skipped (never referenced) but NOT deleted — they are the
    * user's files; note a later VACUUM sweeps unreferenced files past
    * retention, which is exactly delta's post-convert semantics. */
  def convertToDelta(spark: org.apache.spark.sql.SparkSession,
      tablePath: String): Long = {
    val table = new File(tablePath)
    require(table.isDirectory,
      s"convertToDelta: no directory at $tablePath")
    require(nextVersion(table) == 0L,
      s"convertToDelta: a Delta table already exists at $tablePath")
    val rels = collectParquet(table)
      .map(f => table.toPath.relativize(f.toPath).toString
        .replace(File.separatorChar, '/'))
      .filterNot(_.split('/').exists(_.startsWith(".")))
    require(rels.nonEmpty,
      s"convertToDelta: no parquet files under $tablePath")
    def keysOf(rel: String): Seq[String] =
      rel.split('/').dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"convertToDelta: directory segment '$seg' under " +
          s"'$rel' is not a hive partition dir (k=v) — mixed layouts " +
          "cannot convert")
        seg.take(i)
      }
    val partCols = keysOf(rels.head)
    require(rels.forall(r => keysOf(r) == partCols),
      s"convertToDelta: inconsistent partition layout under $tablePath " +
        s"— expected every file under ${partCols.mkString("/")} dirs")
    // schema by discovery: data fields from the footers, partition
    // columns (typed) from the directory names
    val full = spark.read.parquet(table.getAbsolutePath)
    val partSet = partCols.toSet
    val dataFields =
      full.schema.fields.filterNot(f => partSet(f.name)).toIndexedSeq
    val adds = composeAddActions(spark, table, rels, dataFields,
      Map.empty, dataChange = true, deleteEmpties = false)
    publish(table, 0L, header(full, partCols, 0L) ++ adds, "CONVERT")
    0L
  }

  /** Whether `tablePath` already holds a committed Delta table (any
    * JSON commit or checkpoint in its log) — the existence test
    * ErrorIfExists/Ignore save modes branch on. */
  def tableExists(tablePath: String): Boolean =
    nextVersion(new File(tablePath)) > 0L

  /** All parquet files of the NEWEST checkpoint version in the log —
    * classic single-file or multi-part — as one (schema-merged) frame;
    * None when no checkpoint exists. The carry-forward fallback
    * [[checkpoint]] and [[evolveSchema]] use for records that log
    * cleanup already removed. (V2 UUID checkpoints are a read-side
    * concern: this writer never emits them, and a table it maintains
    * carries only its own layouts.) */
  private def newestCheckpointFrame(
      spark: org.apache.spark.sql.SparkSession,
      logDir: File,
      /** consider only checkpoints at-or-below this version — the
        * as-of carry source [[cloneShallow]]'s time-travel clone reads
        * (a checkpoint at c ≤ v cannot carry metadata postdating v). */
      maxVersion: Option[Long] = None): Option[DataFrame] = {
    val entries = Option(logDir.listFiles()).getOrElse(Array.empty[File])
    val classic = entries.filter(_.getName.matches(
      "\\d{20}\\.checkpoint(\\.\\d{10}\\.\\d{10})?\\.parquet"))
    // V2 UUID checkpoints carry their protocol/metaData/txn INLINE in
    // the top file (sidecars hold only file actions), so the top file
    // alone is a valid carry source
    val uuid = entries.filter(_.getName.matches(
      "\\d{20}\\.checkpoint\\.[0-9a-fA-F-]{36}\\.(json|parquet)"))
    (classic ++ uuid).map(_.getName.take(20))
      .filter(v => maxVersion.forall(v.toLong <= _))
      .sorted.lastOption.map { v =>
      val uuidAtV = uuid.filter(_.getName.startsWith(v))
      if (uuidAtV.nonEmpty) {
        val top = uuidAtV.map(_.getAbsolutePath).min // deterministic pick
        if (top.endsWith(".json")) spark.read.json(top)
        else spark.read.option("mergeSchema", "true").parquet(top)
      } else {
        val parts = classic.filter(_.getName.startsWith(v))
          .map(_.getAbsolutePath).toIndexedSeq
        spark.read.option("mergeSchema", "true").parquet(parts: _*)
      }
    }
  }

  /** Next unclaimed log version (0 for a fresh table). Checkpoint files
    * count: after log cleanup deletes the JSON commits a checkpoint
    * covers, the version counter must continue from the checkpoint, not
    * restart at 0 (a restarted version would be silently IGNORED by
    * replay — the checkpoint-tail stitch only applies commits past the
    * checkpoint version). */
  private def nextVersion(table: File): Long = {
    val logDir = new File(table, "_delta_log")
    val existing = Option(logDir.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).collect {
        case n if n.matches("\\d{20}\\.json") => n.take(20).toLong
        case n if n.matches("\\d{20}\\.checkpoint\\..*") => n.take(20).toLong
      }
    if (existing.isEmpty) 0L else existing.max + 1
  }

  /** GENERATED COLUMNS (delta's `delta.generationExpression` field
    * metadata): at CREATE the declared columns are COMPUTED by the
    * writer (they must not arrive in the frame) and their expressions
    * stamped into the schemaString, so any reader sees the contract;
    * on every later append the expressions are read back from the
    * table schema — an absent generated column is computed, a PROVIDED
    * one is validated cell-for-cell against its expression (null-safe)
    * and refused on the first divergence, delta's own semantics. The
    * canonical use is a derived partition column (`o_year =
    * year(o_orderdate)`): writers supply only the source column and
    * partition pruning on the generated key comes free. [[update]]
    * keeps the invariant by recomputing generated columns whenever a
    * SET touches their row (and refusing a direct SET on one). */
  private def applyGenerated(df: DataFrame, tablePath: String,
      version: Long, declared: Map[String, String]): DataFrame =
    if (version == 0L) {
      val clash = declared.keySet.intersect(df.columns.toSet)
      require(clash.isEmpty,
        s"generated columns are computed by the writer — remove " +
          s"${clash.mkString(", ")} from the incoming frame")
      declared.foldLeft(df) { case (acc, (c, g)) =>
        acc.withColumn(c, expr(g).as(c, new MetadataBuilder()
          .putString("delta.generationExpression", g).build()))
      }
    } else {
      // compute ABSENT generated columns; PROVIDED ones validate in
      // [[validateAgainstTable]] (one combined pass, shared with every
      // verb that lands rows — merge, overwrite, scd2)
      val gens = generationExpressions(
        DeltaReader.snapshot(df.sparkSession, tablePath).schema)
      gens.foldLeft(df) { case (acc, (c, g)) =>
        if (!acc.columns.contains(c)) acc.withColumn(c, expr(g)) else acc
      }
    }

  /** Recompute every generated column over an already-SET frame —
    * the second stage of [[update]]/[[updateWithVectors]]'s rewrite:
    * generation expressions must see the POST-SET source columns. */
  private def recomputeGenerated(df: DataFrame, schema: StructType,
      gens: Map[String, String]): DataFrame =
    if (gens.isEmpty) df
    else df.select(schema.fields.toIndexedSeq.map { f =>
      gens.get(f.name) match {
        case Some(g) => expr(g).cast(f.dataType).as(f.name)
        case None => col(f.name)
      }
    }: _*)

  /** The `col → generation expression` map a table schema declares
    * (empty for tables without generated columns). */
  private[sources] def generationExpressions(
      schema: StructType): Map[String, String] =
    schema.fields.iterator.flatMap(f =>
      if (f.metadata.contains("delta.generationExpression"))
        Some(f.name -> f.metadata.getString("delta.generationExpression"))
      else None).toMap

  private def validateAgainstTable(df: DataFrame, tablePath: String,
      partitionBy: Seq[String], version: Long,
      /** generated columns to validate — None = all declared; append/
        * overwrite pass ONLY the columns the caller's frame PROVIDED,
        * so the writer-computed ones (tautologically consistent) don't
        * cost a second full pass over the frame. */
      generatedToCheck: Option[Set[String]] = None): Unit =
    if (version == 0L) {
      val missing = partitionBy.filterNot(df.schema.fieldNames.contains)
      require(missing.isEmpty,
        s"partition columns $missing absent from schema ${df.schema.fieldNames.toSeq}")
    } else {
      val snap = DeltaReader.snapshot(df.sparkSession, tablePath)
      require(snap.partitionColumns == partitionBy,
        s"append partitioning $partitionBy != table's ${snap.partitionColumns}")
      val want = snap.schema.fields.map(f => f.name -> f.dataType).toMap
      val got = df.schema.fields.map(f => f.name -> f.dataType).toMap
      require(want == got,
        s"schema mismatch appending to $tablePath (schema evolution needs " +
          s"an explicit metaData commit): table=$want df=$got")
      // ALL row-level invariants — CHECK constraints, NOT NULL columns,
      // generated-column consistency — in ONE combined pass over the
      // frame (three separate actions would re-evaluate the incoming
      // plan three times per landed batch); per-category culprit
      // probes run only on the failure path
      val gens = generationExpressions(snap.schema)
        .filter { case (c, _) => generatedToCheck.forall(_.contains(c)) }
      enforceRowInvariants(df, snap, tablePath, gens)
    }

  /** The row-level invariant gate shared by EVERY verb that lands or
    * rewrites rows — three categories, ONE combined violation pass:
    *
    *  - CHECK constraints (`delta.constraints.<name>` — SQL semantics,
    *    only literal FALSE violates, NULL passes);
    *  - NOT NULL columns (the delta protocol's schema-embedded column
    *    invariants — the half CHECK doesn't cover; incoming frames may
    *    be DECLARED nullable even when the table is not, so the DATA
    *    is checked, not the frame's metadata);
    *  - generated-column consistency (`gens` — provided values must
    *    equal their expressions, NULL-safe; update verbs pass empty
    *    since they recompute).
    *
    * Zero cost when no category applies (no pass is planned at all);
    * one action otherwise. Per-category culprit probes run only on the
    * failure path, with a generic contract-naming refusal as the
    * fallback when a non-deterministic frame fails the combined pass
    * but reproduces under none of the probes. */
  private def enforceRowInvariants(df: DataFrame,
      snap: DeltaReader.Snapshot, tablePath: String,
      gens: Map[String, String] = Map.empty): Unit = {
    val constraints = snap.configuration.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }
    val strict = snap.schema.fields.filterNot(_.nullable).map(_.name).toSeq
    val preds =
      constraints.values.map(e => coalesce(expr(e), lit(true)) === false) ++
        strict.map(col(_).isNull) ++
        gens.map { case (c, g) => !(col(c) <=> expr(g)) }
    preds.reduceOption(_ || _).foreach { anyBad =>
      if (!df.filter(anyBad).isEmpty) {
        val badConstraints = constraints.filter { case (_, e) =>
          !df.filter(coalesce(expr(e), lit(true)) === false).isEmpty
        }
        if (badConstraints.nonEmpty)
          throw new IllegalArgumentException(
            s"write to $tablePath violates CHECK constraint(s): " +
              badConstraints.map { case (n, e) => s"$n ($e)" }
                .mkString("; "))
        strict.find(c => !df.filter(col(c).isNull).isEmpty).foreach(c =>
          throw new IllegalArgumentException(
            s"write to $tablePath violates NOT NULL constraint on " +
              s"column $c — the table schema declares it non-nullable"))
        gens.find { case (c, g) =>
          !df.filter(!(col(c) <=> expr(g))).isEmpty }.foreach { culprit =>
          throw new IllegalArgumentException(
            s"rows violate generated column ${culprit._1} = " +
              s"${culprit._2} at $tablePath — omit the column where " +
              "the verb computes it (append), or provide exactly the " +
              "generated values")
        }
        throw new IllegalArgumentException(
          s"write to $tablePath failed the combined row-invariant " +
            "pass but no single category reproduced — the incoming " +
            "frame is non-deterministic; materialize it first")
      }
    }
  }

  /** Per-session REF-COUNTED guard for the session-global parquet
    * field-id WRITE flag: the first entrant saves + sets, only the
    * LAST exit restores, so overlapping id-mapped staged writes on the
    * same SparkSession can never clear the flag out from under each
    * other (staged files missing field ids would be unresolvable by an
    * id-mapped reader). Keyed by session — a concurrent write on a
    * DIFFERENT session (e.g. a streaming micro-batch clone) gets its
    * own save/set/restore. */
  private object FieldIdWriteGuard {
    private val key = "spark.sql.parquet.fieldId.write.enabled"
    private val state = scala.collection.mutable.Map
      .empty[org.apache.spark.sql.SparkSession, (Int, Option[String])]
    def withFlag[A](spark: org.apache.spark.sql.SparkSession,
        needed: Boolean)(body: => A): A =
      if (!needed) body
      else {
        state.synchronized {
          state.get(spark) match {
            case None =>
              state(spark) = (1, spark.conf.getOption(key))
              spark.conf.set(key, "true")
            case Some((depth, saved)) => state(spark) = (depth + 1, saved)
          }
        }
        try body
        finally state.synchronized {
          val (depth, saved) = state(spark)
          if (depth == 1) {
            state.remove(spark)
            saved match {
              case Some(v) => spark.conf.set(key, v)
              case None => spark.conf.unset(key)
            }
          } else state(spark) = (depth - 1, saved)
        }
      }
  }

  /** Stage `df`'s data files, move them into the table root, compute
    * per-file stats in one distributed pass, and return the composed
    * `add` action lines (nothing is committed yet — the caller owns the
    * log line set and the publish). */
  private def stageDataFiles(df: DataFrame, table: File, version: Long,
      partitionBy: Seq[String],
      tags: Map[String, String] = Map.empty,
      dataChange: Boolean = true): Seq[String] = {
    val spark = df.sparkSession
    // ---- stage + move the data files (uuid suffix: two writers racing
    // for the same version must not share — or sweep — a staging dir)
    val staging = new File(table,
      s".stage-$version-${java.util.UUID.randomUUID()}")
    if (staging.exists()) delete(staging)
    // id-mapped staging (schema fields tagged parquet.field.id) needs
    // the parquet field-id WRITE flag; ParquetFileFormat.prepareWrite
    // copies it from the SESSION conf, so a writer option can't carry
    // it — but this write is EAGER, so scope it through the
    // ref-counted [[FieldIdWriteGuard]] (a plain save/restore races:
    // two concurrent id-mapped writes on one session could have one
    // thread's finally-restore clear the flag mid-write for the other)
    val needsFieldIds =
      df.schema.fields.exists(_.metadata.contains("parquet.field.id"))
    FieldIdWriteGuard.withFlag(spark, needsFieldIds) {
      val w0 = df.write.mode(SaveMode.Overwrite)
      (if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0)
        .parquet(staging.getAbsolutePath)
    }
    val moved = collectParquet(staging).map { f =>
      val rel = staging.toPath.relativize(f.toPath).toString
      val dest = new File(table, rel)
      dest.getParentFile.mkdirs()
      Files.move(f.toPath, dest.toPath) // throws on collision, never clobbers
      rel
    }
    delete(staging)
    val partSet = partitionBy.toSet
    val dataFields = df.schema.fields.filterNot(f => partSet.contains(f.name))
    composeAddActions(spark, table, moved, dataFields.toIndexedSeq, tags,
      dataChange, deleteEmpties = true)
  }

  /** Recursive file listing shared by [[copyInto]]'s landing-dir scan
    * and [[vacuum]]'s table walk, scale-safe past driver-sized
    * directories: a driver-side BFS handles the common small tree with
    * zero job overhead, and once the scan has touched `threshold`
    * entries the REMAINING frontier subtrees are listed in ONE
    * distributed pass (the deep-clone `parallelize` pattern — each
    * task walks its subtree independently), so a ~10⁶-file landing
    * zone or table root never serializes through a driver
    * `listFiles` recursion. Returns (absolute path, lastModified ms)
    * for every kept file — the mtime rides along so vacuum's
    * orphan-horizon check costs no second stat pass. `skipName` prunes
    * whole subtrees by entry name; `keepName` filters files.
    * Executors use the local-FS File API — the one seam a cluster
    * deployment swaps for its object-store listing client. */
  /** First line (≤64 KiB probe) of a landing file — [[copyInto]]'s CSV
    * header-group key. None for a zero-byte file; malformed bytes
    * decode with replacement (never throws), so executors can run it
    * over an arbitrary landing zone. Object-level (not a local def)
    * so the distributed probe's closure captures nothing. */
  private def headerLineOf(p: String): Option[String] = {
    val in = new java.io.FileInputStream(p)
    try {
      val buf = new Array[Byte](64 * 1024)
      val n = in.read(buf)
      if (n <= 0) None
      else {
        val line = new String(buf, 0, n, StandardCharsets.UTF_8)
        val cut = line.indexOf('\n')
        Some((if (cut >= 0) line.take(cut) else line).stripSuffix("\r"))
      }
    } finally in.close()
  }

  private[graft] def walkScalably(
      spark: org.apache.spark.sql.SparkSession, root: File,
      skipName: String => Boolean, keepName: String => Boolean,
      threshold: Int = 4096): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var frontier = scala.collection.immutable.Queue.empty[File]
    // skipName prunes entries WITHIN the tree, never the root the
    // caller explicitly named (a dot-named landing dir must still walk)
    if (root.isDirectory) frontier :+= root
    var scanned = 0
    while (frontier.nonEmpty && scanned < threshold) {
      val (d, rest) = frontier.dequeue
      frontier = rest
      Option(d.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
        scanned += 1
        if (!skipName(f.getName)) {
          if (f.isDirectory) frontier :+= f
          else if (keepName(f.getName))
            out += ((f.getAbsolutePath, f.lastModified()))
        }
      }
    }
    if (frontier.isEmpty) out.toSeq
    else {
      // the tree outgrew the driver budget: finish the remaining
      // subtrees distributed (skip/keep close over nothing heavier
      // than what the caller captured — they ship to executors).
      // Each round lists ONE directory level — a task never recurses —
      // so a single giant subtree among small siblings fans its
      // subdirectories back into the NEXT round's frontier instead of
      // serializing into one task's private recursion: task skew is
      // bounded by the widest single directory, not the deepest
      // subtree. Rounds = remaining tree depth.
      //
      // r22 (VERDICT r20 #5 / r21 #8 — guide §5 "the driver should do
      // almost no data work"): the frontier now STAYS an RDD between
      // rounds — the driver never materializes a level's subdirectory
      // list (a 10M-dir level would have OOM'd the old per-level
      // collect). Per round the driver receives only that level's KEPT
      // files (inherent — the caller composes a commit from the
      // listing) and one Long (the next level's dir count, the loop
      // condition). The fixed 64-slot repartition re-balances a skewed
      // level without a count.
      val skip = skipName
      val keep = keepName
      // the frontier dirs themselves were already admitted by the BFS —
      // skip applies to CHILDREN only (root-in-frontier safe)
      val sc = spark.sparkContext
      var dirs = sc.parallelize(
        frontier.map(_.getAbsolutePath).toSeq,
        math.max(1, math.min(frontier.size, 64)))
      var more = true
      while (more) {
        val listed = dirs
          .flatMap { p =>
            Option(new java.io.File(p).listFiles())
              .getOrElse(Array.empty[java.io.File]).toSeq
              .filterNot(f => skip(f.getName))
              .flatMap { f =>
                if (f.isDirectory) Some((f.getAbsolutePath, 0L, true))
                else if (keep(f.getName))
                  Some((f.getAbsolutePath, f.lastModified(), false))
                else None
              }
          }
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        out ++= listed.filter(!_._3).map(t => (t._1, t._2)).collect()
        // the repartition's shuffle doubles as the next level's
        // materialization: count() writes the map outputs, and the next
        // round's flatMap reads them back instead of re-listing this
        // level after the unpersist below
        val next = listed.filter(_._3).map(_._1).repartition(64)
        more = next.count() > 0L
        listed.unpersist(false)
        dirs = next
      }
      out.toSeq
    }
  }

  /** Stage the exact row-level change images of a row-verb commit
    * (update / CoW delete / merge) as CHANGE DATA files under
    * `_change_data/` and return their `cdc`
    * action lines — the delta protocol's change-data-feed mechanism:
    * when a commit carries cdc actions they are the COMPLETE change
    * representation of that commit, and [[DeltaReader.loadChangeFeed]]
    * reads THEM instead of deriving events from the commit's file
    * diffs. This is what lets a row-verb window emit delta's own event
    * spellings (`update_preimage`/`update_postimage` for updates and
    * merge's replaced rows, `delete`/`insert` for the others) for
    * EXACTLY the matched rows — the untouched survivors of the
    * copy-on-write rewrite never appear in the feed at all (previously
    * they rode along as self-cancelling delete+insert churn). Layout:
    * on a PARTITIONED table the cdc files are hive-partitioned under
    * `_change_data/` by the table's partition columns (physical
    * spellings, exactly the add actions' convention) and each cdc
    * action carries real `partitionValues` — delta-spark's own layout,
    * so a partition-scoped CDF consumer prunes cdc files the same way
    * a scan prunes data files; non-partition columns keep LOGICAL
    * names inside the cdc parquet even under column mapping (a
    * documented deviation — delta-spark writes physical ones; this
    * repo's reader is the consumer). Unpartitioned tables write flat
    * files with empty partitionValues. cdc files are feed sidecar
    * data, never table state (absent from snapshots and checkpoints),
    * and [[vacuum]] keeps them exactly while their commit's JSON
    * survives — the same log-retention horizon that bounds the feed's
    * replayability. `dataChange:false` per the delta spec (the
    * add/remove actions carry the state change). */
  private def stageCdcFiles(changes: DataFrame, table: File,
      version: Long, snap: DeltaReader.Snapshot): Seq[String] = {
    val staging = new File(table,
      s".stage-cdc-$version-${java.util.UUID.randomUUID()}")
    if (staging.exists()) delete(staging)
    val partCols = snap.partitionColumns
    def phys(n: String): String = snap.physicalNames.getOrElse(n, n)
    // change volume ∝ matched rows (usually tiny next to the rewrite);
    // cap the FILE count with a shuffle (repartition), not coalesce —
    // coalesce would propagate up the narrow pre/post-image pipeline
    // and serialize the whole matched-rows scan to 8 tasks, while the
    // shuffle costs only the matched rows themselves. Partitioned
    // tables shuffle ON the partition key so each touched partition
    // lands ONE cdc file (not 8): file count ∝ touched partitions,
    // parallelism still capped at 8 tasks.
    if (partCols.isEmpty)
      changes.repartition(8).write.mode(SaveMode.Overwrite)
        .parquet(staging.getAbsolutePath)
    else {
      val renamed = changes.select(changes.columns.toIndexedSeq.map(c =>
        if (partCols.contains(c)) col(c).as(phys(c)) else col(c)): _*)
      renamed.repartition(8, partCols.map(c => col(phys(c))): _*)
        .write.partitionBy(partCols.map(phys): _*)
        .mode(SaveMode.Overwrite).parquet(staging.getAbsolutePath)
    }
    val cdcDir = new File(table, "_change_data")
    cdcDir.mkdirs()
    val stagingPath = staging.toPath
    val moved = collectParquet(staging).map { f =>
      val rel = stagingPath.relativize(f.toPath).toString
        .replace(File.separatorChar, '/')
      val dest = new File(cdcDir, rel)
      dest.getParentFile.mkdirs()
      Files.move(f.toPath, dest.toPath) // uuid part names: never collides
      s"_change_data/$rel"
    }
    delete(staging)
    moved.map { rel =>
      // partitionValues from the hive dir segs (same parse as the add
      // actions'): `_change_data/<pc=v>/…/part.parquet`
      val segs = rel.split('/')
      val pv = segs.drop(1).dropRight(1).map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"unparseable cdc partition dir '$seg' under $rel")
        val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(i + 1))
        seg.take(i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
      }
      val pvJ = pv.map {
        case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
        case (k, None) => s"${jstr(k)}:null"
      }.mkString("{", ",", "}")
      s"""{"cdc":{"path":"$rel","partitionValues":$pvJ,""" +
        s""""size":${new File(table, rel).length()},"dataChange":false}}"""
    }
  }

  /** Whether the table declares a CDF consumer
    * (`delta.enableChangeDataFeed = true` — delta's own gate). The row
    * verbs write cdc change-data files ONLY then: emitting exact
    * change images costs one matched-rows write per commit, a tax no
    * table should pay without a feed consumer; un-gated tables keep
    * the file-diff feed derivation (exact in net, churn-volumed). */
  private def cdfEnabled(snap: DeltaReader.Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed")
      .exists(_.trim.equalsIgnoreCase("true"))

  /** Per-file stats (ONE distributed pass) + the composed `add` action
    * lines for `rels` (table-relative parquet paths, already in place
    * under `table`). Shared by the staged-write path and
    * [[convertToDelta]] — the latter must not delete a user's
    * zero-row files, only skip referencing them. */
  private def composeAddActions(spark: org.apache.spark.sql.SparkSession,
      table: File, rels: Seq[String],
      dataFields: Seq[org.apache.spark.sql.types.StructField],
      tags: Map[String, String], dataChange: Boolean,
      deleteEmpties: Boolean): Seq[String] = {
    val moved = rels // table-relative paths, already in their final place
    val statFields = dataFields.filter(f => statWritable(f.dataType))
    val byName = if (moved.isEmpty) Map.empty[String, org.apache.spark.sql.Row]
    else {
      val src = spark.read
        .schema(StructType(dataFields)) // pinned: no inference pass
        .parquet(moved.map(r => new File(table, r).getAbsolutePath): _*)
        .select(col("_metadata.file_path").as("__path") +:
          dataFields.toIndexedSeq.map(f => col(f.name)): _*)
      val aggs: Seq[org.apache.spark.sql.Column] =
        Seq(count(lit(1)).as("__n")) ++
          statFields.flatMap(f => Seq(
            min(col(f.name)).cast("string").as(s"__min_${f.name}"),
            max(col(f.name)).cast("string").as(s"__max_${f.name}"))) ++
          dataFields.map(f =>
            sum(when(col(f.name).isNull, 1L).otherwise(0L))
              .as(s"__null_${f.name}"))
      src.groupBy(col("__path")).agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          // key by TABLE-RELATIVE path, not file name: a partitioned
          // staged write emits the SAME part-file name into every hive
          // dir it touches, and name-keyed stats would collide — every
          // same-named file would carry ONE dir's min/max, and a reader
          // pruning on those bounds could wrongly skip live rows
          val abs = java.nio.file.Paths.get(
            new java.net.URI(r.getString(0)).getPath)
          table.toPath.toAbsolutePath.relativize(abs).toString
            .replace(File.separatorChar, '/') -> r
        }
        .toMap
    }

    // ---- compose the commit. A staged file ABSENT from the stats
    // aggregate holds zero rows (every real row carries its
    // _metadata.file_path) — Spark's writer emits one eagerly per task
    // even when the task's partition filtered empty, which the
    // copy-on-write verbs (merge/delete survivors) routinely produce.
    // A zero-row add is pure log+scan overhead: delete the file, skip
    // the action.
    def relKey(rel: String): String =
      rel.replace(File.separatorChar, '/')
    val adds = moved.filter { rel =>
      val f = new File(table, rel)
      val keep = byName.contains(relKey(rel))
      if (!keep && deleteEmpties) {
        f.delete()
        var p = f.getParentFile
        while (p != null && p != table &&
          Option(p.listFiles()).exists(_.isEmpty)) { p.delete(); p = p.getParentFile }
      }
      keep
    }.map { rel =>
      val f = new File(table, rel)
      val segs = rel.replace(File.separatorChar, '/').split('/')
      val pv = segs.dropRight(1).map { seg =>
        val i = seg.indexOf('=')
        require(i > 0, s"unparseable partition dir '$seg' under $rel")
        val raw = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(seg.drop(i + 1))
        seg.take(i) ->
          (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
      }
      val r = byName(relKey(rel))
      val minsJ = statFields.flatMap { sf =>
        Option(r.getAs[String](s"__min_${sf.name}"))
          .map(v => s"${jstr(sf.name)}:${jsonVal(sf.dataType, v)}")
      }
      val maxsJ = statFields.flatMap { sf =>
        Option(r.getAs[String](s"__max_${sf.name}"))
          .map(v => s"${jstr(sf.name)}:${jsonVal(sf.dataType, v)}")
      }
      val nullsJ = dataFields.map(sf =>
        s"${jstr(sf.name)}:${r.getAs[Long](s"__null_${sf.name}")}")
      val stats =
        s"""{"numRecords":${r.getAs[Long]("__n")},""" +
          s""""minValues":{${minsJ.mkString(",")}},""" +
          s""""maxValues":{${maxsJ.mkString(",")}},""" +
          s""""nullCount":{${nullsJ.mkString(",")}}}"""
      val pvJ = pv.map {
        case (k, Some(v)) => s"${jstr(k)}:${jstr(v)}"
        case (k, None) => s"${jstr(k)}:null"
      }.mkString("{", ",", "}")
      val tagsPart =
        if (tags.isEmpty) ""
        else s""","tags":${tags.map { case (k, v) =>
          s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")}"""
      s"""{"add":{"path":"${segs.mkString("/")}","partitionValues":$pvJ,""" +
        s""""size":${f.length()},"modificationTime":${f.lastModified()},""" +
        s""""dataChange":$dataChange,"stats":${jstr(stats)}$tagsPart}}"""
    }
    adds
  }

  /** Version-0 protocol + metaData lines (empty for later versions). */
  private def header(df: DataFrame, partitionBy: Seq[String],
      version: Long, columnMapping: String = "none",
      phys: Map[String, String] = Map.empty,
      extraProps: Map[String, String] = Map.empty): Seq[String] =
    if (version != 0L) Nil
    else {
      val ntz = df.schema.exists(f => hasNtz(f.dataType))
      val mapped = columnMapping == "name" || columnMapping == "id"
      val protocol =
        if (ntz) {
          val feats = (if (mapped) Seq("columnMapping") else Nil) :+
            "timestampNtz"
          val fj = feats.map(jstr).mkString("[", ",", "]")
          s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
            s""""readerFeatures":$fj,"writerFeatures":$fj}}"""
        } else if (mapped)
          // column mapping's classic protocol floor
          """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}"""
        else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
      val pc = partitionBy.map(jstr).mkString("[", ",", "]")
      // under name mapping the schemaString's per-field metadata is the
      // logical→physical contract every reader resolves through
      val schemaJson =
        if (!mapped) df.schema.json
        else StructType(df.schema.fields.zipWithIndex.map { case (f, i) =>
          f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
            .putString("delta.columnMapping.physicalName", phys(f.name))
            .putLong("delta.columnMapping.id", (i + 1).toLong)
            .build())
        }).json
      val cfgEntries =
        (if (!mapped) Map.empty[String, String]
         else Map("delta.columnMapping.mode" -> columnMapping,
           "delta.columnMapping.maxColumnId" -> df.schema.size.toString)) ++
          extraProps
      val cfg = cfgEntries
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      val meta =
        s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
          s""""format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":${jstr(schemaJson)},""" +
          s""""partitionColumns":$pc,"configuration":$cfg,"createdTime":0}}"""
      Seq(protocol, meta)
    }

  /** Atomic publish: temp file + rename; an existing version wins.
    * `operation` lands in the commitInfo line — the verb name DESCRIBE
    * HISTORY reports (delta-spark's audit spelling; replay ignores
    * commitInfo, so foreign readers are unaffected). */
  private def publish(table: File, version: Long,
      lines: Seq[String], operation: String = "WRITE"): Unit = {
    val logDir = new File(table, "_delta_log")
    logDir.mkdirs()
    val tmp = new File(logDir, s".tmp-$version-${java.util.UUID.randomUUID()}")
    // every commit leads with commitInfo so timestamp-based time travel
    // (DeltaReader.versionAtTimestamp) reads a DECLARED stamp instead
    // of falling back to file mtime; replay ignores unknown actions, so
    // foreign readers are unaffected
    val commitInfo =
      s"""{"commitInfo":{"timestamp":${System.currentTimeMillis()},""" +
        s""""operation":${jstr(operation)},"engineInfo":"graft"}}"""
    Files.write(tmp.toPath,
      (commitInfo +: lines).mkString("\n").getBytes(StandardCharsets.UTF_8))
    val target = new File(logDir, f"$version%020d.json")
    // createLink, NOT move: POSIX rename() REPLACES an existing target,
    // so an ATOMIC_MOVE would let a racing writer silently clobber a
    // committed version. A hard link is atomic AND fails with
    // FileAlreadyExistsException when the version is taken — the
    // put-if-absent every delta commit protocol requires.
    try {
      Files.createLink(target.toPath, tmp.toPath)
      tmp.delete()
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        tmp.delete()
        throw new IllegalStateException(
          s"concurrent commit lost: version $version already exists", e)
    }
  }

  /** Optimistic-concurrency publish — at 100× scale two jobs commit to
    * the same table all the time, and a flat "version exists" failure
    * would make every second job re-run its whole write. Losing a
    * version race here instead CHECKS THE WINNERS for semantic
    * conflicts and re-commits at the next version (the staged data
    * files are uuid-named and already in place — a retry is one more
    * rename, no re-stage). The compatibility matrix, derived from the
    * commit's own action profile:
    *
    *  - this commit carries metaData/protocol (table creation, schema
    *    evolution, property/constraint changes) → never retried: two
    *    metadata writers must coordinate, and a v0 creation race means
    *    the table may not even share a schema.
    *  - pure APPEND (adds only) → compatible with any winner except
    *    one that changed metaData/protocol (the staged rows were
    *    validated against the OLD schema/constraints): append vs
    *    append and append vs delete/optimize both land.
    *  - LAYOUT rewrite (compact / z-order: removes+adds, all
    *    dataChange=false) → compatible with winners that touch none of
    *    the files it rewrites; a winner that removed or DV'd one of
    *    them (row verb, other optimize) invalidates the staged rewrite
    *    → refuse (re-run reads fresher state).
    *  - ROW-LEVEL verb (removes with dataChange=true: delete / update /
    *    merge / overwrite / restore / DV verbs) → only a LAYOUT-ONLY
    *    winner disjoint from its removed files is compatible; any
    *    concurrent data change may hold rows its predicate should have
    *    seen → refuse rather than silently miss them.
    *
    * Bounded retries; returns the version actually committed. */
  private[graft] def publishOptimistic(table: File, firstVersion: Long,
      lines: Seq[String], maxRetries: Int = 10,
      operation: String = "WRITE"): Long = {
    val jackson = new com.fasterxml.jackson.databind.ObjectMapper()
    val mine = lines.map(jackson.readTree)
    val iAmMetadata = mine.exists(n =>
      n.has("metaData") || n.has("protocol"))
    def removesOf(ns: Seq[com.fasterxml.jackson.databind.JsonNode]) =
      ns.flatMap(n => Option(n.get("remove")))
    def addsOf(ns: Seq[com.fasterxml.jackson.databind.JsonNode]) =
      ns.flatMap(n => Option(n.get("add")))
    def dc(a: com.fasterxml.jackson.databind.JsonNode): Boolean =
      Option(a.get("dataChange")).forall(_.asBoolean())
    val myRemoves = removesOf(mine)
    val myRemovedPaths = myRemoves
      .map(r => DeltaReader.decodePath(r.get("path").asText())).toSet
    val iAmRowVerb = myRemoves.exists(dc)
    val myTxnAppIds = mine.flatMap(n => Option(n.get("txn")))
      .map(_.get("appId").asText()).toSet
    var v = firstVersion
    var attempts = 0
    while (true) {
      try { publish(table, v, lines, operation); return v }
      catch {
        case e: IllegalStateException =>
          if (iAmMetadata) throw e // metadata writers must coordinate
          attempts += 1
          require(attempts <= maxRetries,
            s"gave up after $maxRetries commit retries at $table " +
              "(sustained write contention)")
          val latest = nextVersion(table) - 1
          (v to latest).foreach { w =>
            val f = new File(table, f"_delta_log/$w%020d.json")
            val winner = new String(Files.readAllBytes(f.toPath),
              StandardCharsets.UTF_8)
              .split('\n').filter(_.nonEmpty).map(jackson.readTree).toSeq
            require(!winner.exists(n =>
                n.has("metaData") || n.has("protocol")),
              s"concurrent conflict at $table: commit $w changed table " +
                "metadata while this write was staged — re-validate and " +
                "re-run against the new table state")
            // exactly-once guard: a winner carrying a txn for one of MY
            // appIds means another instance of the SAME idempotent
            // producer committed concurrently (zombie driver, duplicate
            // sink). Retrying would land the same (appId, batch) twice —
            // the hole real Delta's ConcurrentTransactionException
            // closes. Throw a typed conflict so appendOnce can re-check
            // the ledger and converge to a no-op.
            if (myTxnAppIds.nonEmpty) {
              val clash = winner.flatMap(n => Option(n.get("txn")))
                .map(_.get("appId").asText()).filter(myTxnAppIds)
              if (clash.nonEmpty)
                throw new DeltaWriter.ConcurrentTransactionException(
                  s"concurrent transaction at $table: commit $w carries " +
                    s"txn for appId ${clash.mkString(", ")} — another " +
                    "instance of this producer committed concurrently; " +
                    "re-check the transaction ledger instead of retrying")
            }
            if (myRemovedPaths.nonEmpty) {
              val winnerPaths =
                (removesOf(winner) ++ addsOf(winner))
                  .map(a => DeltaReader.decodePath(a.get("path").asText()))
                  .toSet
              val overlap = winnerPaths.intersect(myRemovedPaths)
              require(overlap.isEmpty,
                s"concurrent conflict at $table: commit $w touched " +
                  s"file(s) this write rewrites (${overlap.take(3)
                    .mkString(", ")}) — re-run against the new state")
              val winnerLayoutOnly = {
                val acts = removesOf(winner) ++ addsOf(winner)
                acts.nonEmpty && acts.forall(a => !dc(a))
              }
              require(!iAmRowVerb || winnerLayoutOnly ||
                  (removesOf(winner) ++ addsOf(winner)).isEmpty,
                s"concurrent conflict at $table: commit $w changed data " +
                  "while this row-level write was staged — its predicate " +
                  "may match the new rows; re-run against the new state")
            }
          }
          v = latest + 1
      }
    }
    v // unreachable
  }

  /** Types whose Spark cast-to-string form PROVABLY round-trips through
    * `Cast(string → dt)` under the session zone — the writer-side
    * counterpart of [[DeltaStats]]'s reader whitelist, minus the ANSI
    * intervals (their string forms are castable only under ANSI parse
    * rules we have not vetted — files simply carry no min/max for such
    * columns and readers keep them conservatively). */
  private def statWritable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case st: StringType => st == StringType // binary collation only
    case _ => false
  }

  private def hasNtz(dt: DataType): Boolean = dt match {
    case TimestampNTZType => true
    case s: StructType => s.exists(f => hasNtz(f.dataType))
    case a: ArrayType => hasNtz(a.elementType)
    case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
    case _ => false
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Numeric/boolean stat text goes out as a raw JSON scalar when it is
    * one (NaN/Infinity are not valid JSON numbers — quote them; readers
    * take `asText()` either way); everything else is quoted. */
  private def jsonVal(dt: DataType, text: String): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType
        if text.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") => text
    case BooleanType if text == "true" || text == "false" => text
    case _ => jstr(text)
  }

  private def collectParquet(f: File): Seq[File] =
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq
        .flatMap(collectParquet)
    else if (f.getName.endsWith(".parquet")) Seq(f)
    else Nil

  private def delete(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }
}
