package graft.sources

import java.io.{DataInputStream, DataOutputStream, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Plain parquet whose write tasks also record each output file's Delta
  * stats — what [[DeltaWriter]] stages every data file through
  * (`df.write.format(classOf[StatsParquetFormat].getName)`), so a commit
  * gets its add stats without reading its own files back.
  *
  * Each [[OutputWriter]] the factory hands out is wrapped: one wrapper is
  * one file, whatever the file-rolling policy. Per row it counts records
  * and the nulls of every top-level data field, and keeps the min and
  * max of the [[statWritable]] fields under Spark's interpreted ordering
  * (NaN largest, −0.0 equal to 0.0, ties keep the first value seen —
  * exactly what a `min`/`max` aggregate over the file returns). On close
  * it formats min/max through `Cast(_, StringType, sessionTz)`, the text
  * `min(col).cast("string")` yields, and writes the record to a hidden
  * stats sidecar `.<file>.stats` next to the data file in the task-attempt
  * directory. The sidecar therefore travels through the output committer
  * with its file: only a committed attempt's sidecars reach the output
  * directory, so task retries and speculative attempts cannot double-
  * report. The driver reads each one back with [[takeSidecar]]. */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(sparkSession: SparkSession, job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val inner = super.prepareWrite(sparkSession, job, options, dataSchema)
    // an id-mapped table's fields carry parquet field ids: the write
    // tasks read the id flag from the job conf, where super just copied
    // the session's value, so this one write sets it without touching
    // the session
    if (dataSchema.exists(_.metadata.contains("parquet.field.id")))
      job.getConfiguration.setBoolean(
        SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, true)
    val zone = sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)
    new StatsParquetFormat.Factory(inner, zone)
  }
}

object StatsParquetFormat {

  /** One data file's stats as the writer saw them: min/max as cast-to-
    * string text (absent for non-[[statWritable]] or all-null fields),
    * null counts for every top-level data field. */
  final case class FileStatsText(
      numRecords: Long,
      nullCount: Map[String, Long],
      minValues: Map[String, String],
      maxValues: Map[String, String])

  /** Types whose Spark cast-to-string form PROVABLY round-trips through
    * `Cast(string → dt)` under the session zone — the writer-side
    * counterpart of [[DeltaStats]]'s reader whitelist, minus the ANSI
    * intervals (their string forms are castable only under ANSI parse
    * rules we have not vetted — files simply carry no min/max for such
    * columns and readers keep them conservatively). */
  def statWritable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case st: StringType => st == StringType // binary collation only
    case _ => false
  }

  private def sidecarName(dataFileName: String): String =
    s".$dataFileName.stats"

  /** Read and delete the stats sidecar of a staged data file. A missing
    * sidecar is an error: every file this format writes has one. */
  def takeSidecar(dataFile: File): FileStatsText = {
    val side = new File(dataFile.getParentFile, sidecarName(dataFile.getName))
    require(side.isFile, s"no stats sidecar for staged file $dataFile")
    val in = new DataInputStream(Files.newInputStream(side.toPath))
    val stats =
      try {
        def str(): String = {
          val b = new Array[Byte](in.readInt())
          in.readFully(b)
          new String(b, StandardCharsets.UTF_8)
        }
        def opt(): Option[String] = if (in.readBoolean()) Some(str()) else None
        val rows = in.readLong()
        val fields = Seq.fill(in.readInt())((str(), in.readLong(), opt(), opt()))
        FileStatsText(rows,
          fields.map(f => f._1 -> f._2).toMap,
          fields.flatMap(f => f._3.map(f._1 -> _)).toMap,
          fields.flatMap(f => f._4.map(f._1 -> _)).toMap)
      } finally in.close()
    Files.delete(side.toPath)
    stats
  }

  private final class Factory(inner: OutputWriterFactory, zone: String)
      extends OutputWriterFactory {
    override def getFileExtension(context: TaskAttemptContext): String =
      inner.getFileExtension(context)
    override def newInstance(path: String, dataSchema: StructType,
        context: TaskAttemptContext): OutputWriter =
      new Writer(inner.newInstance(path, dataSchema, context), dataSchema,
        zone, context.getConfiguration)
  }

  private final class Writer(inner: OutputWriter, schema: StructType,
      zone: String, conf: Configuration) extends OutputWriter {
    private val types = schema.fields.map(_.dataType)
    private val orderings: Array[Ordering[Any]] = types.map(dt =>
      if (statWritable(dt)) TypeUtils.getInterpretedOrdering(dt) else null)
    private val nulls = new Array[Long](types.length)
    private val mins = new Array[Any](types.length)
    private val maxs = new Array[Any](types.length)
    private var rows = 0L

    // rows are reused by the caller: keep private copies of buffers
    private def owned(v: Any): Any = v match {
      case s: UTF8String => s.copy()
      case d: Decimal => d.clone()
      case other => other
    }

    override def write(row: InternalRow): Unit = {
      inner.write(row)
      rows += 1
      var i = 0
      while (i < types.length) {
        if (row.isNullAt(i)) nulls(i) += 1
        else if (orderings(i) != null) {
          val v = row.get(i, types(i))
          if (mins(i) == null) { val c = owned(v); mins(i) = c; maxs(i) = c }
          else {
            if (orderings(i).lt(v, mins(i))) mins(i) = owned(v)
            if (orderings(i).gt(v, maxs(i))) maxs(i) = owned(v)
          }
        }
        i += 1
      }
    }

    override def close(): Unit = {
      inner.close()
      val file = new Path(inner.path())
      val side = new Path(file.getParent, sidecarName(file.getName))
      val out = new DataOutputStream(
        side.getFileSystem(conf).create(side, false))
      try {
        def str(s: String): Unit = {
          val b = s.getBytes(StandardCharsets.UTF_8)
          out.writeInt(b.length)
          out.write(b)
        }
        def opt(i: Int, v: Any): Unit = {
          out.writeBoolean(v != null)
          if (v != null)
            str(Cast(Literal(v, types(i)), StringType, Some(zone)).eval()
              .toString)
        }
        out.writeLong(rows)
        out.writeInt(types.length)
        for (i <- types.indices) {
          str(schema.fields(i).name)
          out.writeLong(nulls(i))
          opt(i, mins(i))
          opt(i, maxs(i))
        }
      } finally out.close()
    }

    override def path(): String = inner.path()
  }
}
