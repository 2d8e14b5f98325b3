package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level data skipping from Delta add-action statistics.
  *
  * Each add action may carry a `stats` JSON string with `numRecords`,
  * `minValues`, `maxValues`, `nullCount` per top-level column — the same
  * metadata the reference's kernel scan uses for file pruning
  * (/root/reference/crates/providers/src/deltatable.rs:279-284,454-469).
  * [[DeltaSnapshotFileIndex.listFiles]] calls [[mayMatch]] with the scan's
  * pushed data filters; files whose min/max ranges provably exclude every
  * matching row are dropped BEFORE the scan, so a selective predicate on a
  * 100 TB table touches only the files that can contain hits.
  *
  * Evaluation is strictly conservative: any filter shape, column, or type
  * we can't reason about returns "may match". Skipping only fires on
  * `And`/`Or` over comparisons between a top-level attribute and a literal
  * (plus `In`, `IsNull`, `IsNotNull`), over atomic orderable types.
  */
object DeltaStats {

  private val mapper = new ObjectMapper()

  final case class FileStats(
      numRecords: Option[Long],
      minValues: Map[String, JsonNode],
      maxValues: Map[String, JsonNode],
      nullCount: Map[String, Long])

  private[sources] def parse(statsJson: String): Option[FileStats] =
    try {
      val node = mapper.readTree(statsJson)
      def leaves(field: String): Map[String, JsonNode] =
        Option(node.get(field)).map { o =>
          o.properties().asScala().map(e => e.getKey -> e.getValue)
            .filterNot(_._2.isNull).toMap
        }.getOrElse(Map.empty)
      Some(FileStats(
        Option(node.get("numRecords")).filterNot(_.isNull).map(_.asLong()),
        leaves("minValues"),
        leaves("maxValues"),
        Option(node.get("nullCount")).map { o =>
          o.properties().asScala()
            .filter(e => e.getValue.isNumber)
            .map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty)))
    } catch { case _: Exception => None }

  /** The `stats` string of an add action from a file's collected stats
    * text — the inverse of [[parse]]. Min/max ride only for
    * stat-writable types ([[StatsParquetFormat.statWritable]]). */
  private[sources] def json(st: StatsParquetFormat.FileStatsText,
      dataFields: Seq[StructField]): String = {
    import DeltaActions.jstr
    val statFields =
      dataFields.filter(f => StatsParquetFormat.statWritable(f.dataType))
    def bounds(of: Map[String, String]): String = statFields.flatMap { sf =>
      of.get(sf.name).map(v => s"${jstr(sf.name)}:${jsonVal(sf.dataType, v)}")
    }.mkString(",")
    val nulls = dataFields.map(sf =>
      s"${jstr(sf.name)}:${st.nullCount(sf.name)}").mkString(",")
    s"""{"numRecords":${st.numRecords},"minValues":{${bounds(st.minValues)}},""" +
      s""""maxValues":{${bounds(st.maxValues)}},"nullCount":{$nulls}}"""
  }

  /** Numeric/boolean stat text goes out as a raw JSON scalar when it is
    * one (NaN/Infinity are not valid JSON numbers — quote them; readers
    * take `asText()` either way); everything else is quoted. */
  private def jsonVal(dt: DataType, text: String): String = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
         DoubleType | _: DecimalType
        if text.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?") => text
    case BooleanType if text == "true" || text == "false" => text
    case _ => DeltaActions.jstr(text)
  }

  // jackson's properties() returns a java Set of Map.Entry
  private implicit final class EntrySetOps(
      private val s: java.util.Set[java.util.Map.Entry[String, JsonNode]])
      extends AnyVal {
    def asScala(): Iterator[java.util.Map.Entry[String, JsonNode]] = {
      val it = s.iterator()
      new Iterator[java.util.Map.Entry[String, JsonNode]] {
        def hasNext: Boolean = it.hasNext
        def next(): java.util.Map.Entry[String, JsonNode] = it.next()
      }
    }
  }

  /** Could any row of `a` satisfy ALL of `dataFilters`? True when stats
    * are missing or inconclusive (never skip on uncertainty). */
  def mayMatch(a: DeltaActions.AddFile,
      dataFilters: Seq[Expression]): Boolean =
    mayMatch(a.stats.flatMap(parse), dataFilters)

  /** Pre-parsed variant — [[DeltaSnapshotFileIndex]] parses each file's
    * stats once at construction and calls this per planning pass. */
  def mayMatch(stats: Option[FileStats],
      dataFilters: Seq[Expression]): Boolean =
    stats match {
      case None => true
      case Some(st) =>
        if (st.numRecords.contains(0L)) false
        else dataFilters.forall(f => eval(f, st))
    }

  /** Stat-level three-valued evaluation collapsed to two: false ONLY when
    * the file provably contains no matching row. */
  private def eval(e: Expression, st: FileStats): Boolean = e match {
    case And(l, r) => eval(l, st) && eval(r, st)
    case Or(l, r) => eval(l, st) || eval(r, st)
    case e @ (_: EqualTo | _: EqualNullSafe) =>
      AttrLit.unapply(e.asInstanceOf[BinaryComparison]) match {
        case Some((n, dt, v)) =>
          cmpGe(st.maxValues.get(n), v, dt) &&
            cmpLe(st.minValues.get(n), v, dt)
        case None => true
      }
    case LessThan(a: AttributeReference, Literal(v, _)) if v != null =>
      cmpLt(st.minValues.get(a.name), v, a.dataType)
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
      cmpLe(st.minValues.get(a.name), v, a.dataType)
    case GreaterThan(a: AttributeReference, Literal(v, _)) if v != null =>
      cmpGt(st.maxValues.get(a.name), v, a.dataType)
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) if v != null =>
      cmpGe(st.maxValues.get(a.name), v, a.dataType)
    // literal-on-the-left: flip
    case LessThan(Literal(v, _), a: AttributeReference) if v != null =>
      cmpGt(st.maxValues.get(a.name), v, a.dataType)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
      cmpGe(st.maxValues.get(a.name), v, a.dataType)
    case GreaterThan(Literal(v, _), a: AttributeReference) if v != null =>
      cmpLt(st.minValues.get(a.name), v, a.dataType)
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) if v != null =>
      cmpLe(st.minValues.get(a.name), v, a.dataType)
    case In(a: AttributeReference, list) if list.forall {
          case Literal(v, _) => v != null
          case _ => false
        } =>
      list.exists { case Literal(v, _) =>
        cmpGe(st.maxValues.get(a.name), v, a.dataType) &&
          cmpLe(st.minValues.get(a.name), v, a.dataType)
      }
    case IsNull(a: AttributeReference) =>
      st.nullCount.get(a.name).forall(_ > 0L)
    case IsNotNull(a: AttributeReference) =>
      (st.nullCount.get(a.name), st.numRecords) match {
        case (Some(nulls), Some(n)) => nulls < n
        case _ => true
      }
    case _ => true // unknown shape — never skip
  }

  /** Extract (name, dataType, literalValue) from attr-vs-literal in either
    * order; literal nulls never justify skipping here. */
  private object AttrLit {
    def unapply(args: (Expression, Expression)): Option[(String, DataType, Any)] =
      args match {
        case (a: AttributeReference, Literal(v, _)) if v != null =>
          Some((a.name, a.dataType, v))
        case (Literal(v, _), a: AttributeReference) if v != null =>
          Some((a.name, a.dataType, v))
        case _ => None
      }
    def unapply(e: BinaryComparison): Option[(String, DataType, Any)] =
      unapply((e.left, e.right))
  }

  // -------------------------------------------------------- stat compares
  // Each returns TRUE when the stat is absent/unconvertible (conservative)
  // and otherwise compares the stat bound to the literal under the
  // column's interpreted ordering.

  /** WHITELIST of types whose delta stat text form provably round-trips
    * through `Cast(string → dt)` AND whose interpreted ordering matches
    * the stat's min/max semantics: numerics, decimal, string, boolean,
    * date, timestamps, ANSI intervals. Everything else — containers,
    * UDTs, CalendarIntervalType, binary (writers disagree on the text
    * encoding of byte stats), future types — returns false and the file
    * is conservatively KEPT. Membership here is the safety argument;
    * skipping must never depend on Cast merely not throwing for an
    * unvetted type. */
  private def statBearing(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BooleanType |
         DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    // strings: ONLY the binary collation. Delta stat min/max for strings
    // are binary-ordered, but getInterpretedOrdering for a collated
    // StringType compares collation-aware — pruning with it against
    // binary-ordered bounds could drop a file whose rows match under the
    // collation (e.g. UTF8_LCASE 'A' = 'a' vs binary min 'B').
    case st: StringType => st == StringType // default = UTF8_BINARY only
    case _: DayTimeIntervalType | _: YearMonthIntervalType => true
    case _ => false
  }

  private def statValue(node: JsonNode, dt: DataType): Option[Any] =
    if (!statBearing(dt)) None
    else
      try {
        // stat JSON scalars round-trip exactly through their text form;
        // Cast from string gives the internal representation for every
        // whitelisted type (dates, timestamps, decimals included).
        // Timestamp stats are interpreted in the session zone, matching
        // DeltaSnapshotFileIndex's partition-value casts.
        Option(Cast(Literal(UTF8String.fromString(node.asText()), StringType),
          dt, Option(org.apache.spark.sql.internal.SQLConf.get
            .sessionLocalTimeZone)).eval(null))
      } catch { case _: Exception => None }

  private def cmp(statNode: Option[JsonNode], lit: Any, dt: DataType)(
      test: Int => Boolean): Boolean =
    (for {
      node <- statNode
      sv <- statValue(node, dt)
      ord <- interpretedOrdering(dt)
    } yield test(ord.compare(sv, lit))).getOrElse(true)

  private def interpretedOrdering(dt: DataType): Option[Ordering[Any]] =
    if (!statBearing(dt)) None
    else
      try Some(TypeUtils.getInterpretedOrdering(dt))
      catch { case _: Exception => None }

  private def cmpLt(s: Option[JsonNode], v: Any, dt: DataType): Boolean =
    cmp(s, v, dt)(_ < 0)
  private def cmpLe(s: Option[JsonNode], v: Any, dt: DataType): Boolean =
    cmp(s, v, dt)(_ <= 0)
  private def cmpGt(s: Option[JsonNode], v: Any, dt: DataType): Boolean =
    cmp(s, v, dt)(_ > 0)
  private def cmpGe(s: Option[JsonNode], v: Any, dt: DataType): Boolean =
    cmp(s, v, dt)(_ >= 0)
}
