package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the portable 60-bit md5 hash every dedup
  * operator shares, straight from the digest bytes.
  *
  * The composable spelling — `conv(substr(md5(s), 2, 15), 16, 10)` —
  * formats the 16-byte digest into a 32-char hex string, substrings it,
  * and re-parses 15 hex chars back into a long: three string
  * materializations per hashed shingle on the hottest path the engine
  * has (q41/q42/q43/q89/q96/q110/q111 hash one row per shingle/token
  * occurrence — corpus × ~doc-length rows). This expression computes the
  * identical value without leaving primitives: md5 (commons-codec, on
  * Spark's own classpath) then bit-packing of the digest's nibbles 1..15
  * (hex char k = nibble k, so `substr(hex, 2, 15)` = low nibble of byte
  * 0 followed by bytes 1..7 — see [[Md5Long.hash60]]).
  *
  * Value identity with the SQL spelling (and with DuckDB's
  * `('0x' || substr(md5(x), 2, 15))::BIGINT` oracle side) is pinned by
  * PropertySpec over random unicode strings.
  */
case class Md5Long(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_60 requires a string argument, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    Md5Long.hash60(input.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.Md5Long.hash60($c.getBytes())")

  override protected def withNewChildInternal(
      newChild: Expression): Md5Long = copy(child = newChild)
}

object Md5Long {

  /** First 60 bits of md5 as used by the hex spelling: hex chars 2..16
    * (1-indexed) = low nibble of digest byte 0, then digest bytes 1..7.
    * Always non-negative (< 2^60). Called from generated code. */
  def hash60(bytes: Array[Byte]): Long =
    pack60(org.apache.commons.codec.digest.DigestUtils.md5(bytes))

  /** [[hash60]]'s bit-packing of a 16-byte md5 digest. */
  def pack60(d: Array[Byte]): Long = {
    var v = (d(0) & 0xfL) << 56
    var i = 1
    while (i < 8) {
      v |= (d(i) & 0xffL) << ((7 - i) * 8)
      i += 1
    }
    v
  }

  /** Column-level API. */
  def md5_60(c: Column): Column =
    ColumnBridge.column(Md5Long(ColumnBridge.expression(c)))

  /** The SQL builder [[graft.GraftExtensions]] injects:
    * `md5_60(string) → bigint`. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"md5_60 expects 1 string argument, got ${exprs.length}")
    Md5Long(exprs.head)
  }
}
