package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the [[Md5Long]] hash of every window of
  * `k` consecutive space-separated words, in window order —
  * `word_ngram_md5_60(text, k)` equals
  * `transform(sequence(1, size(w) - k + 1),
  *            i -> md5_60(concat_ws(' ', slice(w, i, k))))`
  * with `w = split(text, ' ')`, for every text with at least `k` words.
  *
  * The composable spelling is an interpreted lambda that materializes a
  * token array, then one slice array and one joined string per window,
  * per document — on the shingle stage of every dedup query, which runs
  * as one task when the corpus is one file. A window of
  * single-space-separated tokens is
  * exactly a byte range of the UTF-8 text (runs of spaces are empty
  * tokens, and byte 0x20 never occurs inside a multi-byte character), so
  * this expression scans the text once for spaces and feeds each range
  * straight to md5 — no token strings at all.
  *
  * Fewer than `k` words yields an empty array, where the composable
  * spelling's `sequence` counts DOWN and `slice(w, 0, k)` throws — the
  * DuckDB oracles' `WHERE i <= len(w) - k + 1` likewise emit nothing.
  * `k` must be >= 1. Text is hashed as its raw bytes; the composable
  * spelling round-trips through `java.lang.String`, so the two differ
  * only on malformed UTF-8.
  *
  * Value identity with the composable spelling, in both the codegen and
  * the interpreted path, is pinned by PropertySpec over random text with
  * space runs, edge spaces and non-ASCII characters.
  */
case class WordNgramMd5Long(text: Expression, k: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = k

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, k.dataType) match {
      case (StringType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (t, n) => TypeCheckResult.TypeCheckFailure(
        "word_ngram_md5_60 requires (string, int) arguments, got " +
          s"(${t.catalogString}, ${n.catalogString})")
    }

  override def nullSafeEval(t: Any, n: Any): Any =
    WordNgramMd5Long.hashes(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, n) => s"graft.functions.WordNgramMd5Long.hashes($t, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WordNgramMd5Long =
    copy(text = newLeft, k = newRight)
}

object WordNgramMd5Long {

  private val Space: Byte = ' '

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** Called from generated code. */
  def hashes(text: UTF8String, k: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windows(text.getBytes, k))

  /** md5_60 of each k-word window of `bytes`, split at every 0x20 byte. */
  private def windows(bytes: Array[Byte], k: Int): Array[Long] = {
    require(k >= 1, s"word_ngram_md5_60 needs k >= 1, got $k")
    var words = 1
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == Space) words += 1
      i += 1
    }
    if (words < k) return Array.emptyLongArray
    // starts(j) = first byte of word j; starts(words) = one past the
    // text's end, so word j ends at starts(j + 1) - 1 (its trailing space)
    val starts = new Array[Int](words + 1)
    var w = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == Space) { starts(w) = i + 1; w += 1 }
      i += 1
    }
    starts(words) = bytes.length + 1
    val md = md5.get()
    val out = new Array[Long](words - k + 1)
    var j = 0
    while (j < out.length) {
      md.update(bytes, starts(j), starts(j + k) - 1 - starts(j))
      out(j) = Md5Long.pack60(md.digest())
      j += 1
    }
    out
  }

  /** Column-level API. */
  def wordNgramMd5_60(text: Column, k: Int): Column =
    ColumnBridge.column(WordNgramMd5Long(
      ColumnBridge.expression(text), ColumnBridge.expression(lit(k))))

  /** The SQL builder [[graft.GraftExtensions]] injects:
    * `word_ngram_md5_60(string, int) → array<bigint>`. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"word_ngram_md5_60 expects (text, k), got ${exprs.length} arguments")
    WordNgramMd5Long(exprs(0), exprs(1))
  }
}
