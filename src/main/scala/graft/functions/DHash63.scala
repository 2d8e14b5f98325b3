package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native Catalyst expression: the 63-bit perceptual dHash over a binary
  * blob ([[graft.operators.Multimodal.dHash]] — the 9×8 sampled-frame
  * grid's adjacent-byte comparisons).
  *
  * The batch q143 signature stage originally ran in the mapPartitions
  * codec seam, which costs a DeserializeToObject / SerializeFromObject
  * pair per corpus pass and splits whole-stage codegen around the
  * signature projection. Signature math on already-decoded bytes is pure
  * arithmetic, so it belongs in codegen: this expression keeps the scan
  * → project stage in one WholeStageCodegen span (the decode step a real
  * media pipeline needs STAYS in the mapPartitions seam — q50/q94 — this
  * covers only the post-decode signature). The streaming twin
  * (StreamPerceptualDedup) calls the same JVM kernel, so batch,
  * expression, and stream signatures are one implementation.
  */
case class DHash63(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dhash63 requires a binary argument, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    graft.operators.Multimodal.dHash(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.operators.Multimodal.dHash($c)")

  override protected def withNewChildInternal(
      newChild: Expression): DHash63 = copy(child = newChild)
}

object DHash63 {

  /** Column-level API. */
  def dhash63(c: Column): Column =
    ColumnBridge.column(DHash63(ColumnBridge.expression(c)))

  /** The SQL builder [[graft.GraftExtensions]] injects:
    * `dhash63(binary) → bigint`. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1,
      s"dhash63 expects 1 binary argument, got ${exprs.length}")
    DHash63(exprs.head)
  }
}
