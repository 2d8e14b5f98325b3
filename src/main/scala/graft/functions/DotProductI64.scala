package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Native Catalyst expression: integer dot product of two BIGINT arrays.
  *
  * The composable spelling — `aggregate(zip_with(a, b, (x,y) -> x*y), 0L,
  * (acc,x) -> acc+x)` — allocates an intermediate array and evaluates two
  * lambda closures per element, outside whole-stage codegen's fused loop.
  * This expression generates a single primitive loop (doGenCode), keeping
  * the ANN/dedup scoring kernels (q44/q67/q68) inside codegen, and it
  * matches that spelling's SEMANTICS too: mismatched lengths or a null
  * element yield NULL (zip_with pads the shorter side with null; null
  * poisons the aggregate) — never a silently truncated or zero-padded
  * score. The per-element null check is emitted only when an input's
  * array type says `containsNull` — the ANN corpus columns don't, so the
  * hot loop stays two loads + fma per element. Overflow semantics: plain
  * Java long arithmetic (callers quantize to ≤ 2^17 per element, so
  * 64-dim dots stay far below 2^63).
  */
case class DotProductI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  // NULL on length mismatch / null element, even for non-null inputs
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_i64 requires two array<bigint> arguments, got " +
            s"${left.dataType.catalogString} / ${right.dataType.catalogString}")
    }
  }

  // invariant for the expression's lifetime; lazy val keeps it out of
  // the interpreted path's per-element loop (transient: recomputed
  // after executor deserialization, never shipped)
  @transient private lazy val mayHoldNulls: Boolean =
    Seq(left, right).exists {
      e => e.dataType.asInstanceOf[ArrayType].containsNull
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val checkNulls = mayHoldNulls // hoisted: lazy-val read out of the loop
    var acc = 0L
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (mayHoldNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductI64 =
    copy(left = newLeft, right = newRight)
}

object DotProductI64 {

  /** Column-level API. */
  def dot_i64(a: Column, b: Column): Column =
    ColumnBridge.column(DotProductI64(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The SQL builder [[graft.GraftExtensions]] injects:
    * `dot_i64(array<bigint>, array<bigint>) → bigint`. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"dot_i64 expects 2 arguments (array<bigint>, array<bigint>), " +
        s"got ${exprs.length}")
    DotProductI64(exprs(0), exprs(1))
  }
}
