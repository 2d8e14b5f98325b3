package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DeletionVectors
import graft.sources.DeltaActions.DvDescriptor

/** Native Catalyst predicate: is row `rowIndex` of data file `filePath`
  * marked deleted by that file's Delta deletion vector?
  *
  * The scan-level spelling of a DV'd read — `NOT dv_deleted(
  * _metadata.file_path, _metadata.row_index)` filters the parquet scan
  * directly (the reference maps DVs to parquet row selections inside its
  * scan, deltatable.rs:495-577; delta-spark's `__delta_internal_is_row_
  * deleted` column is the same idea inside the reader). The expression
  * carries only the descriptors, keyed by the `_metadata.file_path`
  * spelling (`file:` URI, RFC-encoded specials), so they travel once per
  * stage in the task binary — O(#DV'd files), the order of the snapshot
  * the driver already holds. No `(file, row)` pair is ever shuffled,
  * broadcast or collected, and no bitmap is decoded on the driver: each
  * task decodes only the vectors of the files it reads, on a file's
  * first row, and keeps the last one (a task reads its files one after
  * another, and a file split across tasks keeps its file-global row
  * index). Files without a vector keep no rows dead.
  */
case class DvDeleted(filePath: Expression, rowIndex: Expression,
    vectors: Map[String, DvDescriptor], tableRoot: String)
    extends BinaryExpression with Predicate {

  override def left: Expression = filePath
  override def right: Expression = rowIndex
  override def prettyName: String = "dv_deleted"

  // the plan string names the vector count, not every descriptor
  override protected def stringArgs: Iterator[Any] =
    Iterator(filePath, rowIndex, s"${vectors.size} vectors")

  // one probe per deserialized expression, i.e. per task
  @transient private lazy val probe = new DvDeleted.Probe(vectors, tableRoot)

  override def nullSafeEval(path: Any, row: Any): Any =
    probe.deleted(path.asInstanceOf[UTF8String], row.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the references array ships with the generated stage's closure, so
    // every task deserializes its own probe
    val p = ctx.addReferenceObj("dvProbe",
      new DvDeleted.Probe(vectors, tableRoot),
      classOf[DvDeleted.Probe].getName)
    defineCodeGen(ctx, ev, (path, row) => s"$p.deleted($path, $row)")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvDeleted =
    copy(filePath = newLeft, rowIndex = newRight)
}

object DvDeleted {

  /** Per-task decode state: the sorted dead rows of the last file seen.
    * Called from generated code. */
  final class Probe(vectors: Map[String, DvDescriptor], tableRoot: String)
      extends Serializable {
    private var file: UTF8String = _
    private var dead: Array[Long] = Array.emptyLongArray

    def deleted(path: UTF8String, row: Long): Boolean = {
      if (!path.equals(file)) {
        dead = vectors.get(path.toString).fold(Array.emptyLongArray) { dv =>
          val rows = DeletionVectors.deletedRows(dv, tableRoot).toArray
          java.util.Arrays.sort(rows)
          rows
        }
        file = path.clone()
      }
      dead.length > 0 && java.util.Arrays.binarySearch(dead, row) >= 0
    }
  }

  /** Column-level API: `vectors` maps each DV'd file's
    * `_metadata.file_path` spelling to its descriptor. */
  def dvDeleted(filePath: Column, rowIndex: Column,
      vectors: Map[String, DvDescriptor], tableRoot: String): Column =
    ColumnBridge.column(DvDeleted(ColumnBridge.expression(filePath),
      ColumnBridge.expression(rowIndex), vectors, tableRoot))
}
