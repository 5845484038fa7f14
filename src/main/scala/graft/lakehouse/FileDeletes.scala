package graft.lakehouse

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** One data file's positional deletes as a reader probes them: its
  * deletion vector and its sorted tombstoned positions (each empty
  * when absent). Kept apart, a tombstone costs its 8 bytes, not a
  * rows/8 bitmap for every file a scattered DELETE names. */
final case class FileDeletes(bitmap: Array[Byte], positions: Array[Long]) {
  def apply(row: Long): Boolean =
    graft.functions.NativeKernels.bitsetGet(bitmap, row) ||
      java.util.Arrays.binarySearch(positions, row) >= 0
}

/** Whether the row at (`left` = data file in `_metadata.file_path`
  * form, `right` = row index) is deleted under a snapshot's broadcast
  * per-file deletes — the plan carries only the handle. Consecutive
  * rows come from one file, so a task looks each file up once a run. */
final case class RowDeleted(deletes: Broadcast[Map[String, FileDeletes]],
    left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_row_deleted"
  // per task: each task deserializes its own copy of the expression
  @transient private var lastFile: UTF8String = _
  @transient private var last: FileDeletes = _

  def deleted(file: UTF8String, row: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      lastFile = file.clone() // the row's bytes are reused
      last = deletes.value.get(file.toString).orNull
    }
    last != null && last(row)
  }

  override protected def nullSafeEval(f: Any, r: Any): Any =
    deleted(f.asInstanceOf[UTF8String], r.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftDeletes", this, classOf[RowDeleted].getName)
    defineCodeGen(ctx, ev, (f, r) => s"$ref.deleted($f, $r)")
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): Expression = copy(left = l, right = r)
}
