package graft.ingest

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-task runtime of [[DvLiveExpr]]: resolves a row's file — its
  * raw `_metadata.file_path` URI, normalized by
  * [[DeltaLakeRead.normFile]] — to its deletion-vector bitmap
  * (broadcast descriptor map → executor-cached decoded positions,
  * [[DeltaLakeRead.dvPositionsCached]]) and binary-searches the row
  * index. Rows arrive file-clustered, so a one-entry memo turns the
  * URI decoding, map lookup and cache probe into one string compare
  * for all but the first row of each file. One instance is
  * deserialized per task (it rides the plan), so the memo needs no
  * synchronization; the broadcast keeps the descriptor map out of
  * every task binary. */
final class DvLiveHelper(
    bc: Broadcast[Map[String, DeletionVectors.Descriptor]],
    root: String) extends Serializable {
  @transient private var lastFile: UTF8String = _
  @transient private var lastPositions: Array[Long] = _

  def isLive(file: UTF8String, pos: Long): Boolean = {
    if (lastFile == null || !lastFile.equals(file)) {
      // the scanner may reuse the UTF8String's backing buffer between
      // rows — memoize a stable copy
      lastFile = file.clone()
      lastPositions = bc.value.get(DeltaLakeRead.normFile(file.toString))
        .map(d => DeltaLakeRead.dvPositionsCached(root, d)).orNull
    }
    lastPositions == null ||
      java.util.Arrays.binarySearch(lastPositions, pos) < 0
  }
}

/** `dv_live(file_uri, row_index)` — TRUE when the row is NOT masked by
  * its file's deletion vector. A native Catalyst expression with real
  * codegen (the [[graft.functions.RollingHashExpr]] pattern): the
  * whole DV subtraction stays inside the scan's WholeStageCodegen
  * span as one virtual call per row, where the previous Scala UDF
  * paid per-row catalyst↔scala marshaling and fenced the generated
  * stage. Zero shuffle either way — this is the codegen'd form of the
  * scan-side filter that replaced the 748 MB anti-join exchange the
  * sf10 audit caught. */
case class DvLiveExpr(left: Expression, right: Expression,
    helper: DvLiveHelper) extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(file: Any, pos: Any): Any =
    helper.isLive(file.asInstanceOf[UTF8String],
      pos.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val h = ctx.addReferenceObj("dvLiveHelper", helper,
      classOf[DvLiveHelper].getName)
    defineCodeGen(ctx, ev, (f, p) => s"$h.isLive($f, $p)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DvLiveExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dv_live"
}
