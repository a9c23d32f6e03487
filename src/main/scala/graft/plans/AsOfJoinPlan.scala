package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class Catalyst operator (builder-prompt
  * custom-operator case (c): LogicalPlan + SparkStrategy + SparkPlan):
  * for every left row, the latest right row of the same key with
  * `right.time <= left.time`, left-outer semantics.
  *
  * Contrast with [[graft.operators.AsOf]] (case (a): union + window
  * composition): the native operator
  *  - shuffles each side ONCE on its key and merges sorted runs in a
  *    single streaming pass per partition — no union row inflation, no
  *    window-function state, O(1) memory beyond one buffered row;
  *  - never materializes right rows that match no left row;
  *  - keeps both inputs' columnar scans intact (each side prunes its
  *    own columns independently — the union form widens both sides to
  *    a common struct schema first).
  *
  * The physical contract mirrors SortMergeJoin: children clustered on
  * the keys and sorted by (keys, time); EnsureRequirements inserts the
  * exchanges/sorts, AQE coalesces them as usual.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoin → AsOfJoinExec (injected by
  * [[graft.core.GraftExtensions]]). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(lk, rk, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // Left side only (mirrors SortMergeJoinExec's LeftOuter case): the
  // join is left-outer, so unmatched left rows carry null-extended right
  // columns that do NOT satisfy the right side's HashPartitioning — a
  // downstream operator clustering on right-side keys must re-exchange.
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKeys
    val rk = rightKeys
    val lt = leftTime
    val rt = rightTime
    val out = output
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // codegen'd orderings/projections are not serializable — build
      // them per partition, on the executor
      val keyOrdering = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val timeOrdering = RowOrdering.createNaturalAscendingOrdering(Seq(timeType))
      val lKeyProj = UnsafeProjection.create(lk, leftOut)
      val rKeyProj = UnsafeProjection.create(rk, rightOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val resultProj = UnsafeProjection.create(out, out)
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      // last right row (and its key) consumed with ts <= current left ts
      var lastR: InternalRow = null
      var lastRKey: InternalRow = null

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTs = lTimeProj(l).copy()
        // SQL semantics: NULL keys/timestamps never match (natural-
        // ordering comparison alone would treat NULL as smallest value
        // and happily join it)
        val lNull = lKey.anyNull || lTs.isNullAt(0)
        // a buffered match from a previous (smaller) key is stale
        if (lastR != null && keyOrdering.compare(lastRKey, lKey) != 0) {
          lastR = null; lastRKey = null
        }
        var advance = !lNull
        while (advance && rBuf.hasNext) {
          val rKey = rKeyProj(rBuf.head)
          val rTime = rTimeProj(rBuf.head)
          val c = keyOrdering.compare(rKey, lKey)
          if (c < 0 || rKey.anyNull || rTime.isNullAt(0)) {
            rBuf.next() // dead right row (smaller key, or NULLs): discard
          } else if (c == 0 && timeOrdering.compare(rTime, lTs) <= 0) {
            lastR = rBuf.next().copy()
            lastRKey = lKey.copy()
          } else {
            advance = false // right is ahead: stop for this left row
          }
        }
        resultProj(joined(l,
          if (lastR != null && !lNull) lastR else nullRight))
      }
    }
  }
}
