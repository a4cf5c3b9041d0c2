package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.types._

/** Whole-operator as-of join: logical node + planner strategy + sorted-merge
  * physical operator (the brief's tier (c): `LogicalPlan` + `SparkStrategy`
  * + `SparkPlan`, registered via `SparkSessionExtensions`).
  *
  * Spark has no native as-of join, so this is the one operator in the
  * engine where built-ins genuinely can't express the PHYSICAL shape we
  * want. The composed form (`AsOfJoin.leftAsOf`, union + last-ignoreNulls
  * window) is semantically right and scales, but pays for what it borrows:
  * the union widens every wire row to left-columns + right-payload before
  * the exchange, and `WindowExec` buffers each partition to apply a frame
  * that the as-of semantics never actually needs. This operator instead
  * shuffles each side in its own (narrow) shape, sorts both by (keys,
  * time) — exchange and sort are planned by Spark itself via
  * `requiredChildDistribution` / `requiredChildOrdering`, so AQE, reused
  * exchanges and existing layouts (bucketed sides arrive exchange-free)
  * all still apply — and then streams ONE forward merge pass per
  * partition with O(1) state: no window buffer, no row widening, no
  * per-key materialization. Matching the reference's model of operators
  * as single-pass record processors (`RecordProcessorImpl.scala`), but
  * planned by Catalyst.
  *
  * Semantics are identical to `AsOfJoin.leftAsOf` (left outer; backward =
  * latest right at-or-before, forward = earliest right at-or-after,
  * nearest = closer of the two with ties backward; equal-time rows match
  * in both directions; null keys / null times never match) — pinned by
  * AsOfMergeJoinSpec equivalence tests and the q81/q82 DuckDB oracles.
  */
final case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[NamedExpression],
    payloadAttrs: Seq[Attribute],
    direction: String) extends BinaryNode {

  // payloadAttrs (the fresh, nullable output attrs for the payload) is an
  // EXPLICIT field, not derived from `payload`: optimizer rules may rewrite
  // the payload exprs — RemoveRedundantAliases turns Alias(a, a.name) into
  // the bare `a` — and a derived toAttribute would then collapse onto the
  // right child's ids, making producedAttributes swallow a genuine
  // reference and ColumnPruning drop the payload column from the child.

  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: AttributeSet = AttributeSet(payloadAttrs)
  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] as [[AsOfMergeJoinExec]]. Registered through
  * `spark.experimental.extraStrategies` by `AsOfJoin.leftAsOfNative`, the
  * only builder of the node, on the session that plans it.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfMergeJoinExec(n.leftKeys, n.rightKeys, n.leftTime, n.rightTime,
        n.payload, n.payloadAttrs, n.direction,
        planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Sorted-merge as-of join. Children are hash-clustered on the keys and
  * sorted by (keys, time) — Spark inserts (or elides, for bucketed /
  * already-sorted children) the exchanges and sorts. Each co-located
  * partition pair is merged in one forward pass holding only the latest
  * consumed right row and the un-consumed right head: per left row the
  * backward candidate is the last right row consumed at-or-before its
  * time, the forward candidate is the right head (first strictly-after
  * in nearest mode, first at-or-after in forward mode).
  *
  * Time columns must be long-backed (long/int/timestamp/timestamp_ntz/
  * date) — enforced at API construction (`AsOfJoin.leftAsOfNative`).
  */
final case class AsOfMergeJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    payload: Seq[NamedExpression],
    payloadAttrs: Seq[Attribute],
    direction: String,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // Left rows stream through in their (keys, time) sorted order.
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched left rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    val dir = direction
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val pay = payload
    val keyTypes = lKeys.map(_.dataType)
    val pAttrs = payloadAttrs
    val payLen = payloadAttrs.length
    val outRows = longMetric("numOutputRows")
    val matched = longMetric("numMatched")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val payProj = UnsafeProjection.create(pay, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val lTimeBound = BindReferences.bindReference(lTime, lOut)
      val rTimeBound = BindReferences.bindReference(rTime, rOut)
      def asLong(v: Any): Long = v match {
        case l: Long => l
        case i: Int => i.toLong
        case other => throw new IllegalStateException(
          s"as-of time evaluated to non-long-backed value $other")
      }
      val nullPayload = new GenericInternalRow(payLen)
      val joined = new JoinedRow
      // SparkPlan contract: emit UnsafeRow (this node can be the plan root).
      val resultProj = UnsafeProjection.create(lOut ++ pAttrs, lOut ++ pAttrs)

      new Iterator[InternalRow] {
        // un-consumed right head (rows with null key/time are skipped:
        // they can never match)
        private var hKey: UnsafeRow = _
        private var hTime: Long = 0L
        private var hPay: UnsafeRow = _
        private var hValid = false
        // latest consumed right row (the backward candidate)
        private var bKey: UnsafeRow = _
        private var bTime: Long = 0L
        private var bPay: UnsafeRow = _

        private def advanceRight(): Unit = {
          hValid = false
          while (!hValid && rIter.hasNext) {
            val row = rIter.next()
            val k = rKeyProj(row)
            if (!k.anyNull) {
              val t = rTimeBound.eval(row)
              if (t != null) {
                hKey = k.copy(); hTime = asLong(t); hPay = payProj(row).copy()
                hValid = true
              }
            }
          }
        }
        advanceRight()

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val lRow = lIter.next()
          val lk = lKeyProj(lRow)
          val lt = if (lk.anyNull) null else lTimeBound.eval(lRow)
          outRows += 1
          if (lt == null) return resultProj(joined(lRow, nullPayload))
          val ltv = asLong(lt)
          // Consume right rows up to this left row: everything on earlier
          // keys, plus same-key rows at-or-before (strictly-before in
          // forward mode, where an equal-time row must stay the head).
          while (hValid && {
            val c = keyOrd.compare(hKey, lk)
            c < 0 || (c == 0 && (if (dir == "forward") hTime < ltv else hTime <= ltv))
          }) {
            bKey = hKey; bTime = hTime; bPay = hPay
            advanceRight()
          }
          val backward =
            if (dir != "forward" && bPay != null && keyOrd.compare(bKey, lk) == 0) bPay
            else null
          val forward =
            if (dir != "backward" && hValid && keyOrd.compare(hKey, lk) == 0) hPay
            else null
          val m = dir match {
            case "backward" => backward
            case "forward" => forward
            case _ => // nearest: strictly-closer forward wins, ties backward
              if (backward == null) forward
              else if (forward == null) backward
              else if (hTime - ltv < ltv - bTime) forward
              else backward
          }
          if (m == null) resultProj(joined(lRow, nullPayload))
          else { matched += 1; resultProj(joined(lRow, m)) }
        }
      }
    }
  }
}
