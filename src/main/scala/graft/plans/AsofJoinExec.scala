package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.Shim

/**
 * Native as-of join operator — logical node + strategy + sort-merge exec.
 *
 * Where [[AsofJoin.asof]] composes union + window (two passes over the
 * union), this operator is the dedicated physical form: both sides hash
 * partition on the key and sort by (key, time), then ONE merge pass per
 * partition attaches the latest right row with `rightTime <= leftTime`.
 * Exchanges and sorts are inserted by `EnsureRequirements` — at scale this
 * is exactly a sort-merge join's cost with no pair explosion and no padded
 * null columns.
 *
 * Semantics match [[AsofJoin.asof]]: left-outer; `<=`; among equal right
 * times the greatest `tiebreakR` wins. Time columns must be LongType
 * (epoch millis/micros) — normalize before joining.
 */
object AsofJoinNative {

  def asof(left: DataFrame, right: DataFrame,
           keyL: String, keyR: String,
           timeL: String, timeR: String,
           tiebreakR: String,
           payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    Shim.installStrategy(spark, AsofJoinStrategy)
    val lPlan = Shim.logicalPlan(left)
    val rPlan0 = Shim.logicalPlan(right)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    // project the right side down to key/time/tiebreak/payload first
    val rProj = right.selectExpr((Seq(keyR, timeR, tiebreakR) ++ payloadCols).distinct: _*)
    val rPlan = Shim.logicalPlan(rProj)
    val node = AsofJoinNode(
      attr(lPlan, keyL), attr(rPlan, keyR),
      attr(lPlan, timeL), attr(rPlan, timeR),
      attr(rPlan, tiebreakR),
      payloadCols.map(attr(rPlan, _)),
      lPlan, rPlan)
    Shim.ofRows(spark, node)
  }
}

case class AsofJoinNode(keyL: Attribute, keyR: Attribute,
                        timeL: Attribute, timeR: Attribute,
                        tiebreakR: Attribute, payload: Seq[Attribute],
                        left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  // left columns + nullable payload columns
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(n.keyL, n.keyR, n.timeL, n.timeR, n.tiebreakR, n.payload,
        planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(keyL: Attribute, keyR: Attribute,
                        timeL: Attribute, timeR: Attribute,
                        tiebreakR: Attribute, payload: Seq[Attribute],
                        left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(keyL)) :: ClusteredDistribution(Seq(keyR)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(keyL, Ascending), SortOrder(timeL, Ascending)),
    Seq(SortOrder(keyR, Ascending), SortOrder(timeR, Ascending),
      SortOrder(tiebreakR, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val keyOrd = TypeUtils.getInterpretedOrdering(keyL.dataType)
    val lOut = left.output
    val rOut = right.output
    val keyLRef = lOut.indexWhere(_.exprId == keyL.exprId)
    val timeLRef = lOut.indexWhere(_.exprId == timeL.exprId)
    val keyRRef = rOut.indexWhere(_.exprId == keyR.exprId)
    val timeRRef = rOut.indexWhere(_.exprId == timeR.exprId)
    val keyLType = keyL.dataType
    val keyRType = keyR.dataType
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // project (left ++ full right) down to (left ++ payload) by exprId
      val outProj = UnsafeProjection.create(outAttrs, lOut ++ rOut)
      val joined = new JoinedRow()
      val nullRight = new GenericInternalRow(rOut.length)

      var rRow: InternalRow = null
      var rKey: Any = null
      var rTime: Long = 0L
      def advanceRight(): Unit = {
        rRow = null
        while (rRow == null && rIter.hasNext) {
          val r = rIter.next()
          if (!r.isNullAt(keyRRef) && !r.isNullAt(timeRRef)) {
            rRow = r
            rKey = r.get(keyRRef, keyRType) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
              case x => x // primitives are copied by value
            }
            rTime = r.getLong(timeRRef)
          }
        }
      }
      advanceRight()

      var haveBestKey = false
      var bestKey: Any = null
      var bestRight: InternalRow = null // copied — sorter rows reuse buffers

      lIter.map { l =>
        if (l.isNullAt(keyLRef) || l.isNullAt(timeLRef)) {
          outProj(joined(l, nullRight))
        } else {
          val lKey = l.get(keyLRef, keyLType)
          val lTime = l.getLong(timeLRef)
          if (!haveBestKey || keyOrd.compare(bestKey, lKey) != 0) {
            haveBestKey = true
            bestKey = lKey match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.clone()
              case x => x
            }
            bestRight = null
          }
          // consume right rows up to (lKey, lTime]; last one wins (sorted by
          // time then tiebreak, so the strongest match is the latest seen)
          var continue = rRow != null
          while (continue) {
            val c = keyOrd.compare(rKey, lKey)
            if (c < 0) {
              advanceRight(); continue = rRow != null
            } else if (c == 0 && rTime <= lTime) {
              bestRight = rRow.copy()
              advanceRight(); continue = rRow != null
            } else continue = false
          }
          outProj(joined(l, if (bestRight == null) nullRight else bestRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}
