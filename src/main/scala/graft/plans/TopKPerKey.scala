package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSeq, BindReferences, Descending, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.unsafe.types.UTF8String

/**
 * Per-key top-k as a first-class operator: logical node + strategy + two-phase
 * physical plan (SURVEY §7 tier (c): custom `LogicalPlan` + `SparkStrategy` +
 * `SparkPlan` for whole-operator semantics Spark lacks).
 *
 * The built-in formulation — `row_number() OVER (PARTITION BY key ORDER BY
 * ord) <= k` — shuffles and sorts EVERY input row. This operator keeps a
 * bounded heap per key *before* the exchange, so the shuffle carries at most
 * `k × keys-per-partition` rows per map task, then finalizes per key after
 * co-location (the partial/final split Spark applies to aggregates, applied
 * to top-k). At 100 TB with bounded key cardinality this replaces a
 * full-data shuffle+sort with a survivors-only shuffle.
 *
 * Rows within a key rank lexicographically by the `order` columns with NULL
 * order keys ranked last in both directions (`NULLS LAST` semantics — they
 * fill top-k slots only when a key group has fewer than k non-null-ordered
 * rows); include a unique tiebreak column for deterministic output.
 */
object TopKPerKey {

  /** DataFrame API: top `k` rows per distinct value of `keyCols`, ranked by
    * `orderCol` descending (set `asc=true` for ascending). */
  def topK(df: DataFrame, keyCols: Seq[String], orderCol: String, k: Int,
           asc: Boolean = false): DataFrame =
    topKBy(df, keyCols, Seq((orderCol, asc)), k)

  /** Lexicographic multi-column ranking: `orders` is (column, ascending)
    * pairs, e.g. `Seq(("sim", false), ("vec_id", true))` ≡
    * `ORDER BY sim DESC, vec_id ASC`. */
  def topKBy(df: DataFrame, keyCols: Seq[String], orders: Seq[(String, Boolean)],
             k: Int): DataFrame = {
    require(orders.nonEmpty, "topKBy needs at least one order column")
    val spark = df.sparkSession
    Shim.installStrategy(spark, TopKPerKeyStrategy)
    val child = Shim.logicalPlan(df)
    val keyAttrs = keyCols.map(c => resolveAttr(child, c))
    val sortOrders = orders.map { case (c, asc) =>
      SortOrder(resolveAttr(child, c), if (asc) Ascending else Descending)
    }
    Shim.ofRows(spark, TopKPerKeyNode(k, keyAttrs, sortOrders, child))
  }

  private def resolveAttr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"column $name not in ${plan.output.map(_.name).mkString(", ")}"))
}

case class TopKPerKeyNode(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
                          child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child) =>
      // partial below the exchange, final above it (EnsureRequirements adds
      // the hash exchange to satisfy FinalExec's required distribution)
      FinalTopKPerKeyExec(k, keys, order,
        PartialTopKPerKeyExec(k, keys, order, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Shared per-partition bounded-heap pass: emits the local top-k per key. */
private[plans] object TopKHeaps {
  def localTopK(iter: Iterator[InternalRow], output: Seq[Attribute],
                keys: Seq[Attribute], order: Seq[SortOrder], k: Int): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(keys, output)
    val rowProj = UnsafeProjection.create(output, output)
    val sortExprs = order.map(o =>
      BindReferences.bindReference(o.child, AttributeSeq(output))).toArray
    val naturals = order.map(o => org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(o.child.dataType)).toArray
    val descending = order.map(_.direction == Descending).toArray
    val nOrd = sortExprs.length
    // strength: greater = survives; heap head (max of reversed) = weakest.
    // Lexicographic over the order columns; a NULL order key is the weakest
    // in BOTH directions (ORDER BY ... NULLS LAST): it fills remaining top-k
    // slots only when a key group has fewer than k non-null-ordered rows,
    // matching `row_number() OVER (... ORDER BY o1 [DESC], o2 ... NULLS
    // LAST) <= k`.
    val strength: Ordering[(Array[Any], UnsafeRow)] = new Ordering[(Array[Any], UnsafeRow)] {
      override def compare(a: (Array[Any], UnsafeRow), b: (Array[Any], UnsafeRow)): Int = {
        var i = 0
        while (i < nOrd) {
          val x = a._1(i)
          val y = b._1(i)
          val c =
            if (x == null && y == null) 0
            else if (x == null) -1
            else if (y == null) 1
            else {
              val n = naturals(i).compare(x, y)
              if (descending(i)) n else -n
            }
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    val heaps = new java.util.HashMap[UnsafeRow, scala.collection.mutable.PriorityQueue[(Array[Any], UnsafeRow)]]()
    while (iter.hasNext) {
      val row = iter.next()
      val vs = new Array[Any](nOrd)
      var i = 0
      while (i < nOrd) {
        vs(i) = sortExprs(i).eval(row) match {
          case s: UTF8String => s.clone() // may point into a reused row buffer
          case x => x
        }
        i += 1
      }
      val key = keyProj(row)
      var heap = heaps.get(key)
      if (heap == null) {
        heap = scala.collection.mutable.PriorityQueue.empty(strength.reverse)
        heaps.put(key.copy(), heap)
      }
      if (heap.size < k) heap.enqueue((vs, rowProj(row).copy()))
      else if (strength.compare((vs, null), heap.head) > 0) {
        heap.dequeue()
        heap.enqueue((vs, rowProj(row).copy()))
      }
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    heaps.values().forEach { h =>
      // dequeueAll yields weakest-first; reverse for strongest-first per key
      val drained: Seq[(Array[Any], UnsafeRow)] = h.dequeueAll
      drained.reverseIterator.foreach(p => out += p._2)
    }
    out.iterator
  }
}

case class PartialTopKPerKeyExec(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
                                 child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(it => TopKHeaps.localTopK(it, child.output, keys, order, k))
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

case class FinalTopKPerKeyExec(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
                               child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil
  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions(it => TopKHeaps.localTopK(it, child.output, keys, order, k))
  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}
