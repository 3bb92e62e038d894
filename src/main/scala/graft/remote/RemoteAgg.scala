package graft.remote

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

/** One partial-aggregation buffer: the guest's opaque state blob plus rows
  * not yet shipped. Rows batch up to [[RemoteProtocol.BatchSize]] before an
  * `ACC` exchange, so wire round-trips amortize over many input rows. */
private[remote] final class RemoteAggBuf(
    var state: Array[Byte],
    val pending: scala.collection.mutable.ArrayBuffer[Seq[Any]])

/**
 * A guest-evaluated aggregate: Spark's hash aggregation drives the
 * reference's five-phase lifecycle over the wire
 * (`arrow-udf-runtime/src/python/mod.rs:229-309,456-656`):
 *
 *  - partial `update` buffers rows and folds them guest-side via `ACC`
 *    (create_state + accumulate) — map-side partial aggregation, so only
 *    one opaque state blob per group per partition rides the shuffle;
 *  - `merge` combines two blobs via `ACCMERGE` (guest `merge`);
 *  - `eval` runs `ACCFINISH` (guest `finish`) and converts the typed result.
 *
 * The state blob is never interpreted engine-side — the `arrowudf.pickle`
 * contract (SURVEY §2.1 #17) extended over the wire. Every exchange runs on
 * this executor thread's pinned [[FailoverSession]] over `endpoints`
 * (starting at partition id mod pool size), so a dead endpoint is skipped
 * and a failed exchange is replayed on the next one, as for remote calls.
 */
case class RemoteAggExpr(
    name: String,
    wire: RemoteWire,
    endpoints: IndexedSeq[(String, Int)],
    resultType: DataType,
    children: Seq[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[RemoteAggBuf] {

  @transient private lazy val proj = UnsafeProjection.create(children)
  @transient private lazy val argTypes = children.map(_.dataType)
  @transient private lazy val dts = argTypes.toArray
  @transient private lazy val toScala = dts.map(CatalystTypeConverters.createToScalaConverter)
  @transient private lazy val toCatalyst =
    CatalystTypeConverters.createToCatalystConverter(resultType)

  private def pid: Int =
    Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)

  private def exchange[A](f: RemoteSession => A): A =
    FailoverSession.pinned(wire, endpoints, argTypes, pid)(f)

  private def flush(buf: RemoteAggBuf): Unit = {
    if (buf.state == null) buf.state = exchange(_.accCreate())
    if (buf.pending.nonEmpty) {
      val rows = buf.pending.toSeq
      buf.state = exchange(_.accumulate(buf.state, rows))
      buf.pending.clear()
    }
  }

  override def createAggregationBuffer(): RemoteAggBuf =
    new RemoteAggBuf(null, scala.collection.mutable.ArrayBuffer.empty)

  override def update(buf: RemoteAggBuf, row: InternalRow): RemoteAggBuf = {
    val p = proj(row)
    val args = new Array[Any](dts.length)
    var i = 0
    while (i < dts.length) {
      args(i) = if (p.isNullAt(i)) null else toScala(i)(p.get(i, dts(i)))
      i += 1
    }
    buf.pending += scala.collection.immutable.ArraySeq.unsafeWrapArray(args)
    if (buf.pending.size >= RemoteProtocol.BatchSize) flush(buf)
    buf
  }

  override def merge(buf: RemoteAggBuf, other: RemoteAggBuf): RemoteAggBuf = {
    flush(buf); flush(other)
    buf.state = exchange(_.accMerge(buf.state, other.state))
    buf
  }

  override def eval(buf: RemoteAggBuf): Any = {
    flush(buf)
    toCatalyst(exchange(_.accFinish(buf.state)))
  }

  override def serialize(buf: RemoteAggBuf): Array[Byte] = {
    flush(buf) // ship only the opaque guest state through the shuffle
    buf.state
  }
  override def deserialize(bytes: Array[Byte]): RemoteAggBuf =
    new RemoteAggBuf(bytes, scala.collection.mutable.ArrayBuffer.empty)

  override def nullable: Boolean = true
  override def dataType: DataType = resultType
  override def prettyName: String = name
  override def withNewMutableAggBufferOffset(newOffset: Int): RemoteAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): RemoteAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RemoteAggExpr =
    copy(children = newChildren)
}

object RemoteAgg {
  /** Register `name` as a session temp function evaluating aggregate `fname`
    * on Arrow-IPC endpoints (the JVM server or the CPython worker pool). */
  def register(spark: org.apache.spark.sql.SparkSession, name: String,
               endpoints: Seq[(String, Int)], fname: String,
               resultType: DataType): Unit =
    registerWire(spark, name, endpoints, resultType, IpcWire(fname, CallShape.Scalar))

  /** Register `name` as the aggregate `wire` carries (its call shape is
    * unused). The analyzer wraps the bare AggregateFunction exactly as it
    * does builtin registry aggregates. */
  private[remote] def registerWire(spark: org.apache.spark.sql.SparkSession, name: String,
      endpoints: Seq[(String, Int)], resultType: DataType, wire: RemoteWire): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      children => RemoteAggExpr(name, wire, endpoints.toIndexedSeq, resultType, children),
      "scala_udf")
}
