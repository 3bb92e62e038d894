package graft.remote

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** What a remote call answers per chunk, and so how results land on the
  * input rows. `verb` is the command both line-framed wires speak. */
sealed abstract class CallShape(val verb: String)
object CallShape {
  /** One value per input row, appended as `value`. */
  case object Scalar extends CallShape("CALL")
  /** A (value, error) pair per input row, appended as `value` and `error`:
    * a failing row carries (NULL, message) instead of failing the partition. */
  case object Fallible extends CallShape("CALLERR")
  /** (input-row index, value) pairs: each input row explodes into its yields
    * (generator semantics, reference `call_table_function`). */
  case object Table extends CallShape("CALLTABLE")
}

/** One connection to one endpoint, for the wire's function. Every verb
  * throws as [[FailoverSession]] expects. */
trait RemoteSession {
  /** Evaluate one bounded chunk of argument rows. Answers `Seq(value)` or
    * `Seq(value, error)` per input row, or `Seq(rowIndex, value)` per yield
    * of a [[CallShape.Table]] call. */
  def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]]
  /** The aggregate lifecycle (create_state, accumulate, merge, finish).
    * Every request carries the guest's opaque state blob, so any endpoint
    * can serve any exchange. Wires without aggregates keep these defaults. */
  def accCreate(): Array[Byte] = noAggregates
  def accumulate(state: Array[Byte], rows: Seq[Seq[Any]]): Array[Byte] = noAggregates
  def accMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = noAggregates
  def accFinish(state: Array[Byte]): Any = noAggregates
  /** Release the connection; `dead` evicts it, since its endpoint failed. */
  def close(dead: Boolean): Unit
  private def noAggregates: Nothing =
    throw new UnsupportedOperationException("this wire carries no aggregates")
}

/** A wire adapter: how a partition task opens a [[RemoteSession]] with one
  * endpoint. Wires travel to executors in the task closure. */
trait RemoteWire extends Serializable {
  def shape: CallShape
  /** Connect to `host:port`; an `IOException` marks the endpoint dead. */
  def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession
}

/** A session over an endpoint pool with rotation, backoff and failover.
  *
  * Connect: starting at `start`, endpoints that refuse are skipped; a fully
  * dead ring is re-tried with exponential backoff (covering a restarting
  * server's window) before the task fails and Spark's task retry takes over.
  *
  * Exchange ([[run]], any verb): this is the only place a remote exchange
  * is retried. Clients are one connection each and never revive it, so an
  * `IOException` closes the session dead, rotates to the next endpoint and
  * replays only the in-flight exchange there — chunks and aggregate
  * requests are stateless and independent, so a replay is idempotent and
  * emitted chunks are untouched. One full ring pass plus one is allowed, so
  * a single-endpoint pool gets a fresh connection (with connect backoff) to
  * its restarted server. A `SocketTimeoutException` evicts the session and
  * rethrows (containment: a hung server stays aborted). A gRPC status or
  * any other exception is the server's answer and is rethrown as is. */
private[remote] final class FailoverSession(wire: RemoteWire, eps: IndexedSeq[(String, Int)],
    argTypes: Seq[DataType], start: Int) {
  private var epIdx = start % eps.size
  private var session: RemoteSession = _
  connect()

  private def connect(): Unit = {
    var pass = 0
    var last: Throwable = null
    while (session == null && pass < 5) {
      var tries = 0
      while (session == null && tries < eps.size) {
        val i = (epIdx + tries) % eps.size
        try {
          session = wire.open(eps(i)._1, eps(i)._2, argTypes)
          epIdx = i
        } catch {
          case e: java.io.IOException => last = e; tries += 1
        }
      }
      pass += 1
      if (session == null && pass < 5) Thread.sleep(250L << pass)
    }
    if (session == null) throw last
  }

  /** Run one exchange on the current session, failing over as above. */
  def run[A](exchange: RemoteSession => A): A = {
    var failedOver = 0
    while (true) {
      try return exchange(session)
      catch {
        case e: graft.remote.flight.GrpcStatusException => throw e
        case e: java.net.SocketTimeoutException => close(dead = true); throw e
        case e: java.io.IOException =>
          failedOver += 1
          if (failedOver > eps.size) throw e
          close(dead = true)
          epIdx = (epIdx + 1) % eps.size
          connect()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = run(_.call(rows))

  def close(dead: Boolean): Unit = if (session != null) {
    val s = session
    session = null
    try s.close(dead) catch { case scala.util.control.NonFatal(_) if dead => }
  }
}

private[remote] object FailoverSession {
  private type Key = (RemoteWire, IndexedSeq[(String, Int)], Seq[DataType], Int)
  private val sessions =
    ThreadLocal.withInitial(() => scala.collection.mutable.Map.empty[Key, FailoverSession])

  /** Run `exchange` on this thread's session for `wire` over `eps`, which
    * starts at endpoint `start` mod pool size. The session outlives the
    * task: aggregate exchanges happen at unpredictable points (update,
    * merge, eval), so a per-task session would dial constantly. Any
    * failure drops it, so a half-written exchange never desynchronizes the
    * next one. */
  def pinned[A](wire: RemoteWire, eps: IndexedSeq[(String, Int)], argTypes: Seq[DataType],
      start: Int)(exchange: RemoteSession => A): A = {
    val m = sessions.get()
    val key = (wire, eps, argTypes, start % eps.size)
    val s = m.getOrElseUpdate(key, new FailoverSession(wire, eps, argTypes, start))
    try s.run(exchange)
    catch { case e: Throwable => m.remove(key); s.close(dead = true); throw e }
  }
}

/** The one Spark-side remote UDF operator (the reference client embedded in
  * a `mapPartitions`, SURVEY §2.1 #26), shared by every wire: the raw
  * Arrow-IPC [[UdfClient]], the JSON [[JsUdfClient]], and Flight per-chunk
  * and streamed. Each partition holds one [[FailoverSession]] over
  * `endpoints` (starting at partition id mod pool size), sends its rows in
  * chunks of `batchRows`, and zips (or, for table calls, explodes) the
  * results back onto the input rows. The session closes at task end. */
object RemoteOp {
  /** The exchange is latency-bound (one synchronous round-trip per chunk),
    * so parallelism across partitions is the throughput lever: a
    * single-file parquet scan arrives as ONE partition and would serialize
    * every chunk. Fan narrow inputs out to the default parallelism first. */
  private def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** `df` plus `value` (and `error` for [[CallShape.Fallible]]) computed by
    * `wire`'s function over `argCols`. */
  def apply(df: DataFrame, endpoints: Seq[(String, Int)], argCols: Seq[String],
            retType: DataType, batchRows: Int = RemoteProtocol.BatchSize)(
            wire: RemoteWire): DataFrame = {
    val argTypes = argCols.map(c => df.schema(c).dataType)
    val argIdx = argCols.map(df.schema.fieldIndex)
    val shape = wire.shape
    val extra = StructField("value", retType) +:
      (if (shape == CallShape.Fallible) Seq(StructField("error", StringType)) else Nil)
    val nOut = extra.length
    val enc = Encoders.row(StructType(df.schema.fields ++ extra))
    val eps = endpoints.toIndexedSeq
    fanOut(df).mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else {
        val tc = Option(TaskContext.get())
        val session = new FailoverSession(wire, eps, argTypes, tc.map(_.partitionId()).getOrElse(0))
        tc.foreach(_.addTaskCompletionListener[Unit](_ => session.close(dead = false)))
        it.grouped(batchRows).flatMap { chunk0 =>
          val chunk = chunk0.toIndexedSeq
          val res = session.call(chunk.map(r => argIdx.map(r.get)))
          if (shape == CallShape.Table)
            res.iterator.map(r => append(chunk(r(0).asInstanceOf[Int]), r, 1, nOut))
          else {
            if (res.size != chunk.size) throw new IllegalStateException(
              s"remote call answered ${res.size} rows for ${chunk.size} input rows")
            chunk.iterator.zip(res.iterator).map { case (r, v) => append(r, v, 0, nOut) }
          }
        }
      }
    }(enc)
  }

  /** `row` followed by `n` result columns of `res` starting at `from`. */
  private def append(row: Row, res: Seq[Any], from: Int, n: Int): Row = {
    val w = row.length
    val a = new Array[Any](w + n)
    var i = 0
    while (i < w) { a(i) = row.get(i); i += 1 }
    i = 0
    while (i < n) { a(w + i) = res(from + i); i += 1 }
    new GenericRow(a)
  }
}
