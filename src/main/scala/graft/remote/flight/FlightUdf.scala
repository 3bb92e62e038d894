package graft.remote.flight

import graft.remote.{CallShape, RemoteOp, RemoteProtocol, RemoteSession, RemoteWire, Sidecar}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.DataType
import scala.util.control.NonFatal

/** The Flight per-chunk wire for [[graft.remote.RemoteOp]]: each partition
  * task leases a shared multiplexed [[FlightClient]] from
  * [[FlightClientCache]] (released at task end, evicted when its endpoint
  * fails) and runs one DoExchange per bounded chunk, so the per-stream
  * half-duplex exchange can never outgrow flow-control windows. */
private[flight] final case class FlightChunkWire(fname: String, shape: CallShape,
    dictEncodeStrings: Boolean = false) extends RemoteWire {
  def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession =
    new RemoteSession {
      private val lease = FlightClientCache.acquire(host, port)
      def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = shape match {
        case CallShape.Scalar =>
          lease.client.exchange(fname, argTypes, rows, Nil, dictEncodeStrings)
        case CallShape.Fallible =>
          lease.client.callWithErrors(fname, argTypes, rows).map { case (v, e) => Seq(v, e) }
        case CallShape.Table =>
          lease.client.callTable(fname, argTypes, rows).map { case (i, v) => Seq(i, v) }
      }
      def close(dead: Boolean): Unit = { if (dead) lease.markDead(); lease.release() }
    }
}

/** The Flight streamed wire for [[graft.remote.RemoteOp]]: ONE long-lived
  * DoExchange ([[FlightClient.ExchangeStream]]) per partition over a leased
  * client, every chunk ping-ponged on it, so the per-exchange setup
  * (HEADERS, descriptor, schema message, trailers) is paid once per
  * PARTITION. A failover replays only the in-flight chunk on a fresh stream.
  *
  * Table functions stay on [[FlightChunkWire]] BY DESIGN: a
  * reference-shaped server may emit 0..N result batches per input batch for
  * a table function (yield chunking, empty-yield elision — e.g.
  * `tools/flightudf_server.py` `Table.eval_batch`), so a half-duplex
  * ping-pong client has no framing for "this input batch's results are
  * done" short of end-of-stream. The bounded per-chunk exchange IS that
  * framing. */
private[flight] final case class FlightStreamWire(fname: String, shape: CallShape)
    extends RemoteWire {
  require(shape != CallShape.Table, "table functions run on the per-chunk Flight wire")
  def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession = {
    val lease = FlightClientCache.acquire(host, port)
    val stream =
      try lease.client.openExchange(fname, argTypes)
      catch { case NonFatal(e) => lease.markDead(); lease.release(); throw e }
    new RemoteSession {
      def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = stream.call(rows)
      def close(dead: Boolean): Unit = {
        try stream.close() catch { case _: Exception => }
        if (dead) lease.markDead()
        lease.release()
      }
    }
  }
}

/**
 * Spark-side Arrow Flight UDF integration: each entry point is
 * [[graft.remote.RemoteOp]] over a Flight wire, speaking the reference's
 * ACTUAL protocol — Arrow Flight over gRPC (`arrow-udf-runtime/src/remote/
 * mod.rs`). A user of the reference can point these at their existing
 * Java/Python `UdfServer` deployments unchanged. Connections are shared
 * and multiplexed across partitions (see [[FlightClientCache]]).
 */
object FlightUdf {
  /** Resolve the return type of `fname` from the server's FlightInfo —
    * discovery-driven typing, like the reference resolving `Function.returns`
    * before planning (`remote/mod.rs:79-86`). */
  def returnTypeOf(endpoint: (String, Int), fname: String): DataType = {
    val c = new FlightClient(endpoint._1, endpoint._2)
    try {
      val rs = c.get(fname).returns
      // scalars carry one field; table functions (row_index, value); fallible
      // scalars (value, error) — the VALUE type is the one named "value" when
      // present, else the last non-error field, else the last field
      rs.find(_._1 == "value").map(_._2).getOrElse(
        if (rs.length >= 2 && rs.last._1 == "error") rs(rs.length - 2)._2
        else rs.last._2)
    } finally c.close()
  }

  /** Append `value` computed by the Flight server's scalar function.
    * `batchRows` bounds each exchange (default [[RemoteProtocol.BatchSize]]). */
  def withFlightColumn(df: DataFrame, endpoints: Seq[(String, Int)], fname: String,
                       argCols: Seq[String], retType: DataType,
                       batchRows: Int = RemoteProtocol.BatchSize): DataFrame =
    RemoteOp(df, endpoints, argCols, retType, batchRows)(FlightChunkWire(fname, CallShape.Scalar))

  /** [[withFlightColumn]] with STRING argument columns dictionary-encoded on
    * the wire (inline DictionaryBatch per exchange) — the batch shape a
    * dictionary-preserving producer emits at scale, where parquet string
    * columns are dictionary pages. Results are identical to the plain path;
    * servers resolve the dictionaries (graft's backend decodes them, the
    * reference's SDK readers resolve them in `FlightStream`). */
  def withFlightColumnDict(df: DataFrame, endpoints: Seq[(String, Int)], fname: String,
                           argCols: Seq[String], retType: DataType,
                           batchRows: Int = RemoteProtocol.BatchSize): DataFrame =
    RemoteOp(df, endpoints, argCols, retType, batchRows)(
      FlightChunkWire(fname, CallShape.Scalar, dictEncodeStrings = true))

  /** Explode each row into the Flight table function's yields (generator
    * semantics over the wire, reference `call_table_function`). */
  def withFlightTableColumn(df: DataFrame, endpoints: Seq[(String, Int)], fname: String,
                            argCols: Seq[String], retType: DataType): DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(FlightChunkWire(fname, CallShape.Table))

  /** Append `value` over ONE long-lived DoExchange per partition (see
    * [[FlightStreamWire]]). Wins grow as `batchRows` shrinks (more chunks
    * per partition). Requires an incrementally-evaluating server — the
    * reference Java/Python servers, and graft's own [[FlightServer]]
    * (per-batch passthrough dispatch). */
  def withFlightColumnStreamed(df: DataFrame, endpoints: Seq[(String, Int)],
      fname: String, argCols: Seq[String], retType: DataType,
      batchRows: Int = RemoteProtocol.BatchSize): DataFrame =
    RemoteOp(df, endpoints, argCols, retType, batchRows)(FlightStreamWire(fname, CallShape.Scalar))

  /** [[withFlightFallibleColumn]] over ONE long-lived DoExchange per
    * partition: the error-column contract keeps results 1:1 with input
    * rows, so each ping-ponged chunk returns exactly its row count, just
    * with two result columns. */
  def withFlightFallibleColumnStreamed(df: DataFrame, endpoints: Seq[(String, Int)],
      fname: String, argCols: Seq[String], retType: DataType,
      batchRows: Int = RemoteProtocol.BatchSize): DataFrame =
    RemoteOp(df, endpoints, argCols, retType, batchRows)(
      FlightStreamWire(fname, CallShape.Fallible))

  /** Append `value` AND `error` columns computed over the Flight wire — the
    * fallible error-column surface served by a graft [[FlightServer]]
    * (mirrors [[graft.remote.RemoteUdf.withRemoteFallibleColumn]]). */
  def withFlightFallibleColumn(df: DataFrame, endpoints: Seq[(String, Int)], fname: String,
                               argCols: Seq[String], retType: DataType): DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(FlightChunkWire(fname, CallShape.Fallible))
}

/**
 * Executor-wide cache of SHARED multiplexed [[FlightClient]]s, keyed by
 * endpoint, bounding SOCKETS per endpoint: each partition task leases its
 * own connection while the per-endpoint count is below `MaxConns`; past the
 * cap, leases STACK onto the least-loaded live connection and their
 * exchanges interleave as h2 streams (the [[GrpcConn]] concurrency model —
 * how stock gRPC channels behave).
 *
 * Why a CAP at all: sockets are the fleet-level resource (per-endpoint
 * socket count = executors × MaxConns), streams are free. The cap is 8:
 * every supported server type — the reference's grpc thread-pool servers
 * and graft's own stream-parallel [[FlightServer]] — takes stacked streams
 * at full throughput (`x_flight_throughput_5m` min 0.498 s at 8 conns vs
 * 0.498 s at 32 on the same host), and a 1000-executor fleet holds ~8k
 * sockets per endpoint instead of ~32k. Idle connections are reused across
 * task waves, so the count tracks peak CONCURRENCY, not partition count.
 *
 * Failure discipline: a client is one connection and is never revived.
 * When an exchange on it fails, [[graft.remote.FailoverSession]] (the one
 * retry site) marks its lease DEAD: the client is evicted for new
 * acquisitions and closed when its last lease releases. The endpoint's
 * IDLE clients are retired with it, since a transport failure on one
 * connection makes its idle siblings suspect (a restarted server leaves
 * every cached connection stale; leasing them one by one would spend the
 * session's failover budget on corpses). Healthy clients persist for the
 * executor lifetime, like the worker pools.
 */
private[flight] object FlightClientCache {
  /** Connections per endpoint before leases start stacking as multiplexed
    * streams. */
  val MaxConns = 8

  private final class Entry(val client: FlightClient) {
    var leases = 0
    var dead = false
  }
  private val cache =
    scala.collection.mutable.Map.empty[(String, Int), scala.collection.mutable.ArrayBuffer[Entry]]

  final class Lease private[FlightClientCache] (val client: FlightClient,
      entry: Entry, key: (String, Int)) {
    def release(): Unit = FlightClientCache.synchronized {
      entry.leases -= 1
      if (entry.dead && entry.leases == 0)
        try entry.client.close() catch { case _: Exception => }
    }
    /** Evict this client for future acquisitions (endpoint judged dead),
      * and close the endpoint's idle clients. */
    def markDead(): Unit = FlightClientCache.synchronized {
      entry.dead = true
      cache.get(key).foreach { list =>
        list.filter(_.leases == 0).foreach { idle =>
          idle.dead = true
          try idle.client.close() catch { case _: Exception => }
        }
        list.filterInPlace(!_.dead)
      }
    }
  }

  /** Dials in flight per endpoint: a slot reserved under the lock while the
    * eager connect runs OUTSIDE it (a dial can block up to the connect
    * timeout on a dead endpoint — holding the global monitor through it
    * would stall every acquire/release/markDead executor-wide, including
    * leases to perfectly healthy endpoints). */
  private val dialing =
    scala.collection.mutable.Map.empty[(String, Int), Int].withDefaultValue(0)

  /** Spec seam: lets a test substitute a blocking/failing dial to prove the
    * dial runs outside the cache monitor. Production always dials real
    * clients (None). */
  @volatile private[flight] var dialOverride: Option[(String, Int) => FlightClient] = None
  private def dial(host: String, port: Int): FlightClient =
    dialOverride match {
      case Some(f) => f(host, port)
      case None => new FlightClient(host, port)
    }

  /** Lease a client for `endpoint`: an IDLE cached connection first (task
    * waves reuse the previous wave's sockets), a fresh dial below the cap
    * (slot reserved under the lock, socket dialed outside it), else stack
    * onto the least-loaded live connection. Only when every slot is a dial
    * still in flight and no live connection exists does a caller briefly
    * park (re-checked as dials land). Propagates dial failures (caller
    * rotates endpoints). */
  def acquire(host: String, port: Int): Lease = {
    val key = (host, port)
    while (true) {
      var mustDial = false
      synchronized {
        val list = cache.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty)
        list.find(e => !e.dead && e.leases == 0) match {
          case Some(idle) =>
            idle.leases += 1
            return new Lease(idle.client, idle, key)
          case None =>
            val live = list.filter(!_.dead)
            if (live.size + dialing(key) < MaxConns) {
              dialing(key) += 1
              mustDial = true
            } else if (live.nonEmpty) {
              val e = live.minBy(_.leases)
              e.leases += 1
              return new Lease(e.client, e, key)
            } else {
              // every slot is a concurrent dial to this endpoint; park until
              // one lands (notifyAll below) — timed, so a hung dial can't
              // strand waiters past its own failure propagating
              wait(1000)
            }
        }
      }
      if (mustDial) {
        var c: FlightClient = null
        try c = dial(host, port)
        finally if (c == null) synchronized { dialing(key) -= 1; notifyAll() }
        synchronized {
          dialing(key) -= 1
          val list = cache.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty)
          val e = new Entry(c)
          e.leases += 1
          list += e
          notifyAll()
          return new Lease(c, e, key)
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Lazily-started in-process Flight SERVER fixture — graft's registry over
  * the real wire on loopback, so oracle queries can gate the server side
  * end-to-end (the Flight analogue of [[graft.remote.RemoteFixture]]). */
object FlightFixture {
  lazy val shared: FlightServer = new FlightServer()
  def port: Int = shared.boundPort
}

/** Launches the REAL pyarrow Flight UDF server fixture
  * (`tools/flightudf_server.py` — grpc-core + `pyarrow.flight`, the same
  * stack a reference `arrow_udf.UdfServer` deployment runs) and exposes its
  * bound port. The interop proof: graft's from-scratch gRPC/Flight client
  * calling a stock Flight server it shares zero code with. */
final class FlightWorker
    extends Sidecar("flightudf_server.py", "GRAFT_FLIGHTUDF", f => Seq("python3", f))

/** Shared lazily-started Flight server pool (one grpc-core server is
  * GIL-bound on the python side for CPU work, but its grpc threads keep
  * several exchanges in flight; a small pool matches the CPython worker
  * pool's local-mode shape). */
object FlightWorker {
  lazy val shared: Seq[FlightWorker] =
    Sidecar.pool("GRAFT_FLIGHTUDF_WORKERS", 4)(new FlightWorker())
  def endpoints: Seq[(String, Int)] = shared.map(w => ("127.0.0.1", w.boundPort))
  def port: Int = shared.head.boundPort
}
