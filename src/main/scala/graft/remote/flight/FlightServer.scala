package graft.remote.flight

import graft.remote.{RemoteProtocol, UdfServer}
import graft.sig.{FunctionDef, FunctionKind, Registry}
import io.netty.handler.codec.http2.DefaultHttp2Headers
import org.apache.arrow.flatbuf.MessageHeader
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.{Schema => ASchema}
import org.apache.spark.sql.types.IntegerType
import java.io.{ByteArrayOutputStream, IOException}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A request the client framed wrongly — mapped to INVALID_ARGUMENT (3), so
  * reference clients distinguish their own bad input from server faults
  * (INTERNAL, 13). */
private[flight] final class BadRequest(msg: String) extends IOException(msg)

/** No function serves the request — mapped to NOT_FOUND (5). */
private[flight] final class NotFound(msg: String) extends IOException(msg)

/**
 * Arrow Flight UDF SERVER — graft's function registry exposed over the
 * reference's actual wire, so a stock Flight client (the reference's tonic
 * `remote::Client`, pyarrow's `FlightClient`, the Java `UdfClient`) can call
 * INTO graft. Together with [[FlightClient]] this makes rows 26–28
 * wire-compatible in BOTH directions; `FlightServerSpec` proves the inbound
 * direction by driving a real `pyarrow.flight` client (grpc-core) against
 * this server (`tools/flight_client_probe.py`).
 *
 * Protocol surface (mirroring the reference Java server,
 * `UdfProducer.java:30-140`):
 *  - `DoAction("protocol_version")` → one `Result` byte `2`
 *  - `GetFlightInfo` / `ListFlights` → one FlightInfo per function: schema =
 *    input-fields ++ result-fields, `total_records` = input arity
 *  - `DoExchange` → evaluate each input record batch, stream one result
 *    batch per input batch; table functions yield (row, value) rows
 *
 * Architecture: the HTTP/2 + gRPC byte rules (frames, SETTINGS/PING,
 * credit, HPACK via the shipped netty jar, gRPC deframing) are [[H2]]'s,
 * shared with the client side ([[Http2Conn]]); this class adds the server's
 * streams, auth, drain and dispatch. Each `DoExchange` is EVALUATED
 * IN-PROCESS by the same call evaluator the raw Arrow-IPC wire serves
 * ([[graft.remote.UdfServer.serveCall]]): overload resolution by input
 * schema, CallMode, batched guest dispatch, the native-expression tier and
 * per-batch streamed results. Flight's
 * `FlightData` carries encapsulated Arrow IPC messages, so inbound messages
 * feed the evaluator's reader as one IPC stream ([[FlightDataStream]]) and
 * every result message it flushes leaves as one `FlightData`
 * ([[FlightDataSink]]) — re-framing only, no re-encoding.
 *
 * Scale shape: one READER thread per connection plus one WORKER per active
 * DoExchange stream (the shape grpc thread-pool servers have): the reader
 * owns the socket and frame dispatch, each exchange evaluates on its own
 * worker, so concurrent multiplexed streams never serialize behind one
 * another's evaluation. DoExchange is evaluated INCREMENTALLY — each record
 * batch is answered as it arrives (the reference `UdfProducer` loop), so an
 * exchange of any length runs in bounded memory (the per-stream cap applies
 * to unprocessed BACKLOG, not request size), and a ping-ponging streamed
 * client ([[FlightClient.ExchangeStream]]) gets each result before sending
 * the next batch. A deployment fronts many engine JVMs with ordinary TCP
 * load balancing, exactly like the reference's UdfServer fleet.
 *
 * @param authToken when set, every RPC must carry
 *   `authorization: Bearer <token>` call metadata or is refused with
 *   UNAUTHENTICATED (16) — the Flight-wire expression of the graft wire's
 *   AUTH verb (constant-time compare, per-RPC like gRPC interceptors).
 *   The check runs at HEADERS time, before any request body is buffered,
 *   so an unauthenticated peer cannot stream bytes into server memory.
 * @param bindHost listen address. Defaults to loopback for the in-process
 *   fixture shape; a deployment fronting engine JVMs behind TCP load
 *   balancing binds "0.0.0.0" (pair with `tls` + `authToken` — a non-local
 *   bind without them serves the registry to anyone who can reach the port).
 * @param maxBuffered per-stream cap on UNPROCESSED request backlog (bytes),
 *   and so on one request message; past it the stream is refused with
 *   RESOURCE_EXHAUSTED (a declared message length past it is
 *   INVALID_ARGUMENT). The 64 MiB default ([[H2.MaxMessage]], also the
 *   client's cap on a response message) is far above any legitimate
 *   bounded exchange; tests shrink it to force the overflow paths.
 */
final class FlightServer(port: Int = 0,
                         tls: Option[javax.net.ssl.SSLContext] = None,
                         authToken: Option[String] = None,
                         bindHost: String = "127.0.0.1",
                         maxBuffered: Int = H2.MaxMessage)
    extends AutoCloseable {
  graft.functions.Builtins.ensureRegistered()

  private val server = tls match {
    case Some(ctx) => ctx.getServerSocketFactory.createServerSocket()
      .asInstanceOf[javax.net.ssl.SSLServerSocket]
    case None => new ServerSocket()
  }
  server.setReuseAddress(true)
  server.bind(new InetSocketAddress(bindHost, port))
  def boundPort: Int = server.getLocalPort
  @volatile private var running = true
  /** Live connection handlers (for drain); each removes itself on exit. */
  private val handlers = java.util.concurrent.ConcurrentHashMap.newKeySet[H2Handler]()
  /** Connections ever accepted — lets specs assert socket counts under
    * client-side multiplexing. */
  private val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
  def connectionsAccepted: Int = accepted.get

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        sock match {
          case ssl: javax.net.ssl.SSLSocket =>
            // gRPC clients require ALPN: advertise h2 so the handshake
            // negotiates it (grpc-core refuses a connection without it)
            val p = ssl.getSSLParameters
            p.setApplicationProtocols(Array("h2"))
            ssl.setSSLParameters(p)
          case _ =>
        }
        accepted.incrementAndGet()
        val h = new H2Handler(sock)
        handlers.add(h)
        val t = new Thread(() => try h.run() finally handlers.remove(h), "graft-flight-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: Exception if !running => }
    }
  }, "graft-flight-server")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Begin a GRACEFUL drain (the rolling-restart half the hard close lacks):
    * stop accepting connections and advertise GOAWAY(NO_ERROR, last seen
    * stream) on every live connection. In-flight streams at or below the
    * cutoff run to completion; a NEW stream on a drained connection is
    * refused with RST_STREAM(REFUSED_STREAM) — the retryable refusal gRPC
    * clients map to UNAVAILABLE and replay elsewhere (RFC 9113 §6.8). */
  def drain(): Unit = {
    running = false
    try server.close() catch { case _: Exception => }
    handlers.forEach(h => h.beginDrain())
  }

  /** Drain, wait up to `drainMillis` for in-flight streams to finish, then
    * hard-close whatever remains (idle connections close immediately). */
  def close(drainMillis: Long): Unit = {
    drain()
    val deadline = System.nanoTime() + drainMillis * 1000000L
    while (System.nanoTime() < deadline &&
        handlers.asScala.exists(_.activeStreamCount > 0))
      Thread.sleep(5)
    handlers.forEach(h => h.hardClose())
  }

  override def close(): Unit = close(5000L)

  // ---- discovery ------------------------------------------------------------
  /** FlightInfo for one function: args ++ results, total_records = arity —
    * the reference convention (`UdfProducer.makeFlightInfo`). Result fields
    * are EXACTLY what DoExchange streams back: `value` for scalars,
    * `(row, value)` for table functions. */
  private def infoFor(fd: FunctionDef): Array[Byte] = {
    val sig = fd.signature
    val argFields = sig.args.zipWithIndex.map { case (g, i) =>
      RemoteProtocol.toArrowField(if (g.name.nonEmpty) g.name else s"a$i", g.dataType, g.metadata)
    }
    val retFields =
      if (sig.kind == FunctionKind.Table)
        Seq(RemoteProtocol.toArrowField("row", IntegerType),
          RemoteProtocol.toArrowField("value", sig.returns.dataType, sig.returns.metadata))
      else if (fd.fallible)
        Seq(RemoteProtocol.toArrowField("value", sig.returns.dataType, sig.returns.metadata),
          RemoteProtocol.toArrowField("error", org.apache.spark.sql.types.StringType))
      else
        Seq(RemoteProtocol.toArrowField("value", sig.returns.dataType, sig.returns.metadata))
    val schema = new ASchema((argFields ++ retFields).asJava)
    val bos = new ByteArrayOutputStream()
    MessageSerializer.serialize(new WriteChannel(java.nio.channels.Channels.newChannel(bos)), schema)
    Pb.flightInfo(bos.toByteArray, sig.name, argFields.length)
  }

  // ---- per-connection HTTP/2 handler ----------------------------------------
  private final class H2Handler(sock: Socket) {
    import H2._

    /** THE connection monitor: guards every codec write + flush (each frame
      * lands atomically; HPACK encode happens under the same hold as its
      * write, so header blocks hit the wire in encode order), all mutable
      * connection/stream state (windows, the streams map, Req fields), and
      * the condition workers wait on (window credit, buffered messages). The
      * handler thread remains the ONLY socket reader — it reads outside the
      * lock and applies each frame under it, then notifies; exchange workers
      * never read the socket, they wait on this monitor. [[beginDrain]]
      * (closer's thread) interleaves its GOAWAY at a frame boundary the same
      * way. */
    private val writeLock = new Object
    @volatile private var draining = false
    /** Highest client-initiated stream id seen — GOAWAY's last-stream-id. */
    @volatile private var maxSeenStream = 0
    private val activeStreams = new java.util.concurrent.atomic.AtomicInteger(0)
    def activeStreamCount: Int = activeStreams.get

    private val streams = mutable.LinkedHashMap.empty[Int, Req]
    private val codec = new H2.Codec(sock, 1 << 23,
      delta => streams.values.foreach(_.sendWindow += delta))
    private var closing = false

    /** Advertise GOAWAY(NO_ERROR) and refuse streams above the cutoff from
      * now on; in-flight streams keep running on the handler thread. */
    def beginDrain(): Unit = {
      draining = true
      try writeLock.synchronized {
        codec.writeGoaway(maxSeenStream)
        codec.flush()
      } catch { case _: Exception => } // peer already gone: nothing to drain
    }

    def hardClose(): Unit = try sock.close() catch { case _: Exception => }

    /** Constant-time bearer check (gRPC-interceptor shape, per RPC). */
    private def authorized(authorization: String): Boolean = authToken match {
      case Some(tok) =>
        java.security.MessageDigest.isEqual(
          authorization.getBytes(StandardCharsets.UTF_8),
          s"Bearer $tok".getBytes(StandardCharsets.UTF_8))
      case None => true
    }

    private final class Req(val path: String, val authorization: String) {
      /** Request messages as they arrive. Past `maxBuffered` bytes of
        * unprocessed backlog the stream is refused (RESOURCE_EXHAUSTED) and
        * dropped, so a misbehaving client can't grow an unbounded buffer;
        * a legitimate exchange is ~one [[RemoteProtocol.BatchSize]] batch,
        * far below it. */
      val msgs = new GrpcDeframer(maxBuffered)
      var sendWindow: Long = codec.peerInitialWindow
      var reset = false
      var headersSent = false
      /** A DoExchange is handled INCREMENTALLY on its OWN worker thread:
        * each inbound record batch is evaluated and answered as it arrives
        * (the reference `UdfProducer.java:104-139` loop), never buffered to
        * end-of-request — and concurrent exchanges on one connection never
        * serialize behind each other's evaluation. */
      val isExchange: Boolean = path == "/arrow.flight.protocol.FlightService/DoExchange"
      /** The exchange's function (its descriptor path) and whether its
        * schema message arrived. */
      var name: String = ""
      var sawSchema = false
      var ended = false
      /** Set by the handler when this stream blew the backlog cap; its
        * worker owns the stream's writes, so the refusal is emitted there. */
      var overflowed = false
    }

    /** Completed NON-exchange request streams, dispatched from the top-level
      * pump in [[run]] on the handler thread (discovery/action RPCs are
      * small); exchange streams run on their own workers instead. */
    private val completed = mutable.ArrayDeque.empty[Int]

    def run(): Unit = {
      try {
        codec.readPreface()
        writeLock.synchronized(codec.open(client = false))
        while (!closing) {
          handleOneFrame()
          while ({
            val next = writeLock.synchronized(
              if (completed.nonEmpty) Some(completed.removeHead()) else None)
            next.foreach(dispatch)
            next.isDefined
          }) ()
        }
      } catch {
        case _: IOException =>
      } finally {
        // wake every exchange worker: closing ends their waits
        writeLock.synchronized {
          closing = true
          writeLock.notifyAll()
        }
        try sock.close() catch { case _: Exception => }
      }
    }

    private def rst(sid: Int, code: Long): Unit = writeLock.synchronized {
      codec.writeRst(sid, code)
      codec.flush()
    }

    /** Stream registration is counted so a drain can tell when the
      * connection is idle; every removal path goes through [[unregister]].
      * Both lock (workers unregister from their own threads). */
    private def register(sid: Int, req: Req): Unit = writeLock.synchronized {
      streams(sid) = req
      activeStreams.incrementAndGet()
    }
    private def unregister(sid: Int): Unit = writeLock.synchronized {
      if (streams.remove(sid).isDefined) activeStreams.decrementAndGet()
    }

    /** Read one frame (socket I/O, NO lock — the handler thread is the sole
      * reader) then apply it under [[writeLock]] and notify workers.
      * Completed non-exchange streams are QUEUED for the top-level pump;
      * exchange bytes land in their stream's deframer and wake its worker. */
    private def handleOneFrame(): Unit = {
      val f = codec.read()
      writeLock.synchronized {
        try applyFrame(f)
        finally writeLock.notifyAll() // window credit / new bytes / resets
      }
    }

    /** Apply one frame to connection/stream state. Caller holds [[writeLock]]. */
    private def applyFrame(f: Frame): Unit = if (!codec.control(f)) f.tpe match {
      case FrameHeaders =>
        val sid = f.sid
        val headers = codec.decodeHeaders(f)
        val auth = Option(headers.get("authorization")).map(_.toString).getOrElse("")
        if (draining) {
          // GOAWAY semantics: this stream is above the advertised
          // last-stream-id — refuse it RETRYABLY (REFUSED_STREAM, which
          // gRPC clients map to UNAVAILABLE and replay on another
          // connection) and never register it; its DATA frames return
          // connection credit like any unknown stream's.
          rst(sid, 7L)
        } else if (!authorized(auth)) {
          // refuse at HEADERS time, BEFORE buffering any body: the stream
          // is never registered, so its DATA frames return connection
          // credit but are dropped — an unauthenticated peer can't stream
          // bytes into server memory. RST tells the client to stop sending.
          sendTrailers(sid, 16, "unauthenticated", trailersOnly = true)
          if (!f.endStream) rst(sid, 8L)
        } else {
          val req = new Req(Option(headers.path()).map(_.toString).getOrElse(""), auth)
          if (sid > maxSeenStream) maxSeenStream = sid
          register(sid, req)
          if (f.endStream) req.ended = true
          if (req.isExchange) {
            // STREAM-PARALLEL dispatch: every exchange gets its own
            // worker, so stacked h2 streams from a multiplexed client
            // never serialize behind one another's evaluation
            val t = new Thread(() => runExchange(sid, req), s"graft-flight-exch-$sid")
            t.setDaemon(true)
            t.start()
          } else if (f.endStream) completed.append(sid)
        }
      case FrameData =>
        val sid = f.sid
        streams.get(sid).foreach { req =>
          if (req.msgs.buffered + f.len > maxBuffered) {
            // Backlog cap blown. Reset FIRST so any in-flight sendData for
            // this stream aborts instead of writing DATA past END_STREAM
            // (streams.remove drops future WINDOW_UPDATEs, so its window
            // could never replenish). For a NON-exchange stream the
            // refusal is written here (handler owns those streams); an
            // EXCHANGE stream's worker owns its writes — flag it and let
            // the worker emit the refusal (trailersOnly decided there,
            // where headersSent is stable).
            req.reset = true
            if (req.isExchange) req.overflowed = true
            else {
              sendTrailers(sid, 8, "request body exceeds per-stream limit",
                trailersOnly = !req.headersSent)
              rst(sid, 8L)
              unregister(sid)
            }
          } else req.msgs.append(f.payload, f.off, f.len) // a worker is woken by notifyAll
        }
        codec.returnCredit(f, streamOpen = !f.endStream && streams.contains(sid))
        if (f.endStream) streams.get(sid).foreach { req =>
          req.ended = true
          if (!req.isExchange) completed.append(sid)
        }
      case FrameWindowUpdate => streams.get(f.sid).foreach(_.sendWindow += f.u31At(0))
      case FrameRst =>
        streams.get(f.sid).foreach(_.reset = true)
        unregister(f.sid)
      case FrameGoaway => closing = true
      case _ => // PRIORITY etc: ignore
    }

    // ---- response writing ----------------------------------------------------
    private def sendResponseHeaders(sid: Int, req: Req): Unit = writeLock.synchronized {
      val h = new DefaultHttp2Headers(false)
      h.status("200")
      h.add("content-type", "application/grpc")
      codec.writeHeaders(sid, h, endStream = false)
      req.headersSent = true
      codec.flush()
    }

    private def sendTrailers(sid: Int, code: Int, msg: String,
                             trailersOnly: Boolean): Unit = {
      val h = new DefaultHttp2Headers(false)
      if (trailersOnly) { h.status("200"); h.add("content-type", "application/grpc") }
      h.add("grpc-status", code.toString)
      if (msg.nonEmpty) h.add("grpc-message", percentEncode(msg))
      writeLock.synchronized {
        codec.writeHeaders(sid, h, endStream = true)
        codec.flush()
      }
    }

    /** Flow-controlled DATA write. When the peer's windows are exhausted:
      * the HANDLER thread (non-exchange responses — it is the only socket
      * reader) pumps incoming control frames itself; an exchange WORKER
      * parks on [[writeLock]] until the handler's frame dispatch replenishes
      * a window (or resets/closes the stream) and notifies. */
    private def sendData(sid: Int, req: Req, bytes: Array[Byte]): Unit = {
      var off = 0
      var done = bytes.isEmpty
      while (!done) {
        var pump = false
        writeLock.synchronized {
          if (req.reset) return // client cancelled: stop writing this stream
          if (closing) throw new IOException("connection closing")
          val n = codec.sendable(req.sendWindow, bytes.length - off)
          if (n > 0) {
            codec.writeData(sid, bytes, off, n, endStream = false)
            off += n
            req.sendWindow -= n
            if (off >= bytes.length) done = true
          } else if (req.isExchange) writeLock.wait()
          else pump = true
        }
        if (pump) handleOneFrame()
      }
      writeLock.synchronized(codec.flush())
    }

    /** gRPC status of a failed RPC: the client's own framing mistakes are
      * INVALID_ARGUMENT (3), a missing function NOT_FOUND (5), anything
      * else INTERNAL (13). */
    private def statusOf(e: Exception): Int = e match {
      case _: NotFound => 5
      case _: BadRequest | _: GrpcFramingException => 3
      case _ => 13
    }

    // ---- gRPC dispatch ---------------------------------------------------------
    /** Parse a protobuf request message, mapping any decode failure to
      * INVALID_ARGUMENT rather than INTERNAL. */
    private def parsed[T](what: String)(f: => T): T =
      try f catch {
        case e: BadRequest => throw e
        case e: Exception => throw new BadRequest(
          s"malformed $what: ${Option(e.getMessage).getOrElse(e.getClass.getSimpleName)}")
      }

    /** The stream stays IN `streams` for the whole dispatch, so WINDOW_UPDATE
      * credit and RST_STREAM for the response being written still reach it
      * (sendData's pump applies them to the live Req) — removed only when the
      * RPC is fully answered. */
    private def dispatch(sid: Int): Unit = {
      val req = writeLock.synchronized(streams.getOrElse(sid, null))
      if (req == null) return
      try {
        if (req.reset) return
        // defense in depth: HEADERS-time rejection means an unauthenticated
        // stream is never registered, but re-verify before dispatch anyway
        if (!authorized(req.authorization)) {
          try sendTrailers(sid, 16, "unauthenticated", trailersOnly = true)
          catch { case _: Exception => }
          return
        }
        try {
          val msgs = Iterator.continually(req.msgs.next()).takeWhile(_ != null).toVector
          req.msgs.finish()
          req.path match {
            case "/arrow.flight.protocol.FlightService/DoAction" =>
              val (tpe, _) = parsed("Action")(
                Pb.parseAction(msgs.headOption.getOrElse(Pb.Empty)))
              if (tpe == "protocol_version")
                respond(sid, req, Seq(Pb.result(Array[Byte](2))))
              else
                // aggregate-lifecycle actions (create_state/accumulate/...)
                // and anything else this server does not define fail the
                // reference's way: UNIMPLEMENTED, connection intact
                sendTrailers(sid, 12, s"unimplemented action: $tpe", trailersOnly = true)
            case "/arrow.flight.protocol.FlightService/GetFlightInfo" =>
              if (msgs.isEmpty) {
                sendTrailers(sid, 3, "missing FlightDescriptor", trailersOnly = true)
                return
              }
              val path = parsed("FlightDescriptor")(
                Pb.parseDescriptorPath(new Pb.Reader(msgs.head)))
              val name = path.headOption.getOrElse("")
              if (name.isEmpty) {
                sendTrailers(sid, 3, "descriptor has no path (name)", trailersOnly = true)
                return
              }
              Registry.global.lookup(name).headOption match {
                case Some(fd) => respond(sid, req, Seq(infoFor(fd)))
                case None => sendTrailers(sid, 5, s"no function $name", trailersOnly = true)
              }
            case "/arrow.flight.protocol.FlightService/ListFlights" =>
              // one FlightInfo per NAME (the Flight descriptor is name-keyed;
              // graft overloads share a name — advertise the first signature).
              // Signatures the Arrow wire can't express (e.g. a test-registered
              // ByteType arg) are SKIPPED, not fatal: the listing advertises
              // what this wire can serve, like the reference server's map.
              val infos = Registry.global.all.groupBy(_.signature.name).toSeq
                .sortBy(_._1).flatMap { case (_, defs) =>
                  scala.util.Try(infoFor(defs.head)).toOption }
              respond(sid, req, infos)
            case other =>
              sendTrailers(sid, 12, s"unimplemented method $other", trailersOnly = true)
          }
        } catch {
          case e: Exception =>
            // if response HEADERS already went out, the error must ride plain
            // trailers — a second :status pseudo-header in a trailing HEADERS
            // block is a connection-killing PROTOCOL_ERROR (RFC 9113 §8.3)
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            try sendTrailers(sid, statusOf(e), msg, trailersOnly = !req.headersSent)
            catch { case _: Exception => }
        }
      } finally unregister(sid)
    }

    private def respond(sid: Int, req: Req, msgs: Seq[Array[Byte]]): Unit = {
      sendResponseHeaders(sid, req)
      msgs.foreach(m => sendData(sid, req, grpcFrame(m)))
      if (!req.reset) sendTrailers(sid, 0, "", trailersOnly = false)
    }

    // ---- incremental DoExchange ------------------------------------------------
    // Evaluated AS BATCHES ARRIVE (the reference `UdfProducer.java:104-139`
    // loop): the worker hands the exchange's inbound messages to the call
    // evaluator as one Arrow IPC stream, and every result message the
    // evaluator flushes goes out as FlightData at once. This serves both
    // client shapes — a write-everything-then-read client sees the same
    // bytes (just earlier), and a ping-ponging streamed client
    // ([[FlightClient.ExchangeStream]], the reference's multi-batch mode)
    // gets each result before sending the next batch.

    /** One exchange stream's WORKER (stream-parallel dispatch): pulls the
      * schema message, which names the function and so picks the call shape
      * [[infoFor]] advertised, then runs the evaluator over the rest of the
      * stream. Owns every write for its stream — headers, results,
      * trailers, refusals and RSTs are emitted here (frame-atomic under the
      * lock), so two streams' responses interleave at frame granularity,
      * exactly what h2 multiplexing permits. */
    private def runExchange(sid: Int, req: Req): Unit = {
      val allocator = new RootAllocator()
      try {
        // the first data message is the schema, or nextData throws
        val schema = nextData(req)
        val fd = Registry.global.lookup(req.name).head
        val isTable = fd.signature.kind == FunctionKind.Table
        val input = new FlightDataStream(schema.iterator ++
          Iterator.continually(nextData(req)).takeWhile(_.isDefined).flatten)
        val output = new FlightDataSink((header, body) =>
          sendData(sid, req, grpcFrame(Pb.flightData(None, header, body))))
        UdfServer.serveCall(req.name, isTable, withErrors = !isTable && fd.fallible,
          input, output, allocator, {
            case None => sendResponseHeaders(sid, req)
            // fail BEFORE the evaluator drains: a ping-ponging client is
            // waiting for this answer, not sending the rest of its stream
            case Some(err) => throw new NotFound(err)
          })
        if (!req.reset) sendTrailers(sid, 0, "", trailersOnly = false)
      } catch {
        case e: Exception =>
          // an overflow resets the stream while this worker evaluates; the
          // evaluator's next read throws, and the refusal must still go
          // out; a plain client reset stays silent
          if (req.overflowed) emitOverflowRefusal(sid, req)
          else if (!req.reset) {
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            try sendTrailers(sid, statusOf(e), msg, trailersOnly = !req.headersSent)
            catch { case _: Exception => }
            // tell a still-sending client to stop (the auth-refusal pattern)
            if (!req.ended) {
              try rst(sid, 8L)
              catch { case _: Exception => }
            }
          }
      } finally {
        unregister(sid)
        allocator.close()
      }
    }

    /** The blown-backlog refusal, emitted by the stream's WORKER (it owns
      * the stream's writes; the handler only flags `overflowed`). The
      * stream's Req is already reset, so sendTrailers/RST race nothing;
      * trailersOnly reflects whether response HEADERS went out. */
    private def emitOverflowRefusal(sid: Int, req: Req): Unit = {
      try sendTrailers(sid, 8, "request body exceeds per-stream limit",
        trailersOnly = !req.headersSent)
      catch { case _: Exception => }
      try rst(sid, 8L)
      catch { case _: Exception => }
    }

    /** The next complete gRPC message of this exchange, waiting on
      * [[writeLock]] for the handler to append it; None once the client
      * half-closed. A reset, an overflow or a closing connection throws, so
      * the evaluator ends at its next read of exchange input. */
    private def awaitMessage(req: Req): Option[Array[Byte]] =
      writeLock.synchronized {
        var msg: Array[Byte] = null
        while (msg == null) {
          if (req.reset) throw new IOException("stream reset")
          if (closing) throw new IOException("connection closing")
          msg = req.msgs.next()
          if (msg == null && req.ended) {
            req.msgs.finish()
            return None
          }
          if (msg == null) writeLock.wait()
        }
        Some(msg)
      }

    /** The exchange's next Arrow IPC message, checked before the
      * evaluator's reader sees it: latches the descriptor name, skips
      * metadata-only messages, and requires a structurally valid header of
      * a known type, the schema first and only once, and — at the schema —
      * a function of that name. None once the client half-closed after its
      * schema. */
    @scala.annotation.tailrec
    private def nextData(req: Req): Option[Pb.FlightDataMsg] =
      awaitMessage(req) match {
        case None =>
          if (!req.sawSchema) { // the whole request arrived without a schema
            requireFunction(req)
            throw new BadRequest("DoExchange ended before a schema message")
          }
          None
        case Some(msg) =>
          val fd = parsed("FlightData")(Pb.parseFlightData(msg))
          if (req.name.isEmpty) fd.descriptorPath.headOption.foreach(n => req.name = n)
          if (fd.dataHeader.isEmpty) nextData(req) // descriptor/app-metadata only
          else {
            val ht = parsed("Arrow IPC message header") {
              val m = org.apache.arrow.flatbuf.Message.getRootAsMessage(
                java.nio.ByteBuffer.wrap(fd.dataHeader))
              val t = m.headerType()
              if (t != MessageHeader.Schema && t != MessageHeader.RecordBatch &&
                  t != MessageHeader.DictionaryBatch)
                throw new IOException(s"unexpected IPC header type $t")
              if (m.bodyLength() < 0 || m.bodyLength() > Int.MaxValue)
                throw new IOException(s"bad IPC body length ${m.bodyLength()}")
              t
            }
            if (ht == MessageHeader.Schema) {
              if (req.sawSchema) throw new BadRequest("duplicate schema message on DoExchange")
              requireFunction(req)
              req.sawSchema = true
            } else if (!req.sawSchema)
              throw new BadRequest("DoExchange record batch before schema message")
            Some(fd)
          }
      }

    private def requireFunction(req: Req): Unit = {
      if (req.name.isEmpty)
        throw new BadRequest("DoExchange carries no FlightDescriptor path (function name)")
      if (Registry.global.lookup(req.name).isEmpty) throw new NotFound(s"no function ${req.name}")
    }
  }
}
