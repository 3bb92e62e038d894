package graft.remote.flight

import graft.remote.{RemoteProtocol, UdfServer}
import graft.sig.{FunctionDef, FunctionKind, Registry}
import io.netty.buffer.Unpooled
import io.netty.handler.codec.http2.{DefaultHttp2Headers, DefaultHttp2HeadersDecoder, DefaultHttp2HeadersEncoder}
import org.apache.arrow.flatbuf.MessageHeader
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.apache.arrow.vector.types.pojo.{Schema => ASchema}
import org.apache.spark.sql.types.IntegerType
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, EOFException, IOException}
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
 * Architecture: the HTTP/2 + gRPC layer is handled here (same from-scratch
 * stack as the client side, HPACK via the shipped netty jar), and each
 * `DoExchange` is EVALUATED IN-PROCESS by the same call evaluator the raw
 * Arrow-IPC wire serves ([[graft.remote.UdfServer.serveCall]]): overload
 * resolution by input schema, CallMode, batched guest dispatch, the
 * native-expression tier and per-batch streamed results. Flight's
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
 * @param maxBuffered per-stream cap on UNPROCESSED request backlog (bytes);
 *   past it the stream is refused with RESOURCE_EXHAUSTED. The 64 MiB
 *   default is far above any legitimate bounded exchange; tests shrink it
 *   to force the overflow paths.
 */
final class FlightServer(port: Int = 0,
                         tls: Option[javax.net.ssl.SSLContext] = None,
                         authToken: Option[String] = None,
                         bindHost: String = "127.0.0.1",
                         maxBuffered: Int = 64 << 20)
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
    private val RecvWindow = 1 << 23
    /** Per-stream request-body cap. The protocol bounds a legitimate
      * exchange to ~one [[RemoteProtocol.BatchSize]] batch, far below this;
      * past it the stream is refused (RESOURCE_EXHAUSTED) and dropped so a
      * misbehaving client can't grow an unbounded buffer. */
    private val MaxBuffered = maxBuffered

    /** THE connection monitor (r15 stream-parallel dispatch): guards every
      * frame write + flush (each frame lands atomically; HPACK encode happens
      * under the same hold as its write, so header blocks hit the wire in
      * encode order), all mutable connection/stream state (windows, the
      * streams map, Req/Exch fields), and the condition workers wait on
      * (window credit, buffered messages). The handler thread remains the
      * ONLY socket reader — it reads outside the lock and applies each frame
      * under it, then notifies; exchange workers never read the socket, they
      * wait on this monitor. [[beginDrain]] (closer's thread) interleaves its
      * GOAWAY at a frame boundary the same way. */
    private val writeLock = new Object
    @volatile private var draining = false
    /** Highest client-initiated stream id seen — GOAWAY's last-stream-id. */
    @volatile private var maxSeenStream = 0
    private val activeStreams = new java.util.concurrent.atomic.AtomicInteger(0)
    def activeStreamCount: Int = activeStreams.get

    /** Advertise GOAWAY(NO_ERROR) and refuse streams above the cutoff from
      * now on; in-flight streams keep running on the handler thread. */
    def beginDrain(): Unit = {
      draining = true
      try writeLock.synchronized {
        H2.writeFrame(out, FrameGoaway, 0, 0, u32(maxSeenStream.toLong) ++ u32(0L))
        flushOut()
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

    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private val hpackEnc = new DefaultHttp2HeadersEncoder()
    private val hpackDec = new DefaultHttp2HeadersDecoder(false)

    private var connSend: Long = 65535L
    private var peerInitWindow: Long = 65535L
    private var peerMaxFrame: Int = 16384
    private var closing = false

    private final class Req {
      var path: String = ""
      var authorization: String = ""
      val buf = new ByteArrayOutputStream()
      var sendWindow: Long = peerInitWindow
      var reset = false
      var headersSent = false
      /** Non-null ⇔ this stream is a DoExchange, handled INCREMENTALLY on
        * its OWN worker thread: each inbound record batch is evaluated and
        * answered as it arrives (the reference `UdfProducer.java:104-139`
        * loop), never buffered to end-of-request — and concurrent exchanges
        * on one connection never serialize behind each other's evaluation. */
      var exch: Exch = null
      var ended = false
      /** Set by the handler when this stream blew the backlog cap; its
        * worker owns the stream's writes, so the refusal is emitted there. */
      var overflowed = false
    }

    /** Incremental DoExchange session: gRPC message reassembly (bytes are
      * consumed as messages complete, so the [[MaxBuffered]] cap applies to
      * BACKLOG, not request length — exchanges of any total size run in
      * bounded memory). */
    private final class Exch {
      var name: String = ""
      var sawSchema = false
      private var mbuf = new Array[Byte](8192)
      private var mstart = 0
      private var mend = 0
      def unconsumed: Int = mend - mstart
      def append(b: Array[Byte], off: Int, len: Int): Unit = {
        if (mend + len > mbuf.length) {
          val used = mend - mstart
          if (used + len <= mbuf.length) System.arraycopy(mbuf, mstart, mbuf, 0, used)
          else {
            val nb = new Array[Byte](math.max(mbuf.length * 2, used + len))
            System.arraycopy(mbuf, mstart, nb, 0, used)
            mbuf = nb
          }
          mstart = 0; mend = used
        }
        System.arraycopy(b, off, mbuf, mend, len)
        mend += len
      }
      /** Next complete length-prefixed gRPC message, if buffered. */
      def tryParse(): Option[Array[Byte]] = {
        if (mend - mstart < 5) return None
        if (mbuf(mstart) != 0) throw new BadRequest("compressed gRPC messages not supported")
        val n = ((mbuf(mstart + 1) & 0xff) << 24) | ((mbuf(mstart + 2) & 0xff) << 16) |
          ((mbuf(mstart + 3) & 0xff) << 8) | (mbuf(mstart + 4) & 0xff)
        // Long math: for n near Int.MaxValue, `5 + n` overflows negative and
        // the availability comparison below would pass vacuously (then
        // copyOfRange throws, misclassified as INTERNAL). Any message that
        // could not fit the per-stream backlog cap is the client's error.
        if (n < 0 || 5L + n > MaxBuffered)
          throw new BadRequest(s"bad gRPC message length $n (per-stream limit $MaxBuffered)")
        if (mend - mstart < 5 + n) return None
        val m = java.util.Arrays.copyOfRange(mbuf, mstart + 5, mstart + 5 + n)
        mstart += 5 + n
        Some(m)
      }
    }

    private val streams = mutable.LinkedHashMap.empty[Int, Req]
    /** Completed NON-exchange request streams, dispatched from the top-level
      * pump in [[run]] on the handler thread (discovery/action RPCs are
      * small); exchange streams run on their own workers instead. */
    private val completed = mutable.ArrayDeque.empty[Int]

    def run(): Unit = {
      try {
        val preface = new Array[Byte](24)
        in.readFully(preface)
        if (!java.util.Arrays.equals(preface,
            "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(StandardCharsets.US_ASCII)))
          throw new IOException("bad http2 preface")
        writeFrame(FrameSettings, 0, 0, settingsPayload(Seq(0x4 -> RecvWindow.toLong)))
        writeFrame(FrameWindowUpdate, 0, 0, u32(RecvWindow - 65535))
        flushOut()
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


    private def writeFrame(tpe: Int, flags: Int, sid: Int, payload: Array[Byte],
                           off: Int = 0, len: Int = -1): Unit =
      writeLock.synchronized(H2.writeFrame(out, tpe, flags, sid, payload, off, len))

    private def flushOut(): Unit = writeLock.synchronized(out.flush())

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
      * exchange bytes land in their stream's buffer and wake its worker. */
    private def handleOneFrame(): Unit = {
      val b0 = in.read()
      if (b0 < 0) throw new EOFException("client closed")
      val len = (b0 << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
      val tpe = in.readUnsignedByte()
      var flags = in.readUnsignedByte()
      val sid = in.readInt() & 0x7fffffff
      val payload = new Array[Byte](len)
      in.readFully(payload)
      // HEADERS: assemble the full block (HEADERS + CONTINUATIONs) while
      // still reading — they are contiguous on the wire (RFC 9113 §6.10)
      var headerBlock: Array[Byte] = null
      var headersEndStream = false
      if (tpe == FrameHeaders) {
        var off = 0; var end = len
        // latch END_STREAM from the ORIGINAL HEADERS flags: the loop below
        // overwrites `flags`, and CONTINUATIONs carry no END_STREAM bit
        headersEndStream = (flags & FlagEndStream) != 0
        if ((flags & FlagPadded) != 0) { val pad = payload(0) & 0xff; off = 1; end = len - pad }
        if ((flags & FlagPriority) != 0) off += 5
        val block = new ByteArrayOutputStream()
        block.write(payload, off, end - off)
        while ((flags & FlagEndHeaders) == 0) {
          val c0 = in.read()
          if (c0 < 0) throw new EOFException("client closed mid-headers")
          val clen = (c0 << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
          val ctpe = in.readUnsignedByte()
          flags = in.readUnsignedByte()
          in.readInt()
          if (ctpe != FrameContinuation)
            throw new IOException(s"expected CONTINUATION, got $ctpe")
          val cp = new Array[Byte](clen)
          in.readFully(cp)
          block.write(cp)
        }
        headerBlock = block.toByteArray
      }
      writeLock.synchronized {
        try applyFrame(tpe, flags, sid, len, payload, headerBlock, headersEndStream)
        finally writeLock.notifyAll() // window credit / new bytes / resets
      }
    }

    /** Apply one frame to connection/stream state. Caller holds [[writeLock]]. */
    private def applyFrame(tpe: Int, flags: Int, sid: Int, len: Int,
                           payload: Array[Byte], headerBlock: Array[Byte],
                           headersEndStream: Boolean): Unit = {
      tpe match {
        case FrameHeaders =>
          val buf = Unpooled.wrappedBuffer(headerBlock)
          val headers = try hpackDec.decodeHeaders(sid, buf) finally buf.release()
          val auth = Option(headers.get("authorization")).map(_.toString).getOrElse("")
          val endStream = headersEndStream
          if (draining) {
            // GOAWAY semantics: this stream is above the advertised
            // last-stream-id — refuse it RETRYABLY (REFUSED_STREAM, which
            // gRPC clients map to UNAVAILABLE and replay on another
            // connection) and never register it; its DATA frames return
            // connection credit like any unknown stream's.
            writeFrame(FrameRst, 0, sid, u32(7L)); flushOut()
          } else if (!authorized(auth)) {
            // refuse at HEADERS time, BEFORE buffering any body: the stream
            // is never registered, so its DATA frames return connection
            // credit but are dropped — an unauthenticated peer can't stream
            // bytes into server memory. RST tells the client to stop sending.
            sendTrailers(sid, 16, "unauthenticated", trailersOnly = true)
            if (!endStream) { writeFrame(FrameRst, 0, sid, u32(8L)); flushOut() }
          } else {
            val req = new Req
            req.path = Option(headers.path()).map(_.toString).getOrElse("")
            req.authorization = auth
            if (req.path == "/arrow.flight.protocol.FlightService/DoExchange")
              req.exch = new Exch
            if (sid > maxSeenStream) maxSeenStream = sid
            register(sid, req)
            if (endStream) req.ended = true
            if (req.exch != null) {
              // STREAM-PARALLEL dispatch: every exchange gets its own
              // worker, so stacked h2 streams from a multiplexed client
              // never serialize behind one another's evaluation
              val t = new Thread(() => runExchange(sid, req, req.exch),
                s"graft-flight-exch-$sid")
              t.setDaemon(true)
              t.start()
            } else if (endStream) completed.append(sid)
          }
        case FrameData =>
          var off = 0; var n = len
          if ((flags & FlagPadded) != 0) { val pad = payload(0) & 0xff; off = 1; n = len - 1 - pad }
          streams.get(sid).foreach { req =>
            val backlog = if (req.exch != null) req.exch.unconsumed else req.buf.size()
            if (backlog + n > MaxBuffered) {
              // Backlog cap blown. Reset FIRST so any in-flight sendData for
              // this stream aborts instead of writing DATA past END_STREAM
              // (streams.remove drops future WINDOW_UPDATEs, so its window
              // could never replenish). For a NON-exchange stream the
              // refusal is written here (handler owns those streams); an
              // EXCHANGE stream's worker owns its writes — flag it and let
              // the worker emit the refusal (trailersOnly decided there,
              // where headersSent is stable).
              req.reset = true
              if (req.exch != null) req.overflowed = true
              else {
                sendTrailers(sid, 8, "request body exceeds per-stream limit",
                  trailersOnly = !req.headersSent)
                writeFrame(FrameRst, 0, sid, u32(8L)); flushOut()
                unregister(sid)
              }
            } else if (req.exch != null) {
              req.exch.append(payload, off, n) // worker woken by notifyAll
            } else req.buf.write(payload, off, n)
          }
          if (len > 0) {
            // connection credit returns even for unknown/reset streams — the
            // shared window must never leak on a cancelled stream's tail
            writeFrame(FrameWindowUpdate, 0, 0, u32(len.toLong))
            if ((flags & FlagEndStream) == 0 && streams.contains(sid))
              writeFrame(FrameWindowUpdate, 0, sid, u32(len.toLong))
            flushOut()
          }
          if ((flags & FlagEndStream) != 0 && streams.contains(sid)) {
            val req = streams(sid)
            req.ended = true
            if (req.exch == null) completed.append(sid)
          }
        case FrameSettings =>
          if ((flags & FlagAck) == 0) {
            var i = 0
            while (i + 6 <= len) {
              val k = ((payload(i) & 0xff) << 8) | (payload(i + 1) & 0xff)
              val v = ((payload(i + 2) & 0xffL) << 24) | ((payload(i + 3) & 0xffL) << 16) |
                ((payload(i + 4) & 0xffL) << 8) | (payload(i + 5) & 0xffL)
              k match {
                case 0x1 => hpackEnc.maxHeaderTableSize(v)
                case 0x4 =>
                  val delta = v - peerInitWindow
                  peerInitWindow = v
                  streams.values.foreach(_.sendWindow += delta)
                case 0x5 => peerMaxFrame = v.toInt
                case _ =>
              }
              i += 6
            }
            writeFrame(FrameSettings, FlagAck, 0, Array.emptyByteArray)
            flushOut()
          }
        case FramePing =>
          if ((flags & FlagAck) == 0) { writeFrame(FramePing, FlagAck, 0, payload); flushOut() }
        case FrameWindowUpdate =>
          val inc = ((payload(0) & 0x7fL) << 24) | ((payload(1) & 0xffL) << 16) |
            ((payload(2) & 0xffL) << 8) | (payload(3) & 0xffL)
          if (sid == 0) connSend += inc
          else streams.get(sid).foreach(_.sendWindow += inc)
        case FrameRst =>
          streams.get(sid).foreach(_.reset = true)
          unregister(sid)
        case FrameGoaway => closing = true
        case _ => // PRIORITY etc: ignore
      }
    }

    // ---- response writing ----------------------------------------------------
    /** HPACK encode + frame write under ONE hold of [[writeLock]]: with
      * concurrent exchange workers, header blocks must hit the wire in
      * encode order or the peer's decoder desynchronizes. */
    private def encodeHeaders(sid: Int, h: DefaultHttp2Headers, endStream: Boolean): Unit =
      writeLock.synchronized {
        val buf = Unpooled.buffer(256)
        try {
          hpackEnc.encodeHeaders(sid, h, buf)
          val block = new Array[Byte](buf.readableBytes())
          buf.readBytes(block)
          writeFrame(FrameHeaders,
            FlagEndHeaders | (if (endStream) FlagEndStream else 0), sid, block)
        } finally buf.release()
      }

    private def sendResponseHeaders(sid: Int, req: Req): Unit = writeLock.synchronized {
      val h = new DefaultHttp2Headers(false)
      h.status("200")
      h.add("content-type", "application/grpc")
      encodeHeaders(sid, h, endStream = false)
      req.headersSent = true
      flushOut()
    }

    private def sendTrailers(sid: Int, code: Int, msg: String,
                             trailersOnly: Boolean): Unit = {
      val h = new DefaultHttp2Headers(false)
      if (trailersOnly) { h.status("200"); h.add("content-type", "application/grpc") }
      h.add("grpc-status", code.toString)
      if (msg.nonEmpty) h.add("grpc-message", percentEncode(msg))
      encodeHeaders(sid, h, endStream = true)
      flushOut()
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
          val avail = math.min(connSend, req.sendWindow)
          if (avail > 0) {
            val n = math.min(math.min(avail, peerMaxFrame.toLong),
              (bytes.length - off).toLong).toInt
            writeFrame(FrameData, 0, sid, bytes, off, n)
            off += n
            connSend -= n
            req.sendWindow -= n
            if (off >= bytes.length) done = true
          } else if (req.exch != null) writeLock.wait()
          else pump = true
        }
        if (pump) handleOneFrame()
      }
      flushOut()
    }



    // ---- gRPC dispatch ---------------------------------------------------------
    private def parseMessages(bytes: Array[Byte]): Vector[Array[Byte]] = {
      val msgs = Vector.newBuilder[Array[Byte]]
      var p = 0
      while (p + 5 <= bytes.length) {
        if (bytes(p) != 0) throw new BadRequest("compressed gRPC messages not supported")
        val n = ((bytes(p + 1) & 0xff) << 24) | ((bytes(p + 2) & 0xff) << 16) |
          ((bytes(p + 3) & 0xff) << 8) | (bytes(p + 4) & 0xff)
        if (n < 0 || p + 5L + n > bytes.length) // Long: no overflow near Int.MaxValue
          throw new BadRequest(s"truncated gRPC message (declared $n bytes)")
        msgs += java.util.Arrays.copyOfRange(bytes, p + 5, p + 5 + n)
        p += 5 + n
      }
      msgs.result()
    }

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
          val msgs = parseMessages(req.buf.toByteArray)
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
            val code = e match { case _: BadRequest => 3; case _ => 13 }
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            try sendTrailers(sid, code, msg, trailersOnly = !req.headersSent)
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
    private def runExchange(sid: Int, req: Req, ex: Exch): Unit = {
      val allocator = new RootAllocator()
      try {
        // the first data message is the schema, or nextData throws
        val schema = nextData(req, ex)
        val fd = Registry.global.lookup(ex.name).head
        val isTable = fd.signature.kind == FunctionKind.Table
        val input = new FlightDataStream(schema.iterator ++
          Iterator.continually(nextData(req, ex)).takeWhile(_.isDefined).flatten)
        val output = new FlightDataSink((header, body) =>
          sendData(sid, req, grpcFrame(Pb.flightData(None, header, body))))
        UdfServer.serveCall(ex.name, isTable, withErrors = !isTable && fd.fallible,
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
            val code = e match {
              case _: NotFound => 5
              case _: BadRequest => 3
              case _ => 13
            }
            val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
            try sendTrailers(sid, code, msg, trailersOnly = !req.headersSent)
            catch { case _: Exception => }
            // tell a still-sending client to stop (the auth-refusal pattern)
            if (!req.ended) {
              try { writeFrame(FrameRst, 0, sid, u32(8L)); flushOut() }
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
      try { writeFrame(FrameRst, 0, sid, u32(8L)); flushOut() }
      catch { case _: Exception => }
    }

    /** The next complete gRPC message of this exchange, waiting on
      * [[writeLock]] for the handler to append it; None once the client
      * half-closed. A reset, an overflow or a closing connection throws, so
      * the evaluator ends at its next read of exchange input. */
    private def awaitMessage(req: Req, ex: Exch): Option[Array[Byte]] =
      writeLock.synchronized {
        var msg: Option[Array[Byte]] = None
        while (msg.isEmpty) {
          if (req.reset) throw new IOException("stream reset")
          if (closing) throw new IOException("connection closing")
          msg = ex.tryParse()
          if (msg.isEmpty && req.ended) {
            if (ex.unconsumed > 0)
              throw new BadRequest(s"truncated gRPC message (${ex.unconsumed} trailing bytes)")
            return None
          }
          if (msg.isEmpty) writeLock.wait()
        }
        msg
      }

    /** The exchange's next Arrow IPC message, checked before the
      * evaluator's reader sees it: latches the descriptor name, skips
      * metadata-only messages, and requires a structurally valid header of
      * a known type, the schema first and only once, and — at the schema —
      * a function of that name. None once the client half-closed after its
      * schema. */
    @scala.annotation.tailrec
    private def nextData(req: Req, ex: Exch): Option[Pb.FlightDataMsg] =
      awaitMessage(req, ex) match {
        case None =>
          if (!ex.sawSchema) { // the whole request arrived without a schema
            requireFunction(ex)
            throw new BadRequest("DoExchange ended before a schema message")
          }
          None
        case Some(msg) =>
          val fd = parsed("FlightData")(Pb.parseFlightData(msg))
          if (ex.name.isEmpty) fd.descriptorPath.headOption.foreach(n => ex.name = n)
          if (fd.dataHeader.isEmpty) nextData(req, ex) // descriptor/app-metadata only
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
              if (ex.sawSchema) throw new BadRequest("duplicate schema message on DoExchange")
              requireFunction(ex)
              ex.sawSchema = true
            } else if (!ex.sawSchema)
              throw new BadRequest("DoExchange record batch before schema message")
            Some(fd)
          }
      }

    private def requireFunction(ex: Exch): Unit = {
      if (ex.name.isEmpty)
        throw new BadRequest("DoExchange carries no FlightDescriptor path (function name)")
      if (Registry.global.lookup(ex.name).isEmpty) throw new NotFound(s"no function ${ex.name}")
    }
  }
}
