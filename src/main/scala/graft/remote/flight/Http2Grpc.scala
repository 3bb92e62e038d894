package graft.remote.flight

import io.netty.handler.codec.http2.{DefaultHttp2Headers, Http2Headers}
import java.io.IOException
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets
import scala.collection.mutable

/**
 * A from-scratch HTTP/2 + gRPC CLIENT on a blocking socket — the transport
 * under [[FlightClient]], speaking to any stock gRPC server (the bridge's
 * interop gate drives it against a real `pyarrow.flight` / grpc-core server).
 *
 * Why hand-rolled: the reference reaches its UDF services over Arrow Flight
 * (tonic/gRPC, `arrow-udf-runtime/src/remote/mod.rs:32-48`); this build has
 * no gRPC stubs and no dependency egress, but the Spark distribution DOES
 * ship `netty-codec-http2`, whose public HPACK header codec removes the only
 * spec-table-heavy part (RFC 7541 Huffman + static table). The byte-level
 * rules — preface, frames, SETTINGS/PING, credit, HPACK — are [[H2]]'s and
 * shared with [[FlightServer]]; this class adds the client's streams,
 * GOAWAY/RST handling and its concurrency.
 *
 * Concurrency model: MULTIPLEXED — any number of concurrent RPCs interleave
 * as h2 streams on one connection, from any threads (the way stock gRPC
 * channels behave, and what keeps a 32-core executor at a few sockets per
 * UDF endpoint instead of one per core). One monitor guards all connection
 * state and frame writes; socket reads run OUTSIDE it under a reader baton:
 * whichever thread needs a frame first becomes the reader, dispatches what
 * it read under the lock, and hands the baton on — so a blocking read never
 * blocks another stream's writes, and HPACK blocks decode strictly in wire
 * order. Every blocking point services PING/SETTINGS/WINDOW_UPDATE frames,
 * so keepalives and flow-control credit never deadlock a call.
 *
 * Flow control: we announce a large stream window (SETTINGS) and extend the
 * 65535-byte connection window once at startup, then return credit for every
 * DATA frame consumed; sends respect the peer's connection + stream windows,
 * pumping frames while blocked.
 */
private[flight] final class Http2Conn(host: String, port: Int, timeoutMs: Int = 120000,
                                      tls: Option[javax.net.ssl.SSLContext] = None,
                                      recvWindow: Int = 1 << 23)
    extends AutoCloseable {

  import H2._

  private val sock = tls match {
    case Some(ctx) =>
      // gRPC-over-TLS requires ALPN "h2" (the gRPC spec's negotiation rule);
      // endpoint identification pins the server cert to the dialed host/IP
      val s = ctx.getSocketFactory.createSocket()
        .asInstanceOf[javax.net.ssl.SSLSocket]
      s.connect(new InetSocketAddress(host, port), timeoutMs)
      s.setSoTimeout(timeoutMs) // bound the handshake too, not just reads
      val p = s.getSSLParameters
      p.setApplicationProtocols(Array("h2"))
      p.setEndpointIdentificationAlgorithm("HTTPS")
      s.setSSLParameters(p)
      s.startHandshake()
      if (s.getApplicationProtocol != "h2")
        throw new IOException(s"peer negotiated '${s.getApplicationProtocol}', not h2")
      s
    case None =>
      val s = new Socket()
      s.connect(new InetSocketAddress(host, port), timeoutMs)
      s
  }
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)

  /** Guards every mutable field below, all codec writes (each frame lands on
    * the wire atomically, HPACK blocks encode in write order), and the
    * reader-baton handoff. Never held across a socket READ. */
  private val lock = new Object
  private var readerBusy = false
  /** First transport-level failure; latched so every stream's waiter fails
    * fast instead of re-reading a broken socket. */
  private var dead: IOException = null

  private var nextStreamId = 1
  private var goaway: Option[String] = None

  /** One RPC's stream state. Owned by the calling thread; mutated only under
    * [[lock]] (by the reader's dispatch or the owner). */
  final class StreamState private[Http2Conn] (val id: Int) {
    private[Http2Conn] var sendWindow: Long = codec.peerInitialWindow
    private[Http2Conn] val inbox = new mutable.ArrayDeque[Array[Byte]]()
    private[Http2Conn] var headers: Option[Http2Headers] = None
    private[Http2Conn] var trailers: Option[Http2Headers] = None
    private[Http2Conn] var remoteClosed = false
    private[Http2Conn] var localClosed = false // we sent END_STREAM
    private[Http2Conn] var rstCode: Option[Long] = None
  }
  private val streams = mutable.Map.empty[Int, StreamState]

  /** Our receive window per stream is at least the RFC's 65535: large by
    * default so a whole bounded exchange never waits on our credit; tests
    * shrink it to force the window-blocked paths. */
  private val codec = new H2.Codec(sock, math.max(recvWindow, 65535),
    delta => streams.values.foreach(_.sendWindow += delta))
  codec.open(client = true)

  private def rethrow(e: IOException): IOException = e match {
    case _: java.net.SocketTimeoutException =>
      new java.net.SocketTimeoutException(s"connection deadline hit: ${e.getMessage}")
    case _ => new IOException(s"connection failed: ${e.getMessage}", e)
  }

  /** What an RPC sees when it OBSERVES an already-latched failure (vs the
    * reader thread that hit it): always a plain IOException, even when the
    * latched cause was a read deadline. The deadline is an ANSWER only for
    * the RPC whose read hit it (containment: a hung server stays aborted,
    * [[graft.remote.FailoverSession]] evicts and rethrows STE); for every
    * other stream on the connection it just means "this connection is
    * dead", which the session fails over from. Without this split, every
    * stream sharing a [[FlightClientCache]] client with one hung RPC would
    * inherit its deadline verdict and abort its task instead of failing
    * over. */
  private def deadEx(): IOException =
    new IOException(s"connection dead: ${dead.getMessage}", dead)

  /** True once a transport failure latched this connection dead. */
  private[flight] def isDead: Boolean = lock.synchronized(dead != null)

  /** Streams currently tracked (specs assert release-on-abandonment). */
  private[flight] def activeStreams: Int = lock.synchronized(streams.size)

  /** Block until `cond` (evaluated under [[lock]]) holds, pumping frames.
    * Exactly one thread reads the socket at a time (the baton holder); every
    * other waiter parks on the lock and re-checks after each dispatched
    * frame. A transport failure latches [[dead]] and wakes everyone. */
  private def awaitCond(cond: => Boolean): Unit = {
    while (true) {
      lock.synchronized {
        while (!cond && readerBusy && dead == null) lock.wait()
        if (cond) return
        if (dead != null) throw deadEx()
        readerBusy = true
      }
      var ok = false
      try {
        pumpOne()
        // drain every frame that has ALREADY arrived before handing the
        // baton on: a response burst (one bounded exchange ≈ several DATA
        // frames) dispatches in one hold instead of one wake/handoff per
        // frame — the difference between ~par and ~2x slower at 8 streams
        // per connection. Drain only while a COMPLETE frame is buffered: a
        // partial frame would block the baton holder in read for its tail —
        // up to SO_TIMEOUT — stretching the hold past its "already-arrived
        // frames only" scope. Writers don't need the baton, so hogging it
        // only affects would-be readers who'd wait anyway. (TLS streams may
        // report nothing buffered — degrades to per-frame holds. A HEADERS
        // frame whose CONTINUATIONs are not yet buffered can still block
        // briefly — response header blocks are single-frame in practice.)
        while (codec.frameBuffered()) pumpOne()
        ok = true
      }
      finally lock.synchronized {
        readerBusy = false
        if (!ok && dead == null)
          dead = new IOException("connection reader failed")
        lock.notifyAll()
      }
    }
  }

  // ---- frame pump -------------------------------------------------------------
  /** Read exactly one frame from the peer (NO lock held during the blocking
    * read; caller holds the reader baton), then dispatch it under the lock. */
  private def pumpOne(): Unit = {
    val f =
      try codec.read()
      catch {
        case e: IOException =>
          lock.synchronized { if (dead == null) dead = e; lock.notifyAll() }
          throw rethrow(e)
      }
    lock.synchronized { dispatch(f) }
  }

  /** Apply one stream-level frame to its stream. Caller holds [[lock]]. */
  private def dispatch(f: Frame): Unit = if (!codec.control(f)) f.tpe match {
    case FrameData =>
      val s = streams.get(f.sid).orNull
      if (s != null) {
        if (f.len > 0) s.inbox.append(f.data)
        if (f.endStream) s.remoteClosed = true
      }
      codec.returnCredit(f, streamOpen = s != null && !s.remoteClosed)
    case FrameHeaders =>
      val decoded = codec.decodeHeaders(f)
      streams.get(f.sid).foreach { s =>
        if (s.headers.isEmpty) s.headers = Some(decoded)
        else s.trailers = Some(decoded)
        if (f.endStream) s.remoteClosed = true
      }
    case FrameWindowUpdate => streams.get(f.sid).foreach(_.sendWindow += f.u31At(0))
    case FrameRst =>
      streams.get(f.sid).foreach { s =>
        s.rstCode = Some(f.u32At(0))
        s.remoteClosed = true
      }
    case FrameGoaway =>
      val code = f.u32At(4)
      val msg = new String(f.payload, 8, f.len - 8, StandardCharsets.UTF_8)
      // NEW RPCs are refused (startRpc); an in-flight stream at or below
      // lastStreamId still completes — the pump keeps draining its frames.
      // Only streams PAST the cutoff are dead: mark them errored so their
      // callers see the abort rather than a silent empty response.
      goaway = Some(s"GOAWAY code=$code $msg")
      val lastSid = f.u31At(0)
      streams.values.foreach { s =>
        if (s.id > lastSid && !s.remoteClosed) {
          s.rstCode = Some(code)
          s.remoteClosed = true
        }
      }
    case _ => // PRIORITY, PUSH_PROMISE (push disabled), unknown: ignore
  }

  // ---- RPC surface ------------------------------------------------------------
  /** Open a gRPC request stream (HEADERS for `POST path`); any number may be
    * in flight concurrently. Release with [[finishStream]]. */
  def startRpc(path: String, extraHeaders: Seq[(String, String)] = Nil): StreamState =
    lock.synchronized {
      if (dead != null) throw deadEx()
      goaway.foreach(msg => throw new IOException(s"connection closed by server: $msg"))
      val sid = nextStreamId
      nextStreamId += 2
      val s = new StreamState(sid)
      streams(sid) = s
      val h = new DefaultHttp2Headers(false)
      // :scheme must reflect the transport (gRPC-over-TLS expects https)
      h.method("POST").scheme(if (tls.isDefined) "https" else "http")
        .path(path).authority(s"$host:$port")
      h.add("content-type", "application/grpc")
      h.add("te", "trailers")
      h.add("grpc-accept-encoding", "identity")
      h.add("user-agent", "graft-flight-bridge/1")
      extraHeaders.foreach { case (k, v) => h.add(k, v) }
      codec.writeHeaders(sid, h, endStream = false)
      codec.flush()
      s
    }

  /** Release a finished RPC's stream. If the request side never half-closed
    * (the server ended the stream early and sendData dropped the tail), the
    * stream is still open in the server's accounting — RST it so repeated
    * early-terminated RPCs on a reused connection can't accumulate against
    * SETTINGS_MAX_CONCURRENT_STREAMS. */
  def finishStream(s: StreamState): Unit = lock.synchronized {
    if (streams.remove(s.id).isDefined && !s.localClosed && dead == null) {
      try { codec.writeRst(s.id, 0x8L); codec.flush() } // CANCEL
      catch { case _: IOException => }
    }
  }

  /** Send request bytes on `s`, honoring peer flow control.
    * If the server has already ENDED the stream (trailers, trailers-only
    * refusal, or a reset) the remaining writes are dropped, not an error:
    * the response — including its grpc-status — is already determined, and
    * surfacing it through the normal iterator path preserves the real code
    * (a reset mid-send must not mask an UNAUTHENTICATED trailer). */
  def sendData(s: StreamState, bytes: Array[Byte], endStream: Boolean): Unit = {
    var off = 0
    var done = false
    while (off < bytes.length && !done) {
      // wait for credit on both windows (or stream end), servicing frames
      awaitCond(s.remoteClosed || codec.sendable(s.sendWindow, bytes.length - off) > 0)
      lock.synchronized {
        if (s.remoteClosed) done = true
        else {
          // re-check: another stream may have spent the credit
          val n = codec.sendable(s.sendWindow, bytes.length - off)
          if (n > 0) {
            val last = endStream && off + n == bytes.length
            if (last) s.localClosed = true
            codec.writeData(s.id, bytes, off, n, last)
            off += n
            s.sendWindow -= n
          }
        }
      }
    }
    lock.synchronized {
      if (bytes.isEmpty && endStream && !s.remoteClosed) {
        s.localClosed = true
        codec.writeData(s.id, bytes, 0, 0, endStream = true)
      }
      codec.flush()
    }
  }

  /** Next chunk of response DATA on `s`, or None once the server closed the
    * stream. A reset stream throws ONLY when no grpc-status arrived
    * (trailers, or a trailers-only HEADERS): gRPC servers commonly follow
    * trailers with RST_STREAM(NO_ERROR), which must not mask the real
    * status. */
  def nextData(s: StreamState): Option[Array[Byte]] = {
    awaitCond(s.inbox.nonEmpty || s.remoteClosed)
    lock.synchronized {
      if (s.inbox.nonEmpty) Some(s.inbox.removeHead())
      else {
        val hasStatus = s.trailers.isDefined ||
          s.headers.exists(h => h.get("grpc-status") != null)
        if (!hasStatus)
          s.rstCode.foreach(c => throw new IOException(s"stream reset by server (code $c)"))
        None
      }
    }
  }

  /** Response headers for `s` (blocks until they arrive). */
  def responseHeaders(s: StreamState): Http2Headers = {
    awaitCond(s.headers.isDefined || s.remoteClosed)
    lock.synchronized {
      s.headers.getOrElse(throw new IOException("stream closed before response headers"))
    }
  }

  /** Trailers if the server sent a trailing HEADERS block (after stream end). */
  def trailers(s: StreamState): Option[Http2Headers] = {
    awaitCond(s.remoteClosed)
    lock.synchronized(s.trailers)
  }

  override def close(): Unit = {
    lock.synchronized {
      try {
        codec.writeGoaway(0)
        codec.flush()
      } catch { case _: IOException => }
      if (dead == null) dead = new IOException("connection closed locally")
      lock.notifyAll()
    }
    sock.close()
  }
}

/** A gRPC response message stream; close() releases the underlying h2
  * stream if the caller abandons it before exhaustion (idempotent). */
private[flight] trait GrpcResponse extends Iterator[Array[Byte]] with AutoCloseable

/** gRPC message framing + status handling over [[Http2Conn]]. Calls are
  * thread-safe and CONCURRENT: each [[call]] / [[bidi]] owns one h2 stream,
  * any number in flight per connection. */
private[flight] final class GrpcConn(host: String, port: Int, timeoutMs: Int = 120000,
                                     tls: Option[javax.net.ssl.SSLContext] = None,
                                     callHeaders: Seq[(String, String)] = Nil,
                                     recvWindow: Int = 1 << 23)
    extends AutoCloseable {
  private val conn = new Http2Conn(host, port, timeoutMs, tls, recvWindow)

  /** One gRPC call: a [[bidi]] call that sends every request message, then
    * streams back response messages; the iterator's exhaustion point
    * verifies `grpc-status: 0`. Covers unary, server-streaming, and the
    * write-then-read half of bidi — exactly the shapes Flight's UDF verbs
    * use.
    *
    * The returned iterator is also [[AutoCloseable]]: a caller that stops
    * consuming early — or whose decode throws mid-drain — must close() it
    * (idempotent; a no-op after normal exhaustion) so the h2 stream is
    * released. Without that, an abandoned response leaves its StreamState
    * in the connection's map for the life of the now long-lived shared
    * socket: late DATA keeps accumulating in its inbox and the stream
    * counts against the server's SETTINGS_MAX_CONCURRENT_STREAMS. */
  def call(path: String, requests: Iterator[Array[Byte]]): GrpcResponse = {
    val rpc = bidi(path)
    try {
      if (!requests.hasNext) rpc.finishSending()
      while (requests.hasNext) {
        val msg = requests.next()
        rpc.send(msg, last = !requests.hasNext)
      }
    } catch { case e: Throwable => rpc.close(); throw e }
    new GrpcResponse {
      private var head: Option[Array[Byte]] = null
      override def close(): Unit = rpc.close()
      def hasNext: Boolean = {
        if (head == null) head = rpc.recv()
        head.isDefined
      }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException("gRPC response exhausted")
        val m = head.get
        head = null
        m
      }
    }
  }

  /** A long-lived bidirectional RPC: request messages go out incrementally
    * (`send`), response messages come back interleaved (`recv`) — the shape
    * of the reference's multi-batch DoExchange (`UdfProducer.java:104-139`
    * loops the inbound stream). The caller keeps the exchange bounded by
    * ping-ponging one batch at a time; `recv` services flow-control/PING
    * frames at every blocking point. `grpc-status` is verified exactly once,
    * when `recv` first returns None. */
  final class BidiCall private[GrpcConn] (path: String) {
    private val s = conn.startRpc(path, callHeaders)
    private val msgs = new GrpcDeframer(H2.MaxMessage)
    private var done = false
    private var statusChecked = false

    /** Send one request message; `last = true` half-closes the send side. */
    def send(msg: Array[Byte], last: Boolean = false): Unit =
      conn.sendData(s, H2.grpcFrame(msg), endStream = last)

    /** Half-close without a trailing message (end of the request stream). */
    def finishSending(): Unit = conn.sendData(s, Array.emptyByteArray, endStream = true)

    /** Release the underlying h2 stream (idempotent; a no-op after the
      * normal end-of-stream path already finished it via checkStatus).
      * Callers MUST invoke this on abandonment or error paths — see
      * [[GrpcConn.call]]'s close() note for why a leaked stream matters on
      * a long-lived shared connection. */
    def close(): Unit = conn.finishStream(s)

    /** Next response message, or None once the server closed the stream
      * (status verified at that point, then a message cut off by the end of
      * the stream is an error). */
    def recv(): Option[Array[Byte]] = {
      while (true) {
        val m = msgs.next()
        if (m != null) return Some(m)
        if (done) {
          if (!statusChecked) {
            statusChecked = true
            checkStatus(s)
            msgs.finish()
          }
          return None
        }
        conn.nextData(s) match {
          case Some(chunk) => msgs.append(chunk, 0, chunk.length)
          case None => done = true
        }
      }
      None // unreachable
    }
  }

  /** Open a long-lived bidi RPC (see [[BidiCall]]); concurrent with other
    * calls on this connection. */
  def bidi(path: String): BidiCall = new BidiCall(path)

  /** Streams currently tracked on the underlying connection (spec seam). */
  private[flight] def activeStreams: Int = conn.activeStreams

  /** `grpc-status` rides the trailers — or the single HEADERS block of a
    * trailers-only error response. Non-zero → surface code + message. The
    * stream is RELEASED here (the one per-RPC exhaustion point). */
  private def checkStatus(s: conn.StreamState): Unit = {
    try {
      val src = conn.trailers(s).getOrElse(conn.responseHeaders(s))
      val status = Option(src.get("grpc-status")).map(_.toString).getOrElse(
        throw new IOException("gRPC response missing grpc-status"))
      if (status != "0") {
        val msg = Option(src.get("grpc-message"))
          .map(m => H2.percentDecode(m.toString)).getOrElse("")
        throw new GrpcStatusException(status.toInt, msg)
      }
    } finally conn.finishStream(s)
  }

  override def close(): Unit = conn.close()
}

/** A non-OK gRPC status from the server (code per the public gRPC status
  * table: 12 = UNIMPLEMENTED, 5 = NOT_FOUND, ...). */
final class GrpcStatusException(val code: Int, message: String)
    extends IOException(s"grpc-status $code: $message")
