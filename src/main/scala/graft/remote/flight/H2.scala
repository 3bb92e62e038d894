package graft.remote.flight

import io.netty.buffer.Unpooled
import io.netty.handler.codec.http2.{DefaultHttp2HeadersDecoder, DefaultHttp2HeadersEncoder, Http2Exception, Http2Headers}
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, EOFException, IOException}
import java.net.Socket
import java.nio.charset.StandardCharsets

/**
 * The HTTP/2 + gRPC wire rules both Flight ends share: the client
 * ([[Http2Conn]] / [[GrpcConn]]) and the server ([[FlightServer]]'s
 * handler). Each connection has one [[H2.Codec]] (frame reading and
 * writing, the connection opening, SETTINGS / PING / connection
 * WINDOW_UPDATE, the peer's windows and frame size, DATA credit return,
 * HPACK); each stream deframes its gRPC messages with a [[GrpcDeframer]].
 * Also here: gRPC message framing and the `grpc-message` percent codec.
 *
 * Only the concurrency differs between the ends. The client multiplexes any
 * number of streams per connection from any threads under a reader baton;
 * the server reads on one handler thread per connection and evaluates each
 * exchange on its own worker. Either way the end holds its connection lock
 * around every codec call except [[H2.Codec.read]] (its sole reader's) and
 * [[H2.Codec.readPreface]].
 */
private[flight] object H2 {
  val FrameData = 0x0
  val FrameHeaders = 0x1
  val FrameRst = 0x3
  private val FrameSettings = 0x4
  private val FramePing = 0x6
  val FrameGoaway = 0x7
  val FrameWindowUpdate = 0x8
  private val FrameContinuation = 0x9

  private val FlagEndStream = 0x1
  private val FlagAck = 0x1
  private val FlagEndHeaders = 0x4
  private val FlagPadded = 0x8
  private val FlagPriority = 0x20

  private val Preface = "PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes(StandardCharsets.US_ASCII)

  /** Largest frame either end accepts: neither announces
    * SETTINGS_MAX_FRAME_SIZE, so RFC 9113's default holds. */
  private val MaxFrame = 16384

  /** Largest gRPC message either end accepts: the client's cap on a
    * response message, and the default of the server's per-stream backlog
    * cap (`FlightServer.maxBuffered`). */
  val MaxMessage = 64 << 20

  private def u32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** gRPC length-prefixed message framing: [u8 compressed-flag][u32 BE len]. */
  def grpcFrame(msg: Array[Byte]): Array[Byte] = {
    val n = msg.length
    val out = new Array[Byte](5 + n)
    out(1) = ((n >> 24) & 0xff).toByte; out(2) = ((n >> 16) & 0xff).toByte
    out(3) = ((n >> 8) & 0xff).toByte; out(4) = (n & 0xff).toByte
    System.arraycopy(msg, 0, out, 5, n)
    out
  }

  /** `grpc-message` percent-encoding (spec: bytes outside 0x20–0x7E and
    * `%` itself are %XX-escaped). */
  def percentEncode(s: String): String = {
    val sb = new java.lang.StringBuilder()
    s.getBytes(StandardCharsets.UTF_8).foreach { b =>
      val c = b & 0xff
      if (c >= 0x20 && c <= 0x7e && c != '%') sb.append(c.toChar)
      else sb.append(f"%%$c%02X")
    }
    sb.toString
  }

  /** Inverse of [[percentEncode]]. A malformed escape (`%zz`, a trailing `%`
    * or `%4`) passes through verbatim: the gRPC spec forbids a decoder to
    * fail on one, and the status code must survive a garbled message. */
  def percentDecode(s: String): String = {
    def hex(c: Char): Int =
      if (c >= '0' && c <= '9') c - '0'
      else if (c >= 'a' && c <= 'f') c - 'a' + 10
      else if (c >= 'A' && c <= 'F') c - 'A' + 10
      else -1
    val sb = new java.lang.StringBuilder(s.length)
    val escaped = new ByteArrayOutputStream()
    def flushEscaped(): Unit = if (escaped.size > 0) {
      sb.append(new String(escaped.toByteArray, StandardCharsets.UTF_8))
      escaped.reset()
    }
    var i = 0
    while (i < s.length) {
      val b = if (s.charAt(i) == '%' && i + 2 < s.length) {
        val hi = hex(s.charAt(i + 1)); val lo = hex(s.charAt(i + 2))
        if (hi < 0 || lo < 0) -1 else (hi << 4) | lo
      } else -1
      if (b >= 0) { escaped.write(b); i += 3 }
      else { flushEscaped(); sb.append(s.charAt(i)); i += 1 }
    }
    flushEscaped()
    sb.toString
  }

  private def malformed(what: String): IOException =
    new IOException(s"http2 protocol error: $what")

  /** One received frame. `flags` are the frame's own: a HEADERS frame keeps
    * its END_STREAM bit across its CONTINUATIONs. `payload(off until
    * off + len)` is a DATA frame's content without its padding, or a HEADERS
    * frame's whole HPACK block. */
  final class Frame private[H2] (val tpe: Int, val flags: Int, val sid: Int,
                                 val payload: Array[Byte], val off: Int, val len: Int) {
    def endStream: Boolean = (flags & FlagEndStream) != 0

    /** Big-endian u32 at payload offset `i` (a control frame's fields). */
    def u32At(i: Int): Long =
      ((payload(i) & 0xffL) << 24) | ((payload(i + 1) & 0xffL) << 16) |
        ((payload(i + 2) & 0xffL) << 8) | (payload(i + 3) & 0xffL)

    /** A WINDOW_UPDATE's increment, or a GOAWAY's last stream id. */
    def u31At(i: Int): Long = u32At(i) & 0x7fffffffL

    /** A DATA frame's content as its own array, copied only when padding
      * surrounds it. */
    def data: Array[Byte] =
      if (off == 0 && len == payload.length) payload
      else java.util.Arrays.copyOfRange(payload, off, off + len)
  }

  /**
   * One connection's frame layer. Reading checks every frame against the
   * RFC 9113 rules whose breach would make a later index run off a payload:
   * at most [[MaxFrame]] bytes; WINDOW_UPDATE and RST_STREAM exactly 4;
   * PING exactly 8; SETTINGS a multiple of 6; GOAWAY at least 8; padding and
   * the priority prefix inside the payload. A breach is a connection error,
   * thrown as an `IOException` like any other transport failure.
   *
   * @param recvWindow this end's receive window per stream, and what the
   *   connection window is topped up to at the opening
   * @param onInitialWindow called (under the caller's lock) with how far a
   *   peer SETTINGS_INITIAL_WINDOW_SIZE moved every open stream's send window
   */
  final class Codec(sock: Socket, recvWindow: Int, onInitialWindow: Long => Unit) {
    private val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
    private val hpackEnc = new DefaultHttp2HeadersEncoder()
    private val hpackDec = new DefaultHttp2HeadersDecoder(false)
    private val header = new Array[Byte](9)

    /** How much this end may still send on the connection. */
    private var connSendWindow: Long = 65535L
    private var initialWindow: Long = 65535L
    private var peerMaxFrame: Int = MaxFrame

    /** Where a new stream's send window starts (the peer's SETTINGS). */
    def peerInitialWindow: Long = initialWindow

    /** Server side: reads and checks the client's connection preface. */
    def readPreface(): Unit = {
      val p = new Array[Byte](Preface.length)
      in.readFully(p)
      if (!java.util.Arrays.equals(p, Preface)) throw new IOException("bad http2 preface")
    }

    /** Opens this end of the connection: the client's preface, then
      * SETTINGS (server push off, from the client; `recvWindow` per stream)
      * and a connection WINDOW_UPDATE up to `recvWindow` (none at the 65535
      * minimum: a zero increment is a PROTOCOL_ERROR). */
    def open(client: Boolean): Unit = {
      if (client) out.write(Preface)
      val settings = (if (client) Seq(0x2 -> 0L) else Nil) :+ (0x4 -> recvWindow.toLong)
      val b = java.nio.ByteBuffer.allocate(settings.size * 6)
      settings.foreach { case (k, v) => b.putShort(k.toShort).putInt(v.toInt) }
      writeFrame(FrameSettings, 0, 0, b.array())
      if (recvWindow > 65535) writeFrame(FrameWindowUpdate, 0, 0, u32(recvWindow - 65535L))
      out.flush()
    }

    /** Reads the next frame, a HEADERS frame with its CONTINUATIONs (they
      * are contiguous on the wire, RFC 9113 §6.10). Blocking; called by the
      * connection's sole reader, with no lock held. */
    def read(): Frame = {
      val b0 = in.read()
      if (b0 < 0) throw new EOFException("http2 connection closed")
      val size = (b0 << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
      val tpe = in.readUnsignedByte()
      val flags = in.readUnsignedByte()
      val sid = in.readInt() & 0x7fffffff
      if (size > MaxFrame) throw malformed(s"frame of $size bytes (limit $MaxFrame)")
      val payload = new Array[Byte](size)
      in.readFully(payload)
      def need(ok: Boolean, what: String): Unit =
        if (!ok) throw malformed(s"$what frame of $size bytes")
      tpe match {
        case FrameRst => need(size == 4, "RST_STREAM")
        case FrameWindowUpdate => need(size == 4, "WINDOW_UPDATE")
        case FramePing => need(size == 8, "PING")
        case FrameSettings => need(size % 6 == 0, "SETTINGS")
        case FrameGoaway => need(size >= 8, "GOAWAY")
        case _ =>
      }
      var off = 0
      var end = size
      if ((tpe == FrameData || tpe == FrameHeaders) && (flags & FlagPadded) != 0) {
        need(size >= 1, "padded")
        off = 1
        end = size - (payload(0) & 0xff)
      }
      if (tpe == FrameHeaders && (flags & FlagPriority) != 0) off += 5
      need(off <= end, "padding or priority prefix overruns its")
      if (tpe != FrameHeaders || (flags & FlagEndHeaders) != 0)
        return new Frame(tpe, flags, sid, payload, off, end - off)
      val block = new ByteArrayOutputStream()
      block.write(payload, off, end - off)
      var cflags = flags
      while ((cflags & FlagEndHeaders) == 0) {
        val c0 = in.read()
        if (c0 < 0) throw new EOFException("http2 connection closed mid-headers")
        val clen = (c0 << 16) | (in.readUnsignedByte() << 8) | in.readUnsignedByte()
        val ctpe = in.readUnsignedByte()
        cflags = in.readUnsignedByte()
        in.readInt()
        if (ctpe != FrameContinuation) throw malformed(s"expected CONTINUATION, got frame type $ctpe")
        if (clen > MaxFrame) throw malformed(s"frame of $clen bytes (limit $MaxFrame)")
        val cp = new Array[Byte](clen)
        in.readFully(cp)
        block.write(cp)
      }
      val b = block.toByteArray
      new Frame(tpe, flags, sid, b, 0, b.length)
    }

    /** Whether the next whole frame has already arrived. Never blocks: it
      * peeks the frame's length and puts it back. Sole reader only. */
    def frameBuffered(): Boolean = {
      if (in.available() < 9) return false
      in.mark(9)
      val len =
        try (in.read() << 16) | (in.read() << 8) | in.read()
        finally in.reset()
      in.available() >= 9 + len
    }

    /** Applies a frame that concerns only the connection and returns true:
      * SETTINGS (acked; the HPACK table size, the initial window and the max
      * frame size are honoured), PING (acked) and a connection WINDOW_UPDATE.
      * Any other frame is the caller's: false. */
    def control(f: Frame): Boolean = f.tpe match {
      case FrameSettings =>
        if ((f.flags & FlagAck) == 0) {
          var i = 0
          while (i < f.len) {
            val k = ((f.payload(i) & 0xff) << 8) | (f.payload(i + 1) & 0xff)
            val v = f.u32At(i + 2)
            k match {
              case 0x1 => hpackEnc.maxHeaderTableSize(v) // our encoder must honour it
              case 0x4 =>
                val delta = v - initialWindow
                initialWindow = v
                onInitialWindow(delta)
              case 0x5 =>
                if (v < MaxFrame || v > 0xffffffL) throw malformed(s"SETTINGS_MAX_FRAME_SIZE $v")
                peerMaxFrame = v.toInt
              case _ =>
            }
            i += 6
          }
          writeFrame(FrameSettings, FlagAck, 0, Array.emptyByteArray)
          out.flush()
        }
        true
      case FramePing =>
        if ((f.flags & FlagAck) == 0) { writeFrame(FramePing, FlagAck, 0, f.payload); out.flush() }
        true
      case FrameWindowUpdate if f.sid == 0 =>
        connSendWindow += f.u31At(0)
        true
      case _ => false
    }

    /** Returns credit for one consumed DATA frame, padding included: always
      * to the connection window (a cancelled stream's in-flight tail must not
      * shrink the shared window for good), and to the stream's while it is
      * still open. */
    def returnCredit(f: Frame, streamOpen: Boolean): Unit = if (f.payload.length > 0) {
      val credit = u32(f.payload.length.toLong)
      writeFrame(FrameWindowUpdate, 0, 0, credit)
      if (streamOpen) writeFrame(FrameWindowUpdate, 0, f.sid, credit)
      out.flush()
    }

    def decodeHeaders(f: Frame): Http2Headers = {
      val buf = Unpooled.wrappedBuffer(f.payload, f.off, f.len)
      try hpackDec.decodeHeaders(f.sid, buf)
      catch { case e: Http2Exception => throw malformed(s"bad header block: ${e.getMessage}") }
      finally buf.release()
    }

    /** HPACK-encodes `h` and writes it as one HEADERS frame. Both happen
      * under the caller's one lock hold, so header blocks reach the wire in
      * encode order and the peer's decoder stays in step. */
    def writeHeaders(sid: Int, h: Http2Headers, endStream: Boolean): Unit = {
      val buf = Unpooled.buffer(256)
      try {
        hpackEnc.encodeHeaders(sid, h, buf)
        val block = new Array[Byte](buf.readableBytes())
        buf.readBytes(block)
        writeFrame(FrameHeaders, FlagEndHeaders | (if (endStream) FlagEndStream else 0), sid, block)
      } finally buf.release()
    }

    /** Bytes of one DATA frame this end may write now: the least of the
      * connection window, `streamWindow`, the peer's max frame size and
      * `remaining`; 0 while a window is shut. */
    def sendable(streamWindow: Long, remaining: Int): Int =
      math.max(0L, math.min(math.min(connSendWindow, streamWindow),
        math.min(peerMaxFrame, remaining).toLong)).toInt

    /** One DATA frame, charged to the connection window; the caller charges
      * its stream's. */
    def writeData(sid: Int, bytes: Array[Byte], off: Int, n: Int, endStream: Boolean): Unit = {
      writeFrame(FrameData, if (endStream) FlagEndStream else 0, sid, bytes, off, n)
      connSendWindow -= n
    }

    def writeRst(sid: Int, code: Long): Unit = writeFrame(FrameRst, 0, sid, u32(code))

    /** GOAWAY(NO_ERROR): streams up to `lastSid` still complete. */
    def writeGoaway(lastSid: Int): Unit =
      writeFrame(FrameGoaway, 0, 0, u32(lastSid.toLong) ++ u32(0L))

    def flush(): Unit = out.flush()

    private def writeFrame(tpe: Int, flags: Int, sid: Int, payload: Array[Byte],
                           off: Int = 0, len: Int = -1): Unit = {
      val n = if (len < 0) payload.length else len
      header(0) = (n >> 16).toByte; header(1) = (n >> 8).toByte; header(2) = n.toByte
      header(3) = tpe.toByte; header(4) = flags.toByte
      header(5) = (sid >> 24).toByte; header(6) = (sid >> 16).toByte
      header(7) = (sid >> 8).toByte; header(8) = sid.toByte
      out.write(header, 0, 9)
      out.write(payload, off, n)
    }
  }
}

/** A message the peer framed wrongly (compressed flag, bad length, cut off
  * at end of stream). The server answers it with INVALID_ARGUMENT (3). */
private[flight] final class GrpcFramingException(msg: String) extends IOException(msg)

/**
 * Reassembles one stream's gRPC length-prefixed messages
 * (`[u8 compressed-flag][u32 BE length][message]`) from DATA as it arrives.
 * Bytes are dropped as messages complete, so the buffer holds the BACKLOG,
 * not the stream: a stream of any total length runs in bounded memory.
 * Appending and slicing are O(bytes) (an amortized-growth buffer, not array
 * concatenation: a large message arrives as hundreds of 16 KiB frames).
 *
 * @param cap the largest message accepted, prefix included
 */
private[flight] final class GrpcDeframer(cap: Int) {
  private var buf = new Array[Byte](8192)
  private var start = 0
  private var end = 0

  /** Bytes received but not yet returned as a message. */
  def buffered: Int = end - start

  def append(b: Array[Byte], off: Int, len: Int): Unit = {
    if (end + len > buf.length) {
      val used = end - start
      if (used + len <= buf.length) System.arraycopy(buf, start, buf, 0, used)
      else {
        val nb = new Array[Byte](math.max(buf.length * 2, used + len))
        System.arraycopy(buf, start, nb, 0, used)
        buf = nb
      }
      start = 0; end = used
    }
    System.arraycopy(b, off, buf, end, len)
    end += len
  }

  /** The next complete message, or null until more bytes arrive. */
  def next(): Array[Byte] = {
    if (end - start < 5) return null
    if (buf(start) != 0) throw new GrpcFramingException("compressed gRPC messages not supported")
    val n = ((buf(start + 1) & 0xff) << 24) | ((buf(start + 2) & 0xff) << 16) |
      ((buf(start + 3) & 0xff) << 8) | (buf(start + 4) & 0xff)
    // Long math: `5 + n` overflows Int for n near Int.MaxValue
    if (n < 0 || 5L + n > cap)
      throw new GrpcFramingException(s"bad gRPC message length $n (per-stream limit $cap)")
    if (end - start < 5 + n) return null
    val m = java.util.Arrays.copyOfRange(buf, start + 5, start + 5 + n)
    start += 5 + n
    m
  }

  /** At end of stream: fails if a message was cut off. */
  def finish(): Unit =
    if (end > start)
      throw new GrpcFramingException(s"truncated gRPC message (${end - start} trailing bytes)")
}
