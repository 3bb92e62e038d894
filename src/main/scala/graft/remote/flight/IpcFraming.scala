package graft.remote.flight

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, InputStream, OutputStream}

/**
 * Arrow IPC encapsulated-message framing, shared by the Flight client and
 * server: a stream is a sequence of `[0xFFFFFFFF][int32 LE length][flatbuffer
 * Message, padded to 8][body]` records terminated by a zero-length marker.
 * `FlightData` carries the SAME message with the 8-byte prefix stripped
 * (`data_header` = flatbuffer, `data_body` = body) — the public Flight↔IPC
 * mapping — so bridging is purely re-framing, never re-encoding.
 */
private[flight] object IpcFraming {
  val Eos: Array[Byte] = Array[Byte](-1, -1, -1, -1, 0, 0, 0, 0)

  /** Split one encapsulated record produced by `MessageSerializer` into
    * (flatbuffer metadata, body). */
  def split(all: Array[Byte]): (Array[Byte], Array[Byte]) = {
    require(all.length >= 8 && all(0) == -1 && all(1) == -1 && all(2) == -1 && all(3) == -1,
      "unexpected IPC framing")
    val metaLen = (all(4) & 0xff) | ((all(5) & 0xff) << 8) |
      ((all(6) & 0xff) << 16) | ((all(7) & 0xff) << 24)
    (java.util.Arrays.copyOfRange(all, 8, 8 + metaLen),
      java.util.Arrays.copyOfRange(all, 8 + metaLen, all.length))
  }

  /** Re-frame one (metadata, body) message, padding the metadata so the body
    * lands 8-byte aligned. */
  def write(out: OutputStream, header: Array[Byte], body: Array[Byte]): Unit = {
    val padded = (header.length + 7) / 8 * 8
    out.write(Array[Byte](-1, -1, -1, -1))
    out.write(padded & 0xff); out.write((padded >> 8) & 0xff)
    out.write((padded >> 16) & 0xff); out.write((padded >> 24) & 0xff)
    out.write(header)
    var i = header.length
    while (i < padded) { out.write(0); i += 1 }
    out.write(body)
  }

  /** Read ONE encapsulated message off a raw stream: None at the EOS marker.
    * The body length lives inside the flatbuffer `Message` table (public
    * Arrow format), so the stream can be re-framed without decoding any
    * vectors. */
  def readMessage(in: DataInputStream): Option[(Array[Byte], Array[Byte])] = {
    val cont = in.readInt()
    require(cont == -1, s"unexpected IPC continuation marker $cont")
    // length is little-endian on the wire
    val lenLe = in.readInt()
    val metaLen = java.lang.Integer.reverseBytes(lenLe)
    if (metaLen == 0) return None
    val meta = new Array[Byte](metaLen)
    in.readFully(meta)
    val bodyLen = org.apache.arrow.flatbuf.Message
      .getRootAsMessage(java.nio.ByteBuffer.wrap(meta)).bodyLength()
    val body = new Array[Byte](bodyLen.toInt)
    in.readFully(body)
    Some((meta, body))
  }

  /** Convenience: one message framed into a fresh byte array. */
  def toBytes(header: Array[Byte], body: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(header.length + body.length + 16)
    write(bos, header, body)
    bos.toByteArray
  }
}

/** FlightData messages re-encapsulated as ONE Arrow IPC stream (EOS
  * appended when `msgs` ends), pulled message by message — feeds a stock
  * `ArrowStreamReader` batch by batch without buffering the whole exchange.
  * Reads never run ahead of the message being consumed, so a ping-ponging
  * peer is never waited on for a batch it has not been answered for. Used
  * for the client's response stream and the server's request stream. */
private[flight] final class FlightDataStream(msgs: Iterator[Pb.FlightDataMsg])
    extends InputStream {
  private var cur: Array[Byte] = Array.emptyByteArray
  private var pos = 0
  private var sawEos = false
  private def refill(): Boolean = {
    while (pos >= cur.length) {
      if (sawEos) return false
      if (msgs.hasNext) {
        val fd = msgs.next()
        if (fd.dataHeader.nonEmpty) { // metadata-only messages carry no IPC
          val bos = new ByteArrayOutputStream(fd.dataHeader.length + fd.dataBody.length + 16)
          IpcFraming.write(bos, fd.dataHeader, fd.dataBody)
          cur = bos.toByteArray; pos = 0
        }
      } else {
        sawEos = true
        cur = IpcFraming.Eos; pos = 0
      }
    }
    true
  }
  override def read(): Int =
    if (!refill()) -1 else { val b = cur(pos) & 0xff; pos += 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (!refill()) return -1
    val n = math.min(len, cur.length - pos)
    System.arraycopy(cur, pos, b, off, n)
    pos += n
    n
  }
}

/** The inverse of [[FlightDataStream]]: an Arrow IPC stream written here
  * leaves as one (metadata, body) pair per message, handed to `send` at
  * each flush; the EOS marker is dropped (a Flight stream ends with its
  * trailers). The writer must flush on message boundaries. */
private[flight] final class FlightDataSink(send: (Array[Byte], Array[Byte]) => Unit)
    extends ByteArrayOutputStream {
  override def flush(): Unit = {
    val in = new DataInputStream(new ByteArrayInputStream(buf, 0, count))
    while (in.available() > 0) IpcFraming.readMessage(in).foreach(m => send(m._1, m._2))
    reset()
  }
}
