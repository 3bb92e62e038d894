package graft.remote.flight

import java.io.IOException
import org.scalatest.funsuite.AnyFunSuite

/**
 * Unit gates for the wire rules both Flight ends share ([[H2]]): the gRPC
 * deframer, the `grpc-message` percent codec, and the client side of the
 * frame codec's length checks (the server side is in [[FlightNegativeSpec]]).
 */
class H2Spec extends AnyFunSuite {
  private def prefixed(flag: Int, n: Int): Array[Byte] =
    Array(flag.toByte, (n >> 24).toByte, (n >> 16).toByte, (n >> 8).toByte, n.toByte)

  test("GrpcDeframer: bad prefixes throw, split messages come out whole, a cut-off one is reported") {
    def fails(bytes: Array[Byte]): String = {
      val d = new GrpcDeframer(1 << 10)
      d.append(bytes, 0, bytes.length)
      intercept[IOException](d.next()).getMessage
    }
    assert(fails(prefixed(1, 3) ++ Array[Byte](1, 2, 3)).contains("compressed"))
    assert(fails(prefixed(0, Int.MinValue)).contains("length"))
    assert(fails(prefixed(0, 2000)).contains("length")) // above the cap
    assert(fails(prefixed(0, 0x7ffffffe)).contains("length")) // `5 + n` overflows Int

    val msgs = Seq(Array.tabulate[Byte](300)(_.toByte), Array.emptyByteArray, "abc".getBytes("UTF-8"))
    val wire = msgs.map(H2.grpcFrame).reduce(_ ++ _)
    def drain(d: GrpcDeframer, into: collection.mutable.Buffer[Array[Byte]]): Unit =
      Iterator.continually(d.next()).takeWhile(_ != null).foreach(into += _)
    for (cut <- 0 to wire.length) {
      val d = new GrpcDeframer(1 << 10)
      val got = collection.mutable.ArrayBuffer.empty[Array[Byte]]
      d.append(wire, 0, cut); drain(d, got)
      d.append(wire, cut, wire.length - cut); drain(d, got)
      d.finish()
      assert(got.map(_.toSeq) == msgs.map(_.toSeq), s"split at $cut")
    }
    val d = new GrpcDeframer(1 << 10)
    val got = collection.mutable.ArrayBuffer.empty[Array[Byte]]
    wire.indices.foreach { i => d.append(wire, i, 1); drain(d, got) }
    assert(got.map(_.toSeq) == msgs.map(_.toSeq), "byte at a time")
    assert(d.buffered == 0)

    // half a message (and half a prefix) at end of stream
    for (cut <- Seq(3, 5 + 100)) {
      val h = new GrpcDeframer(1 << 10)
      h.append(wire, 0, cut)
      assert(h.next() == null)
      assert(intercept[IOException](h.finish()).getMessage.contains("truncated"))
    }
  }

  test("percentDecode passes a malformed escape through and inverts percentEncode") {
    Seq("50%zz", "50%", "50%4", "%g1", "%%").foreach(s => assert(H2.percentDecode(s) == s, s))
    assert(H2.percentDecode("a%41%20b") == "aA b")
    val msg = "100% done\nnaïve 日本 ☃"
    val enc = H2.percentEncode(msg)
    assert(enc.forall(c => c >= 0x20 && c <= 0x7e), enc)
    assert(H2.percentDecode(enc) == msg)
  }

  test("a malformed control frame from the server fails a call with an IOException") {
    val frames = Seq(
      "GOAWAY" -> Array[Byte](0, 0, 2, 7, 0, 0, 0, 0, 0, 0, 0),
      "RST_STREAM" -> Array[Byte](0, 0, 2, 3, 0, 0, 0, 0, 1, 0, 0),
      "WINDOW_UPDATE" -> Array[Byte](0, 0, 2, 8, 0, 0, 0, 0, 0, 0, 1),
      "PING" -> Array[Byte](0, 0, 1, 6, 0, 0, 0, 0, 0, 0),
      "SETTINGS" -> Array[Byte](0, 0, 1, 4, 0, 0, 0, 0, 0, 0),
      "PADDED DATA" -> Array[Byte](0, 0, 0, 0, 8, 0, 0, 0, 1))
    frames.foreach { case (what, frame) =>
      val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
      // a fake server: empty SETTINGS, the bad frame, then read until the
      // client hangs up
      val peer = new Thread(() => {
        val s = ss.accept()
        try {
          s.getOutputStream.write(Array[Byte](0, 0, 0, 4, 0, 0, 0, 0, 0) ++ frame)
          s.getOutputStream.flush()
          val in = s.getInputStream
          while (in.read(new Array[Byte](4096)) >= 0) {}
        } catch { case _: IOException => }
        finally s.close()
      })
      peer.setDaemon(true)
      peer.start()
      try {
        val g = new GrpcConn("127.0.0.1", ss.getLocalPort, timeoutMs = 10000)
        try {
          val e = intercept[IOException](g.call("/arrow.flight.protocol.FlightService/DoAction",
            Iterator(Pb.action("protocol_version", Pb.Empty))).toSeq)
          assert(!e.isInstanceOf[GrpcStatusException], s"$what: $e")
        } finally g.close()
        peer.join(10000)
      } finally ss.close()
    }
  }
}
