package graft.remote.flight

import org.scalatest.funsuite.AnyFunSuite

/**
 * Negative-path gates for graft's Flight server: verbs the UDF protocol does
 * not define and malformed requests must fail with CLEAN gRPC statuses —
 * UNIMPLEMENTED (12) for undefined verbs/actions, NOT_FOUND (5) for unknown
 * functions, INVALID_ARGUMENT (3) for client-side framing mistakes — never a
 * hung stream, a killed connection, or a misleading INTERNAL. Proven two
 * ways: a REAL `pyarrow.flight` client (`tools/flight_client_probe.py
 * --negative`) for everything a stock client can express, and the raw
 * transport ([[Http2Conn]]/[[GrpcConn]]) for malformed bytes a correct
 * client never produces.
 */
class FlightNegativeSpec extends AnyFunSuite {
  private val Service = "/arrow.flight.protocol.FlightService"

  test("pyarrow client: undefined verbs fail cleanly and the connection survives") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val script = new java.io.File(sys.props("user.dir"), "tools/flight_client_probe.py")
      val proc = new ProcessBuilder("python3", script.getAbsolutePath,
        server.boundPort.toString, "--negative")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      assert(rc == 0, s"probe exited $rc:\n$out")
      val lines = out.linesIterator.toSeq
      Seq("AGG_create_state True", "AGG_accumulate True", "AGG_merge True",
        "AGG_finish True", "LISTACTIONS True", "DOGET True",
        "INFO_UNKNOWN True", "EXCHANGE_NOPATH True", "SURVIVES True")
        .foreach(l => assert(lines.contains(l), s"missing '$l' in:\n$out"))
    } finally server.close()
  }

  test("Pb skips unknown length-delimited fields without cursor corruption") {
    // regression: `pos += readVarint()` loaded the pre-call cursor, so
    // skipping ANY length-delimited field (e.g. a command descriptor's
    // `cmd` bytes) rewound the cursor and corrupted the parse — a real
    // pyarrow `FlightDescriptor.for_command` tripped it
    val cmdDescriptor = // pyarrow: FlightDescriptor.for_command(b"not-a-path")
      "0802120a6e6f742d612d70617468".grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    val fd = Pb.flightData(Some(cmdDescriptor), Pb.Empty, Pb.Empty)
    val parsed = Pb.parseFlightData(fd)
    assert(parsed.descriptorPath.isEmpty) // cmd is not a path: skipped cleanly
    // trailing fields after the skipped one still parse
    val mixed = Pb.flightData(Some(cmdDescriptor), Array[Byte](1, 2, 3), Pb.Empty)
    assert(Pb.parseFlightData(mixed).dataHeader.toSeq == Seq[Byte](1, 2, 3))
  }

  test("malformed requests are INVALID_ARGUMENT (3), not INTERNAL; connection survives") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val g = new GrpcConn("127.0.0.1", server.boundPort)
      try {
        // a FlightData whose data_header is NOT a flatbuffer IPC message
        val garbage = Array.fill[Byte](32)(0x7f)
        val fd = Pb.flightData(Some(Pb.descriptorPath("gcd")), garbage, Pb.Empty)
        val e1 = intercept[GrpcStatusException](
          g.call(s"$Service/DoExchange", Iterator(fd)).toSeq)
        assert(e1.code == 3, s"wanted INVALID_ARGUMENT, got ${e1.code}: ${e1.getMessage}")
        assert(e1.getMessage.contains("IPC"), e1.getMessage)
        // a DoExchange without any descriptor path
        val noDesc = Pb.flightData(None, Pb.Empty, Pb.Empty)
        val e2 = intercept[GrpcStatusException](
          g.call(s"$Service/DoExchange", Iterator(noDesc)).toSeq)
        assert(e2.code == 3, s"${e2.code}: ${e2.getMessage}")
        // the same connection still serves a well-formed RPC afterwards
        val ok = g.call(s"$Service/DoAction",
          Iterator(Pb.action("protocol_version", Pb.Empty))).toSeq
        assert(Pb.parseResultBody(ok.head).headOption.contains(2.toByte))
      } finally g.close()

      // raw h2: a compressed-flagged gRPC frame (unsupported) and a frame
      // whose declared length overruns the body — both INVALID_ARGUMENT
      def rawStatus(body: Array[Byte]): String = {
        val h = new Http2Conn("127.0.0.1", server.boundPort)
        try {
          val s = h.startRpc(s"$Service/DoExchange")
          h.sendData(s, body, endStream = true)
          while (h.nextData(s).isDefined) {}
          val t = h.trailers(s).getOrElse(h.responseHeaders(s))
          Option(t.get("grpc-status")).map(_.toString).getOrElse("missing")
        } finally h.close()
      }
      assert(rawStatus(Array[Byte](1, 0, 0, 0, 0)) == "3") // compressed flag
      assert(rawStatus(Array[Byte](0, 0, 0, 0, 9, 1, 2)) == "3") // truncated
      // a declared message length near Int.MaxValue: `5 + n` overflows Int,
      // so the pre-fix availability check passed vacuously and copyOfRange
      // threw — misclassified as INTERNAL (13). Attacker-controlled input
      // must stay INVALID_ARGUMENT (3).
      assert(rawStatus(Array[Byte](0, 0x7f, 0xff.toByte, 0xff.toByte, 0xfe.toByte)) == "3")
    } finally server.close()
  }

  test("malformed control frames close the connection without killing the handler thread") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (_, e) => uncaught.add(e); () }
    try {
      // one raw connection per frame: the preface and an empty SETTINGS,
      // then the bad frame; the server must drop the connection
      def send(frame: Array[Byte]): Unit = {
        val s = new java.net.Socket("127.0.0.1", server.boundPort)
        try {
          s.setSoTimeout(10000)
          val out = s.getOutputStream
          out.write("PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n".getBytes("US-ASCII"))
          out.write(Array[Byte](0, 0, 0, 4, 0, 0, 0, 0, 0) ++ frame)
          out.flush()
          val in = s.getInputStream
          while (in.read(new Array[Byte](4096)) >= 0) {}
        } finally s.close()
      }
      send(Array[Byte](0, 0, 2, 8, 0, 0, 0, 0, 0, 0, 1)) // 2-byte WINDOW_UPDATE, stream 0
      send(Array[Byte](0, 0, 0, 0, 8, 0, 0, 0, 1)) // zero-length PADDED DATA, stream 1
      send(Array[Byte](0, 0, 2, 1, 0x24, 0, 0, 0, 1, 0, 0)) // PRIORITY HEADERS shorter than 5
      // the same server still answers on a fresh connection
      val g = new GrpcConn("127.0.0.1", server.boundPort)
      try {
        val ok = g.call(s"$Service/DoAction",
          Iterator(Pb.action("protocol_version", Pb.Empty))).toSeq
        assert(Pb.parseResultBody(ok.head).headOption.contains(2.toByte))
      } finally g.close()
      Thread.sleep(500) // let the dropped connections' handlers finish
      assert(uncaught.isEmpty, s"uncaught in a handler thread: ${uncaught.peek()}")
    } finally {
      Thread.setDefaultUncaughtExceptionHandler(prev)
      server.close()
    }
  }
}
