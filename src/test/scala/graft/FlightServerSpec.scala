package graft

import graft.remote.flight.FlightServer
import org.scalatest.funsuite.AnyFunSuite

/**
 * Reverse-direction Flight interop: a REAL `pyarrow.flight` client
 * (grpc-core — `tools/flight_client_probe.py`) calls INTO graft's
 * from-scratch Flight server. With `FlightUdfSpec` (graft client → pyarrow
 * server) this proves rows 26–28 wire-compatible in BOTH directions; every
 * HTTP/2 frame, HPACK block, protobuf message, and IPC payload crossing the
 * socket is produced by one side's independent implementation and parsed by
 * the other's.
 */
class FlightServerSpec extends AnyFunSuite {

  /** A loopback TCP relay to `port`; `cut()` severs every connection it
    * carries, the way a client host that vanishes mid-stream would. */
  private final class Relay(port: Int) extends AutoCloseable {
    private val listener =
      new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    private val carried = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    def boundPort: Int = listener.getLocalPort
    private def daemon(body: => Unit): Unit = {
      val t = new Thread(() => body)
      t.setDaemon(true)
      t.start()
    }
    private def pipe(from: java.net.Socket, to: java.net.Socket): Unit = daemon {
      try from.getInputStream.transferTo(to.getOutputStream)
      catch { case _: java.io.IOException => }
      finally { from.close(); to.close() }
    }
    daemon {
      try while (true) {
        val client = listener.accept()
        val upstream = new java.net.Socket("127.0.0.1", port)
        Seq(client, upstream).foreach { s => s.setTcpNoDelay(true); carried.add(s) }
        pipe(client, upstream)
        pipe(upstream, client)
      } catch { case _: java.io.IOException => } // listener closed
    }
    def cut(): Unit = carried.forEach(s => try s.close() catch { case _: java.io.IOException => })
    override def close(): Unit = { listener.close(); cut() }
  }

  private def runProbe(port: Int): Seq[String] = {
    val script = new java.io.File(sys.props("user.dir"), "tools/flight_client_probe.py")
    assert(script.isFile, s"probe script missing at $script")
    val proc = new ProcessBuilder("python3", script.getAbsolutePath, port.toString)
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val rc = proc.waitFor()
    assert(rc == 0, s"probe exited $rc:\n$out")
    out.linesIterator.toSeq
  }

  test("a stock grpc-core Flight client drives discovery + all exchange shapes") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val lines = runProbe(server.boundPort)
      def line(tag: String): String =
        lines.find(_.startsWith(tag)).getOrElse(fail(s"no $tag line in:\n${lines.mkString("\n")}"))

      // protocol_version action returns the reference's version byte
      assert(line("VERSION") == "VERSION 02")
      // discovery: the whole registry is advertised, name-keyed
      val listParts = line("LIST").split(" ")
      assert(listParts(1).toInt > 100 && listParts(2) == "True" && listParts(3) == "True")
      // GET: arity 2, int32 args, int32 result
      assert(line("GET") == "GET 2 int32 int32")
      // the native-expression gcd tier, null-propagating
      assert(line("GCD") == "GCD {'value': [4, 6, None]}")
      // 50k rows cross the 64 KiB flow-control windows both ways
      assert(line("GCD50K") == "GCD50K True")
      // table function explode: (row, value) per yield
      assert(line("TABLE") ==
        "TABLE {'row': [0, 0, 0, 2, 2], 'value': [0, 1, 2, 0, 1]}")
      // fallible scalar: per-row (value, error) containment
      assert(line("DIV") ==
        "DIV {'value': [5, None], 'error': [None, 'division by zero']}")
      // unknown function surfaces as a NOT_FOUND Flight error
      assert(line("NOTFOUND") == "NOTFOUND True")
      assert(lines.contains("DONE"))
    } finally server.close()
  }

  test("response flow control: a big explode outruns a 64 KiB client window without wedging") {
    // regression for the dispatch/stream-removal bug: WINDOW_UPDATE credit
    // for the stream BEING RESPONDED TO must reach its live send window, or
    // the server spins forever once the response exceeds the client window
    graft.functions.Builtins.ensureRegistered()
    val server = new graft.remote.flight.FlightServer()
    try {
      val c = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort,
        timeoutMs = 60000, recvWindow = 65535)
      try {
        val got = c.callTable("range_setof",
          Seq(org.apache.spark.sql.types.IntegerType), Seq(Seq(60000), Seq(3)))
        assert(got.length == 60003)
        assert(got.take(3) == Seq((0, 0), (0, 1), (0, 2)))
        assert(got.count(_._1 == 1) == 3)
      } finally c.close()
    } finally server.close()
  }

  test("interleaved streams: concurrent RPCs from one grpc-core connection") {
    // grpc clients multiplex: two python threads share ONE FlightClient (one
    // h2 connection), so HEADERS/DATA for stream B can arrive while stream A
    // is being dispatched. The server's pump buffers other streams' frames
    // and dispatches each at its END_STREAM — responses serialize, results
    // must not interleave or drop.
    graft.functions.Builtins.ensureRegistered()
    val server = new graft.remote.flight.FlightServer()
    try {
      val py =
        """import sys, threading, pyarrow as pa, pyarrow.flight as fl
          |port = int(sys.argv[1])
          |c = fl.FlightClient(f"grpc+tcp://127.0.0.1:{port}")
          |schema = pa.schema([("a", pa.int32()), ("b", pa.int32())])
          |results = [None] * 8
          |def work(t):
          |    w, r = c.do_exchange(fl.FlightDescriptor.for_path("gcd"))
          |    w.begin(schema)
          |    n = 5000
          |    w.write_batch(pa.RecordBatch.from_arrays(
          |        [pa.array([(t + 1) * (i + 1) * 6 for i in range(n)], pa.int32()),
          |         pa.array([(t + 1) * (i + 1) * 4 for i in range(n)], pa.int32())],
          |        schema=schema))
          |    w.done_writing()
          |    vals = r.read_all().column("value").to_pylist()
          |    def g(a, b):
          |        while b: a, b = b, a % b
          |        return a
          |    results[t] = (len(vals) == n and
          |                  all(vals[i] == g((t+1)*(i+1)*6, (t+1)*(i+1)*4) for i in range(n)))
          |threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
          |[t.start() for t in threads]
          |[t.join() for t in threads]
          |print("CONCURRENT", all(results), results)
          |""".stripMargin
      val proc = new ProcessBuilder("python3", "-c", py, server.boundPort.toString)
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(proc.waitFor() == 0, s"probe failed:\n$out")
      assert(out.contains("CONCURRENT True"), out)
    } finally server.close()
  }

  test("graft's own Flight client round-trips through graft's Flight server") {
    // client and server are independent layers over the same specs: the
    // loopback composition catches asymmetric framing bugs the pyarrow
    // fixtures could mask (each side only ever tested against grpc-core).
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val c = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort)
      try {
        assert(c.protocolVersion() == 2)
        val gcd = c.get("gcd")
        assert(gcd.args.length == 2)
        assert(c.call("gcd",
          Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType),
          Seq(Seq(12, 8), Seq(null, 3))) == Seq(4, null))
        assert(c.callTable("range_setof", Seq(org.apache.spark.sql.types.IntegerType),
          Seq(Seq(2), Seq(1))) == Seq((0, 0), (0, 1), (1, 0)))
      } finally c.close()
    } finally server.close()
  }

  test("graft streamed client ping-pongs through graft's server: incremental dispatch proof") {
    // ExchangeStream.call blocks reading batch N's results BEFORE sending
    // batch N+1. Against a server that buffered the request to END_STREAM
    // this deadlocks (bounded only by the read deadline) — so completing at
    // all proves the server evaluates each batch as it arrives, the
    // reference UdfProducer loop shape.
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val c = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort,
        timeoutMs = 30000)
      try {
        val it = org.apache.spark.sql.types.IntegerType
        val ex = c.openExchange("gcd", Seq(it, it))
        try {
          assert(ex.call(Seq(Seq(12, 8), Seq(null, 3))) == Seq(Seq(4), Seq(null)))
          assert(ex.call(Seq(Seq(54, 24))) == Seq(Seq(6)))
          val n = 3000
          val rows: Seq[Seq[Any]] = (0 until n).map(i => Seq((i + 1) * 6, (i + 1) * 4))
          def g(a: Int, b: Int): Int = if (b == 0) a else g(b, a % b)
          assert(ex.call(rows) == (0 until n).map(i => Seq(g((i + 1) * 6, (i + 1) * 4))))
        } finally ex.close()
      } finally c.close()
    } finally server.close()
  }

  test("dictionary-encoded argument columns from a stock pyarrow client") {
    // parquet string columns arrive dictionary-encoded at scale; a
    // dictionary-preserving producer ships them as-is: schema declares the
    // encoding, a DictionaryBatch precedes each RecordBatch. The server
    // passes them through inline and the backend must resolve the STRING
    // overload + decoded values — single batch AND per-batch replacement
    // dictionaries on one streamed exchange.
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val script = new java.io.File(sys.props("user.dir"), "tools/flight_client_probe.py")
      val proc = new ProcessBuilder("python3", script.getAbsolutePath,
        server.boundPort.toString, "--dict")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      assert(rc == 0, s"probe exited $rc:\n$out")
      val lines = out.linesIterator.toSeq
      assert(lines.contains("DICT True"), out)
      assert(lines.contains("DICTSTREAM True"), out)
    } finally server.close()
  }

  test("DELTA dictionaries mid-exchange decode against the accumulated dictionary") {
    // Arrow IPC permits isDelta=true DictionaryBatches (appended entries)
    // from any SDK producer on a long exchange; the reference resolves them
    // in FlightStream (UdfProducer.java:103-139). graft's server forwards
    // them inline and the backend's stock ArrowStreamReader batch-appends
    // the delta — batch 2's index into the EXTENDED region must resolve.
    // The probe self-certifies the wire really carried isDelta=true (it
    // hand-walks the flatbuffer), so a pyarrow fallback to replacement
    // dictionaries cannot silently hollow out this gate.
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val script = new java.io.File(sys.props("user.dir"), "tools/flight_client_probe.py")
      val proc = new ProcessBuilder("python3", script.getAbsolutePath,
        server.boundPort.toString, "--dict-delta")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      assert(rc == 0, s"probe exited $rc:\n$out")
      assert(out.linesIterator.contains("DICTDELTA True"), out)
    } finally server.close()
  }

  test("graft client dictionary-encodes string arguments through graft's server") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val c = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort)
      try {
        val st = org.apache.spark.sql.types.StringType
        val rows: Seq[Seq[Any]] =
          Seq(Seq("alpha"), Seq("bee"), Seq("alpha"), Seq(null), Seq("gamma-gamma"))
        val got = c.call("graft_length", Seq(st), rows, Nil, dictEncodeStrings = true)
        assert(got == Seq(5, 3, 5, null, 11))
      } finally c.close()
    } finally server.close()
  }

  test("pyarrow ping-pong over one DoExchange: grpc-core proves the incremental server") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      val script = new java.io.File(sys.props("user.dir"), "tools/flight_client_probe.py")
      val proc = new ProcessBuilder("python3", script.getAbsolutePath,
        server.boundPort.toString, "--pingpong")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val rc = proc.waitFor()
      assert(rc == 0, s"probe exited $rc:\n$out")
      val lines = out.linesIterator.toSeq
      assert(lines.contains("PINGPONG True"), out)
      assert(lines.contains("PPTABLE True True"), out)
    } finally server.close()
  }

  test("a guest that throws reaches a Flight client as INTERNAL with its message") {
    graft.functions.Builtins.ensureRegistered()
    graft.functions.Udf.scalar2[Int, Int, Int]("flight_strict_add(int, int) -> int") {
      (a, b) => if (a < 0) throw new IllegalArgumentException(s"negative operand $a") else a + b
    }
    val server = new FlightServer()
    try {
      val c = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort,
        timeoutMs = 10000)
      try {
        val it = org.apache.spark.sql.types.IntegerType
        val e = intercept[graft.remote.flight.GrpcStatusException](
          c.call("flight_strict_add", Seq(it, it), Seq(Seq(1, 2), Seq(-3, 4))))
        assert(e.code == 13, s"wanted INTERNAL, got ${e.code}: ${e.getMessage}")
        assert(e.getMessage.contains("negative operand -3"), e.getMessage)
        // the connection survives the failed exchange
        assert(c.call("flight_strict_add", Seq(it, it), Seq(Seq(1, 2))) == Seq(3))
      } finally c.close()
    } finally server.close()
  }

  test("an abandoned streamed exchange leaves no uncaught exception; the server answers on") {
    // the client vanishes after one ping-pong with its stream still open: the
    // exchange's worker is waiting for the next batch, holding the first
    // batch's buffers, and must release them when the connection closes
    graft.functions.Builtins.ensureRegistered()
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (_, e) => uncaught.add(e); () }
    val server = new FlightServer()
    val relay = new Relay(server.boundPort)
    try {
      val it = org.apache.spark.sql.types.IntegerType
      val c1 = new graft.remote.flight.FlightClient("127.0.0.1", relay.boundPort,
        timeoutMs = 10000)
      try {
        val ex = c1.openExchange("gcd", Seq(it, it))
        assert(ex.call(Seq(Seq(12, 8))) == Seq(Seq(4)))
        relay.cut()
        // the wire's own handling of a dead stream: close, ignore the failure
        try ex.close() catch { case _: java.io.IOException => }
      } finally c1.close()
      val c2 = new graft.remote.flight.FlightClient("127.0.0.1", server.boundPort)
      try assert(c2.call("gcd", Seq(it, it), Seq(Seq(54, 24))) == Seq(6))
      finally c2.close()
      Thread.sleep(500) // let the abandoned exchange's worker finish
      assert(uncaught.isEmpty, s"uncaught in a server thread: ${uncaught.peek()}")
    } finally {
      Thread.setDefaultUncaughtExceptionHandler(prev)
      relay.close()
      server.close()
    }
  }
}
