package graft

import graft.remote.{JsUdfClient, RemoteAgg, RemoteProtocol, RemoteUdf, UdfClient, UdfServer}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class RemoteUdfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("client/server round trip: scalar call over Arrow IPC") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val res = client.call("add", Seq(IntegerType, IntegerType),
          Seq(Seq(12, 18), Seq(25, 15), Seq(null, 7)))
        assert(res == Seq(30, 40, null))
        // sequential second call on the same connection
        assert(client.call("add", Seq(IntegerType, IntegerType), Seq(Seq(9, 6))) == Seq(15))
      } finally client.close()
    } finally server.close()
  }

  test("mutual TLS: both sides authenticate; certificate-less clients are refused") {
    graft.functions.Builtins.ensureRegistered()
    val dir = java.nio.file.Files.createTempDirectory("graft_tls").toString
    val pw = "changeit"
    def keytool(args: String*): Unit = {
      val cmd = Seq("keytool") ++ args
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor() == 0, s"keytool failed: $out")
    }
    for (side <- Seq("server", "client")) {
      keytool("-genkeypair", "-alias", side, "-keyalg", "RSA", "-keysize", "2048",
        "-validity", "2", "-storepass", pw, "-keystore", s"$dir/$side.p12",
        "-storetype", "PKCS12", "-dname", "CN=127.0.0.1",
        // the client enforces endpoint identification: the server cert must
        // carry the IP it is dialed on as a SAN
        "-ext", "SAN=IP:127.0.0.1")
      keytool("-exportcert", "-alias", side, "-keystore", s"$dir/$side.p12",
        "-storepass", pw, "-file", s"$dir/$side.crt")
      keytool("-importcert", "-noprompt", "-alias", side, "-file", s"$dir/$side.crt",
        "-keystore", s"$dir/trust-$side.p12", "-storepass", pw, "-storetype", "PKCS12")
    }
    import graft.remote.Tls
    val pwc = pw.toCharArray
    val serverCtx = Tls.context(Tls.loadKeyStore(s"$dir/server.p12", pwc), pwc,
      Tls.loadKeyStore(s"$dir/trust-client.p12", pwc))
    val clientCtx = Tls.context(Tls.loadKeyStore(s"$dir/client.p12", pwc), pwc,
      Tls.loadKeyStore(s"$dir/trust-server.p12", pwc))
    val server = new UdfServer(tls = Some(serverCtx))
    try {
      // full mTLS round trip over the same protocol
      val client = new UdfClient("127.0.0.1", server.boundPort, tls = Some(clientCtx))
      try assert(client.call("add", Seq(IntegerType, IntegerType),
        Seq(Seq(20, 22))) == Seq(42))
      finally client.close()
      // a client WITHOUT a certificate (trust-only context) fails the
      // mutual handshake
      val anonCtx = {
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(Tls.loadKeyStore(s"$dir/trust-server.p12", pwc))
        val ctx = javax.net.ssl.SSLContext.getInstance("TLSv1.3")
        ctx.init(null, tmf.getTrustManagers, null)
        ctx
      }
      intercept[Exception] {
        val c = new UdfClient("127.0.0.1", server.boundPort,
          tls = Some(anonCtx))
        try c.call("add", Seq(IntegerType, IntegerType), Seq(Seq(1, 2)))
        finally c.close()
      }
      // a client trusting the WRONG certificate refuses the server
      val wrongTrust = Tls.context(Tls.loadKeyStore(s"$dir/client.p12", pwc), pwc,
        Tls.loadKeyStore(s"$dir/trust-client.p12", pwc))
      intercept[Exception] {
        val c = new UdfClient("127.0.0.1", server.boundPort,
          tls = Some(wrongTrust))
        try c.call("add", Seq(IntegerType, IntegerType), Seq(Seq(1, 2)))
        finally c.close()
      }
      // the plain-TCP path is untouched by the TLS option existing
      val plain = new UdfServer()
      try {
        val c = new UdfClient("127.0.0.1", plain.boundPort)
        try assert(c.call("add", Seq(IntegerType, IntegerType), Seq(Seq(1, 2))) == Seq(3))
        finally c.close()
      } finally plain.close()
    } finally server.close()
  }

  test("guest-SPI functions served over the wire run the BATCHED dispatch") {
    graft.functions.Builtins.ensureRegistered()
    // both are in the BatchEval registry — the server's per-batch path
    assert(graft.functions.BatchEval.overrides.contains("script_score"))
    assert(graft.functions.BatchEval.overrides.contains("wasm_gcd"))
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        // graftscript over the wire: batch dispatch, null-in → null-out
        val res = client.call("script_score", Seq(LongType),
          Seq(Seq(1L), Seq(null), Seq(1000L)))
        assert(res == Seq(4L, null, 3001L))
        // wasm guest over the wire, same exchange
        val g = client.call("wasm_gcd", Seq(LongType, LongType),
          Seq(Seq(48L, 18L), Seq(null, 5L), Seq(1071L, 462L)))
        assert(g == Seq(6L, null, 21L))
        // string-returning wasm kernel: buffer results cross the batch path
        val sub = client.call("wasm_substring", Seq(StringType, IntegerType, IntegerType),
          Seq(Seq("hello world", 6, 5), Seq("abc", 0, 2)))
        assert(sub == Seq("world", "ab"))
      } finally client.close()
    } finally server.close()
  }

  test("auth: token-gated server refuses unauthenticated verbs, admits the right token") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer(authToken = Some("s3cret"))
    try {
      // no token: connection opens but every verb is refused
      val anon = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val e = intercept[RuntimeException] { anon.list() }
        assert(e.getMessage.contains("unauthorized"), e.getMessage)
      } finally anon.close()
      // wrong token: refused at handshake
      intercept[SecurityException] {
        new UdfClient("127.0.0.1", server.boundPort, authToken = Some("wrong"))
      }
      // right token: full protocol available
      val client = new UdfClient("127.0.0.1", server.boundPort, authToken = Some("s3cret"))
      try {
        assert(client.call("add", Seq(IntegerType, IntegerType), Seq(Seq(2, 3))) == Seq(5))
      } finally client.close()
    } finally server.close()
  }

  test("transient connection loss: client reconnects and replays the exchange") {
    // one server: the failover session's only way past a dropped connection
    // is a fresh connection to the same endpoint, replaying the in-flight chunk
    Graft.install(spark)
    val served = new java.util.concurrent.atomic.AtomicLong()
    graft.functions.Udf.scalar2[Int, Int, Int]("blip_gcd(int, int) -> int") { (x, y) =>
      if (served.incrementAndGet() % 256 == 0) Thread.sleep(1)
      graft.functions.Kernels.gcd(x, y)
    }
    val server = new UdfServer()
    try {
      val rows = 16L * 2 * RemoteProtocol.BatchSize
      val df = spark.range(0, rows, 1, 16)
        .selectExpr("CAST(id * 6 AS INT) AS a", "CAST(id % 97 + 1 AS INT) AS b")
      @volatile var servedAtDrop = -1L
      val dropper = new Thread(() => {
        while (served.get() < 4L * RemoteProtocol.BatchSize) Thread.sleep(5)
        servedAtDrop = served.get()
        server.dropConnections()
      })
      dropper.start()
      val got = gcdRows(df, Seq(("127.0.0.1", server.boundPort)), "blip_gcd")
      dropper.join(60000)
      assert(!dropper.isAlive)
      // non-vacuous: the connections dropped with most of the query to run
      assert(servedAtDrop > 0 && servedAtDrop < rows / 2, s"served $servedAtDrop of $rows")
      assert(got.length == rows)
      got.foreach { case (a, b, g) => assert(g == graft.functions.Kernels.gcd(a, b), s"gcd($a, $b)") }
    } finally server.close()
  }

  test("a client hanging up before its Arrow stream leaves the server handler alive") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prev = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (_, e) => uncaught.add(e); () }
    try {
      def client[A](f: UdfClient => A): A = {
        val c = new UdfClient("127.0.0.1", server.boundPort)
        try f(c) finally c.close()
      }
      val state = client(_.accCreate("sum_udaf"))
      // send a command (and for ACC its state blob), then close before the
      // Arrow stream: the handler reads end of input where a schema belongs
      def hangUp(write: java.io.DataOutputStream => Unit): Unit = {
        val s = new java.net.Socket("127.0.0.1", server.boundPort)
        try {
          val out = new java.io.DataOutputStream(s.getOutputStream)
          write(out)
          out.flush()
        } finally s.close()
      }
      hangUp(_.write("CALL gcd\n".getBytes("UTF-8")))
      hangUp { out =>
        out.write("ACC sum_udaf\n".getBytes("UTF-8"))
        RemoteProtocol.writeBlob(out, state)
      }
      // a call cut off mid-stream: the schema and one batch are evaluated,
      // then the peer goes away halfway through the second batch — the
      // handler must release the batch it holds before closing its allocator
      hangUp { out =>
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val root = org.apache.arrow.vector.VectorSchemaRoot.create(
          RemoteProtocol.argSchema(Seq(IntegerType, IntegerType)), alloc)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, bos)
          w.start()
          RemoteProtocol.fillRoot(root, Seq(Seq(12, 18), Seq(7, 21)))
          w.writeBatch()
          val firstBatchEnd = bos.size()
          w.writeBatch()
          out.write("CALL gcd\n".getBytes("UTF-8"))
          out.write(bos.toByteArray, 0, (firstBatchEnd + bos.size()) / 2)
        } finally { root.close(); alloc.close() }
      }
      // the same server still answers the next client
      assert(client(_.call("gcd", Seq(IntegerType, IntegerType), Seq(Seq(12, 18)))) == Seq(6))
      Thread.sleep(500) // let the hang-up handlers finish
      assert(uncaught.isEmpty, s"uncaught in a handler thread: ${uncaught.peek()}")
    } finally {
      Thread.setDefaultUncaughtExceptionHandler(prev)
      server.close()
    }
  }

  test("fallible call: per-row errors ride the wire as an error column") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val res = client.callWithErrors("graft_div", Seq(IntegerType, IntegerType),
          Seq(Seq(10, 3), Seq(7, 0), Seq(null, 5)))
        assert(res == Seq((3, null), (null, "division by zero"), (null, null)))
        // the connection survives the failing row: next exchange still works
        assert(client.call("add", Seq(IntegerType, IntegerType), Seq(Seq(1, 2))) == Seq(3))
      } finally client.close()
    } finally server.close()
  }

  test("aggregate lifecycle verbs against the JVM server") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val s0 = client.accCreate("sum_udaf")
        val s1 = client.accumulate("sum_udaf", s0, Seq(IntegerType),
          Seq(Seq(10), Seq(20), Seq(null), Seq(5)))
        val s2 = client.accumulate("sum_udaf", client.accCreate("sum_udaf"),
          Seq(IntegerType), Seq(Seq(100)))
        val merged = client.accMerge("sum_udaf", s1, s2)
        assert(client.accFinish("sum_udaf", merged) == 135L)
        val s3 = client.accumulate("sum_udaf", merged, Seq(IntegerType),
          Seq(Seq(100)), retract = true)
        assert(client.accFinish("sum_udaf", s3) == 35L)
        val e = intercept[RuntimeException](client.accCreate("gcd")) // scalar, not agg
        assert(e.getMessage.contains("no aggregate"))
      } finally client.close()
    } finally server.close()
  }

  test("containment: a hung server aborts the call with a clean timeout") {
    // a server that accepts and then never responds — the exchange must not
    // hang the calling task (reference JS per-call timeout semantics,
    // javascript/mod.rs:229-260)
    val silent = new java.net.ServerSocket(0)
    val sink = new Thread(() => {
      try { val s = silent.accept(); while (s.getInputStream.read() >= 0) () }
      catch { case _: Exception => }
    })
    sink.setDaemon(true)
    sink.start()
    try {
      val client = new UdfClient("127.0.0.1", silent.getLocalPort, timeoutMs = 500)
      try {
        val e = intercept[Exception](client.call("gcd",
          Seq(IntegerType, IntegerType), Seq(Seq(12, 18))))
        def isTimeout(t: Throwable): Boolean = t != null &&
          (t.isInstanceOf[java.net.SocketTimeoutException] || isTimeout(t.getCause))
        assert(isTimeout(e), s"expected SocketTimeoutException, got $e")
      } finally client.close()
    } finally silent.close()
  }

  test("wire-type breadth: Utf8View/BinaryView/Decimal256 land on engine types") {
    import graft.remote.RemoteProtocol._
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    import org.apache.arrow.memory.RootAllocator
    val alloc = new RootAllocator()
    try {
      // inbound mapping (foreign peers may send view layouts / 256-bit decimals)
      assert(fromArrowField(new Field("s",
        FieldType.nullable(ArrowType.Utf8View.INSTANCE), null))._1 == StringType)
      assert(fromArrowField(new Field("b",
        FieldType.nullable(ArrowType.BinaryView.INSTANCE), null))._1 == BinaryType)
      assert(fromArrowField(new Field("d",
        FieldType.nullable(new ArrowType.Decimal(30, 4, 256)), null))._1 == DecimalType(30, 4))
      // >38 digits degrades to the text-backed decimal extension
      val (wide, md) = fromArrowField(new Field("w",
        FieldType.nullable(new ArrowType.Decimal(50, 10, 256)), null))
      assert(wide == StringType)
      assert(graft.types.GraftType.extensionOf(md).contains(graft.types.GraftType.DecimalExt))
      // cell round trips through the view / 256-bit vectors
      val sv = new org.apache.arrow.vector.ViewVarCharVector("s", alloc)
      sv.allocateNew(); setCell(sv, 0, "héllo view"); sv.setValueCount(1)
      assert(getCell(sv, 0) == "héllo view")
      sv.close()
      val dv = new org.apache.arrow.vector.Decimal256Vector("d",
        FieldType.nullable(new ArrowType.Decimal(50, 10, 256)), alloc)
      dv.allocateNew()
      setCell(dv, 0, new java.math.BigDecimal("123456789012345678901234567890.25"))
      dv.setValueCount(1)
      assert(getCell(dv, 0) == "123456789012345678901234567890.2500000000")
      dv.close()
    } finally alloc.close()
  }

  test("unknown function reports ERR") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val e = intercept[RuntimeException](
          client.call("nope", Seq(IntegerType), Seq(Seq(1))))
        assert(e.getMessage.contains("no scalar function"))
      } finally client.close()
    } finally server.close()
  }

  test("LIST and GET discovery return signatures") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        assert(client.version() == graft.remote.RemoteProtocol.Version)
        val all = client.list()
        assert(all.exists(_.startsWith("gcd(")))
        assert(all.exists(_.startsWith("range_setof(")))
        val gcds = client.get("gcd")
        assert(gcds.nonEmpty && gcds.forall(_.startsWith("gcd(")))
        assert(gcds.exists(_.contains("int32")) && gcds.exists(_.contains("int64")))
        val e = intercept[RuntimeException](client.get("definitely_not_there"))
        assert(e.getMessage.contains("no function"))
      } finally client.close()
    } finally server.close()
  }

  test("remote table function streams (row, value) pairs") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val res = client.callTable("range_setof", Seq(IntegerType),
          Seq(Seq(2), Seq(0), Seq(3), Seq(null)))
        // row 0 yields 0,1; row 1 yields nothing; row 2 yields 0,1,2; null row skipped
        assert(res == Seq((0, 0), (0, 1), (2, 0), (2, 1), (2, 2)))
      } finally client.close()
    } finally server.close()
  }

  test("wide type matrix round-trips: bool/float/binary/date/timestamp/decimal/list/struct") {
    import graft.functions.Udf
    Udf.scalarN[Any]("remote_echo(float[]) -> float[]",
      mode = graft.sig.CallMode.CalledOnNullInput)(_.head)
    Udf.scalarN[Any]("remote_echo(struct<key: string, value: string>) -> struct<key: string, value: string>",
      mode = graft.sig.CallMode.CalledOnNullInput)(_.head)
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        // list<float> through the identity function
        val vec = Seq(Seq(1.5f, -2.25f), Seq(0.0f), null)
        val out = client.call("remote_echo", Seq(ArrayType(FloatType)), vec.map(Seq(_)))
        assert(out(0) == Seq(1.5f, -2.25f) && out(1) == Seq(0.0f) && out(2) == null)
        // struct<key,value> through the identity function
        val row = org.apache.spark.sql.Row("k1", "v1")
        val sOut = client.call("remote_echo",
          Seq(StructType(Seq(StructField("key", StringType), StructField("value", StringType)))),
          Seq(Seq(row)))
        assert(sOut.head == row)
        // graft_identity is registered over the full scalar matrix
        val dt = java.time.LocalDateTime.of(2024, 2, 29, 12, 30, 15, 123456000)
        val scalars: Seq[(DataType, Any)] = Seq(
          (BooleanType, true),
          (FloatType, 3.5f),
          (BinaryType, Array[Byte](1, 2, 3)),
          (DateType, java.sql.Date.valueOf("2024-02-29")),
          (TimestampNTZType, dt))
        scalars.foreach { case (t, v) =>
          val r = client.call("graft_identity", Seq(t), Seq(Seq(v)))
          v match {
            case b: Array[Byte] => assert(r.head.asInstanceOf[Array[Byte]].toSeq == b.toSeq)
            case other => assert(r.head == other, s"type $t")
          }
        }
      } finally client.close()
    } finally server.close()
  }

  test("map, interval and time64 ride the wire; CallMode is honored server-side") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        // map<string,string> through graft_identity — canonical Arrow Map layout
        val m = Map("rf" -> "A", "ls" -> "F")
        val mOut = client.call("graft_identity",
          Seq(MapType(StringType, StringType)), Seq(Seq(m), Seq(null)))
        assert(mOut(0) == m && mOut(1) == null)
        // calendar interval as Arrow MonthDayNano
        val iv = new org.apache.spark.unsafe.types.CalendarInterval(14, 3, 5500000L)
        val ivOut = client.call("graft_identity", Seq(CalendarIntervalType), Seq(Seq(iv)))
        assert(ivOut.head == iv)
        // time64: µs-of-day tagged LongType becomes a REAL Arrow Time64 field
        val timeMd = new MetadataBuilder()
          .putString(graft.types.GraftType.ExtensionKey, graft.types.GraftType.TimeExt).build()
        val micros = 12L * 3600 + 34 * 60 + 56
        val tOut = client.call("graft_identity", Seq(LongType), Seq(Seq(micros * 1000000L)),
          argMeta = Seq(timeMd))
        assert(tOut.head == micros * 1000000L)
        // CalledOnNullInput honored over the wire: option_add treats NULL as 0
        // (engine-side semantics) instead of being short-circuited to NULL
        val oa = client.call("option_add", Seq(IntegerType, IntegerType),
          Seq(Seq(3, 4), Seq(null, 4), Seq(3, null), Seq(null, null)))
        assert(oa == Seq(7, 4, 3, 0), s"option_add through remote returned $oa")
        // default mode still short-circuits: gcd(null, x) = null
        assert(client.call("gcd", Seq(IntegerType, IntegerType),
          Seq(Seq(null, 9))) == Seq(null))
      } finally client.close()
    } finally server.close()
  }

  test("extension metadata (json) travels on the wire and resolves the overload") {
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    try {
      val client = new UdfClient("127.0.0.1", server.boundPort)
      try {
        val jsonMd = new MetadataBuilder()
          .putString(graft.types.GraftType.ExtensionKey, graft.types.GraftType.JsonExt).build()
        // json_get resolves ONLY for metadata-tagged json arguments
        val res = client.call("json_get", Seq(StringType, IntegerType),
          Seq(Seq("[1, 2, 3]", 1)), argMeta = Seq(jsonMd, Metadata.empty))
        assert(res == Seq("2"))
        val e = intercept[RuntimeException](
          client.call("json_get", Seq(StringType, IntegerType), Seq(Seq("[1]", 0))))
        assert(e.getMessage.contains("no scalar function"))
      } finally client.close()
    } finally server.close()
  }

  test("remote table function explodes rows in mapPartitions integration") {
    Graft.install(spark)
    val server = new UdfServer()
    try {
      val df = spark.range(4).selectExpr("CAST(id AS INT) AS n")
      val out = RemoteUdf.withRemoteTableColumn(df, Seq(("127.0.0.1", server.boundPort)),
        "range_setof", Seq("n"), IntegerType)
      val rows = out.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq
      assert(rows == Seq((1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2)))
    } finally server.close()
  }

  test("mapPartitions integration computes remote column") {
    Graft.install(spark)
    val server = new UdfServer()
    try {
      val df = spark.range(100).selectExpr("CAST(id AS INT) AS a", "CAST(id % 7 AS INT) AS b")
      val out = RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", server.boundPort)),
        "add", Seq("a", "b"), IntegerType)
      val rows = out.collect()
      assert(rows.length == 100)
      val byId = rows.map(r => r.getInt(0) -> r.getInt(2)).toMap
      assert(byId(14) == 14) // 14 + 0
      assert(byId(12) == 17) // 12 + 5
      assert(byId(30) == 32) // 30 + 2
    } finally server.close()
  }

  test("golden framing: the exact wire bytes a Flight bridge must speak") {
    // Freezes the graft-side framing per docs/FLIGHT_INTEROP.md: command
    // lines, status lines, blank-line terminators, and the Arrow IPC
    // landmarks (continuation marker + end-of-stream) that delimit CALL
    // payloads. A future do_exchange bridge is conformant iff it produces
    // and consumes exactly these bytes around standard Arrow IPC bodies.
    graft.functions.Builtins.ensureRegistered()
    val server = new UdfServer()
    val sock = new java.net.Socket("127.0.0.1", server.boundPort)
    try {
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(sock.getOutputStream))
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      def line(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != -1 && c != '\n') { b.append(c.toChar); c = in.read() }
        b.toString
      }
      // VERSION: OK, version line, blank terminator — golden
      out.write("VERSION\n".getBytes("UTF-8")); out.flush()
      assert(line() == "OK")
      assert(line() == graft.remote.RemoteProtocol.Version.toString)
      assert(line() == "")
      // GET: OK + exactly the registered signature text + blank terminator
      out.write("GET add\n".getBytes("UTF-8")); out.flush()
      assert(line() == "OK")
      assert(line() == "add(int32,int32) -> int32")
      assert(line() == "")
      // unknown verb: single ERR line, connection stays usable
      out.write("BOGUS\n".getBytes("UTF-8")); out.flush()
      assert(line() == "ERR bad command BOGUS")
      // CALL: command line + one complete Arrow IPC stream; response is
      // "OK\n" + one IPC stream. Assert the IPC landmarks: the stream
      // begins with the 0xFFFFFFFF continuation marker and ends with the
      // 8-byte EOS (0xFFFFFFFF 0x00000000) — the self-delimiting property
      // the half-duplex framing relies on.
      val alloc = new org.apache.arrow.memory.RootAllocator()
      val schema = new org.apache.arrow.vector.types.pojo.Schema(
        java.util.List.of(
          new org.apache.arrow.vector.types.pojo.Field("a",
            org.apache.arrow.vector.types.pojo.FieldType.nullable(
              new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true)), null),
          new org.apache.arrow.vector.types.pojo.Field("b",
            org.apache.arrow.vector.types.pojo.FieldType.nullable(
              new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true)), null)))
      val root = org.apache.arrow.vector.VectorSchemaRoot.create(schema, alloc)
      val va = root.getVector(0).asInstanceOf[org.apache.arrow.vector.IntVector]
      val vb = root.getVector(1).asInstanceOf[org.apache.arrow.vector.IntVector]
      va.allocateNew(2); vb.allocateNew(2)
      va.set(0, 40); vb.set(0, 2); va.set(1, 7); vb.set(1, 8)
      root.setRowCount(2)
      val ipcBuf = new java.io.ByteArrayOutputStream()
      val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, ipcBuf)
      w.start(); w.writeBatch(); w.end(); w.close(); root.close()
      val ipc = ipcBuf.toByteArray
      // request-side landmarks (what the bridge must emit after the line)
      assert((ipc(0) & 0xFF) == 0xFF && (ipc(1) & 0xFF) == 0xFF &&
        (ipc(2) & 0xFF) == 0xFF && (ipc(3) & 0xFF) == 0xFF, "IPC continuation")
      val eos = ipc.takeRight(8).map(_ & 0xFF)
      assert(eos.take(4).forall(_ == 0xFF) && eos.drop(4).forall(_ == 0),
        s"IPC EOS, got ${eos.mkString(",")}")
      out.write("CALL add\n".getBytes("UTF-8")); out.write(ipc); out.flush()
      assert(line() == "OK")
      // response: a complete IPC stream readable in place; EOS consumed by
      // the reader leaves the connection aligned for the next command
      val r = new org.apache.arrow.vector.ipc.ArrowStreamReader(in, alloc)
      assert(r.loadNextBatch())
      val rr = r.getVectorSchemaRoot
      assert(rr.getRowCount == 2)
      val rv = rr.getVector(0).asInstanceOf[org.apache.arrow.vector.IntVector]
      assert(rv.get(0) == 42 && rv.get(1) == 15)
      assert(!r.loadNextBatch()) // EOS
      r.close(false)
      // the connection survives: framed protocol re-alignment golden check
      out.write("GET add\n".getBytes("UTF-8")); out.flush()
      assert(line() == "OK")
      assert(line() == "add(int32,int32) -> int32")
      assert(line() == "")
      alloc.close()
    } finally { sock.close(); server.close() }
  }

  private def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** A new server on `port`. The closed server's orphaned connections can
    * hold the port for a moment (FIN-WAIT-1, their FIN not yet acked), and
    * a bind then fails with `BindException`, so retry it for up to 5 s. */
  private def rebind(port: Int): UdfServer = {
    val deadline = System.nanoTime() + 5000L * 1000 * 1000
    while (true) {
      try return new UdfServer(port)
      catch { case _: java.net.BindException if System.nanoTime() < deadline => Thread.sleep(50) }
    }
    throw new IllegalStateException("unreachable")
  }

  private def gcdRows(df: org.apache.spark.sql.DataFrame, eps: Seq[(String, Int)],
                      fname: String): Seq[(Int, Int, Int)] = {
    import spark.implicits._
    RemoteUdf.withRemoteColumn(df, eps, fname, Seq("a", "b"), IntegerType)
      .as[(Int, Int, Int)].collect().toSeq.sorted
  }

  test("a response cut off after its schema is an EOFException, not a short result") {
    // a server that answers OK and the result schema, then hangs up
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val head = new java.io.ByteArrayOutputStream()
    val root = org.apache.arrow.vector.VectorSchemaRoot.create(
      RemoteProtocol.argSchema(Seq(IntegerType)), alloc)
    new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, head).start()
    root.close(); alloc.close()
    val ss = HangUpServer("OK\n".getBytes("UTF-8") ++ head.toByteArray)
    try {
      val client = new UdfClient("127.0.0.1", ss.getLocalPort)
      try intercept[java.io.EOFException](
        client.call("add", Seq(IntegerType, IntegerType), Seq(Seq(1, 2))))
      finally client.close()
    } finally ss.close()
  }

  test("a discovery answer cut off by a hang-up is an EOFException, not a short list") {
    // OK and one signature line, then the server hangs up before the blank
    // line that ends the list; both line-framed clients must see EOF
    val ss = HangUpServer("OK\nadd(int32, int32) -> int32\n".getBytes("UTF-8"))
    def ipc[A](f: UdfClient => A): A = {
      val c = new UdfClient("127.0.0.1", ss.getLocalPort)
      try f(c) finally c.close()
    }
    def js[A](f: JsUdfClient => A): A = {
      val c = new JsUdfClient("127.0.0.1", ss.getLocalPort)
      try f(c) finally c.close()
    }
    try {
      intercept[java.io.EOFException](ipc(_.list()))
      intercept[java.io.EOFException](ipc(_.get("add")))
      intercept[java.io.EOFException](ipc(_.version()))
      intercept[java.io.EOFException](js(_.list()))
      intercept[java.io.EOFException](js(_.get("add")))
      intercept[java.io.EOFException](js(_.version()))
    } finally ss.close()
  }

  test("raw-wire failover: a dead endpoint in the pool is skipped at connect time") {
    Graft.install(spark)
    val server = new UdfServer()
    try {
      val df = spark.range(0, 20000, 1, 8)
        .selectExpr("CAST(id * 6 AS INT) AS a", "CAST(id % 97 + 1 AS INT) AS b")
      val live = ("127.0.0.1", server.boundPort)
      val pool = Seq(("127.0.0.1", freePort()), live)
      val single = gcdRows(df, Seq(live), "gcd")
      assert(single.length == 20000)
      assert(gcdRows(df, pool, "gcd") == single)
      // aggregates: partitions whose start slot is the dead endpoint skip it
      import spark.implicits._
      def sums(eps: Seq[(String, Int)]): Map[Int, Long] = {
        RemoteAgg.register(spark, "failover_sum", eps, "sum_udaf", LongType)
        df.groupBy(($"b" % 5).as("k"))
          .agg(org.apache.spark.sql.functions.call_function("failover_sum", $"a"))
          .as[(Int, Long)].collect().toMap
      }
      val builtin = df.groupBy(($"b" % 5).as("k"))
        .agg(org.apache.spark.sql.functions.sum($"a")).as[(Int, Long)].collect().toMap
      assert(builtin.size == 5)
      assert(sums(Seq(live)) == builtin)
      assert(sums(pool) == builtin)
      // pinned aggregate sessions outlive the query: after a restart on the
      // same port, their first exchange fails over to a fresh connection
      val fixed = Seq(("127.0.0.1", freePort()))
      val first = new UdfServer(fixed.head._2)
      try assert(sums(fixed) == builtin) finally first.close()
      val restarted = rebind(fixed.head._2)
      try assert(sums(fixed) == builtin) finally restarted.close()
    } finally server.close()
  }

  test("raw-wire failover: a server closed mid-query fails over to the rest of the pool") {
    Graft.install(spark)
    // a slowed gcd, so the query is still running when one server closes
    val served = new java.util.concurrent.atomic.AtomicLong()
    graft.functions.Udf.scalar2[Int, Int, Int]("failover_gcd(int, int) -> int") { (x, y) =>
      if (served.incrementAndGet() % 256 == 0) Thread.sleep(1)
      graft.functions.Kernels.gcd(x, y)
    }
    Graft.install(spark)
    val s1 = new UdfServer()
    val s2 = new UdfServer()
    try {
      val rows = 16L * 2 * RemoteProtocol.BatchSize
      val df = spark.range(0, rows, 1, 16)
        .selectExpr("CAST(id * 6 AS INT) AS a", "CAST(id % 97 + 1 AS INT) AS b")
      val eps = Seq(("127.0.0.1", s1.boundPort), ("127.0.0.1", s2.boundPort))
      @volatile var servedAtClose = -1L
      val closer = new Thread(() => {
        // both servers get tasks from the first wave; close s1 once a few
        // chunks have been answered
        while (served.get() < 4L * RemoteProtocol.BatchSize) Thread.sleep(5)
        servedAtClose = served.get()
        s1.close()
      })
      closer.start()
      val got = gcdRows(df, eps, "failover_gcd")
      closer.join(60000)
      assert(!closer.isAlive)
      // non-vacuous: s1 closed with most of the query still to run
      assert(servedAtClose > 0 && servedAtClose < rows / 2, s"served $servedAtClose of $rows")
      assert(got.length == rows)
      assert(got == gcdRows(df, Seq(("127.0.0.1", s2.boundPort)), "failover_gcd"))
    } finally { s1.close(); s2.close() }
  }
}
