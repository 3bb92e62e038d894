package graft

import graft.remote.{JsUdf, JsUdfClient, JsWorker}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the REAL JavaScript guest worker (tools/jsudf_server.js, Node/V8):
  * same command topology as the Arrow-IPC workers over a JSON-framed body,
  * with actual JS — arrow fns, generators, five-phase aggregates — on the
  * far end. */
class JsUdfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val port = JsWorker.port

  test("discovery: VERSION, LIST and GET against the Node worker") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      assert(client.version() == graft.remote.RemoteProtocol.Version)
      val all = client.list()
      assert(all.exists(_.startsWith("gcd(")))
      assert(all.exists(_.startsWith("js_split(")))
      assert(all.exists(_.startsWith("js_sum(")))
      assert(client.get("js_upper").nonEmpty)
      val e = intercept[RuntimeException](client.get("definitely_not_there"))
      assert(e.getMessage.contains("no function"))
    } finally client.close()
  }

  test("define: JS source registration over the wire (reference add_function)") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      client.define("scalar", "js_vowels(string) -> int",
        "(s) => (s.match(/[aeiou]/g) || []).length")
      assert(client.call("js_vowels", IntegerType, Seq(Seq("banana"), Seq("xyz"))) ==
        Seq(3, 0))
      client.define("table", "js_chars(string) ->> string",
        "function* (s) { yield* s; }")
      assert(client.callTable("js_chars", StringType, Seq(Seq("ab"))) ==
        Seq((0, "a"), (0, "b")))
      client.define("aggregate", "js_max(int) -> int",
        """({
          |  createState: () => null,
          |  accumulate: (s, x) => (x == null ? s : s == null ? x : Math.max(s, x)),
          |  merge: (a, b) => (a == null ? b : b == null ? a : Math.max(a, b)),
          |  finish: (s) => s,
          |})""".stripMargin)
      val s = client.accumulate("js_max", client.accCreate("js_max"),
        Seq(Seq(3), Seq(9), Seq(1)))
      assert(client.accFinish("js_max", s, IntegerType) == 9)
      // broken source reports ERR without killing the connection
      val e = intercept[RuntimeException](
        client.define("scalar", "bad(int) -> int", "((("))
      assert(e.getMessage.contains("define failed"))
      assert(client.call("js_vowels", IntegerType, Seq(Seq("io"))) == Seq(2))
    } finally client.close()
  }

  test("fallible call: JS exception message rides the errs column") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      val res = client.callWithErrors("js_div", IntegerType,
        Seq(Seq(10, 3), Seq(7, 0), Seq(null, 5)))
      assert(res == Seq(
        (3, null),
        (null, "RangeError: division by zero"),
        (null, null)))
      // connection survives the failing row
      assert(client.call("gcd", IntegerType, Seq(Seq(8, 6))) == Seq(2))
    } finally client.close()
  }

  test("scalar call: real JS with null propagation and per-row error -> null") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      assert(client.call("gcd", IntegerType,
        Seq(Seq(12, 18), Seq(25, 15), Seq(null, 7))) == Seq(6, 5, null))
      assert(client.call("js_upper", StringType, Seq(Seq("ab"), Seq("Cd"))) ==
        Seq("AB", "CD"))
      // float64 result decodes to Double
      val q = client.call("js_quality", DoubleType, Seq(Seq("hello world"))).head
      assert(q.asInstanceOf[Double] > 0.0)
    } finally client.close()
  }

  test("table function: JS generator yields (row, value) pairs") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      val res = client.callTable("js_series", IntegerType,
        Seq(Seq(3), Seq(0), Seq(null), Seq(2)))
      assert(res == Seq((0, 0), (0, 1), (0, 2), (3, 0), (3, 1)))
      val toks = client.callTable("js_split", StringType,
        Seq(Seq("the  quick fox"), Seq("   "), Seq("one")))
      assert(toks == Seq((0, "the"), (0, "quick"), (0, "fox"), (2, "one")))
    } finally client.close()
  }

  test("aggregate lifecycle: create/accumulate/retract/merge/finish in V8") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      val s0 = client.accCreate("js_sum")
      val s1 = client.accumulate("js_sum", s0, Seq(Seq(10), Seq(20), Seq(null), Seq(5)))
      val s2 = client.accumulate("js_sum", client.accCreate("js_sum"), Seq(Seq(100)))
      val merged = client.accMerge("js_sum", s1, s2)
      assert(client.accFinish("js_sum", merged, LongType) == 135L)
      val s3 = client.accumulate("js_sum", merged, Seq(Seq(100)), retract = true)
      assert(client.accFinish("js_sum", s3, LongType) == 35L)
      val e = intercept[RuntimeException](client.accCreate("gcd"))
      assert(e.getMessage.contains("no aggregate"))
    } finally client.close()
  }

  test("Spark integration: scalar + generator table fn through mapPartitions") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i, i * 6, i * 4)).toDF("id", "a", "b")
      .repartition(4)
    val out = JsUdf.withJsColumn(df, JsWorker.endpoints, "gcd",
      Seq("a", "b"), IntegerType)
    val rows = out.select("id", "value").as[(Int, Int)].collect().toMap
    assert(rows.size == 500)
    assert((1 to 500).forall(i => rows(i) == 2 * i))
    val small = Seq(3, 1, 4).toDF("id")
    val tbl = JsUdf.withJsTableColumn(small, JsWorker.endpoints,
      "js_series", Seq("id"), IntegerType)
    assert(tbl.count() == 8)
  }

  test("async functions: the worker awaits Promises before framing the response") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      // built-in async scalar
      assert(client.call("js_async_add", IntegerType,
        Seq(Seq(2, 3), Seq(null, 1), Seq(10, 20))) == Seq(5, null, 30))
      // DEFINE'd async scalar and async GENERATOR table function
      client.define("scalar", "js_async_sq(int) -> int",
        "async (x) => { await new Promise((r) => setImmediate(r)); return x * x; }")
      assert(client.call("js_async_sq", IntegerType, Seq(Seq(7))) == Seq(49))
      client.define("table", "js_async_seq(int) ->> int",
        """async function* (n) {
          |  for (let i = 0; i < n; i++) {
          |    await new Promise((r) => setImmediate(r));
          |    yield i;
          |  }
          |}""".stripMargin)
      assert(client.callTable("js_async_seq", IntegerType, Seq(Seq(3), Seq(1))) ==
        Seq((0, 0), (0, 1), (0, 2), (1, 0)))
      // a rejected Promise is a per-row failure (null), not a dead connection
      client.define("scalar", "js_async_boom(int) -> int",
        "async (x) => { throw new Error('nope'); }")
      assert(client.call("js_async_boom", IntegerType, Seq(Seq(1))) == Seq(null))
      assert(client.call("gcd", IntegerType, Seq(Seq(8, 6))) == Seq(2))
    } finally client.close()
  }

  test("int64 is exact on the wire: BigInt past 2^53 round-trips") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      // identity through the guest: a Number-based wire would round these
      client.define("scalar", "js_id64(bigint) -> bigint", "(k) => k")
      val big = (1L << 60) + 3L
      assert(client.call("js_id64", LongType, Seq(Seq(big), Seq(-big))) ==
        Seq(big, -big))
      // arithmetic whose intermediates exceed 2^53 (the conformance probe)
      val ks = Seq(1L, 60000L, 599999L)
      val got = client.call("js_hash64", LongType, ks.map(Seq(_)))
      val want = ks.map { k =>
        ((BigInt(k) * BigInt(1099511627776L) + BigInt(987654321L)) %
          BigInt(2305843009213693951L)).toLong
      }
      assert(got == want)
    } finally client.close()
  }

  test("batched column mode: one guest call per request, column in/column out") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      // builtin z-score needs the WHOLE column (mean/stddev) — impossible
      // row-at-a-time; nulls pass through in place
      val res = client.call("js_zscore", DoubleType,
        Seq(Seq(1.0), Seq(2.0), Seq(null), Seq(3.0)))
      assert(res(2) == null)
      val vals = Seq(res(0), res(1), res(3)).map(_.asInstanceOf[Double])
      assert(math.abs(vals(1)) < 1e-12)                       // mean → 0
      assert(math.abs(vals(0) + vals(2)) < 1e-12)             // symmetric
      // DEFINE'd batch function (kind = "batch"), async allowed
      client.define("batch", "js_colsum_frac(float64) -> float64",
        "async (xs) => { const t = xs.reduce((a, b) => a + (b || 0), 0); return xs.map((v) => v == null ? null : v / t); }")
      val fr = client.call("js_colsum_frac", DoubleType,
        Seq(Seq(1.0), Seq(3.0))).map(_.asInstanceOf[Double])
      assert(math.abs(fr(0) - 0.25) < 1e-12 && math.abs(fr(1) - 0.75) < 1e-12)
      // a batch fn returning the wrong cardinality is an ERR, not a hang
      client.define("batch", "js_badbatch(int) -> int", "(xs) => [1]")
      val e = intercept[RuntimeException](
        client.call("js_badbatch", IntegerType, Seq(Seq(1), Seq(2))))
      assert(e.getMessage.contains("returned"))
    } finally client.close()
  }

  test("fetch in the guest: an async function calls a live HTTP endpoint") {
    // local HTTP server (zero-egress container: loopback only)
    val http = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/len", { (ex: com.sun.net.httpserver.HttpExchange) =>
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body = s"""{"len":${q.length}}""".getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.close()
    })
    http.start()
    val port0 = http.getAddress.getPort
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      // Node's global fetch + the worker's async support = the reference's
      // fetch-in-guest surface (javascript/fetch/mod.rs) without extra deps
      client.define("scalar", "js_fetch_len(string) -> int",
        s"""async (s) => {
           |  const r = await fetch("http://127.0.0.1:$port0/len?" + encodeURIComponent(s));
           |  return (await r.json()).len;
           |}""".stripMargin)
      val res = client.call("js_fetch_len", IntegerType, Seq(Seq("abc"), Seq("hello")))
      // encodeURIComponent("abc").length == 3, "hello" == 5
      assert(res == Seq(3, 5))
    } finally {
      client.close()
      http.stop(0)
    }
  }

  test("Spark hash aggregation drives the JS guest aggregate end-to-end") {
    import spark.implicits._
    JsUdf.registerAggregate(spark, "js_sum_t", JsWorker.endpoints, "js_sum", LongType)
    val df = (1 to 10000).map(i => (i % 7, i % 1000)).toDF("k", "v")
      .repartition(4)
    val got = df.groupBy("k")
      .agg(org.apache.spark.sql.functions.call_function("js_sum_t",
        org.apache.spark.sql.functions.col("v")).as("s"))
      .as[(Int, Long)].collect().toMap
    val want = (1 to 10000).groupBy(_ % 7).view
      .mapValues(_.map(i => (i % 1000).toLong).sum).toMap
    assert(got == want)
  }

  test("framing guards: a no-newline flood is rejected; the define log is capped but redefinition replaces") {
    val script = new java.io.File(sys.props("user.dir"), "tools/jsudf_server.js").getAbsolutePath
    val proc = new ProcessBuilder("node", script, "--port", "0",
        "--max-defines", "3", "--max-line-mb", "1")
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    val port = br.readLine().stripPrefix("PORT ").trim.toInt
    try {
      // 3 MB with no newline: the server must answer FramingError and close,
      // not buffer forever
      val s = new java.net.Socket("127.0.0.1", port)
      val junk = new Array[Byte](1 << 20)
      java.util.Arrays.fill(junk, 'x'.toByte)
      try {
        val out = s.getOutputStream
        out.write(junk); out.write(junk); out.write(junk); out.flush()
      } catch { case _: java.io.IOException => () } // reset once destroyed is fine
      val resp = new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream)).readLine()
      assert(resp == null || resp.contains("FramingError"), resp)
      s.close()
      // the worker is untouched: a fresh connection still serves
      val client = new JsUdfClient("127.0.0.1", port)
      try {
        client.define("scalar", "d1(int) -> int", "(x) => x + 1")
        client.define("scalar", "d2(int) -> int", "(x) => x + 2")
        client.define("scalar", "d3(int) -> int", "(x) => x + 3")
        val e = intercept[RuntimeException](
          client.define("scalar", "d4(int) -> int", "(x) => x + 4"))
        assert(e.getMessage.contains("DefineLimit"), e.getMessage)
        // redefining an EXISTING sig at the cap replaces, not grows
        client.define("scalar", "d2(int) -> int", "(x) => x + 20")
        assert(client.call("d2", IntegerType, Seq(Seq(1))) == Seq(21))
      } finally client.close()
    } finally proc.destroy()
  }

  test("per-call deadline: stuck sync and async calls are terminated; defines survive the respawn") {
    // dedicated worker with a short deadline — the pool workers keep the
    // default and must not be restarted under other tests. The --load file
    // is TRUSTED (full privileges), unlike wire-shipped DEFINEs.
    val loadFile = java.io.File.createTempFile("graftjs", ".js")
    loadFile.deleteOnExit()
    java.nio.file.Files.writeString(loadFile.toPath,
      """registry.scalar("die_trusted(int) -> int", (x) => process.exit(0));""")
    val script = new java.io.File(sys.props("user.dir"), "tools/jsudf_server.js").getAbsolutePath
    val proc = new ProcessBuilder("node", script, "--port", "0", "--call-timeout-ms", "500",
        "--load", loadFile.getAbsolutePath)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    val portLine = br.readLine()
    assert(portLine != null && portLine.startsWith("PORT "), s"worker failed: $portLine")
    val client = new JsUdfClient("127.0.0.1", portLine.stripPrefix("PORT ").trim.toInt)
    try {
      client.define("scalar", "keeper(int) -> int", "(x) => x + 1")
      // a sync infinite loop can only be preempted by terminating the
      // worker thread — the structured TimeoutError proves that happened
      client.define("scalar", "spin(int) -> int", "(x) => { for(;;){} }")
      val e = intercept[RuntimeException](client.call("spin", IntegerType, Seq(Seq(1))))
      assert(e.getMessage.contains("TimeoutError"), e.getMessage)
      // the respawned worker replayed the DEFINE log
      assert(client.call("keeper", IntegerType, Seq(Seq(41))) == Seq(42))
      // a never-resolving Promise hits the same wall clock
      client.define("scalar", "stuck(int) -> int", "async (x) => await new Promise(() => {})")
      val e2 = intercept[RuntimeException](client.call("stuck", IntegerType, Seq(Seq(1))))
      assert(e2.getMessage.contains("TimeoutError"), e2.getMessage)
      assert(client.call("keeper", IntegerType, Seq(Seq(1))) == Seq(2))
      // wire-shipped DEFINEs evaluate in a vm context without process /
      // require: a hostile define degrades to a per-row error (null), the
      // worker stays up
      client.define("scalar", "die(int) -> int", "(x) => process.exit(0)")
      assert(client.call("die", IntegerType, Seq(Seq(1))) == Seq(null))
      // ...but a TRUSTED --load function CAN kill the worker thread; the
      // exit watcher fails the call fast and respawns (load file re-applied,
      // DEFINE log replayed)
      val e3 = intercept[RuntimeException](client.call("die_trusted", IntegerType, Seq(Seq(1))))
      assert(e3.getMessage.contains("WorkerExit") || e3.getMessage.contains("TimeoutError"), e3.getMessage)
      assert(client.call("keeper", IntegerType, Seq(Seq(2))) == Seq(3))
      assert(client.call("die", IntegerType, Seq(Seq(1))) == Seq(null)) // define replayed too
    } finally { client.close(); proc.destroy() }
  }

  test("guest heap cap: a memory-hog DEFINE degrades to structured ERR; server survives") {
    // dedicated server with a deliberately small V8 old-gen cap (the
    // reference sets a per-runtime memory limit next to its timeout,
    // javascript/mod.rs:229-260); the deadline stays long so the ERR we see
    // proves the MEMORY wall fired, not the wall clock
    val script = new java.io.File(sys.props("user.dir"), "tools/jsudf_server.js").getAbsolutePath
    val proc = new ProcessBuilder("node", script, "--port", "0",
        "--max-heap-mb", "64", "--call-timeout-ms", "60000")
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    val portLine = br.readLine()
    assert(portLine != null && portLine.startsWith("PORT "), s"worker failed: $portLine")
    val client = new JsUdfClient("127.0.0.1", portLine.stripPrefix("PORT ").trim.toInt)
    try {
      client.define("scalar", "keeper(int) -> int", "(x) => x + 1")
      client.define("scalar", "hog(int) -> int",
        "(x) => { const a = []; for (;;) a.push(new Array(1 << 16).fill(x)); }")
      val e = intercept[RuntimeException](client.call("hog", IntegerType, Seq(Seq(1))))
      assert(e.getMessage.contains("MemoryLimitError"), e.getMessage)
      // the server process survived its guest's OOM: the respawned worker
      // replayed the DEFINE log and serves normally
      assert(client.call("keeper", IntegerType, Seq(Seq(41))) == Seq(42))
    } finally { client.close(); proc.destroy() }
  }

  test("structured ERR objects: name + message are rendered client-side") {
    val client = new JsUdfClient("127.0.0.1", port)
    try {
      val e = intercept[RuntimeException](client.call("no_such_fn", IntegerType, Seq(Seq(1))))
      // v4 wire: ERR {"name":"Error","message":"no scalar function ..."}
      assert(e.getMessage.contains("Error: no scalar function no_such_fn"), e.getMessage)
    } finally client.close()
  }

  test("a peer-closed connection is an EOFException, and the pool fails over past it") {
    val ss = HangUpServer()
    try {
      val c = new JsUdfClient("127.0.0.1", ss.getLocalPort)
      try {
        intercept[java.io.EOFException](c.version())
        intercept[java.io.EOFException](c.call("gcd", IntegerType, Seq(Seq(12, 8))))
      } finally c.close()
      import spark.implicits._
      val df = (1 to 500).map(i => (i, i * 6, i * 4)).toDF("id", "a", "b").repartition(4)
      val out = JsUdf.withJsColumn(df, ("127.0.0.1", ss.getLocalPort) +: JsWorker.endpoints,
        "gcd", Seq("a", "b"), IntegerType)
      val rows = out.select("id", "value").as[(Int, Int)].collect().toMap
      assert(rows.size == 500)
      assert((1 to 500).forall(i => rows(i) == 2 * i))
      // aggregates: the peer at slot 0 accepts, so the first exchange fails
      // over to the real workers
      def sums(eps: Seq[(String, Int)]): Map[Int, Long] = {
        JsUdf.registerAggregate(spark, "js_failover_sum", eps, "js_sum", LongType)
        df.groupBy(($"id" % 7).as("k"))
          .agg(org.apache.spark.sql.functions.call_function("js_failover_sum", $"a"))
          .as[(Int, Long)].collect().toMap
      }
      val single = sums(JsWorker.endpoints.take(1))
      assert(single.size == 7)
      assert(sums(("127.0.0.1", ss.getLocalPort) +: JsWorker.endpoints) == single)
    } finally ss.close()
  }
}
