package perfbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.remote.{JsUdf, JsWorker, PythonWorker, RemoteAgg, RemoteFixture, RemoteUdf}
import graft.remote.flight.{FlightFixture, FlightUdf}

/** The paper's gcd benchmark, tier by tier: one cached, seeded source of
  * Int32 pairs runs through every UDF tier graft has. Each tier has a call
  * rung (the full gcd) and, where the tier has them, an identity rung
  * (marshalling only), a table-function rung (`range_setof` shape) and an
  * aggregate rung (`sum_udaf` shape). One floor rung (scan into noop) is
  * shared by every tier. A timed scalar or table rung writes its frame to
  * the noop sink; a timed aggregate rung collects its 16 groups. In the
  * untimed warm-up pass every rung's row count and checksum are compared
  * with a plain-Scala computation over the same pairs, and its executed plan
  * must show the tier's operator, so that no rule or fallback silently moves
  * a rung to another tier. */
final class Ladder(a: Args, out: Out) extends Workload {
  private val n: Int = if (a.smoke) 1 << 14 else 1 << 17

  // ---- inputs, computed in plain Scala from the seed ----------------------
  private def genA(i: Long): Long = Math.floorMod(i * 48271L + a.seed * 7919L, 999983L) + 1
  private def genB(i: Long): Long = Math.floorMod(i * 16807L + a.seed * 104729L + 12345L, 1000003L) + 1
  private def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
  private def divisors(m: Long): Long = (1L to m).count(m % _ == 0).toLong

  /** Expected (rows, checksum) of each rung kind, computed once. */
  private lazy val expected: Map[String, (Long, Long)] = {
    val pairs = Array.tabulate(n)(i => (genA(i), genB(i)))
    def sumOf(f: ((Long, Long)) => Long): Long = pairs.iterator.map(f).sum
    Map(
      "floor" -> (n.toLong, sumOf(_._1)),
      "identity" -> (n.toLong, sumOf(_._1)),
      "call" -> (n.toLong, sumOf(p => gcd(p._1, p._2))),
      "call.mod" -> (n.toLong, sumOf(p => p._1 % p._2)),
      "table" -> (sumOf(_._1 % 4), sumOf { p => val m = p._1 % 4; m * (m - 1) / 2 }),
      "table.echoes" -> (sumOf(p => math.min(3L, math.max(1L, p._1 % 4))),
        sumOf { p => val x = p._1 % 4; if (x <= 1) x else if (x == 2) 2 * x + 1 else 3 * x + 3 }),
      "table.divisors" -> (sumOf(p => divisors(p._1 % 16 + 1)),
        sumOf { p => val m = p._1 % 16 + 1; (1L to m).filter(m % _ == 0).sum }),
      "agg" -> (16L, sumOf(_._2 % 1000)),
      "agg.sumsq" -> (16L, sumOf { p => val v = p._2 % 1000; v * v }))
  }

  private var spark: SparkSession = _
  private var ext: SparkSession = _
  def sessions: Seq[SparkSession] = Seq(spark, ext)

  private def source(s: SparkSession): DataFrame =
    s.range(0, n, 1, a.cores).selectExpr(
      s"CAST(pmod(id * 48271 + ${a.seed}L * 7919, 999983) + 1 AS INT) AS a",
      s"CAST(pmod(id * 16807 + ${a.seed}L * 104729 + 12345, 1000003) + 1 AS INT) AS b",
      s"pmod(id * 48271 + ${a.seed}L * 7919, 999983) + 1 AS al",
      s"pmod(id * 16807 + ${a.seed}L * 104729 + 12345, 1000003) + 1 AS bl")

  def setup(): Unit = {
    // graft's shared sidecar pools and fixture servers; the pools launch
    // first so their interpreter start overlaps the session's
    PythonWorker.shared; JsWorker.shared
    spark = Main.session(a)
    Tracer.span("Graft.install", "Graft")(graft.Graft.install(spark))
    graft.functions.Udf.scalar2[Int, Int, Int]("pb_gcd(int, int) -> int")(
      (x, y) => graft.functions.Kernels.gcd(x, y))
    // graftscript has no loops, recursion or bindings, so a gcd cannot be
    // written in it; its call rung runs one Euclid step over the same pairs
    graft.runtime.ScriptUdf.register("pb_script_mod(bigint, bigint) -> bigint", "(fn (x y) (% x y))")
    graft.runtime.ScriptUdf.register("pb_script_ident(bigint) -> bigint", "(fn (x) x)")
    graft.Graft.install(spark)
    val old = SparkSession.active
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    ext = SparkSession.builder().withExtensions(new graft.GraftExtensions()(_)).getOrCreate()
    SparkSession.setDefaultSession(old); SparkSession.setActiveSession(old)
    graft.Graft.install(ext)
    // each session has its own cache manager, so each caches the source
    for (s <- Seq(spark, ext)) {
      val src = source(s).cache()
      src.count()
      src.createOrReplaceTempView("pb_src")
    }
    RemoteUdf.defineRemote(pyEps, "pb_ident(int) -> int",
      "@udf('pb_ident(int) -> int')\ndef pb_ident(x):\n    return x\n")
    JsUdf.defineJs(jsEps, "scalar", "pb_ident(int) -> int", "(x) => x")
    FlightFixture.port
    RemoteAgg.register(spark, "pb_ipc_sum", ipcEps, "sum_udaf", LongType)
    RemoteAgg.register(spark, "pb_py_sum", pyEps, "sum_i64", LongType)
    JsUdf.registerAggregate(spark, "pb_js_sum", jsEps, "js_sum", LongType)
    expected
  }

  def teardown(): Unit = if (spark != null) {
    spark.catalog.clearCache(); ext.catalog.clearCache(); Main.stopSession(spark)
    spark = null; ext = null
  }

  private def pyEps = PythonWorker.endpoints
  private def jsEps = JsWorker.endpoints
  private def ipcEps = Seq(("127.0.0.1", RemoteFixture.port))
  private def flightEps = Seq(("127.0.0.1", FlightFixture.port))

  /** One rung: tier, rung kind, the module its spans belong to, the expected
    * result key, the plan marker the executed plan must contain, and the
    * frame (scalar and table rungs) or grouped query (aggregate rungs). */
  private final case class Rung(tier: String, rung: String, layer: String, expect: String,
                                marker: String, df: () => DataFrame, value: String = "g")

  private def sql(q: String): () => DataFrame = () => spark.sql(q)
  private def ab = spark.table("pb_src").select("a", "b")
  private def nCol = spark.table("pb_src").selectExpr("CAST(a % 4 AS INT) AS n")
  private def lateral(fn: String) = sql(s"SELECT t.g FROM pb_src LATERAL VIEW $fn t AS g")
  private def grouped(agg: String) = sql(s"SELECT a % 16 AS k, $agg AS g FROM pb_src GROUP BY a % 16")

  private def rungs: Seq[Rung] = Seq(
    Rung("ladder", "floor", "bench", "floor", "InMemoryTableScan", () => ab, "a"),
    Rung("functions.codegen", "call", "functions", "call", "gcd(a#", sql("SELECT gcd(a, b) AS g FROM pb_src")),
    Rung("functions.invoke", "identity", "functions", "identity", "graft_identity(", sql("SELECT graft_identity(a) AS g FROM pb_src")),
    Rung("functions.invoke", "call", "functions", "call", "pb_gcd(", sql("SELECT pb_gcd(a, b) AS g FROM pb_src")),
    Rung("functions.invoke", "table", "functions", "table", "range_setof(", lateral("range_setof(CAST(a % 4 AS INT))")),
    Rung("functions.invoke", "agg", "functions", "agg", "sum_udaf(", grouped("sum_udaf(CAST(b % 1000 AS INT))")),
    Rung("plans.columnar", "call", "plans", "call", "ColumnarMap", () =>
      graft.plans.ColumnarMap.withBatchColumn(spark.table("pb_src").select("al", "bl"), "g",
        Seq("al", "bl"), LongType, graft.plans.ColumnarMap.GcdLongKernel)),
    Rung("wasm.row", "call", "wasm", "call", "wasm_gcd(", sql("SELECT wasm_gcd(al, bl) AS g FROM pb_src")),
    Rung("wasm.row", "table", "wasm", "table.divisors", "wasm_divisors(", lateral("wasm_divisors(al % 16 + 1)")),
    Rung("wasm.row", "agg", "wasm", "agg", "wasm_sum(", grouped("wasm_sum(bl % 1000)")),
    Rung("wasm.batch", "call", "wasm", "call", "WasmBatchKernel", () =>
      ext.sql("SELECT wasm_gcd(al, bl) AS g FROM pb_src")),
    Rung("runtime.script", "identity", "runtime", "identity", "pb_script_ident(", sql("SELECT pb_script_ident(al) AS g FROM pb_src")),
    Rung("runtime.script", "call", "runtime", "call.mod", "pb_script_mod(", sql("SELECT pb_script_mod(al, bl) AS g FROM pb_src")),
    Rung("runtime.script", "table", "runtime", "table.echoes", "script_echoes(", lateral("script_echoes(al % 4)")),
    Rung("runtime.script", "agg", "runtime", "agg.sumsq", "script_sumsq(", grouped("script_sumsq(bl % 1000)")),
    Rung("remote.ipc", "identity", "remote", "identity", "MapPartitions", () =>
      RemoteUdf.withRemoteColumn(ab, ipcEps, "graft_identity", Seq("a"), IntegerType), "value"),
    Rung("remote.ipc", "call", "remote", "call", "MapPartitions", () =>
      RemoteUdf.withRemoteColumn(ab, ipcEps, "gcd", Seq("a", "b"), IntegerType), "value"),
    Rung("remote.ipc", "table", "remote", "table", "MapPartitions", () =>
      RemoteUdf.withRemoteTableColumn(nCol, ipcEps, "range_setof", Seq("n"), IntegerType), "value"),
    Rung("remote.ipc", "agg", "remote", "agg", "pb_ipc_sum", grouped("pb_ipc_sum(CAST(b % 1000 AS INT))")),
    Rung("remote.python", "identity", "remote", "identity", "MapPartitions", () =>
      RemoteUdf.withRemoteColumn(ab, pyEps, "pb_ident", Seq("a"), IntegerType), "value"),
    Rung("remote.python", "call", "remote", "call", "MapPartitions", () =>
      RemoteUdf.withRemoteColumn(ab, pyEps, "gcd", Seq("a", "b"), IntegerType), "value"),
    Rung("remote.python", "table", "remote", "table", "MapPartitions", () =>
      RemoteUdf.withRemoteTableColumn(nCol, pyEps, "py_series", Seq("n"), IntegerType), "value"),
    Rung("remote.python", "agg", "remote", "agg", "pb_py_sum", grouped("pb_py_sum(CAST(b % 1000 AS BIGINT))")),
    Rung("remote.js", "identity", "remote", "identity", "MapPartitions", () =>
      JsUdf.withJsColumn(ab, jsEps, "pb_ident", Seq("a"), IntegerType), "value"),
    Rung("remote.js", "call", "remote", "call", "MapPartitions", () =>
      JsUdf.withJsColumn(ab, jsEps, "gcd", Seq("a", "b"), IntegerType), "value"),
    Rung("remote.js", "table", "remote", "table", "MapPartitions", () =>
      JsUdf.withJsTableColumn(nCol, jsEps, "js_series", Seq("n"), IntegerType), "value"),
    Rung("remote.js", "agg", "remote", "agg", "pb_js_sum", grouped("pb_js_sum(CAST(b % 1000 AS INT))")),
    Rung("remote.flight.chunk", "identity", "remote.flight", "identity", "MapPartitions", () =>
      FlightUdf.withFlightColumn(ab, flightEps, "graft_identity", Seq("a"), IntegerType), "value"),
    Rung("remote.flight.chunk", "call", "remote.flight", "call", "MapPartitions", () =>
      FlightUdf.withFlightColumn(ab, flightEps, "gcd", Seq("a", "b"), IntegerType), "value"),
    Rung("remote.flight.chunk", "table", "remote.flight", "table", "MapPartitions", () =>
      FlightUdf.withFlightTableColumn(nCol, flightEps, "range_setof", Seq("n"), IntegerType), "value"),
    Rung("remote.flight.stream", "identity", "remote.flight", "identity", "MapPartitions", () =>
      FlightUdf.withFlightColumnStreamed(ab, flightEps, "graft_identity", Seq("a"), IntegerType), "value"),
    Rung("remote.flight.stream", "call", "remote.flight", "call", "MapPartitions", () =>
      FlightUdf.withFlightColumnStreamed(ab, flightEps, "gcd", Seq("a", "b"), IntegerType), "value"))

  /** Run one rung: checked in the warm-up pass (0), timed in the others. */
  private def run(p: Int, r: Rung): Unit = {
    val name = s"${r.tier}.${r.rung}"
    var err: String = null
    var seconds = 0.0
    val (lo0, cpu0) = (Host.loBytes(), Host.childCpuS())
    try {
      val df = r.df()
      if (p == 0) err = verify(name, r, df)
      else {
        val t0 = System.nanoTime()
        Tracer.span(name, r.layer, newOp = true)(Tracer.span("action", "exec") {
          if (r.rung == "agg") df.collect()
          else df.write.format("noop").mode("overwrite").save()
        })
        seconds = (System.nanoTime() - t0) / 1e9
      }
    } catch { case e: Throwable => err = String.valueOf(e).take(500) }
    out.emit("kind" -> "op", "pass" -> p, "name" -> name, "tier" -> r.tier, "rung" -> r.rung,
      "layer" -> r.layer, "s" -> seconds, "rows" -> n, "ok" -> (err == null), "error" -> Option(err),
      "wire_bytes" -> (Host.loBytes() - lo0), "sidecar_cpu_s" -> (Host.childCpuS() - cpu0))
  }

  /** The rung's plan, row count and checksum, checked in one untimed action;
    * returns the error, or null. */
  private def verify(name: String, r: Rung, df: DataFrame): String = {
    if (!df.queryExecution.executedPlan.toString.contains(r.marker)) return s"plan lacks ${r.marker}"
    val (rows, sum0) =
      if (r.rung == "agg") {
        val res = df.collect()
        (res.length.toLong, res.map(_.getLong(1)).sum)
      } else {
        val obs = Observation(s"pb_$name")
        df.observe(obs, count(lit(1)).as("n"), sum(col(r.value).cast("long")).as("s"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        (m("n").asInstanceOf[Long], Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L))
      }
    val checksum = if (a.corrupt.contains(name)) sum0 + 1 else sum0
    val (expRows, expSum) = expected(r.expect)
    if ((rows, checksum) == (expRows, expSum)) null
    else s"expected ($expRows, $expSum) got ($rows, $checksum)"
  }

  def pass(p: Int): Unit = rungs.foreach(run(p, _))
}
