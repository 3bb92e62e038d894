package graft

import graft.remote.{PythonWorker, RemoteUdf, UdfClient}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the REAL CPython guest worker (tools/pyudf_server.py, pyarrow):
  * the same UdfClient / RemoteUdf integration as the JVM server, with an
  * actual Python interpreter evaluating the functions on the far end. */
class PythonUdfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val port = PythonWorker.port

  test("discovery: VERSION, LIST and GET against the CPython worker") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      assert(client.version() == graft.remote.RemoteProtocol.Version)
      val all = client.list()
      assert(all.exists(_.startsWith("gcd(")))
      assert(all.exists(_.contains("->> int32"))) // table fn advertised
      assert(client.get("py_upper").nonEmpty)
      val e = intercept[RuntimeException](client.get("definitely_not_there"))
      assert(e.getMessage.contains("no function"))
    } finally client.close()
  }

  test("define: source-code registration over the wire (reference add_function)") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      // scalar from source, handler defaults to the signature name
      client.define("py_digits(string) -> int",
        "def py_digits(s):\n    return sum('0' <= c <= '9' for c in s)\n")
      assert(client.call("py_digits", Seq(StringType), Seq(Seq("a1b22"), Seq("xyz"))) ==
        Seq(3, 0))
      // table function from source (generator), explicit handler name
      client.define("py_chars(string) ->> string",
        "def chars(s):\n    yield from s\n", handler = "chars")
      assert(client.callTable("py_chars", Seq(StringType), Seq(Seq("ab"))) ==
        Seq((0, "a"), (0, "b")))
      // aggregate from source: five-phase class
      client.define("py_max(int) -> int",
        """class PyMax:
          |    def create_state(self):
          |        return None
          |    def accumulate(self, state, x):
          |        if x is None: return state
          |        return x if state is None else max(state, x)
          |    def merge(self, a, b):
          |        if a is None: return b
          |        return a if b is None else max(a, b)
          |    def finish(self, state):
          |        return state
          |""".stripMargin, handler = "PyMax", aggregate = true)
      val s = client.accumulate("py_max", client.accCreate("py_max"),
        Seq(IntegerType), Seq(Seq(3), Seq(9), Seq(1)))
      assert(client.accFinish("py_max", s) == 9)
      // a broken module reports ERR without killing the connection
      val e = intercept[RuntimeException](client.define("bad(int) -> int", "def bad(")
        )
      assert(e.getMessage.contains("SyntaxError"))
      assert(client.call("py_digits", Seq(StringType), Seq(Seq("7"))) == Seq(1))
    } finally client.close()
  }

  test("fallible call: ZeroDivisionError message rides the error column") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      val res = client.callWithErrors("py_div", Seq(IntegerType, IntegerType),
        Seq(Seq(10, 3), Seq(7, 0), Seq(null, 5)))
      assert(res == Seq(
        (3, null),
        (null, "ZeroDivisionError: integer division or modulo by zero"),
        (null, null)))
      // connection survives the failing row
      assert(client.call("gcd", Seq(IntegerType, IntegerType), Seq(Seq(8, 6))) == Seq(2))
    } finally client.close()
  }

  test("scalar call: python math.gcd with null propagation, connection reuse") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      val res = client.call("gcd", Seq(IntegerType, IntegerType),
        Seq(Seq(12, 18), Seq(25, 15), Seq(null, 7)))
      assert(res == Seq(6, 5, null))
      assert(client.call("py_upper", Seq(StringType), Seq(Seq("ab"), Seq("Cd"))) ==
        Seq("AB", "CD"))
      // list-typed argument crosses the wire into a python list
      assert(client.call("py_weight", Seq(ArrayType(DoubleType)),
        Seq(Seq(Seq(1.5, 2.0, 3.25)))) == Seq(6.75))
    } finally client.close()
  }

  test("table function call: python generator yields (row, value) pairs") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      val res = client.callTable("py_series", Seq(IntegerType),
        Seq(Seq(3), Seq(0), Seq(null), Seq(2)))
      assert(res == Seq((0, 0), (0, 1), (0, 2), (3, 0), (3, 1)))
      val toks = client.callTable("py_split", Seq(StringType),
        Seq(Seq("the  quick fox"), Seq("   "), Seq("one")))
      assert(toks == Seq((0, "the"), (0, "quick"), (0, "fox"), (2, "one")))
    } finally client.close()
  }

  test("framing guards: hostile blob lengths answer ERR, the worker survives") {
    // DEFINE expects three length-prefixed blobs; a negative length would
    // read-to-EOF (unbounded allocation) without the [0, MAX_BLOB] check
    val s = new java.net.Socket("127.0.0.1", port)
    try {
      val out = new java.io.DataOutputStream(s.getOutputStream)
      out.writeBytes("DEFINE x\n")
      out.writeInt(-1) // hostile length prefix
      out.flush()
      val resp = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream)).readLine()
      assert(resp != null && resp.contains("FramingError"), resp)
    } finally s.close()
    // that connection is dead, but the WORKER is fine: a fresh one serves
    val client = new UdfClient("127.0.0.1", port)
    try assert(client.version() == graft.remote.RemoteProtocol.Version)
    finally client.close()
  }

  test("unknown function on the python side reports ERR") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      val e = intercept[RuntimeException](client.call("nope", Seq(IntegerType), Seq(Seq(1))))
      assert(e.getMessage.contains("no scalar function"))
    } finally client.close()
  }

  test("Spark integration: per-partition pooled clients against CPython") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i, i * 6, i * 4)).toDF("id", "a", "b")
      .repartition(4)
    val out = RemoteUdf.withRemoteColumn(df, Seq(("127.0.0.1", port)), "gcd",
      Seq("a", "b"), IntegerType)
    val rows = out.select("id", "value").as[(Int, Int)].collect().toMap
    assert(rows.size == 500)
    assert((1 to 500).forall(i => rows(i) == 2 * i))
    val small = Seq(3, 1, 4).toDF("id")
    val tbl = RemoteUdf.withRemoteTableColumn(small, Seq(("127.0.0.1", port)),
      "py_series", Seq("id"), IntegerType)
    assert(tbl.count() == 8) // 3 + 1 + 4 generated rows
  }

  test("aggregate lifecycle verbs: create/accumulate/retract/merge/finish in CPython") {
    val client = new UdfClient("127.0.0.1", port)
    try {
      val s0 = client.accCreate("sum_i64")
      val s1 = client.accumulate("sum_i64", s0, Seq(LongType),
        Seq(Seq(10L), Seq(20L), Seq(null), Seq(5L)))
      val s2 = client.accumulate("sum_i64", client.accCreate("sum_i64"),
        Seq(LongType), Seq(Seq(100L)))
      val merged = client.accMerge("sum_i64", s1, s2)
      assert(client.accFinish("sum_i64", merged) == 135L)
      // retract is the exact inverse of accumulate
      val s3 = client.accumulate("sum_i64", merged, Seq(LongType),
        Seq(Seq(100L)), retract = true)
      assert(client.accFinish("sum_i64", s3) == 35L)
      // two-argument aggregate with tuple state
      val w1 = client.accumulate("py_weighted_avg", client.accCreate("py_weighted_avg"),
        Seq(IntegerType, IntegerType), Seq(Seq(10, 1), Seq(20, 3)))
      assert(client.accFinish("py_weighted_avg", w1) == 17.5)
      val e = intercept[RuntimeException](client.accCreate("no_such_agg"))
      assert(e.getMessage.contains("no aggregate"))
    } finally client.close()
  }

  test("Spark hash aggregation drives the guest aggregate end-to-end") {
    import spark.implicits._
    graft.remote.RemoteAgg.register(spark, "py_sum_i64",
      PythonWorker.endpoints, "sum_i64", LongType)
    val df = (1 to 10000).map(i => (i % 7, i.toLong)).toDF("k", "v")
      .repartition(4)
    val got = df.groupBy("k")
      .agg(org.apache.spark.sql.functions.call_function("py_sum_i64",
        org.apache.spark.sql.functions.col("v")).as("s"))
      .as[(Int, Long)].collect().toMap
    val want = (1 to 10000).groupBy(_ % 7).view.mapValues(_.map(_.toLong).sum).toMap
    assert(got == want)
  }
}
