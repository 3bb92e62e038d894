package graft.remote

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.types._
import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets

/**
 * JavaScript (Node/V8) guest UDF worker pool — the engine's analogue of the
 * reference's QuickJS runtime (`arrow-udf-runtime/src/javascript/mod.rs:
 * 328-456` scalar/table, `:693-935` aggregates): REAL JavaScript — arrow
 * functions, generators, closures — evaluated in V8 sidecar processes
 * (`tools/jsudf_server.js`), with the same command topology as the
 * Arrow-IPC workers (LIST/GET/CALL/CALLTABLE + the five ACC* aggregate
 * verbs) over a JSON-framed body (dependency-free Node has no Arrow
 * reader; the JSON value space covers bool/int32/float64/string/arrays,
 * int64 exact to 2^53).
 *
 * Topology mirrors [[PythonWorker]]: a pool of interpreter processes with
 * partitions round-robined across them; on a real cluster the workers run
 * as sidecars per executor host.
 */
final class JsWorker extends Sidecar("jsudf_server.js", "GRAFT_JSUDF", f =>
  Seq("node", f, "--port", "0") ++
    // per-call guest deadline (worker-thread terminate-and-respawn on a
    // stuck sync loop) — the engine's SO_TIMEOUT is the outer layer
    sys.env.get("GRAFT_JSUDF_TIMEOUT_MS").toSeq.flatMap(v => Seq("--call-timeout-ms", v)))

object JsWorker {
  lazy val shared: Seq[JsWorker] = Sidecar.pool("GRAFT_JSUDF_WORKERS", 8)(new JsWorker())
  /** All pool endpoints, for round-robin assignment across partitions. */
  def endpoints: Seq[(String, Int)] = shared.map(w => ("127.0.0.1", w.boundPort))
  def port: Int = shared.head.boundPort
}

/** Client for the JSON-framed JS worker protocol: one connection, sequential
  * exchanges, SO_TIMEOUT containment like [[UdfClient]]. */
class JsUdfClient(host: String, port: Int, timeoutMs: Int = 120000) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)
  private val out = new BufferedWriter(
    new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
  private val in = new BufferedReader(
    new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
  private val mapper = new ObjectMapper()

  // ---- JSON <-> engine value bridge ---------------------------------------

  private def toJson(v: Any, target: ArrayNode): Unit = v match {
    case null => target.addNull()
    case b: Boolean => target.add(b)
    case i: Int => target.add(i)
    // int64 rides the wire as a decimal STRING: a JSON number goes through
    // the guest's double parse and silently rounds above 2^53. The worker
    // coerces string args declared `bigint` to real JS BigInt, so i64
    // round-trips exactly (the reference's JS runtime does the same).
    case l: Long => target.add(l.toString)
    case f: Float => target.add(f.toDouble)
    case d: Double => target.add(d)
    case s: String => target.add(s)
    case xs: scala.collection.Seq[_] =>
      val arr = target.addArray()
      xs.foreach(x => toJson(x, arr))
    case other => throw new IllegalArgumentException(
      s"js udf: unsupported value ${other.getClass}")
  }

  private def fromJson(n: JsonNode, dt: DataType): Any =
    if (n == null || n.isNull) null
    else dt match {
      case BooleanType => n.asBoolean()
      case IntegerType => n.asInt()
      // BigInt results arrive as strings; Number results as numbers
      case LongType => if (n.isTextual) n.asText().toLong else n.asLong()
      case FloatType => n.floatValue()
      case DoubleType => n.asDouble()
      case StringType => n.asText()
      case ArrayType(et, _) =>
        (0 until n.size()).map(i => fromJson(n.get(i), et))
      case other => throw new IllegalArgumentException(s"js udf: unsupported type $other")
    }

  private def colsBody(rows: Seq[Seq[Any]]): ObjectNode = {
    val body = mapper.createObjectNode()
    val nArgs = if (rows.isEmpty) 0 else rows.head.length
    val cols = body.putArray("cols")
    (0 until nArgs).foreach { j =>
      val col = cols.addArray()
      rows.foreach(r => toJson(r(j), col))
    }
    body.put("n", rows.size)
    body
  }

  // ---- exchanges -----------------------------------------------------------

  /** v4 ERR lines carry a structured `{"name":...,"message":...}` object —
    * render it as "Name: message" so a guest TimeoutError is tellable from a
    * missing function; pre-v4 plain-text ERR lines pass through unchanged. */
  private def renderErr(status: String): String = {
    if (status.startsWith("ERR {")) {
      try {
        val o = mapper.readTree(status.stripPrefix("ERR "))
        s"${o.path("name").asText("Error")}: ${o.path("message").asText(status)}"
      } catch { case _: Exception => status }
    } else status
  }

  /** The next line; a peer-closed connection is an `EOFException`, so the
    * caller sees a transport failure, not a server answer. */
  private def readLine(): String = {
    val l = in.readLine()
    if (l == null) throw new java.io.EOFException("connection closed by server")
    l
  }

  private def exchange(cmd: String, body: Option[ObjectNode]): JsonNode = {
    out.write(cmd); out.write("\n")
    body.foreach { b => out.write(mapper.writeValueAsString(b)); out.write("\n") }
    out.flush()
    val status = readLine()
    if (!status.startsWith("OK"))
      throw new RuntimeException(s"js call failed: ${renderErr(status)}")
    mapper.readTree(readLine())
  }

  private def textExchange(cmd: String): Seq[String] = {
    out.write(cmd); out.write("\n"); out.flush()
    val status = readLine()
    if (!status.startsWith("OK"))
      throw new RuntimeException(s"js request failed: ${renderErr(status)}")
    Iterator.continually(readLine()).takeWhile(_.nonEmpty).toSeq
  }

  def version(): Int = textExchange("VERSION").head.toInt
  def list(): Seq[String] = textExchange("LIST")
  def get(fname: String): Seq[String] = textExchange(s"GET $fname")

  /** Scalar call: one result per input row (nulls propagate). */
  def call(fname: String, retType: DataType, rows: Seq[Seq[Any]]): Seq[Any] = {
    val vals = exchange(s"CALL $fname", Some(colsBody(rows))).get("vals")
    (0 until vals.size()).map(i => fromJson(vals.get(i), retType))
  }

  /** Dynamic registration: ship JS SOURCE to the V8 guest — the reference's
    * `Runtime::add_function` surface (`javascript/mod.rs`). `code` is a JS
    * expression: an arrow/function expression (`kind = "scalar"`), a
    * generator-function expression (`"table"`), or an object with the
    * five-phase aggregate methods (`"aggregate"`). */
  def define(kind: String, sig: String, code: String): Unit = {
    val body = mapper.createObjectNode()
    body.put("kind", kind)
    body.put("sig", sig)
    body.put("code", code)
    exchange("DEFINE", Some(body))
  }

  /** Fallible scalar call: (value, error) per row — a throwing row carries
    * (null, "ErrType: message") instead of a silent null. */
  def callWithErrors(fname: String, retType: DataType,
                     rows: Seq[Seq[Any]]): Seq[(Any, String)] = {
    val res = exchange(s"CALLERR $fname", Some(colsBody(rows)))
    val vals = res.get("vals")
    val errs = res.get("errs")
    (0 until vals.size()).map { i =>
      val e = errs.get(i)
      (fromJson(vals.get(i), retType), if (e == null || e.isNull) null else e.asText())
    }
  }

  /** Table call: (input-row index, value) pairs from the JS generator. */
  def callTable(fname: String, retType: DataType, rows: Seq[Seq[Any]]): Seq[(Int, Any)] = {
    val res = exchange(s"CALLTABLE $fname", Some(colsBody(rows)))
    val idx = res.get("rows")
    val vals = res.get("vals")
    (0 until vals.size()).map(i => (idx.get(i).asInt(), fromJson(vals.get(i), retType)))
  }

  // ---- aggregate lifecycle (state = the guest's JSON value, opaque here) ---

  def accCreate(fname: String): Array[Byte] =
    mapper.writeValueAsBytes(exchange(s"ACCCREATE $fname", None).get("state"))

  def accumulate(fname: String, state: Array[Byte], rows: Seq[Seq[Any]],
                 retract: Boolean = false): Array[Byte] = {
    val body = colsBody(rows)
    body.set[ObjectNode]("state", mapper.readTree(state))
    val verb = if (retract) "ACCRETRACT" else "ACC"
    mapper.writeValueAsBytes(exchange(s"$verb $fname", Some(body)).get("state"))
  }

  def accMerge(fname: String, a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val body = mapper.createObjectNode()
    body.set[ObjectNode]("a", mapper.readTree(a))
    body.set[ObjectNode]("b", mapper.readTree(b))
    mapper.writeValueAsBytes(exchange(s"ACCMERGE $fname", Some(body)).get("state"))
  }

  def accFinish(fname: String, state: Array[Byte], retType: DataType): Any = {
    val body = mapper.createObjectNode()
    body.set[ObjectNode]("state", mapper.readTree(state))
    fromJson(exchange(s"ACCFINISH $fname", Some(body)).get("value"), retType)
  }

  override def close(): Unit = sock.close()
}

/** The JSON wire for [[RemoteOp]] and [[RemoteAggExpr]]: one
  * [[JsUdfClient]] per session. `retType` travels with the wire because the
  * JSON body carries no type tags; aggregate state is the guest's JSON
  * value, threaded as opaque bytes. */
private[remote] final case class JsWire(fname: String, shape: CallShape, retType: DataType)
    extends RemoteWire {
  def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession =
    new RemoteSession {
      private val client = new JsUdfClient(host, port)
      def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = shape match {
        case CallShape.Scalar => client.call(fname, retType, rows).map(Seq(_))
        case CallShape.Fallible =>
          client.callWithErrors(fname, retType, rows).map { case (v, e) => Seq(v, e) }
        case CallShape.Table =>
          client.callTable(fname, retType, rows).map { case (i, v) => Seq(i, v) }
      }
      override def accCreate(): Array[Byte] = client.accCreate(fname)
      override def accumulate(state: Array[Byte], rows: Seq[Seq[Any]]): Array[Byte] =
        client.accumulate(fname, state, rows)
      override def accMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] =
        client.accMerge(fname, a, b)
      override def accFinish(state: Array[Byte]): Any = client.accFinish(fname, state, retType)
      def close(dead: Boolean): Unit = client.close()
    }
}

/** Spark-side integration over the JS worker pool: each entry point is the
  * one remote operator, [[RemoteOp]], with the [[JsWire]] adapter (its other
  * adapters are the Arrow-IPC [[IpcWire]] and the two Flight wires);
  * aggregates run [[RemoteAggExpr]] over the same wire. */
object JsUdf {
  def withJsColumn(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                   fname: String, argCols: Seq[String],
                   retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(JsWire(fname, CallShape.Scalar, retType))

  /** Define a JS guest function from source on EVERY endpoint of the pool
    * (each V8 process owns its own registry) — driver-side, once, before
    * the mapPartitions exchange runs. */
  def defineJs(endpoints: Seq[(String, Int)], kind: String, sig: String,
               code: String): Unit =
    endpoints.foreach { case (h, p) =>
      val c = new JsUdfClient(h, p)
      try c.define(kind, sig, code) finally c.close()
    }

  /** Append `value` AND `error` columns from the JS guest: a throwing row
    * carries (null, "ErrType: message"). */
  def withJsFallibleColumn(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                           fname: String, argCols: Seq[String],
                           retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(JsWire(fname, CallShape.Fallible, retType))

  def withJsTableColumn(df: org.apache.spark.sql.DataFrame, endpoints: Seq[(String, Int)],
                        fname: String, argCols: Seq[String],
                        retType: DataType): org.apache.spark.sql.DataFrame =
    RemoteOp(df, endpoints, argCols, retType)(JsWire(fname, CallShape.Table, retType))

  /** Register a JS guest aggregate as a session temp function. */
  def registerAggregate(spark: org.apache.spark.sql.SparkSession, name: String,
                        endpoints: Seq[(String, Int)], fname: String,
                        resultType: DataType): Unit =
    RemoteAgg.registerWire(spark, name, endpoints, resultType,
      JsWire(fname, CallShape.Scalar, resultType))
}
