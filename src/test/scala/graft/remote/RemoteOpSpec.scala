package graft.remote

import org.apache.spark.sql.types.{DataType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The remote operator's failover policy over a scripted wire: no sockets,
  * no Spark — every open, call and close is logged per endpoint port. */
class RemoteOpSpec extends AnyFunSuite {
  /** Endpoints in `down` refuse to connect; `fail(port, firstArg)` scripts a
    * failure for a call or a merge. A call answers its first argument
    * column; a merge answers its two states concatenated. */
  private final class FakeWire(down: Set[Int] = Set.empty,
      fail: (Int, Any) => Option[Throwable] = (_, _) => None) extends RemoteWire {
    val log = ArrayBuffer.empty[String]
    def shape: CallShape = CallShape.Scalar
    def open(host: String, port: Int, argTypes: Seq[DataType]): RemoteSession = {
      if (down(port)) throw new java.net.ConnectException(s"refused: $port")
      log += s"open $port"
      new RemoteSession {
        def call(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = {
          log += s"call $port ${rows.head.head}"
          fail(port, rows.head.head).foreach(e => throw e)
          rows.map(r => Seq(r.head))
        }
        override def accMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
          log += s"merge $port ${a.head}"
          fail(port, a.head).foreach(e => throw e)
          a ++ b
        }
        def close(dead: Boolean): Unit = log += s"close $port $dead"
      }
    }
  }

  private val eps = IndexedSeq(("h", 1), ("h", 2), ("h", 3))
  private def session(w: FakeWire, start: Int = 0) =
    new FailoverSession(w, eps, Seq(IntegerType), start)

  test("connect starts at the partition's endpoint and skips refusing ones") {
    val w = new FakeWire(down = Set(1))
    val s = session(w)
    assert(s.call(Seq(Seq(7))) == Seq(Seq(7)))
    s.close(dead = false)
    assert(w.log == Seq("open 2", "call 2 7", "close 2 false"))
    val w2 = new FakeWire()
    session(w2, start = 5).call(Seq(Seq(1)))
    assert(w2.log == Seq("open 3", "call 3 1"))
  }

  test("an IOException rotates to the next endpoint and replays only the in-flight chunk") {
    val w = new FakeWire(fail = (port, v) =>
      if (port == 1 && v == 2) Some(new java.io.EOFException("connection closed")) else None)
    val s = session(w)
    assert(s.call(Seq(Seq(1))) == Seq(Seq(1)))
    assert(s.call(Seq(Seq(2))) == Seq(Seq(2)))
    assert(s.call(Seq(Seq(3))) == Seq(Seq(3)))
    assert(w.log == Seq("open 1", "call 1 1", "call 1 2", "close 1 true",
      "open 2", "call 2 2", "call 2 3"))
  }

  test("failover gives up after one ring pass plus one") {
    val w = new FakeWire(fail = (_, _) => Some(new java.io.IOException("reset")))
    val s = session(w)
    intercept[java.io.IOException](s.call(Seq(Seq(1))))
    assert(w.log.count(_.startsWith("call")) == eps.size + 1)
  }

  test("a read timeout evicts the session and rethrows without failing over") {
    val w = new FakeWire(fail = (_, _) => Some(new java.net.SocketTimeoutException("hung")))
    val s = session(w)
    intercept[java.net.SocketTimeoutException](s.call(Seq(Seq(1))))
    s.close(dead = false) // the task-end close finds nothing left to close
    assert(w.log == Seq("open 1", "call 1 1", "close 1 true"))
  }

  test("a server answer is rethrown and the session stays on its endpoint") {
    val w = new FakeWire(fail = (_, v) => v match {
      case "err" => Some(new RuntimeException("remote call failed: ERR no scalar function"))
      case "status" => Some(new graft.remote.flight.GrpcStatusException(5, "not found"))
      case _ => None
    })
    val s = session(w)
    intercept[RuntimeException](s.call(Seq(Seq("err"))))
    intercept[graft.remote.flight.GrpcStatusException](s.call(Seq(Seq("status"))))
    assert(s.call(Seq(Seq(4))) == Seq(Seq(4)))
    assert(w.log == Seq("open 1", "call 1 err", "call 1 status", "call 1 4"))
  }

  test("an aggregate verb fails over like a call: the exchange is replayed on the next endpoint") {
    val w = new FakeWire(fail = (port, _) =>
      if (port == 1) Some(new java.io.EOFException("connection closed")) else None)
    val s = session(w)
    assert(s.run(_.accMerge(Array[Byte](4), Array[Byte](5))).toSeq == Seq[Byte](4, 5))
    assert(w.log == Seq("open 1", "merge 1 4", "close 1 true", "open 2", "merge 2 4"))
  }

  test("a pinned session is kept across exchanges and dropped on any failure") {
    val w = new FakeWire(fail = (_, v) =>
      if (v == "bad") Some(new IllegalArgumentException("unsupported value")) else None)
    def pinned(v: Any) = FailoverSession.pinned(w, eps, Seq(IntegerType), 4)(_.call(Seq(Seq(v))))
    assert(pinned(1) == Seq(Seq(1)))
    assert(pinned(2) == Seq(Seq(2)))
    intercept[IllegalArgumentException](pinned("bad"))
    assert(pinned(3) == Seq(Seq(3)))
    assert(w.log == Seq("open 2", "call 2 1", "call 2 2", "call 2 bad", "close 2 true",
      "open 2", "call 2 3"))
  }
}
