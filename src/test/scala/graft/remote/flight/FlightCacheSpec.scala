package graft.remote.flight

import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

/**
 * Shared-client lifecycle gates for [[FlightClientCache]] / [[Http2Conn]]:
 *
 *  1. A read DEADLINE is an answer only for the RPC whose read hit it: that
 *     RPC sees SocketTimeoutException (containment: the failover session
 *     evicts and rethrows it), while every LATER use of the same client
 *     sees a plain IOException from the latched-dead connection, which the
 *     session fails over from. After `markDead`, the cache hands out a
 *     fresh client that answers. (Regression: STE was latched and rethrown
 *     from every future startRpc, so every task that leased the client
 *     aborted instead of failing over.)
 *  2. Concurrent streams wedged behind the hung one see the plain
 *     IOException too, rather than inheriting the deadline verdict.
 *  3. [[FlightClientCache.acquire]] dials OUTSIDE the global cache monitor:
 *     a stalled connect to one endpoint must not block leases to healthy
 *     endpoints or lease release.
 *  4. An abandoned gRPC response iterator releases its h2 stream on close()
 *     (a leaked stream on a long-lived shared connection accumulates inbox
 *     bytes and counts against the server's concurrent-stream limit forever).
 */
class FlightCacheSpec extends AnyFunSuite
    with org.scalatest.concurrent.TimeLimits {
  import org.scalatest.time.SpanSugar._

  private def ensureSleepy(): Unit = {
    graft.functions.Builtins.ensureRegistered()
    // sleeps `a` millis on the server, then returns a + b
    graft.functions.Udf.scalar2[Int, Int, Int]("sleepy_add(int, int) -> int") {
      (a, b) => Thread.sleep(a.toLong); a + b
    }
  }

  private val ints = Seq(IntegerType, IntegerType)

  /** Run `f` against a fresh [[FlightServer]] whose cached clients carry a
    * 700 ms read deadline. */
  private def withDeadlineCache(f: Int => Unit): Unit = {
    ensureSleepy()
    val server = new FlightServer()
    FlightClientCache.dialOverride = Some((h, p) => new FlightClient(h, p, timeoutMs = 700))
    try failAfter(60.seconds)(f(server.boundPort))
    finally {
      FlightClientCache.dialOverride = None
      server.close(0L)
    }
  }

  /** A plain IOException: the connection is dead, not this RPC's deadline. */
  private def assertPlainIo(e: Throwable): Unit =
    assert(e.isInstanceOf[java.io.IOException] &&
      !e.isInstanceOf[java.net.SocketTimeoutException], s"expected a plain IOException: $e")

  /** After `markDead` on a lease of the failed client, the next acquire for
    * the endpoint dials a fresh client, and it answers. */
  private def assertFreshClientAnswers(port: Int, failed: FlightClient): Unit = {
    val fresh = FlightClientCache.acquire("127.0.0.1", port)
    try {
      assert(!(fresh.client eq failed))
      assert(fresh.client.call("sleepy_add", ints, Seq(Seq(0, 41))) == Seq(41))
    } finally { fresh.markDead(); fresh.release() }
  }

  test("a read deadline aborts only its own RPC; a later RPC sees a dead connection, and the cache dials afresh") {
    withDeadlineCache { port =>
      val lease = FlightClientCache.acquire("127.0.0.1", port)
      try {
        // server sleeps 3s > 700ms deadline: this RPC's own read times out
        intercept[java.net.SocketTimeoutException] {
          lease.client.call("sleepy_add", ints, Seq(Seq(3000, 1)))
        }
        // a later RPC on the SAME client is told the connection is dead
        assertPlainIo(intercept[java.io.IOException] {
          lease.client.call("sleepy_add", ints, Seq(Seq(0, 41)))
        })
        lease.markDead()
      } finally lease.release()
      assertFreshClientAnswers(port, lease.client)
    }
  }

  test("a concurrent stream wedged behind the hung RPC reconnects instead of inheriting the deadline") {
    withDeadlineCache { port =>
      val lease = FlightClientCache.acquire("127.0.0.1", port)
      try {
        // two RPCs whose answers both come after the deadline: exactly one
        // read hits it (the baton holder's), so exactly one RPC sees STE;
        // the other observes the latched-dead connection
        val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def slow(ms: Int): Thread = {
          val t = new Thread(() =>
            try lease.client.call("sleepy_add", ints, Seq(Seq(ms, 1)))
            catch { case e: Throwable => outcomes.add(e) })
          t.start()
          t
        }
        val a = slow(3000)
        Thread.sleep(200) // the first RPC holds the reader baton by now
        val b = slow(2000)
        a.join(); b.join()
        import scala.jdk.CollectionConverters._
        val es = outcomes.asScala.toSeq
        assert(es.size == 2, s"both RPCs must fail: $es")
        val (ste, rest) = es.partition(_.isInstanceOf[java.net.SocketTimeoutException])
        assert(ste.size == 1, s"exactly one RPC owns the deadline: $es")
        rest.foreach(assertPlainIo)
        lease.markDead()
      } finally lease.release()
      assertFreshClientAnswers(port, lease.client)
    }
  }

  test("acquire dials outside the cache lock: a stalled dial blocks neither healthy leases nor release") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val stalledPort = 1 // never dialed for real — the override blocks
    FlightClientCache.dialOverride = Some { (h, p) =>
      if (p == stalledPort) gate.await() // a dead endpoint mid-connect-timeout
      new FlightClient(h, p)
    }
    try {
      failAfter(30.seconds) {
        val staller = new Thread(() =>
          try FlightClientCache.acquire("127.0.0.1", stalledPort).release()
          catch { case _: Throwable => () })
        staller.start()
        Thread.sleep(200) // stuck inside the (now unlocked) dial
        // leases to the HEALTHY endpoint must proceed while that dial hangs
        val t0 = System.nanoTime()
        val l1 = FlightClientCache.acquire("127.0.0.1", server.boundPort)
        val l2 = FlightClientCache.acquire("127.0.0.1", server.boundPort)
        l1.release(); l2.release()
        val elapsedMs = (System.nanoTime() - t0) / 1000000
        assert(elapsedMs < 5000, s"healthy acquire/release took ${elapsedMs}ms behind a stalled dial")
        gate.countDown()
        staller.join(10000)
        assert(!staller.isAlive)
      }
    } finally {
      FlightClientCache.dialOverride = None
      gate.countDown()
      server.close(0L)
    }
  }

  test("an abandoned response iterator releases its h2 stream on close()") {
    graft.functions.Builtins.ensureRegistered()
    val server = new FlightServer()
    try {
      failAfter(60.seconds) {
        val g = new GrpcConn("127.0.0.1", server.boundPort)
        try {
          // ListFlights streams one message per registered function (100+):
          // take one and walk away — the h2 stream must not leak
          val rs = g.call("/arrow.flight.protocol.FlightService/ListFlights",
            Iterator(Pb.criteria(Pb.Empty)))
          assert(rs.hasNext)
          rs.next()
          assert(g.activeStreams == 1)
          rs.close()
          assert(g.activeStreams == 0)
          // close is idempotent and the connection stays healthy
          rs.close()
          val ok = g.call("/arrow.flight.protocol.FlightService/DoAction",
            Iterator(Pb.action("protocol_version", Pb.Empty)))
          try assert(Pb.parseResultBody(ok.toSeq.head).headOption.contains(2.toByte))
          finally ok.close()
          assert(g.activeStreams == 0)
          // an abandoned bidi call releases on close() too
          val b = g.bidi("/arrow.flight.protocol.FlightService/DoExchange")
          assert(g.activeStreams == 1)
          b.close()
          assert(g.activeStreams == 0)
        } finally g.close()
      }
    } finally server.close(0L)
  }
}
