package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's sampling rule, driven by a fake clock: no Spark runs here. */
class BenchSpec extends AnyFunSuite {
  import Bench.{Fixture, Outcome, Probe}

  /** A fake battery: each probe advances the clock by its cost for that
    * sample (1-based), or throws where the cost is NaN. `starts` logs each
    * sample's probe and battery-clock start time, in order. */
  private final class Battery(costs: (String, Int => Double)*) {
    var now = 0.0
    val starts = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    private val taken = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val probes: Seq[Probe] = costs.map { case (name, cost) =>
      Probe(name, () => {
        starts += name -> now
        taken(name) += 1
        val c = cost(taken(name))
        if (c.isNaN) throw new IllegalStateException(s"$name broke")
        now += c
      })
    }
    def run(named: Boolean = false, fixtures: Seq[Fixture] = Nil,
        bracket: (String, () => Double) => Double = (_, timed) => timed())
        : (Map[String, Outcome], Boolean) = {
      val (out, hit) = Bench.sample(probes, fixtures, named, () => now, bracket)
      assert(out.map(_.name) == probes.map(_.name))
      (out.map(o => o.name -> o).toMap, hit)
    }
    def order: Seq[String] = starts.map(_._1).toSeq
  }

  test("pass 1 times every probe once in declaration order; the bracket's work is not timed") {
    val b = new Battery("a" -> (_ => 2.0), "b" -> (_ => 9.0), "c" -> (_ => 1.0))
    val (out, hit) = b.run(bracket = (_, timed) => { b.now += 100; timed() })
    assert(b.order.take(3) == Seq("a", "b", "c"))
    assert(b.order.drop(3).toSet == Set("a", "c"))
    assert(out("a").samples == Vector(2.0, 2.0, 2.0))
    assert(out("b").samples == Vector(9.0))
    assert(out.values.forall(!_.failed))
    assert(!hit)
  }

  test("a probe over 5 s keeps one sample; one at 5 s gets three") {
    // "edge" first: its samples then start at whole seconds, so its fake
    // clock differences stay exact
    val b = new Battery("edge" -> (_ => Bench.RepeatMaxSec), "slow" -> (_ => 5.001))
    val (out, _) = b.run()
    assert(out("slow").samples.size == 1)
    assert(out("edge").samples.size == Bench.MaxSamples)
  }

  test("further samples go round-robin, cheapest first sample first, and stop at 3") {
    val b = new Battery("p1" -> (_ => 3.0), "p2" -> (_ => 1.0), "p3" -> (_ => 2.0),
      "p4" -> (_ => 7.0))
    val (out, _) = b.run()
    assert(b.order == Seq("p1", "p2", "p3", "p4", "p2", "p3", "p1", "p2", "p3", "p1"))
    assert(Seq("p1", "p2", "p3").forall(out(_).samples.size == 3))
    assert(out("p2").value == 1.0)
  }

  test("a default run starts no sample past the budget; a named run has no budget") {
    def battery = new Battery("long" -> (_ => Bench.BudgetSec - 2), "a" -> (_ => 1.0),
      "b" -> (_ => 1.0))
    val d = battery
    val (dOut, dHit) = d.run()
    assert(dHit)
    assert(d.starts.forall(_._2 <= Bench.BudgetSec))
    assert(dOut("a").samples.size == 2 && dOut("b").samples.size == 1)
    val n = battery
    val (nOut, nHit) = n.run(named = true)
    assert(!nHit)
    assert(nOut("a").samples.size == 3 && nOut("b").samples.size == 3)
  }

  test("pass 1 runs whole even past the budget, so every probe keeps one sample") {
    val b = new Battery("long" -> (_ => Bench.BudgetSec + 100), "a" -> (_ => 1.0),
      "b" -> (_ => 1.0))
    val (out, hit) = b.run()
    assert(hit)
    assert(b.order == Seq("long", "a", "b"))
    assert(out.values.forall(o => o.samples.size == 1 && !o.failed))
  }

  test("a throwing probe is failed, reports -1 and gets no further sample") {
    val b = new Battery("first" -> (_ => Double.NaN),
      "second" -> (i => if (i == 2) Double.NaN else 1.0), "ok" -> (_ => 2.0))
    val (out, _) = b.run()
    assert(b.order.count(_ == "first") == 1)
    assert(b.order.count(_ == "second") == 2)
    assert(out("first").failed && out("first").value == -1.0)
    assert(out("second").failed && out("second").value == -1.0)
    assert(!out("ok").failed && out("ok").samples.size == 3)
  }

  test("a throwing fixture fails only its users; a fixture nobody selected is not built") {
    val b = new Battery("x_a1" -> (_ => 1.0), "x_a2" -> (_ => 1.0), "x_b" -> (_ => 1.0))
    var unusedBuilt = false
    val (out, _) = b.run(fixtures = Seq(
      Fixture(Seq("x_a"), () => throw new RuntimeException("pool did not start")),
      Fixture(Seq("x_z"), () => unusedBuilt = true)))
    assert(!unusedBuilt)
    assert(out("x_a1").failed && out("x_a2").failed)
    assert(out("x_a1").value == -1.0 && out("x_a1").samples.isEmpty)
    assert(!b.order.exists(_.startsWith("x_a")))
    assert(!out("x_b").failed && out("x_b").samples.size == 3)
  }
}
