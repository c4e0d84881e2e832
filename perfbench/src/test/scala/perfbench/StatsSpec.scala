package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic: `sbt perfbench/test` from this
  * directory. */
class StatsSpec extends AnyFunSuite {

  test("quantiles interpolate between neighbouring samples") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) === 2.5)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.75) === 4.0)
    assert(Stats.quantile(Seq(7.0), 0.9) === 7.0)
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) === 5.0)
  }

  test("the reported tail is the highest percentile with 10 samples beyond it") {
    assert(Stats.tailLevel(9) === None)
    assert(Stats.tailLevel(20) === Some(0.5))
    assert(Stats.tailLevel(39) === Some(0.5))
    assert(Stats.tailLevel(40) === Some(0.75))
    assert(Stats.tailLevel(99) === Some(0.75))
    assert(Stats.tailLevel(100) === Some(0.9))
    assert(Stats.tailLevel(199) === Some(0.9))
    assert(Stats.tailLevel(200) === Some(0.95))
    assert(Stats.tailLevel(1000) === Some(0.99))
    assert(Stats.tailLevel(10000) === Some(0.999))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) === Some(0.9 -> Stats.quantile(xs, 0.9)))
  }

  test("sum of medians adds each kind's median once") {
    assert(Stats.sumOfMedians(Map("a" -> Seq(1.0, 9.0, 2.0), "b" -> Seq(10.0), "c" -> Nil)) === 12.0)
  }

  test("median of medians counts every kind once, however often it ran") {
    val byKind = Map("fast" -> Seq.fill(99)(1.0), "mid" -> Seq(5.0, 7.0), "slow" -> Seq(100.0), "none" -> Nil)
    assert(Stats.medianOfMedians(byKind) === 6.0)
  }

  test("span self time subtracts the part its children cover, once") {
    val parent = Span(1, 0, "p", "r", 0, 100)
    val spans = Seq(parent,
      Span(2, 1, "a", "r", 10, 30),
      Span(3, 1, "b", "r", 20, 50), // overlaps a: 10..50 counts once
      Span(4, 1, "c", "r", 90, 120), // only 90..100 lies inside the parent
      Span(5, 2, "grandchild", "r", 12, 28)) // covered by a, not by p
    val self = Span.selfTimes(spans)
    assert(self(1) === 50)
    assert(self(2) === 20 - 16)
    assert(self(3) === 30)
    assert(self(5) === 16)
  }

  test("a tracer that is off records nothing and still runs the call") {
    val off = new Tracer(false)
    assert(off.span("x", "r")(41 + 1) === 42)
    assert(off.all.isEmpty)
    val on = new Tracer(true)
    on.span("outer", "r")(on.span("inner", "r")(()))
    val Seq(outer, inner) = on.all.sortBy(_.startNs)
    assert(inner.parent === outer.id && outer.parent === 0)
  }

  test("failures count against attempts") {
    val o = new Outcomes
    assert(o.failRatio === 0.0)
    o.ok(); o.ok(); o.ok(); o.fail("status 400")
    assert(o.attempted === 4 && o.failed === 1 && o.failRatio === 0.25)
    o.reject("answer differs") // a checked answer turned out wrong
    assert(o.attempted === 4 && o.failed === 2 && o.failRatio === 0.5)
    (1 to 5).foreach(_ => o.reject("x"))
    assert(o.failed === 4 && o.failRatio === 1.0)
    assert(o.failures.map(_._1) === Seq("status 400", "answer differs", "x"))
  }
}
