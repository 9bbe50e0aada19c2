package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("op latency: per pass median and slowest op, each a median over passes") {
    // passes of four op kinds: semi, inner, left outer, full outer
    val passes = Seq(
      Seq(0.3, 0.5, 1.0, 1.1),
      Seq(0.3, 0.6, 1.0, 1.2),
      Seq(0.4, 0.5, 1.1, 1.0),
      Seq(0.3, 0.5, 5.0, 1.1)) // one straggler
    val (p50, tail) = Stats.opLatency(passes)
    assert(math.abs(p50 - 0.775) < 1e-9)
    assert(math.abs(tail - 1.15) < 1e-9)
  }

  test("op latency does not sit on the border between op kinds") {
    // over all ops, the median of these two passes is (0.6 + 1.0) / 2 with
    // one more fast inner op and (0.5 + 1.0) / 2 without it; per pass it
    // moves by the inner op's own change only
    val a = Stats.opLatency(Seq(Seq(0.3, 0.5, 1.0, 1.1), Seq(0.3, 0.5, 1.0, 1.1)))
    val b = Stats.opLatency(Seq(Seq(0.3, 0.5, 1.0, 1.1), Seq(0.3, 0.6, 1.0, 1.1)))
    assert(math.abs(a._1 - 0.75) < 1e-9 && math.abs(b._1 - 0.775) < 1e-9)
    assert(a._2 == b._2)
  }

  test("no passes is an error") {
    assertThrows[IllegalArgumentException](Stats.opLatency(Nil))
    assertThrows[IllegalArgumentException](Stats.opLatency(Seq(Nil)))
  }
}
