package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between the closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("p90 is reported only when at least ten samples lie beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.tail(hundred, 90).contains(Stats.percentile(hundred, 90)))
    val ninetyNine = hundred.take(99)
    assert(Stats.samplesBeyond(99, 90) == 9)
    assert(Stats.tail(ninetyNine, 90).isEmpty)
    assert(Stats.tail(Nil, 90).isEmpty)
    // p50 needs only 20 samples for ten beyond it
    assert(Stats.tail(hundred.take(20), 50).isDefined)
    assert(Stats.tail(hundred.take(19), 50).isEmpty)
  }

  test("percentile rejects an empty sample and an out-of-range p") {
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
