package userbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("the supported tail is the highest percentile with ten samples beyond it") {
    assert(Stats.supportedTail(100) === Some(90))
    assert(Stats.supportedTail(99) === Some(89))
    assert(Stats.supportedTail(140) === Some(92))
    assert(Stats.supportedTail(1000) === Some(99))
    assert(Stats.supportedTail(40) === Some(75))
    assert(Stats.supportedTail(20) === Some(50))
    assert(Stats.supportedTail(19) === None)
  }

  test("at the minimum run size, ten samples lie above the p90") {
    val xs = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
    val p90 = Stats.percentile(xs, 90)
    assert(xs.count(_ > p90) === 10)
  }

  test("percentiles interpolate between order statistics of unsorted input") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) === 2.5)
    assert(Stats.percentile(xs, 0) === 1.0)
    assert(Stats.percentile(xs, 100) === 4.0)
    assert(Stats.percentile(Seq(7.0), 90) === 7.0)
    assert(math.abs(Stats.percentile(xs, 90) - 3.7) < 1e-12)
  }

  test("percentiles reject empty input and out-of-range ranks") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 101))
  }
}
