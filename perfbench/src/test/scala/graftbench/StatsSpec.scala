package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("nearest-rank percentiles") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 5.0)
    assert(Stats.median(xs) == 5.5 && Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.percentile(xs, 90) == 9.0)
    assert(Stats.percentile(xs, 100) == 10.0)
    assert(Stats.percentile(Seq(7.0), 50) == 7.0)
  }

  test("summary: median, highest percentile with 10 samples beyond it, and n") {
    val s100 = Stats.summarize((1 to 100).map(_.toDouble).reverse)
    assert(s100 == Stats.Summary(100, 50.5, 90, 90.0))
    assert(Stats.beyond(100, 90) == 10 && Stats.beyond(100, 95) == 5)
    val s40 = Stats.summarize((1 to 40).map(_.toDouble))
    assert(s40.n == 40 && s40.p50 == 20.5 && s40.highPct == 75 && s40.high == 30.0)
    assert(Stats.summarize((1 to 1000).map(_.toDouble)).highPct == 99)
  }

  test("too few samples for any tail percentile: the median stands in") {
    val s = Stats.summarize(Seq(3.0, 1.0, 2.0))
    assert(s == Stats.Summary(3, 2.0, 50, 2.0))
  }
}
