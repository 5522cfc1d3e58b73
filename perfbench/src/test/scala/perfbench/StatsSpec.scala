package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("tail percentile is the highest that leaves ten samples above it") {
    assert(Stats.tailPercentile(5) == 50.0)
    assert(Stats.tailPercentile(20) == 50.0)
    assert(Stats.tailPercentile(39) == 50.0)
    assert(Stats.tailPercentile(40) == 75.0)
    assert(Stats.tailPercentile(100) == 90.0)
    assert(Stats.tailPercentile(200) == 95.0)
    assert(Stats.tailPercentile(999) == 95.0)
    assert(Stats.tailPercentile(1000) == 99.0)
    assert(Stats.tailPercentile(10000) == 99.9)
  }

  test("quantiles interpolate like numpy and never drop a slow reading") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }
}
