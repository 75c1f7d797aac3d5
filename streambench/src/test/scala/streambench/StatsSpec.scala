package streambench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def ramp(n: Int) = Array.tabulate(n)(i => (i + 1).toDouble)

  test("nearest-rank percentile") {
    assert(Stats.percentile(ramp(100), 50) == 50.0)
    assert(Stats.percentile(ramp(100), 99) == 99.0)
    assert(Stats.percentile(ramp(1), 99) == 1.0)
  }

  test("the tail is p99 when at least ten samples lie beyond it") {
    assert(Stats.supportedTail(ramp(1000)) == ((99.0, 990.0)))
    assert(Stats.supportedTail(ramp(1100)) == ((99.0, 1089.0)))
  }

  test("with fewer samples the tail drops to the highest supported percentile") {
    assert(Stats.supportedTail(ramp(500)) == ((98.0, 490.0)))
    assert(Stats.supportedTail(ramp(100)) == ((90.0, 90.0)))
    assert(Stats.supportedTail(ramp(11)) == ((100.0 / 11, 1.0)))
    // ten or fewer samples support no percentile beyond the minimum
    assert(Stats.supportedTail(ramp(5)) == ((20.0, 1.0)))
  }
}
