package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    val p90 = Stats.tailPercentile(hundred, 90)
    assert(p90.exists(v => math.abs(v - 90.1) < 1e-9))
    assert(hundred.count(_ > p90.get) == 10)
    // 90 samples leave nine beyond p90: too few to call it a tail
    assert(Stats.tailPercentile((1 to 90).map(_.toDouble), 90).isEmpty)
    assert(Stats.tailPercentile((1 to 50).map(_.toDouble), 90).isEmpty)
    // p50 of the same 50 samples has 25 beyond it
    assert(Stats.tailPercentile((1 to 50).map(_.toDouble), 50).exists(v => math.abs(v - 25.5) < 1e-9))
  }

  test("the reported tail is the highest percentile with ten samples beyond it") {
    assert(Stats.highestTail((1 to 100).map(_.toDouble)).map(_._1).contains(90))
    assert(Stats.highestTail((1 to 33).map(_.toDouble)).map(_._1).contains(71))
    assert(Stats.highestTail((1 to 15).map(_.toDouble)).isEmpty)
  }

  test("ties at the percentile are not samples beyond it") {
    assert(Stats.tailPercentile(Seq.fill(200)(3.0), 90).isEmpty)
  }

  test("median and quantiles interpolate linearly") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }
}
