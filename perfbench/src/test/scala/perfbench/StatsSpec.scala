package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("nearest-rank percentile") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(xs, 99.9) == 100.0)
    assert(Stats.percentile(Seq(7.0), 75) == 7.0)
  }

  test("tail picks the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs) == Some(90.0 -> 90.0))   // 10 beyond p90, 5 beyond p95
    assert(Stats.tail((1 to 40).map(_.toDouble)) == Some(75.0 -> 30.0))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(50.0 -> 10.0))
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 1000).map(_.toDouble)) == Some(99.0 -> 990.0))
  }
}
