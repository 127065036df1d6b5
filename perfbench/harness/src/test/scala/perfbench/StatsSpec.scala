package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("tail percentile: the highest rung with at least ten samples beyond it") {
    assert(Stats.tailPercentile(1000).contains(99))
    assert(Stats.tailPercentile(200).contains(95))
    assert(Stats.tailPercentile(199).contains(90))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(99).contains(75))
    assert(Stats.tailPercentile(40).contains(75))
    assert(Stats.tailPercentile(39).contains(50))
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(19).isEmpty)
  }

  test("a tail is reported only above the median") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tail(xs).contains(90 -> 90.0))
    assert(Stats.tail(xs.take(39)).isEmpty)
  }

  test("samples beyond a nearest-rank percentile") {
    assert(Stats.beyond(100, 90) == 10)
    assert(Stats.beyond(99, 90) == 9)
    assert(Stats.beyond(20, 50) == 10)
    val xs = (1 to 100).map(_.toDouble)
    assert(xs.count(_ > Stats.percentile(xs, 90)) == Stats.beyond(100, 90))
  }

  test("nearest-rank percentile, median, mean and geomean") {
    val xs = Seq(5.0, 1.0, 4.0, 2.0, 3.0)
    assert(Stats.percentile(xs, 50) == 3.0)
    assert(Stats.percentile(xs, 100) == 5.0)
    assert(Stats.percentile(xs, 1) == 1.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.mean(xs) == 3.0)
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0, 16.0)) - 4.0) < 1e-12)
  }
}
