package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("driver-only time uses the union of overlapping jobs, so it never goes negative") {
    // adaptive execution runs three jobs at once inside a 3 s span: their
    // summed time exceeds the span, their union does not
    val jobs = Seq((0.0, 2500.0), (200.0, 2900.0), (400.0, 2400.0))
    val wall = 3000.0
    assert(wall - jobs.map { case (s, e) => e - s }.sum < 0)
    val union = Stats.unionLength(jobs, 0.0, wall)
    assert(union == 2900.0)
    assert(wall - union == 100.0)
  }

  test("interval union clips to the span and merges touching intervals") {
    val jobs = Seq((-50.0, 100.0), (100.0, 200.0), (500.0, 700.0), (650.0, 1200.0))
    assert(Stats.unionLength(jobs, 0.0, 1000.0) == 200.0 + 500.0)
    assert(Stats.unionLength(Nil, 0.0, 1000.0) == 0.0)
  }

  test("a tail percentile is reported only with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    val p90 = Stats.tail(hundred, 0.9)
    assert(p90.isDefined)
    assert(hundred.count(_ > p90.get) >= 10)
    // 90 samples leave nine beyond the 90th percentile
    assert(Stats.tail((1 to 90).map(_.toDouble), 0.9).isEmpty)
    assert(Stats.tail((1 to 40).map(_.toDouble), 0.75).isDefined)
    assert(Stats.tail(Nil, 0.5).isEmpty)
  }

  test("percentiles interpolate like Python's inclusive quantiles") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.percentile(xs, 0.25) - 1.75) < 1e-12)
  }

  test("least-squares slope") {
    val xs = Seq(0.0, 100.0, 200.0, 300.0)
    assert(math.abs(Stats.slope(xs, xs.map(x => 200 + 0.5 * x)) - 0.5) < 1e-12)
    assert(Stats.slope(Seq(1.0, 1.0), Seq(2.0, 3.0)) == 0.0)
  }
}
