package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("quartiles match Python statistics.quantiles(n=4)") {
    // expected values computed with CPython's statistics.quantiles
    assert(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0, 5.0)) == ((1.5, 3.0, 4.5)))
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    assert(Stats.quartiles(Seq(3.0, 1.0)) == ((0.5, 2.0, 3.5)))
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0)) == ((2.0, 4.0, 7.0)))
    assert(Stats.quartiles(Seq(7.0)) == ((7.0, 7.0, 7.0)))
  }

  test("tail percentile needs at least ten samples beyond it") {
    assert(Stats.tailPercentile((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tailPercentile((1 to 11).map(_.toDouble)).contains((9, 1.0)))
    assert(Stats.tailPercentile((1 to 100).map(_.toDouble)).contains((90, 90.0)))
    // 90 samples: p88 has rank 80, so exactly ten samples lie above it
    assert(Stats.tailPercentile((1 to 90).map(_.toDouble)).contains((88, 80.0)))
  }

  test("summary carries the sample count and prints no tail when too few") {
    val s = Stats.summary(Seq(1.0, 2.0, 3.0))
    assert(s.n == 3 && s.median == 2.0)
    assert(s.json.contains("\"n\":3") && s.json.contains("\"tail_percentile\":null"))
  }

  test("ratios are printed with their base") {
    val r = Stats.Ratio(3, 12, "failed operations", "attempted operations")
    assert(r.value == 0.25)
    assert(r.json.contains("\"base\":12") && r.json.contains("attempted operations"))
    assert(Stats.Ratio(1, 0, "a", "b").value == 0.0)
  }

  test("JSON numbers keep every digit and never print NaN") {
    assert(Json.num(1.2034) == "1.2034")
    assert(Json.num(32) == "32")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.str("a\"b\n") == "\"a\\\"b\\n\"")
  }
}
