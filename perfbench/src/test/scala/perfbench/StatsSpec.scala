package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("quantile interpolates linearly between order statistics") {
    assert(Stats.quantile(Seq(4.0, 1.0, 3.0, 2.0), 0.5) == 2.5)
    assert(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0)
    assert(Stats.quantile(Seq(7.0), 0.9) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("tail level: p90 once 100 samples leave 10 beyond it") {
    assert(Stats.tailLevel(100).contains(0.9))
    assert(Stats.tailLevel(128).contains(0.9))
    assert(Stats.tailLevel(1000).contains(0.9))
  }

  test("tail level: fewer samples lower the level to keep 10 beyond") {
    assert(Stats.tailLevel(40).contains(0.75))
    assert(Stats.tailLevel(20).contains(0.5))
    assert(Stats.tailLevel(19).isEmpty) // not even the median has 10 beyond
    assert(Stats.tailLevel(0).isEmpty)
  }

  test("tail level is the highest level with at least 10 samples beyond it") {
    for (n <- 20 to 400) {
      val level = Stats.tailLevel(n).get
      val beyond = n * (1 - level)
      assert(beyond >= 10 - 1e-9, s"n=$n level=$level")
      // any higher level (up to p90) would leave fewer than 10 beyond
      if (level < 0.9) assert(math.abs(beyond - 10) < 1e-9, s"n=$n level=$level")
      // and at least 10 distinct samples lie strictly above the quantile
      val xs = (1 to n).map(_.toDouble)
      assert(xs.count(_ > Stats.quantile(xs, level)) >= 10, s"n=$n level=$level")
    }
  }

  test("summarize reports the sample count and omits an unsupported tail") {
    val s = Stats.summarize((1 to 15).map(_.toDouble))
    assert(s.n == 15 && s.p50 == 8.0 && s.tail.isEmpty)
    val t = Stats.summarize((1 to 200).map(_.toDouble))
    assert(t.tailLevel.contains(0.9) && t.tail.contains(Stats.quantile((1 to 200).map(_.toDouble), 0.9)))
  }
}
