package graft

import java.util.concurrent.{Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GoFloat

/** Go's float64 text, per layout. Each expected string is written by hand
  * from Go's documented rules, since no Go toolchain is at hand:
  *  - `strconv.FormatFloat(f, 'f', -1, 64)`: the fewest digits that read
  *    back, no exponent; `+Inf`, `-Inf`, `NaN`;
  *  - `encoding/json` `floatEncoder`: `'f'` unless `abs < 1e-6 ||
  *    abs >= 1e21`, then `'e'` with `e-07` cleaned to `e-7`; NaN and ±Inf
  *    are an `UnsupportedValueError`;
  *  - `fmt` `%v` of a float64: `%g` at the shortest precision, where
  *    strconv tests the exponent against 6: `'e'` (two-digit exponent) when
  *    it is below -4 or at least 6; `fmt` prints `+Inf`, `-Inf`, `NaN`.
  */
class GoFloatSpec extends AnyFunSuite {

  private val maxFloat = java.lang.Double.MAX_VALUE

  // value -> (fixed, json, percentV); json null = json.Marshal error
  private val table: Seq[(Double, (String, String, String))] = Seq(
    -0.0 -> (("-0", "-0", "-0")),
    0.0 -> (("0", "0", "0")),
    5e-324 -> (("0." + "0" * 323 + "5", "5e-324", "5e-324")),
    1e23 -> (("1" + "0" * 23, "1e+23", "1e+23")),
    2e23 -> (("2" + "0" * 23, "2e+23", "2e+23")),
    8.41e21 -> (("841" + "0" * 19, "8.41e+21", "8.41e+21")),
    maxFloat -> (("17976931348623157" + "0" * 292, "1.7976931348623157e+308",
      "1.7976931348623157e+308")),
    -maxFloat -> (("-17976931348623157" + "0" * 292, "-1.7976931348623157e+308",
      "-1.7976931348623157e+308")),
    1e-4 -> (("0.0001", "0.0001", "0.0001")),
    1e-5 -> (("0.00001", "0.00001", "1e-05")),
    1e-7 -> (("0.0000001", "1e-7", "1e-07")),
    -1.5e-7 -> (("-0.00000015", "-1.5e-7", "-1.5e-07")),
    100000.5 -> (("100000.5", "100000.5", "100000.5")),
    12345678.5 -> (("12345678.5", "12345678.5", "1.23456785e+07")),
    1e21 -> (("1" + "0" * 21, "1e+21", "1e+21")),
    1e20 -> (("1" + "0" * 20, "1" + "0" * 20, "1e+20")),
    100000.0 -> (("100000", "100000", "100000")),
    1e6 -> (("1000000", "1000000", "1e+06")),
    1234567.0 -> (("1234567", "1234567", "1.234567e+06")),
    0.1 -> (("0.1", "0.1", "0.1")),
    -12.5 -> (("-12.5", "-12.5", "-12.5")),
    1.0 / 3 -> (("0.3333333333333333", "0.3333333333333333", "0.3333333333333333")),
    Double.NaN -> (("NaN", null, "NaN")),
    Double.PositiveInfinity -> (("+Inf", null, "+Inf")),
    Double.NegativeInfinity -> (("-Inf", null, "-Inf")))

  test("the three layouts print Go's text") {
    table.foreach { case (d, (fixed, json, v)) =>
      assert(GoFloat.fixed(d) == fixed, s"fixed($d)")
      assert(GoFloat.json(d) == json, s"json($d)")
      assert(GoFloat.percentV(d) == v, s"percentV($d)")
    }
  }

  test("a typed number-map value prints its int64 when integral") {
    val v: Double => String = GoFloat.percentV
    assert(GoFloat.int64Or(3.0, v) == "3")
    assert(GoFloat.int64Or(1234567.0, v) == "1234567")
    assert(GoFloat.int64Or(1152921504606846976.0, v) == "1152921504606846976")
    assert(GoFloat.int64Or(-0.0, v) == "-0")
    assert(GoFloat.int64Or(2.5, v) == "2.5")
    assert(GoFloat.int64Or(1e21, v) == "1e+21")
    assert(GoFloat.int64Or(1e21, GoFloat.fixed) == "1" + "0" * 21)
    assert(GoFloat.int64Or(Double.NaN, GoFloat.json) == null)
  }

  test("an int64 column prints its exact digits under every layout") {
    val big = -5808556873153909620L // FNV-1a 64 of "a", past 2^53
    Seq(GoFloat.Fixed, GoFloat.Json, GoFloat.PercentV).foreach { layout =>
      Seq(false, true).foreach { int64 =>
        val w = new graft.functions.GoFloatText(layout, int64)
        assert(w.text(big).toString == "-5808556873153909620", s"$layout")
        assert(w.text(Long.MaxValue).toString == "9223372036854775807", s"$layout")
      }
    }
  }

  private def readsBack(x: GoFloat.Decimal, a: Double): Boolean =
    java.lang.Double.parseDouble("0." + x.digits + "E" + x.point) == a

  /** No decimal with one digit fewer than `x` reads back to `a`: the two
    * such neighbours of the exact value both miss.
    */
  private def noneShorter(x: GoFloat.Decimal, a: Double): Boolean = {
    val p = x.digits.length - 1
    val exact = new java.math.BigDecimal(a)
    p == 0 || Seq(java.math.RoundingMode.FLOOR, java.math.RoundingMode.CEILING).forall { m =>
      exact.round(new java.math.MathContext(p, m)).doubleValue != a
    }
  }

  /** Significant digits of `Double.toString(a)`, which always reads back. */
  private def javaDigits(a: Double): Int = {
    val s = java.lang.Double.toString(a)
    val m = s.takeWhile(_ != 'E').filter(_ != '.').dropWhile(_ == '0').reverse.dropWhile(_ == '0')
    m.length
  }

  test("shortest reads back, with no shorter decimal that does, on 1M random bit patterns") {
    val threads = 4
    val perThread = 250000
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val work = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Double]] {
          def call(): Seq[Double] = {
            val rnd = new java.util.Random(20261021L + t)
            val bad = Seq.newBuilder[Double]
            var i = 0
            while (i < perThread) {
              val d = java.lang.Double.longBitsToDouble(rnd.nextLong())
              if (java.lang.Double.isFinite(d) && d != 0.0) {
                val a = math.abs(d)
                val x = GoFloat.shortest(d)
                if (!readsBack(x, a) || !noneShorter(x, a) || x.digits.length > javaDigits(a)) bad += d
              }
              i += 1
            }
            bad.result()
          }
        })
      }
      val bad = work.flatMap(_.get(600, TimeUnit.SECONDS))
      assert(bad.isEmpty, bad.take(5).map(d => s"$d: ${GoFloat.shortest(d)}"))
    } finally pool.shutdownNow()
  }

  test("digits are the shortest that read back, not Double.toString's") {
    // JDK 17 prints 2e23 as 1.9999999999999998E23
    assert(GoFloat.shortest(2e23) == GoFloat.Decimal("2", 24))
    Seq(2e23, 5e-324, 1e23, 8.41e21, maxFloat, 0.1, 1.0 / 3).foreach { d =>
      val x = GoFloat.shortest(d)
      assert(readsBack(x, d) && noneShorter(x, d), s"$d")
    }
  }
}
