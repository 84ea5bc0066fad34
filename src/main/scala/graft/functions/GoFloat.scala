package graft.functions

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType,
  StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's one float64-to-text module. The reference prints a float64
  * with one of three Go layouts, and each of them here sits on one
  * shortest-digits function:
  *  - [[fixed]]: `strconv.FormatFloat(f, 'f', -1, 64)`, plain digits and no
  *    exponent, `+Inf`, `-Inf`, `NaN`;
  *  - [[json]]: `encoding/json`'s `floatEncoder` (and protojson's and
  *    pdata's copies of it): `'f'` unless `abs < 1e-6 || abs >= 1e21`, then
  *    `'e'` with the exponent unpadded (`1e-7`, `1e+21`); null for NaN and
  *    ±Inf, which `json.Marshal` refuses;
  *  - [[percentV]]: `fmt`'s `%v`, which is `'g'` at the shortest precision.
  *    strconv then tests the exponent against 6, so the `'e'` form is used
  *    when the decimal exponent is below -4 or at least 6 (`0.0001`,
  *    `1e-05`, `100000.5`, `1.23456785e+07`), padded to two digits.
  *
  * A negative zero keeps its sign in all three (`-0`).
  *
  * The digits are Go's shortest: the fewest significant digits that read
  * back to the same double, the nearer of two candidates when both do, the
  * even one on a tie. They are not `Double.toString`'s: on JDK 17 that is
  * not always the shortest (`2e23` prints `1.9999999999999998E23`).
  * [[shortest]] is a ladder: for p = 1..17, round the exact binary value
  * down and up to p significant digits and take the first p at which a
  * candidate reads back. An integral value below 2^53 is its own long's
  * digits.
  *
  * An int64 prints as its digits in every layout (`strconv.FormatInt`,
  * which `fmt`, `encoding/json` and `AsString` all use). The typed number
  * map holds int64 and float64 attributes alike (SURVEY row 79,
  * `Int/Double→number`), so a value read from it prints as its long when
  * integral ([[int64Or]]); elsewhere the layouts take the float64 as Go
  * would.
  */
object GoFloat extends Serializable {

  /** |d| = 0.`digits` × 10^`point` (Go's `decimalSlice`): no leading or
    * trailing zeros; zero is no digits at point 0.
    */
  private[graft] final case class Decimal(digits: String, point: Int)

  private val Zero = Decimal("", 0)
  private val TwoPow53 = 9007199254740992.0

  private def mc(mode: RoundingMode) = Array.tabulate(18)(p => new MathContext(math.max(p, 1), mode))
  private val Down = mc(RoundingMode.DOWN)
  private val Up = mc(RoundingMode.UP)
  private val Nearest = mc(RoundingMode.HALF_EVEN)

  /** Go's shortest decimal of |d|, for a finite `d`: the nearest p-digit
    * candidate for the first p in 1..17 at which one reads back.
    */
  private[graft] def shortest(d: Double): Decimal = {
    val a = math.abs(d)
    if (a == 0.0) Zero
    else if (a < TwoPow53 && a == math.rint(a)) {
      val s = java.lang.Long.toString(a.toLong)
      Decimal(stripZeros(s), s.length)
    } else {
      val exact = new JBigDecimal(a)
      var p = 1
      var c = readBack(exact, a, p)
      while (c == null) { p += 1; c = readBack(exact, a, p) }
      decimal(c)
    }
  }

  /** `exact` rounded down and up to `p` significant digits: the one that
    * reads back to `a`, the nearer (ties to even) when both do, else null.
    */
  private def readBack(exact: JBigDecimal, a: Double, p: Int): JBigDecimal = {
    val down = exact.round(Down(p))
    val up = exact.round(Up(p))
    val downOk = down.doubleValue == a
    val upOk = up.doubleValue == a
    if (downOk && upOk) exact.round(Nearest(p))
    else if (downOk) down
    else if (upOk) up
    else null
  }

  private def decimal(c: JBigDecimal): Decimal = {
    val u = c.unscaledValue.toString
    Decimal(stripZeros(u), u.length - c.scale)
  }

  private def stripZeros(s: String): String = {
    var end = s.length
    while (end > 0 && s.charAt(end - 1) == '0') end -= 1
    s.substring(0, end)
  }

  private def negative(d: Double): Boolean = java.lang.Double.doubleToRawLongBits(d) < 0

  private def nonFinite(d: Double): String =
    if (java.lang.Double.isNaN(d)) "NaN" else if (d > 0) "+Inf" else "-Inf"

  /** Go `fmtF` at the shortest precision. */
  private def plain(sb: java.lang.StringBuilder, x: Decimal): Unit = {
    val n = x.digits.length
    if (x.point <= 0) {
      sb.append('0')
      if (n > 0) {
        sb.append('.')
        var z = -x.point
        while (z > 0) { sb.append('0'); z -= 1 }
        sb.append(x.digits)
      }
    } else if (x.point >= n) {
      sb.append(x.digits)
      var z = x.point - n
      while (z > 0) { sb.append('0'); z -= 1 }
    } else sb.append(x.digits, 0, x.point).append('.').append(x.digits, x.point, n)
  }

  /** Go `fmtE` at the shortest precision; `pad` gives the exponent two digits. */
  private def sci(sb: java.lang.StringBuilder, x: Decimal, pad: Boolean): Unit = {
    val n = x.digits.length
    sb.append(x.digits.charAt(0))
    if (n > 1) sb.append('.').append(x.digits, 1, n)
    val e = x.point - 1
    sb.append('e').append(if (e < 0) '-' else '+')
    if (pad && math.abs(e) < 10) sb.append('0')
    sb.append(math.abs(e))
  }

  private def render(d: Double, exponent: Decimal => Boolean, pad: Boolean): String = {
    val x = shortest(d)
    val sb = new java.lang.StringBuilder(24)
    if (negative(d)) sb.append('-')
    if (x.digits.nonEmpty && exponent(x)) sci(sb, x, pad) else plain(sb, x)
    sb.toString
  }

  /** `strconv.FormatFloat(d, 'f', -1, 64)`. */
  def fixed(d: Double): String =
    if (java.lang.Double.isFinite(d)) render(d, _ => false, pad = false) else nonFinite(d)

  /** `json.Marshal(d)`; null for NaN and ±Inf. */
  def json(d: Double): String =
    if (!java.lang.Double.isFinite(d)) null
    else render(d, _ => { val a = math.abs(d); a < 1e-6 || a >= 1e21 }, pad = false)

  /** `fmt.Sprintf("%v", d)`. */
  def percentV(d: Double): String =
    if (java.lang.Double.isFinite(d)) render(d, x => x.point - 1 < -4 || x.point - 1 >= 6, pad = true)
    else nonFinite(d)

  /** One of the three layouts, as a [[GoNumberText]] plan names it. */
  sealed abstract class Layout(render: Double => String) extends Serializable {
    def apply(d: Double): String = render(d)
  }
  case object Fixed extends Layout(fixed)
  case object Json extends Layout(json)
  case object PercentV extends Layout(percentV)

  /** A typed number-map value: the long's digits when `d` is integral (the
    * int64 it may have been), else `layout`. `-0.0` came from a float64, so
    * it is not integral here; 2^63 prints as `Long.MaxValue`, the int64 that
    * rounds to it.
    */
  def int64Or(d: Double, layout: Double => String): String = {
    val l = d.toLong
    if (l.toDouble == d && !(l == 0L && negative(d))) java.lang.Long.toString(l) else layout(d)
  }
}

/** The Column worker: an int64 as its digits; a float64 under `layout`,
  * the typed number-map rule first when `int64`; null when the layout gives
  * none.
  */
final class GoFloatText(layout: GoFloat.Layout, int64: Boolean) extends Serializable {
  def text(l: Long): UTF8String = UTF8String.fromString(java.lang.Long.toString(l))

  def text(d: Double): UTF8String = {
    val s = if (int64) GoFloat.int64Or(d, layout(_)) else layout(d)
    if (s == null) null else UTF8String.fromString(s)
  }
}

/** A number Column as Go's text: a LONG (or narrower integral) column as
  * its int64 digits, any other as a float64 under `layout`, with
  * [[GoFloat.int64Or]] first when `int64` (a typed number-map value).
  */
case class GoNumberText(child: Expression, layout: GoFloat.Layout, int64: Boolean)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = new GoFloatText(layout, int64)
  protected def method = "text"
  override protected def arguments: Seq[Expression] = child.dataType match {
    case LongType | DoubleType => Seq(child)
    case ByteType | ShortType | IntegerType => Seq(Cast(child, LongType))
    case _ => Seq(Cast(child, DoubleType))
  }
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): GoNumberText =
    copy(child = newChild)
}

object GoNumberText {
  def apply(c: Column, layout: GoFloat.Layout, int64: Boolean): Column =
    ExpressionUtils.column(GoNumberText(ExpressionUtils.expression(c), layout, int64))
}

/** [[GoFloat.fixed]] of a number Column: `strconv.FormatFloat(f, 'f', -1, 64)`. */
object GoFormatFloat {
  def apply(c: Column): Column = GoNumberText(c, GoFloat.Fixed, int64 = false)
}
