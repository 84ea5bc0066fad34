package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{DataType, LongType, MapType, ObjectType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernels backing the widened OTTL converter set
  * ([[graft.operators.OttlStatements]]). The reference registers the
  * upstream standard library wholesale
  * (`processor/signoztransformprocessor/internal/logs/functions.go:28`
  * `ottlfuncs.StandardFuncs`); these implement the pieces Spark's built-in
  * functions can't express directly, as codegen expressions (no UDFs).
  */
object GoDurationKernel extends Serializable {

  /** Go `time.ParseDuration` semantics: a signed sequence of decimal
    * numbers with optional fraction and a unit suffix (`ns us µs μs ms s m
    * h`), e.g. `"1h30m"`, `"-2.5s"`, `"300ms"`. Returns nanoseconds, or
    * null on a malformed literal (the OTTL statement's error -> no-op
    * path). Fractions accumulate through double math (exact below ~104
    * days, documented).
    */
  def parse(input: UTF8String): java.lang.Long = {
    if (input == null) return null
    val s = input.toString.trim
    var i = 0
    val n = s.length
    if (n == 0) return null
    var neg = false
    if (s.charAt(0) == '+' || s.charAt(0) == '-') { neg = s.charAt(0) == '-'; i = 1 }
    if (i >= n) return null
    if (s.substring(i) == "0") return 0L
    var total = 0L
    var any = false
    while (i < n) {
      // integer part
      var intPart = 0L
      var digits = 0
      while (i < n && s.charAt(i).isDigit) {
        intPart = intPart * 10 + (s.charAt(i) - '0'); i += 1; digits += 1
      }
      // fraction
      var frac = 0.0
      var fracScale = 0.1
      var fracDigits = 0
      if (i < n && s.charAt(i) == '.') {
        i += 1
        while (i < n && s.charAt(i).isDigit) {
          frac += (s.charAt(i) - '0') * fracScale; fracScale *= 0.1; i += 1; fracDigits += 1
        }
      }
      if (digits == 0 && fracDigits == 0) return null
      // unit
      val unit: Long =
        if (s.startsWith("ns", i)) { i += 2; 1L }
        else if (s.startsWith("us", i)) { i += 2; 1000L }
        else if (s.startsWith("µs", i) || s.startsWith("μs", i)) { i += 2; 1000L }
        else if (s.startsWith("ms", i)) { i += 2; 1000000L }
        else if (s.startsWith("s", i)) { i += 1; 1000000000L }
        else if (s.startsWith("m", i)) { i += 1; 60000000000L }
        else if (s.startsWith("h", i)) { i += 1; 3600000000000L }
        else return null
      total += intPart * unit + (frac * unit).toLong
      any = true
    }
    if (!any) return null
    if (neg) -total else total
  }
}

/** `Duration(target)` over a non-literal argument — parses a Go duration
  * string column to nanoseconds.
  */
case class GoDurationParse(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = GoDurationKernel
  protected def method = "parse"
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(newChild: Expression): GoDurationParse =
    copy(child = newChild)
}

object GoDurationParse {
  def apply(c: Column): Column =
    ExpressionUtils.column(GoDurationParse(ExpressionUtils.expression(c)))
}

/** `ParseKeyValue(target, delimiter, pair_delimiter)` — quote-aware
  * key=value parsing per the upstream converter (which delegates to
  * `parseutils.SplitString`/`ParseKeyValuePairs`): pairs split on the pair
  * delimiter outside quotes, each pair split on the FIRST delimiter outside
  * quotes, keys/values whitespace-trimmed with one level of surrounding
  * quotes stripped. A pair without the delimiter makes the whole parse an
  * error (-> null map -> the statement's no-op path).
  */
object KeyValueKernel extends Serializable {

  /** The quote state outside any quoted run. */
  private val NoQuote: Char = '\u0000'

  def parse(input: UTF8String, delim: String, pairDelim: String): MapData = {
    if (input == null) return null
    val s = input.toString
    val pairs = splitOutsideQuotes(s, pairDelim)
    val keys = new scala.collection.mutable.ArrayBuffer[UTF8String]
    val vals = new scala.collection.mutable.ArrayBuffer[UTF8String]
    var pi = 0
    while (pi < pairs.length) {
      val p = pairs(pi).trim
      if (p.nonEmpty) {
        val cut = indexOfOutsideQuotes(p, delim)
        if (cut < 0) return null
        val k = stripQuotes(p.substring(0, cut).trim)
        val v = stripQuotes(p.substring(cut + delim.length).trim)
        keys += UTF8String.fromString(k)
        vals += UTF8String.fromString(v)
      }
      pi += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keys.toArray[Any]), new GenericArrayData(vals.toArray[Any]))
  }

  private def splitOutsideQuotes(s: String, delim: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    var q = NoQuote
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != NoQuote) {
        cur.append(c); if (c == q) q = NoQuote; i += 1
      } else if (c == '"' || c == '\'') { q = c; cur.append(c); i += 1 }
      else if (s.startsWith(delim, i)) { out += cur.toString; cur.clear(); i += delim.length }
      else { cur.append(c); i += 1 }
    }
    out += cur.toString
    out.toArray
  }

  private def indexOfOutsideQuotes(s: String, delim: String): Int = {
    var i = 0
    var q = NoQuote
    while (i < s.length) {
      val c = s.charAt(i)
      if (q != NoQuote) { if (c == q) q = NoQuote; i += 1 }
      else if (c == '"' || c == '\'') { q = c; i += 1 }
      else if (s.startsWith(delim, i)) return i
      else i += 1
    }
    -1
  }

  private def stripQuotes(s: String): String =
    if (s.length >= 2 && (s.head == '"' || s.head == '\'') && s.last == s.head)
      s.substring(1, s.length - 1)
    else s
}

case class KeyValueMap(child: Expression, delim: String, pairDelim: String)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = KeyValueKernel
  protected def method = "parse"
  override protected def arguments = 
    Seq(child, Literal(delim, ObjectType(classOf[String])),
      Literal(pairDelim, ObjectType(classOf[String])))
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = true)
  override protected def withNewChildInternal(newChild: Expression): KeyValueMap =
    copy(child = newChild)
}

object KeyValueMap {
  def apply(c: Column, delim: String, pairDelim: String): Column =
    ExpressionUtils.column(KeyValueMap(ExpressionUtils.expression(c), delim, pairDelim))
}

/** Key-presence filter for merge_maps strategies: keep `src` entries whose
  * key IS (`present=true`, `update` strategy) / IS NOT (`present=false`,
  * `insert` strategy) a key of any of the three target maps.
  */
case class MapKeysIn(src: Expression, k1: Expression, k2: Expression,
    k3: Expression, present: Boolean) extends Expression with InvokeKernel {
  private lazy val valueType: DataType = src.dataType.asInstanceOf[MapType].valueType
  protected lazy val kernel = new MapKeysInWorker(valueType, present)
  protected def method = "filter"
  override protected def propagateNull = false

  override def children: Seq[Expression] = Seq(src, k1, k2, k3)
  override def dataType: DataType = src.dataType

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MapKeysIn =
    copy(src = newChildren(0), k1 = newChildren(1), k2 = newChildren(2), k3 = newChildren(3))
}

class MapKeysInWorker(valueType: DataType, present: Boolean) extends Serializable {
  def filter(src: MapData, k1: MapData, k2: MapData, k3: MapData): MapData = {
    if (src == null) return null
    val have = MapEntries.keySet(k1, k2, k3)
    MapEntries.filter(src, valueType, (m, i) => have.contains(MapEntries.key(m, i)) == present)
  }
}

object MapKeysIn {
  def apply(src: Column, k1: Column, k2: Column, k3: Column, present: Boolean): Column =
    ExpressionUtils.column(MapKeysIn(
      ExpressionUtils.expression(src), ExpressionUtils.expression(k1),
      ExpressionUtils.expression(k2), ExpressionUtils.expression(k3), present))
}
