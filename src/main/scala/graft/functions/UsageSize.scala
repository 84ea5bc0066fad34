package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Go-JSON serialization of a raw (typed) attribute map, reconstructed from
  * this engine's typed split: what `json.Marshal(record.Attributes().AsRaw())`
  * yields in the logs exporter's usage sizer (clickhouselogsexporter/
  * exporter.go:719) and the meter connector's logs sizer (pkg/metering/
  * json.go:46-68 SizeOfMapStringAny) — keys sorted in byte order (Go sorts
  * map keys), Go string escaping (HTML escapes on), numbers as
  * `json.Marshal` prints a float64 ([[GoFloat.json]], SURVEY row 369),
  * bools bare. Returns null when any number is
  * NaN/Inf (json.Marshal error => the sizer counts 0 bytes for the map).
  *
  * Precision caveat (documented divergence): int64 attributes beyond 2^53
  * lose their exact decimal form in the double-typed split, so their
  * marshaled width can differ from the reference's.
  */
object TypedAttrsGoJsonKernel extends Serializable {
  private val EMPTY = UTF8String.fromString("{}")

  def toJson(strings: MapData, numbers: MapData, bools: MapData): UTF8String =
    toJson(strings, numbers, bools, false)

  /** `dropNonFinite=true` models the traces sizer's `IsValidFloat` filter
    * (pkg/metering/json.go:104-107: NaN/Inf numbers are silently dropped
    * before marshal); `false` models json.Marshal's error (-> null).
    */
  def toJson(strings: MapData, numbers: MapData, bools: MapData,
      dropNonFinite: Boolean): UTF8String = {
    val ns = if (strings == null) 0 else strings.numElements()
    val nn = if (numbers == null) 0 else numbers.numElements()
    val nb = if (bools == null) 0 else bools.numElements()
    val n = ns + nn + nb
    if (n == 0) return EMPTY
    val keys = new Array[UTF8String](n)
    val vals = new Array[String](n)
    var o = 0
    if (ns > 0) {
      val ks = strings.keyArray(); val vs = strings.valueArray()
      var i = 0
      while (i < ns) {
        keys(o) = ks.getUTF8String(i)
        vals(o) = if (vs.isNullAt(i)) "null" else JsonCanon.quote(vs.getUTF8String(i).toString)
        o += 1; i += 1
      }
    }
    if (nn > 0) {
      val ks = numbers.keyArray(); val vs = numbers.valueArray()
      var i = 0
      while (i < nn) {
        if (vs.isNullAt(i)) { keys(o) = ks.getUTF8String(i); vals(o) = "null"; o += 1 }
        else {
          val f = GoFloat.json(vs.getDouble(i))
          if (f == null) {
            if (!dropNonFinite) return null // marshal error parity
            // IsValidFloat filter: entry silently dropped
          } else { keys(o) = ks.getUTF8String(i); vals(o) = f; o += 1 }
        }
        i += 1
      }
    }
    if (nb > 0) {
      val ks = bools.keyArray(); val vs = bools.valueArray()
      var i = 0
      while (i < nb) {
        keys(o) = ks.getUTF8String(i)
        vals(o) = if (vs.isNullAt(i)) "null" else if (vs.getBoolean(i)) "true" else "false"
        o += 1; i += 1
      }
    }
    val m = o // entries actually kept (dropNonFinite may have skipped some)
    if (m == 0) return EMPTY
    // insertion sort by key bytes (attr maps are small)
    val idx = Array.range(0, m)
    var i = 1
    while (i < m) {
      val ii = idx(i)
      val ki = keys(ii)
      var j = i - 1
      while (j >= 0 && keys(idx(j)).compareTo(ki) > 0) { idx(j + 1) = idx(j); j -= 1 }
      idx(j + 1) = ii
      i += 1
    }
    val sb = new java.lang.StringBuilder(m * 24)
    sb.append('{')
    i = 0
    while (i < m) {
      if (i > 0) sb.append(',')
      val k = idx(i)
      sb.append(JsonCanon.quote(keys(k).toString)).append(':').append(vals(k))
      i += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }
}

/** Byte size of Go `json.Marshal([]string)` — brackets + per-element Go
  * quoting + commas. The traces billing sizer feeds the pre-serialized
  * per-event JSON strings through this (pkg/metering/json.go:180-188
  * SizeOfEvents over schema.Event strings), so each element is quoted AGAIN
  * (its inner quotes escape to `\"`). An empty slice sizes 2 ("[]") and is
  * then dropped by the `TotalSizeIfKeyExistsAndValueIsMapOrSlice <= 2` rule.
  */
object JsonStringArraySizeKernel extends Serializable {
  def size(arr: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    if (arr == null) return 0L
    val n = arr.numElements()
    if (n == 0) return 2L
    var total = 2L + (n - 1) // brackets + commas
    var i = 0
    while (i < n) {
      val s = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (s == null) total += 4 // json "null"
      else total += UTF8String.fromString(JsonCanon.quote(s.toString)).numBytes()
      i += 1
    }
    total
  }
}

case class JsonStringArraySize(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected def kernel = JsonStringArraySizeKernel
  protected def method = "size"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override protected def withNewChildInternal(newChild: Expression): JsonStringArraySize =
    copy(child = newChild)
}

object JsonStringArraySize {
  def apply(c: Column): Column =
    ExpressionUtils.column(JsonStringArraySize(ExpressionUtils.expression(c)))
}

case class TypedAttrsGoJson(strings: Expression, numbers: Expression,
    bools: Expression, dropNonFinite: Boolean = false) extends Expression with InvokeKernel {
  protected def kernel = TypedAttrsGoJsonKernel
  protected def method = "toJson"
  override protected def arguments = children :+ Literal(dropNonFinite)
  override protected def propagateNull = false
  override def children: Seq[Expression] = Seq(strings, numbers, bools)
  override def dataType: DataType = StringType
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TypedAttrsGoJson =
    copy(strings = newChildren(0), numbers = newChildren(1), bools = newChildren(2))
}

object TypedAttrsGoJson {
  def apply(strings: Column, numbers: Column, bools: Column): Column =
    ExpressionUtils.column(TypedAttrsGoJson(
      ExpressionUtils.expression(strings), ExpressionUtils.expression(numbers),
      ExpressionUtils.expression(bools)))
  def apply(strings: Column, numbers: Column, bools: Column,
      dropNonFinite: Boolean): Column =
    ExpressionUtils.column(TypedAttrsGoJson(
      ExpressionUtils.expression(strings), ExpressionUtils.expression(numbers),
      ExpressionUtils.expression(bools), dropNonFinite))
}
