package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Map kernels for the upstream OTTL editor set the transform processor
  * embeds (`ottlfuncs.StandardFuncs`, registered wholesale by
  * `signoztransformprocessor/internal/logs/functions.go:28`): the
  * regex-keyed family (`delete_matching_keys` / `keep_matching_keys` /
  * `replace_all_patterns`), `truncate_all`, and `limit`. All codegen
  * expressions — a `map_filter`/`transform_*` HOF here would pull the
  * statement projection out of whole-stage codegen.
  */
final class MapKeysRegexWorker(pattern: String, keep: Boolean,
    valueType: DataType) extends Serializable {
  @transient private lazy val re = Pattern.compile(pattern)
  def filter(m: MapData): MapData = {
    if (m == null) return null
    val n = m.numElements()
    val ks = m.keyArray()
    var matches = 0
    var i = 0
    while (i < n) {
      if (re.matcher(ks.getUTF8String(i).toString).find()) matches += 1
      i += 1
    }
    val kept = if (keep) matches else n - matches
    if (kept == n) return m
    val vs = m.valueArray()
    val outK = new Array[Any](kept)
    val outV = new Array[Any](kept)
    var o = 0
    i = 0
    while (i < n) {
      val hit = re.matcher(ks.getUTF8String(i).toString).find()
      if (hit == keep) {
        outK(o) = ks.getUTF8String(i)
        outV(o) = if (vs.isNullAt(i)) null else vs.get(i, valueType)
        o += 1
      }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV))
  }
}

/** `delete_matching_keys(map, re)` (keep=false) / `keep_matching_keys`
  * (keep=true) — upstream semantics: an UNANCHORED regex match on the key
  * (`regexp.MatchString` find semantics).
  */
case class MapKeysRegex(child: Expression, pattern: String, keep: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new MapKeysRegexWorker(pattern, keep,
    child.dataType.asInstanceOf[MapType].valueType)
  protected def method = "filter"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapKeysRegex =
    copy(child = newChild)
}

object MapKeysRegex {
  def apply(m: Column, pattern: String, keep: Boolean): Column =
    ExpressionUtils.column(MapKeysRegex(ExpressionUtils.expression(m), pattern, keep))
}

/** `replace_all_patterns(map, mode, re, replacement)`: regex-replace over
  * every KEY (`mode = "key"`, any value type rides along) or every STRING
  * value (`mode = "value"`). RE2 `ReplaceAllString` semantics — `$1` group
  * references, all occurrences.
  */
final class MapReplacePatternsWorker(mode: String, pattern: String,
    replacement: String, valueType: DataType) extends Serializable {
  @transient private lazy val re = Pattern.compile(pattern)
  private val onKeys = mode == "key"
  def replace(m: MapData): MapData = {
    if (m == null) return null
    val n = m.numElements()
    if (n == 0) return m
    val ks = m.keyArray()
    val vs = m.valueArray()
    val outK = new Array[Any](n)
    val outV = new Array[Any](n)
    var changed = false
    var i = 0
    while (i < n) {
      if (onKeys) {
        val k = ks.getUTF8String(i).toString
        val nk = re.matcher(k).replaceAll(replacement)
        changed ||= nk != k
        outK(i) = UTF8String.fromString(nk)
        outV(i) = if (vs.isNullAt(i)) null else vs.get(i, valueType)
      } else {
        outK(i) = ks.getUTF8String(i)
        outV(i) =
          if (vs.isNullAt(i)) null
          else {
            val v = vs.getUTF8String(i).toString
            val nv = re.matcher(v).replaceAll(replacement)
            changed ||= nv != v
            UTF8String.fromString(nv)
          }
      }
      i += 1
    }
    if (!changed) m
    else new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV))
  }
}

case class MapReplacePatterns(child: Expression, mode: String, pattern: String,
    replacement: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  require(mode == "key" || mode == "value", s"replace_all_patterns mode: $mode")
  protected lazy val kernel = new MapReplacePatternsWorker(mode, pattern,
    replacement, child.dataType.asInstanceOf[MapType].valueType)
  protected def method = "replace"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapReplacePatterns =
    copy(child = newChild)
}

object MapReplacePatterns {
  def apply(m: Column, mode: String, pattern: String, replacement: String): Column =
    ExpressionUtils.column(MapReplacePatterns(
      ExpressionUtils.expression(m), mode, pattern, replacement))
}

/** `truncate_all(map, limit)` — every string value longer than `limit`
  * CHARACTERS is cut to the first `limit` (upstream truncates the Str
  * values only; other typed maps pass through untouched at the call site).
  */
final class MapTruncateValuesWorker(limit: Int) extends Serializable {
  def truncate(m: MapData): MapData = {
    if (m == null) return null
    val n = m.numElements()
    val vs = m.valueArray()
    var needed = false
    var i = 0
    while (i < n && !needed) {
      needed = !vs.isNullAt(i) && vs.getUTF8String(i).numChars() > limit
      i += 1
    }
    if (!needed) return m
    val ks = m.keyArray()
    val outK = new Array[Any](n)
    val outV = new Array[Any](n)
    i = 0
    while (i < n) {
      outK(i) = ks.getUTF8String(i)
      outV(i) =
        if (vs.isNullAt(i)) null
        else {
          val v = vs.getUTF8String(i)
          if (v.numChars() > limit) v.substring(0, limit) else v
        }
      i += 1
    }
    new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV))
  }
}

case class MapTruncateValues(child: Expression, limit: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  require(limit >= 0, s"truncate_all limit must be non-negative: $limit")
  protected lazy val kernel = new MapTruncateValuesWorker(limit)
  protected def method = "truncate"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapTruncateValues =
    copy(child = newChild)
}

object MapTruncateValues {
  def apply(m: Column, limit: Int): Column =
    ExpressionUtils.column(MapTruncateValues(ExpressionUtils.expression(m), limit))
}

/** `limit(attributes, n, priority_keys)` over the THREE typed attribute
  * maps jointly (one logical pcommon.Map in the reference): priority keys
  * are never dropped; the remaining budget fills in stored order
  * strings -> numbers -> bools (Go map iteration order is random, so any
  * deterministic order is spec-compatible — this engine's maps preserve
  * producer order). Returns `struct(strings, numbers, bools)`.
  */
final class LimitTypedMapsWorker(n: Int, priority: Array[String]) extends Serializable {
  @transient private lazy val prio: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](priority.length * 2)
    priority.foreach(k => s.add(UTF8String.fromString(k)))
    s
  }
  private def count(m: MapData): Int = if (m == null) 0 else m.numElements()

  def limit(strings: MapData, numbers: MapData, bools: MapData): InternalRow = {
    val total = count(strings) + count(numbers) + count(bools)
    if (total <= n) return InternalRow(strings, numbers, bools)
    // pass 1: priority keys present (they consume budget first)
    var prioHits = 0
    def countPrio(m: MapData): Unit = if (m != null) {
      val ks = m.keyArray()
      var i = 0
      while (i < m.numElements()) {
        if (prio.contains(ks.getUTF8String(i))) prioHits += 1
        i += 1
      }
    }
    countPrio(strings); countPrio(numbers); countPrio(bools)
    var budget = math.max(0, n - prioHits)
    def take(m: MapData, valueType: DataType): MapData = {
      if (m == null) return null
      val size = m.numElements()
      val ks = m.keyArray()
      val vs = m.valueArray()
      val keep = new Array[Boolean](size)
      var kept = 0
      var i = 0
      while (i < size) {
        val isPrio = prio.contains(ks.getUTF8String(i))
        if (isPrio) { keep(i) = true; kept += 1 }
        else if (budget > 0) { keep(i) = true; kept += 1; budget -= 1 }
        i += 1
      }
      if (kept == size) return m
      val outK = new Array[Any](kept)
      val outV = new Array[Any](kept)
      var o = 0
      i = 0
      while (i < size) {
        if (keep(i)) {
          outK(o) = ks.getUTF8String(i)
          outV(o) = if (vs.isNullAt(i)) null else vs.get(i, valueType)
          o += 1
        }
        i += 1
      }
      new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV))
    }
    InternalRow(
      take(strings, StringType),
      take(numbers, org.apache.spark.sql.types.DoubleType),
      take(bools, org.apache.spark.sql.types.BooleanType))
  }
}

case class LimitTypedMaps(strings: Expression, numbers: Expression,
    bools: Expression, n: Int, priority: Seq[String]) extends Expression with InvokeKernel {
  require(n >= 0, s"limit must be non-negative: $n")
  protected lazy val kernel = new LimitTypedMapsWorker(n, priority.toArray)
  protected def method = "limit"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def children: Seq[Expression] = Seq(strings, numbers, bools)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("strings", strings.dataType),
    org.apache.spark.sql.types.StructField("numbers", numbers.dataType),
    org.apache.spark.sql.types.StructField("bools", bools.dataType)))
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LimitTypedMaps =
    copy(strings = newChildren(0), numbers = newChildren(1), bools = newChildren(2))
}

object LimitTypedMaps {
  def apply(strings: Column, numbers: Column, bools: Column, n: Int,
      priority: Seq[String]): Column =
    ExpressionUtils.column(LimitTypedMaps(
      ExpressionUtils.expression(strings), ExpressionUtils.expression(numbers),
      ExpressionUtils.expression(bools), n, priority))
}
