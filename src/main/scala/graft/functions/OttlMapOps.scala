package graft.functions

import java.nio.charset.StandardCharsets
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, MapType, StringType}
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
  private val test: MapEntries.Keep =
    (m, i) => re.matcher(MapEntries.key(m, i).toString).find() == keep
  def filter(m: MapData): MapData = MapEntries.filter(m, valueType, test)
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
  /** `u` with every match replaced, or `u` itself when that changes nothing. */
  private def replaced(u: UTF8String): UTF8String = {
    val s = u.toString
    val r = re.matcher(s).replaceAll(replacement)
    if (r == s) u else UTF8String.fromString(r)
  }
  private val onKey: UTF8String => UTF8String = replaced
  private val onValue: (UTF8String, Any) => Any = (_, v) => replaced(v.asInstanceOf[UTF8String])
  def replace(m: MapData): MapData =
    if (mode == "key") MapEntries.rewrite(m, valueType, key = onKey)
    else MapEntries.rewrite(m, valueType, value = onValue)
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
  private val truncated: (UTF8String, Any) => Any = { (_, v) =>
    val u = v.asInstanceOf[UTF8String]
    if (u.numChars() > limit) u.substring(0, limit) else u
  }
  def truncate(m: MapData): MapData = MapEntries.rewrite(m, StringType, value = truncated)
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
  @transient private lazy val prio = MapEntries.keySet(priority.toSeq)
  private def count(m: MapData): Int = if (m == null) 0 else m.numElements()

  def limit(strings: MapData, numbers: MapData, bools: MapData): InternalRow = {
    val total = count(strings) + count(numbers) + count(bools)
    if (total <= n) return InternalRow(strings, numbers, bools)
    // pass 1: priority keys present (they consume budget first)
    var prioHits = 0
    def countPrio(m: MapData): Unit = if (m != null) {
      var i = 0
      while (i < m.numElements()) {
        if (prio.contains(MapEntries.key(m, i))) prioHits += 1
        i += 1
      }
    }
    countPrio(strings); countPrio(numbers); countPrio(bools)
    var budget = math.max(0, n - prioHits)
    val take: MapEntries.Keep = (m, i) =>
      prio.contains(MapEntries.key(m, i)) || (budget > 0 && { budget -= 1; true })
    InternalRow(
      MapEntries.filter(strings, StringType, take),
      MapEntries.filter(numbers, DoubleType, take),
      MapEntries.filter(bools, BooleanType, take))
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

/** The attributes processor's pattern `hash` over the three typed maps
  * jointly: each value whose key matches `pattern` (unanchored find)
  * becomes the lowercase SHA-256 hex of its string form, numbers rendered
  * as `%v` prints a typed number-map value ([[GoFloat.int64Or]]
  * `percentV`; rendering non-string inputs before hashing is SURVEY row
  * 423's documented deviation), and bools as true/false. Hashed number and bool
  * entries move to the end of the string map, strings first. Returns
  * `struct(strings, numbers, bools)`; like the `map_concat` it replaces,
  * the string map is null when any input map is.
  */
final class HashTypedMapsWorker(pattern: String) extends Serializable {
  @transient private lazy val re = Pattern.compile(pattern)
  private def hit(k: UTF8String): Boolean = re.matcher(k.toString).find()
  private val hits: MapEntries.Keep = (m, i) => hit(MapEntries.key(m, i))
  private val misses: MapEntries.Keep = (m, i) => !hit(MapEntries.key(m, i))
  private def sha256(s: String): UTF8String = UTF8String.fromString(
    org.apache.commons.codec.digest.DigestUtils.sha256Hex(s.getBytes(StandardCharsets.UTF_8)))
  private val hashString: (UTF8String, Any) => Any = (k, v) => if (hit(k)) sha256(v.toString) else v
  private val hashNumber: (UTF8String, Any) => Any =
    (_, v) => sha256(GoFloat.int64Or(v.asInstanceOf[Double], GoFloat.percentV))
  private val hashBool: (UTF8String, Any) => Any = (_, v) => sha256(v.toString)

  def hash(strings: MapData, numbers: MapData, bools: MapData): InternalRow = {
    def moved(m: MapData, valueType: DataType, f: (UTF8String, Any) => Any) =
      MapEntries.rewrite(MapEntries.filter(m, valueType, hits), valueType, value = f, retype = true)
    val hashed =
      if (strings == null || numbers == null || bools == null) null
      else MapEntries.concat(StringType,
        MapEntries.rewrite(strings, StringType, value = hashString),
        moved(numbers, DoubleType, hashNumber), moved(bools, BooleanType, hashBool))
    InternalRow(hashed, MapEntries.filter(numbers, DoubleType, misses),
      MapEntries.filter(bools, BooleanType, misses))
  }
}

case class HashTypedMaps(strings: Expression, numbers: Expression,
    bools: Expression, pattern: String) extends Expression with InvokeKernel {
  protected lazy val kernel = new HashTypedMapsWorker(pattern)
  protected def method = "hash"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def children: Seq[Expression] = Seq(strings, numbers, bools)
  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq("strings", "numbers", "bools").zip(children).map { case (name, c) =>
      org.apache.spark.sql.types.StructField(name, c.dataType) })
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HashTypedMaps =
    copy(strings = newChildren(0), numbers = newChildren(1), bools = newChildren(2))
}

object HashTypedMaps {
  def apply(strings: Column, numbers: Column, bools: Column, pattern: String): Column =
    ExpressionUtils.column(HashTypedMaps(
      ExpressionUtils.expression(strings), ExpressionUtils.expression(numbers),
      ExpressionUtils.expression(bools), pattern))
}
