package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass map merge kernel.
  *
  * The operator compiler originally expressed "merge parsed keys into a typed
  * attribute map, evicting those keys from the other typed maps" as chains of
  * `map_filter` + `map_concat` + `map_contains_key`. Spark's higher-order
  * functions evaluate their lambdas interpreted, per map entry, per row —
  * profiled as a top-3 cost of the whole pipeline. This expression does the
  * same job in one imperative pass: `result = old - keys(winner) - keys(d1)
  * - keys(d2) ++ winner`.
  *
  * `winner`, `d1`, `d2` may be NULL columns (treated as empty).
  */
final class MapMergeWorker(valueType: DataType) extends Serializable {
  def merge(old: MapData, winner: MapData, d1: MapData, d2: MapData): MapData = {
    if (old == null) return null
    val n = old.numElements()
    val wn = if (winner == null) 0 else winner.numElements()
    // zero-alloc fast paths for the common empty cases
    if (n == 0 && wn == 0) return old
    if (n == 0) return winner
    val drop = MapEntries.keySet(winner, d1, d2)
    val kept = MapEntries.filter(old, valueType, (m, i) => !drop.contains(MapEntries.key(m, i)))
    if (wn == 0) kept else MapEntries.concat(valueType, kept, winner)
  }
}

/** `merge_maps(old, winner, dropKeysOf1, dropKeysOf2)` — see [[MapMergeWorker]]. */
case class MergeMaps(old: Expression, winner: Expression, d1: Expression, d2: Expression)
    extends Expression with InvokeKernel {
  private lazy val valueType: DataType =
    old.dataType.asInstanceOf[MapType].valueType
  protected lazy val kernel = new MapMergeWorker(valueType)
  protected def method = "merge"
  override protected def propagateNull = false
  // merge returns null exactly when `old` is null
  override protected def returnNullable = old.nullable

  override def children: Seq[Expression] = Seq(old, winner, d1, d2)
  override def dataType: DataType = MapType(StringType, valueType, valueContainsNull = true)
  override def foldable: Boolean = children.forall(_.foldable)

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MergeMaps =
    copy(old = newChildren(0), winner = newChildren(1), d1 = newChildren(2), d2 = newChildren(3))
}

object MergeMaps {
  def apply(old: Column, winner: Column, d1: Column, d2: Column): Column =
    ExpressionUtils.column(MergeMaps(
      ExpressionUtils.expression(old), ExpressionUtils.expression(winner),
      ExpressionUtils.expression(d1), ExpressionUtils.expression(d2)))
}

/** Sorted-key compact JSON of a MAP<STRING,STRING> — what Go's
  * `json.Marshal` emits for the resource labels column
  * (`exporter/clickhouselogsexporter/exporter.go:656-661`), byte-for-byte
  * incl. the escapeHTML default ([[JsonCanon.quote]]): keys in UTF-8 byte
  * order, `"null"` for a null value, `{}` for an empty map. That is
  * [[TypedAttrsGoJsonKernel]] over one string map.
  *
  * Replaces `to_json(map_from_entries(array_sort(map_entries(m), <lambda>)))`:
  * ArraySort-with-comparator is a HigherOrderFunction = CodegenFallback, and
  * ONE fallback expression kicks the ENTIRE enclosing projection out of
  * whole-stage codegen — the exporter's final projection (fingerprint,
  * ids, record sizes, everything) was silently running interpreted because
  * of this single labels column.
  */
object MapSortedJsonKernel extends Serializable {
  def toJson(m: MapData): UTF8String =
    if (m == null) null else TypedAttrsGoJsonKernel.toJson(m, null, null)
}

/** `map_sorted_json(map)` — see [[MapSortedJsonKernel]]; NULL for NULL. */
case class MapSortedJson(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected def kernel = MapSortedJsonKernel
  protected def method = "toJson"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): MapSortedJson =
    copy(child = newChild)
}

object MapSortedJson {
  def apply(c: Column): Column =
    ExpressionUtils.column(MapSortedJson(ExpressionUtils.expression(c)))
}

/** One typed map -> an array of tag-attribute rows
  * `struct(tag_key, tag_type, tag_data_type, string_value, number_value)` —
  * the codegen replacement for `transform(map_entries(m), <struct lambda>)`
  * in the exporter's tagRows: `transform` is a CodegenFallback HOF and one
  * of them de-codegens the whole tag projection. A NULL map yields an empty
  * array (the concat() null-propagation guard, built in).
  *
  * `mode`: 0 = string values (string_value = v), 1 = double values
  * (number_value = v), 2 = boolean values (both value columns NULL — the
  * exporter emits bool tags as type-only rows).
  */
final class TagRowsWorker(tagType: String, dataType: String, mode: Int)
    extends Serializable {
  private val tagTypeU = UTF8String.fromString(tagType)
  private val dataTypeU = UTF8String.fromString(dataType)

  def rows(m: MapData): GenericArrayData = {
    if (m == null) return new GenericArrayData(Array.empty[Any])
    val n = m.numElements()
    val keys = m.keyArray()
    val vals = m.valueArray()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val sv: Any =
        if (mode == 0 && !vals.isNullAt(i)) vals.getUTF8String(i) else null
      val nv: Any =
        if (mode == 1 && !vals.isNullAt(i)) java.lang.Double.valueOf(vals.getDouble(i))
        else null
      out(i) = InternalRow(keys.getUTF8String(i), tagTypeU, dataTypeU, sv, nv)
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class MapToTagRows(child: Expression, tagType: String, dataTypeName: String,
    mode: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  import org.apache.spark.sql.types._
  protected lazy val kernel = new TagRowsWorker(tagType, dataTypeName, mode)
  protected def method = "rows"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tag_key", StringType, nullable = false),
    StructField("tag_type", StringType, nullable = false),
    StructField("tag_data_type", StringType, nullable = false),
    StructField("string_value", StringType),
    StructField("number_value", DoubleType))), containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): MapToTagRows =
    copy(child = newChild)
}

object MapToTagRows {
  def apply(m: Column, tagType: String, dataType: String, mode: Int): Column =
    ExpressionUtils.column(MapToTagRows(
      ExpressionUtils.expression(m), tagType, dataType, mode))
}

/** Keep-or-drop map entries by a CONSTANT key set — the codegen replacement
  * for `map_filter(m, k => k.isin(...))` (a CodegenFallback HOF; one of
  * them de-codegens the enclosing projection). Fast path: when filtering
  * drops nothing (the usual case — e.g. removing an absent key), the input
  * MapData is returned as-is, zero allocation.
  */
final class MapFilterKeysWorker(keys: Array[String], keep: Boolean,
    valueType: DataType) extends Serializable {
  @transient private lazy val set = MapEntries.keySet(keys.toSeq)
  private val test: MapEntries.Keep = (m, i) => set.contains(MapEntries.key(m, i)) == keep
  def filter(m: MapData): MapData = MapEntries.filter(m, valueType, test)
}

case class MapFilterKeys(child: Expression, keys: Seq[String], keep: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new MapFilterKeysWorker(keys.toArray, keep,
    child.dataType.asInstanceOf[MapType].valueType)
  protected def method = "filter"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapFilterKeys =
    copy(child = newChild)
}

object MapFilterKeys {
  def apply(m: Column, keys: Seq[String], keep: Boolean): Column =
    ExpressionUtils.column(MapFilterKeys(
      ExpressionUtils.expression(m), keys, keep))
}

/** Grok typed-capture conversion: a MAP<STRING,STRING> whose keys are all
  * declared numeric captures -> MAP<STRING,DOUBLE>, parsing `int`-typed
  * keys with the non-ANSI string->long cast's semantics (a fraction is
  * truncated, anything else non-integral is null) and `float`-typed keys
  * as doubles. Replaces the
  * `transform_values(map_filter(...), <when-chain cast lambda>)` pair —
  * both CodegenFallback HOFs.
  */
final class MapGrokNumericWorker(intKeys: Array[String]) extends Serializable {
  @transient private lazy val ints = MapEntries.keySet(intKeys.toSeq)
  private val toDouble: (UTF8String, Any) => Any = { (k, v) =>
    val s = v.asInstanceOf[UTF8String]
    if (ints.contains(k)) {
      val w = new UTF8String.LongWrapper
      if (s.toLong(w)) java.lang.Double.valueOf(w.value.toDouble) else null
    } else {
      // double parse with cast semantics: trim + Java parse, null on fail
      try java.lang.Double.valueOf(s.toString.trim.toDouble)
      catch { case _: NumberFormatException => null }
    }
  }
  def convert(m: MapData): MapData =
    MapEntries.rewrite(m, StringType, value = toDouble, retype = true)
}

case class MapGrokNumeric(child: Expression, intKeys: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new MapGrokNumericWorker(intKeys.toArray)
  protected def method = "convert"
  override protected def returnNullable = false
  override def dataType: DataType = 
    MapType(StringType, org.apache.spark.sql.types.DoubleType, valueContainsNull = true)
  override protected def withNewChildInternal(newChild: Expression): MapGrokNumeric =
    copy(child = newChild)
}

object MapGrokNumeric {
  def apply(m: Column, intKeys: Seq[String]): Column =
    ExpressionUtils.column(MapGrokNumeric(
      ExpressionUtils.expression(m), intKeys))
}

/** Drop NULL-valued entries from a MAP<STRING,STRING> — the codegen
  * replacement for `map_filter(m, (k, v) => v.isNotNull)` (a CodegenFallback
  * HOF) in the enrich stage's attach maps, where unmatched lookup columns
  * materialize as null values. Fast path: a map with no null values is
  * returned as-is, zero allocation.
  */
object MapDropNullValuesKernel extends Serializable {
  private val notNull: MapEntries.Keep = (m, i) => !m.valueArray().isNullAt(i)
  def drop(m: MapData): MapData = MapEntries.filter(m, StringType, notNull)
}

case class MapDropNullValues(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected def kernel = MapDropNullValuesKernel
  protected def method = "drop"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapDropNullValues =
    copy(child = newChild)
}

object MapDropNullValues {
  def apply(m: Column): Column =
    ExpressionUtils.column(MapDropNullValues(ExpressionUtils.expression(m)))
}

/** Force-stringify the three typed attribute maps into ONE MAP<STRING,STRING>
  * (the resource-attrs-at-the-sink rule): numbers print as pdata's
  * `Value.AsString` prints them, `strconv.FormatFloat(f, 'f', -1, 64)`
  * ([[GoFloat.int64Or]] `fixed`, SURVEY rows 79 and 408), and booleans as
  * true/false. Replaces
  * `map_concat(strings, transform_values(numbers, ...),
  * transform_values(bools, ...))`: `transform_values` is a CodegenFallback
  * HOF and one of them de-codegens the whole ingest projection. NULL typed
  * maps are treated as empty; a NULL value inside a map stays NULL.
  */
object StringifyTypedMapsKernel extends Serializable {
  private val TRUE = UTF8String.fromString("true")
  private val FALSE = UTF8String.fromString("false")
  def stringify(strings: MapData, numbers: MapData, bools: MapData): MapData = {
    val ns = if (strings == null) 0 else strings.numElements()
    val nn = if (numbers == null) 0 else numbers.numElements()
    val nb = if (bools == null) 0 else bools.numElements()
    if (nn == 0 && nb == 0) {
      if (strings != null) return strings
      return new ArrayBasedMapData(new GenericArrayData(new Array[Any](0)),
        new GenericArrayData(new Array[Any](0)))
    }
    val outK = new Array[Any](ns + nn + nb)
    val outV = new Array[Any](ns + nn + nb)
    var o = 0
    if (ns > 0) {
      val ks = strings.keyArray(); val vs = strings.valueArray()
      var i = 0
      while (i < ns) {
        outK(o) = ks.getUTF8String(i)
        outV(o) = if (vs.isNullAt(i)) null else vs.getUTF8String(i)
        o += 1; i += 1
      }
    }
    if (nn > 0) {
      val ks = numbers.keyArray(); val vs = numbers.valueArray()
      var i = 0
      while (i < nn) {
        outK(o) = ks.getUTF8String(i)
        outV(o) =
          if (vs.isNullAt(i)) null
          else UTF8String.fromString(GoFloat.int64Or(vs.getDouble(i), GoFloat.fixed))
        o += 1; i += 1
      }
    }
    if (nb > 0) {
      val ks = bools.keyArray(); val vs = bools.valueArray()
      var i = 0
      while (i < nb) {
        outK(o) = ks.getUTF8String(i)
        outV(o) =
          if (vs.isNullAt(i)) null
          else if (vs.getBoolean(i)) TRUE else FALSE
        o += 1; i += 1
      }
    }
    new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV))
  }
}

case class StringifyTypedMaps(strings: Expression, numbers: Expression,
    bools: Expression) extends Expression with InvokeKernel {
  protected def kernel = StringifyTypedMapsKernel
  protected def method = "stringify"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def children: Seq[Expression] = Seq(strings, numbers, bools)
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = true)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): StringifyTypedMaps =
    copy(strings = newChildren(0), numbers = newChildren(1), bools = newChildren(2))
}

object StringifyTypedMaps {
  def apply(strings: Column, numbers: Column, bools: Column): Column =
    ExpressionUtils.column(StringifyTypedMaps(
      ExpressionUtils.expression(strings), ExpressionUtils.expression(numbers),
      ExpressionUtils.expression(bools)))
}

/** Key-substring gate kernel: true when any key of the map CONTAINS one of
  * the configured substrings (plain substring, no globs) — the spanmapper
  * processor's `exists_any` condition (signozspanmapperprocessor/
  * processor.go:112-127 matchesAny). A NULL map matches nothing. Expressed
  * as a kernel (not `exists(map_keys(...))`) so the gate stays inside
  * whole-stage codegen like every other map op here.
  */
final class AnyKeyContainsWorker(subs: Array[String]) extends Serializable {
  @transient private lazy val pats: Array[UTF8String] =
    subs.map(UTF8String.fromString)
  def matches(m: MapData): Boolean = {
    if (m == null || pats.isEmpty) return false
    val n = m.numElements()
    val ks = m.keyArray()
    var i = 0
    while (i < n) {
      val k = ks.getUTF8String(i)
      var j = 0
      while (j < pats.length) {
        if (k.contains(pats(j))) return true
        j += 1
      }
      i += 1
    }
    false
  }
}

case class AnyKeyContains(child: Expression, subs: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new AnyKeyContainsWorker(subs.toArray)
  protected def method = "matches"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override protected def withNewChildInternal(newChild: Expression): AnyKeyContains =
    copy(child = newChild)
}

object AnyKeyContains {
  def apply(m: Column, subs: Seq[String]): Column =
    ExpressionUtils.column(AnyKeyContains(ExpressionUtils.expression(m), subs))
}

/** Key-normalizing map transform: strip ASCII spaces from every key, then
  * apply exact renames — the codegen replacement for
  * `transform_keys(m, (k, _) => when(...)...)` (a CodegenFallback HOF) in
  * the firehose cwmetrics dimension normalization
  * (`cwmetricstream/metricsbuilder.go` normaliseAttributeName +
  * ToSemConvAttributeKey). Space (0x20) never occurs inside a UTF-8
  * multi-byte sequence, so a byte filter is charset-safe. Fast path: no
  * spaces and no rename hits returns the input map unchanged.
  */
final class MapRenameKeysWorker(renames: Array[Array[String]]) extends Serializable {
  @transient private lazy val table: java.util.HashMap[UTF8String, UTF8String] = {
    val t = new java.util.HashMap[UTF8String, UTF8String](renames.length * 2)
    renames.foreach(r => t.put(UTF8String.fromString(r(0)), UTF8String.fromString(r(1))))
    t
  }
  private def normalize(k: UTF8String): UTF8String = {
    val bytes = k.getBytes
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == 0x20) spaces += 1; i += 1 }
    val stripped =
      if (spaces == 0) k
      else {
        val out = new Array[Byte](bytes.length - spaces)
        var o = 0
        i = 0
        while (i < bytes.length) {
          if (bytes(i) != 0x20) { out(o) = bytes(i); o += 1 }
          i += 1
        }
        UTF8String.fromBytes(out)
      }
    val renamed = table.get(stripped)
    if (renamed != null) renamed else stripped
  }
  private val renamed: UTF8String => UTF8String = normalize
  def rename(m: MapData): MapData = MapEntries.rewrite(m, StringType, key = renamed)
}

case class MapRenameKeys(child: Expression, renames: Seq[(String, String)])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel =
    new MapRenameKeysWorker(renames.map(r => Array(r._1, r._2)).toArray)
  protected def method = "rename"
  override protected def returnNullable = false
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapRenameKeys =
    copy(child = newChild)
}

object MapRenameKeys {
  def apply(m: Column, renames: Seq[(String, String)]): Column =
    ExpressionUtils.column(MapRenameKeys(ExpressionUtils.expression(m), renames))
}
