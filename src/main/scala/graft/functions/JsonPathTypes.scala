package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The metadataexporter's JSON-body path/type walker
  * (`exporter/metadataexporter/json_writer.go:337-516` walkNode / walkMap /
  * walkSlice + types.go maskToType), producing the rows of the
  * `distributed_json_path_types` metadata sink: for a JSON-object body, every
  * retained path with its ClickHouse-facing data type.
  *
  * Semantics replicated (each pinned by the reference's own
  * TestWalk_EndToEndTypes / TestWalk_InferArrayMask cases):
  *  - `message` type-hint field: recorded as `string` without descending;
  *    any path under `message.` (including a literal dotted key) skipped;
  *  - depth guard: containers beyond MaxDepthTraverse are skipped,
  *    primitives still record; array indexing does NOT consume depth
  *    (walkSlice passes `level` through to map elements);
  *  - maps with more than MaxKeysAtLevel keys skipped; keys failing
  *    `keycheck.IsCardinal` skipped;
  *  - arrays: empty or longer than MaxArrayElementsAllowed skipped; a
  *    nested array element voids the whole array (no type recorded); array
  *    element objects walk under `path[]`; the array type comes from
  *    `inferArrayMask` (bytes==string, json+primitive -> `[]dynamic`,
  *    json-only -> `[]json`, string+anything -> `[]dynamic`, else the
  *    float>int>bool priority — mixed int/float IS `[]float64`);
  *  - leaf types: string / int64 / float64 / bool (Jackson integral
  *    vs floating distinction == pcommon Int vs Double from OTLP JSON).
  *
  * Documented divergence: a JSON `null` map value makes the reference's
  * walk abort mid-record at a Go-map-random position (walkNode errors on
  * ValueTypeEmpty); this kernel deterministically SKIPS null values
  * instead. Null array elements are skipped by both (walkSlice's
  * ValueTypeEmpty case).
  *
  * Per record the kernel emits the DISTINCT (path, type) pairs, sorted;
  * the batch-level set union across records (typesAccumulator) is the
  * downstream `explode + distinct`.
  */
object JsonPathTypesKernel extends Serializable {
  private val mapper = new ObjectMapper()

  private val TString = "string"
  private val TInt = "int64"
  private val TFloat = "float64"
  private val TBool = "bool"

  /** [[walk]] as the kernel's rows: `array<struct<path, dtype>>`. */
  def rows(body: UTF8String, maxDepth: Int, maxArrayElements: Int,
      maxKeysAtLevel: Int): GenericArrayData =
    new GenericArrayData(walk(body, maxDepth, maxArrayElements, maxKeysAtLevel).map {
      case (p, t) => InternalRow(UTF8String.fromString(p), UTF8String.fromString(t))
    }.asInstanceOf[Array[Any]])

  def walk(body: UTF8String, maxDepth: Int, maxArrayElements: Int,
      maxKeysAtLevel: Int): Array[(String, String)] = {
    if (body == null) return Array.empty
    val root =
      try mapper.readTree(body.toString)
      catch { case _: Exception => return Array.empty }
    if (root == null || !root.isObject) return Array.empty
    val out = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    walkNode("", root, 0, maxDepth, maxArrayElements, maxKeysAtLevel, out)
    out.toArray.sortBy(identity)
  }

  private def record(out: scala.collection.mutable.LinkedHashSet[(String, String)],
      path: String, t: String): Unit = out += ((path, t))

  private def walkNode(prefix: String, node: JsonNode, level: Int, maxDepth: Int,
      maxArr: Int, maxKeys: Int,
      out: scala.collection.mutable.LinkedHashSet[(String, String)]): Unit = {
    if (prefix.startsWith("message.")) return
    if (prefix == "message") { record(out, prefix, TString); return }
    if (level > maxDepth && (node.isObject || node.isArray)) return
    if (node.isObject) walkMap(prefix, node, level + 1, maxDepth, maxArr, maxKeys, out)
    else if (node.isArray) walkSlice(prefix, node, level, maxDepth, maxArr, maxKeys, out)
    else if (node.isTextual || node.isBinary) record(out, prefix, TString)
    else if (node.isBoolean) record(out, prefix, TBool)
    else if (node.isIntegralNumber) record(out, prefix, TInt)
    else if (node.isFloatingPointNumber) record(out, prefix, TFloat)
    // null values: deterministic skip (see scaladoc divergence note)
  }

  private def walkMap(prefix: String, node: JsonNode, level: Int, maxDepth: Int,
      maxArr: Int, maxKeys: Int,
      out: scala.collection.mutable.LinkedHashSet[(String, String)]): Unit = {
    if (node.size() > maxKeys) return
    val it = node.fields()
    while (it.hasNext) {
      val e = it.next()
      val key = e.getKey
      if (!KeyCheck.isCardinal(key)) {
        val childPath = if (prefix.isEmpty) key else prefix + "." + key
        walkNode(childPath, e.getValue, level + 1, maxDepth, maxArr, maxKeys, out)
      }
    }
  }

  private def walkSlice(prefix: String, node: JsonNode, level: Int, maxDepth: Int,
      maxArr: Int, maxKeys: Int,
      out: scala.collection.mutable.LinkedHashSet[(String, String)]): Unit = {
    val n = node.size()
    if (n == 0 || n > maxArr) return
    var hasJson = false
    var hasStr = false
    var hasInt = false
    var hasFloat = false
    var hasBool = false
    var any = false
    var i = 0
    while (i < n) {
      val el = node.get(i)
      if (el.isArray) {
        // a nested array voids the array's own type, but child paths of map
        // elements walked BEFORE it are kept — Go slices iterate in order,
        // so the reference's mid-loop `return 0` is deterministic here
        return
      } else if (el.isObject) {
        walkNode(prefix + "[]", el, level, maxDepth, maxArr, maxKeys, out)
        hasJson = true; any = true
      } else if (el.isNull) {
        // skip empty elements
      } else {
        if (el.isTextual || el.isBinary) hasStr = true
        else if (el.isIntegralNumber) hasInt = true
        else if (el.isFloatingPointNumber) hasFloat = true
        else if (el.isBoolean) hasBool = true
        any = true
      }
      i += 1
    }
    if (!any) return
    val hasPrimitive = hasStr || hasInt || hasFloat || hasBool
    val t =
      if (hasJson) { if (!hasPrimitive) "[]json" else "[]dynamic" }
      else if (hasStr) { if (hasInt || hasFloat || hasBool) "[]dynamic" else "[]string" }
      else if (hasFloat) "[]float64"
      else if (hasInt) "[]int64"
      else if (hasBool) "[]bool"
      else "[]dynamic"
    record(out, prefix, t)
  }
}

case class JsonPathTypes(child: Expression, maxDepth: Int = 100,
    maxArrayElements: Int = 100, maxKeysAtLevel: Int = 1024)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = JsonPathTypesKernel
  protected def method = "rows"
  override protected def arguments =
    Seq(child, Literal(maxDepth), Literal(maxArrayElements), Literal(maxKeysAtLevel))
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("dtype", StringType, nullable = false))), containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): JsonPathTypes =
    copy(child = newChild)
}

object JsonPathTypes {
  def apply(c: Column): Column =
    ExpressionUtils.column(JsonPathTypes(ExpressionUtils.expression(c)))
  def apply(c: Column, maxDepth: Int, maxArrayElements: Int, maxKeysAtLevel: Int): Column =
    ExpressionUtils.column(JsonPathTypes(
      ExpressionUtils.expression(c), maxDepth, maxArrayElements, maxKeysAtLevel))
}
