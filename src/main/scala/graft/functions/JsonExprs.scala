package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JSON kernels: typed-map split (the engine's dynamic-typing answer) and
  * body normalization.
  *
  * The reference parses JSON bodies into `map[string]any`
  * (`stanza/operator/operators/json/parser.go:39-92`) and the exporter later
  * splits attribute values into three typed ClickHouse maps
  * (`exporter/clickhouselogsexporter/exporter.go:1007-1031`). This engine
  * fuses the two: one expression parses a JSON string and emits
  * `struct(strings MAP<STRING,STRING>, numbers MAP<STRING,DOUBLE>,
  * bools MAP<STRING,BOOLEAN>)` directly — one pass, no intermediate dynamic
  * representation. Jackson (already on the Spark classpath) does the parse;
  * the expression participates in whole-stage codegen via a shared helper
  * object, so the surrounding stage stays fused.
  */
object JsonKernels {
  val typedMapsSchema: StructType = StructType(Seq(
    StructField("strings", MapType(StringType, StringType, valueContainsNull = true)),
    StructField("numbers", MapType(StringType, DoubleType, valueContainsNull = true)),
    StructField("bools", MapType(StringType, BooleanType, valueContainsNull = true))))

  @transient lazy val mapper = new ObjectMapper()
}

/** Per-task JSON worker shared by eval and generated code. */
final class JsonTypedMapsWorker(
    flatten: Boolean,
    maxDepth: Int,
    enablePaths: Boolean,
    pathPrefix: String,
    unquoteFirst: Boolean,
    flattenArrays: Boolean = false // utils/flatten/flatten.go:24-30 rule
) extends Serializable {
  import scala.jdk.CollectionConverters._

  // per-thread mapper: a shared ObjectMapper serializes 32 task threads on
  // its symbol-table merge lock at parser close (profiled as hard negative
  // scaling at high core counts)
  @transient private lazy val mappers =
    ThreadLocal.withInitial[ObjectMapper](() => new ObjectMapper())
  private def mapper: ObjectMapper = mappers.get()

  private def unquote(s: String): String =
    if (unquoteFirst && s.length >= 2 && s.charAt(0) == '"' && s.charAt(s.length - 1) == '"') {
      try mapper.readTree(s).asText(s)
      catch { case _: Exception => s }
    } else s

  /** Parse; null on error (routed to on_error). Returns InternalRow of the
    * three maps.
    */
  def parse(input: UTF8String): InternalRow = {
    if (input == null) return null
    val root =
      try mapper.readTree(unquote(input.toString))
      catch { case _: Exception => return null }
    if (root == null || !root.isObject) return null
    val strings = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val numbers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val bools = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]

    def put(key: String, v: JsonNode): Unit = {
      if (v.isNumber) numbers(key) = v.asDouble()
      else if (v.isBoolean) bools(key) = v.asBoolean()
      else if (v.isTextual) strings(key) = v.asText()
      else if (v.isNull) strings(key) = ""
      else strings(key) = v.toString // nested map/array -> canonical JSON text
    }

    def walk(parent: String, node: JsonNode, depth: Int): Unit = {
      if (node.isObject) {
        if (depth > maxDepth) { if (parent.nonEmpty) put(parent, node); return }
        // sorted keys for deterministic last-wins, parser.go:79-84
        val keys = node.fieldNames().asScala.toArray.sorted
        keys.foreach { k =>
          val newKey = if (enablePaths && parent.nonEmpty) s"$parent.$k" else k
          walk(newKey, node.get(k), depth + 1)
        }
      } else if (flattenArrays && node.isArray) {
        // the metadata flattener's array-index rule
        // (utils/flatten/flatten.go:24-30): element i lands at `parent.i`
        var i = 0
        node.elements().asScala.foreach { el =>
          val newKey = if (enablePaths && parent.nonEmpty) s"$parent.$i" else i.toString
          walk(newKey, el, depth + 1)
          i += 1
        }
      } else put(parent, node)
    }

    if (flatten) walk(pathPrefix, root, 0)
    else root.fields().asScala.foreach(e => put(e.getKey, e.getValue))

    InternalRow(toMapData(strings.toSeq.map { case (k, v) => k -> UTF8String.fromString(v) }),
      toMapData(numbers.toSeq), toMapData(bools.toSeq))
  }

  private def toMapData[V](entries: Seq[(String, V)]): ArrayBasedMapData =
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1): Any).toArray),
      new GenericArrayData(entries.map(_._2: Any).toArray))
}

/** `json_typed_maps(str)` — see [[JsonKernels]]. NULL on malformed input or
  * non-object roots (= the reference json_parser's error path).
  */
case class JsonTypedMaps(
    child: Expression,
    flatten: Boolean = false,
    maxDepth: Int = 1,
    enablePaths: Boolean = false,
    pathPrefix: String = "",
    unquoteFirst: Boolean = true,
    flattenArrays: Boolean = false
) extends UnaryExpression with InvokeKernel {
  protected lazy val kernel =
    new JsonTypedMapsWorker(flatten, maxDepth, enablePaths, pathPrefix, unquoteFirst,
      flattenArrays)
  protected def method = "parse"
  override def dataType: DataType = JsonKernels.typedMapsSchema
  override protected def withNewChildInternal(newChild: Expression): JsonTypedMaps =
    copy(child = newChild)
}

object JsonTypedMaps {
  def apply(c: Column): Column = of(c)
  def of(c: Column, flatten: Boolean = false, maxDepth: Int = 1,
      enablePaths: Boolean = false, pathPrefix: String = "",
      flattenArrays: Boolean = false): Column =
    ExpressionUtils.column(JsonTypedMaps(
      ExpressionUtils.expression(c), flatten, maxDepth, enablePaths, pathPrefix,
      flattenArrays = flattenArrays))
}

/** Body canonicalization worker for the `normalize` operator
  * (`stanza/operator/operators/normalize/transformer.go:45-142`):
  *  1. string body -> JSON map when it is `{...}` (after best-effort
  *     unquote), else `{"message": body}`;
  *  2. promote the first of `log`, `msg` into `message` when `message` is
  *     absent (nil `message` counts as absent and is dropped);
  *  3. if `message` is itself a map, splice its keys to the top level and
  *     drop `message`.
  * Output is the canonical sorted-key compact JSON of the resulting map —
  * byte-equal to what Go's `json.Marshal` (sorted map keys) produces at the
  * sink boundary.
  */
final class NormalizeBodyWorker extends Serializable {
  import scala.jdk.CollectionConverters._

  @transient private lazy val mappers =
    ThreadLocal.withInitial[ObjectMapper](() => new ObjectMapper())
  private def mapper: ObjectMapper = mappers.get()

  def normalize(input: UTF8String): UTF8String = {
    if (input == null) return null
    val raw = input.toString
    val obj: ObjectNode = parseTextLog(raw)

    // step 1/2: message promotion
    val msg = obj.get("message")
    if (msg != null && msg.isNull) obj.remove("message")
    if (obj.get("message") == null) {
      val promoted = Seq("log", "msg").find(obj.has)
      promoted.foreach { f =>
        obj.set[JsonNode]("message", obj.get(f))
        obj.remove(f)
      }
    }
    // step 3: splice map-valued message
    val m2 = obj.get("message")
    if (m2 != null && m2.isNull) obj.remove("message")
    else if (m2 != null && m2.isObject) {
      obj.remove("message")
      m2.fields().asScala.foreach(e => obj.set[JsonNode](e.getKey, e.getValue))
    }
    UTF8String.fromString(sortedJson(obj))
  }

  private def parseTextLog(raw: String): ObjectNode = {
    val unquoted =
      if (raw.length >= 2 && raw.startsWith("\"") && raw.endsWith("\""))
        try { val t = mapper.readTree(raw); if (t.isTextual) t.asText else raw }
        catch { case _: Exception => raw }
      else raw
    if (unquoted.startsWith("{") && unquoted.endsWith("}")) {
      try {
        val t = mapper.readTree(unquoted)
        if (t.isObject) return t.asInstanceOf[ObjectNode]
      } catch { case _: Exception => () }
    }
    val o = mapper.createObjectNode()
    o.put("message", raw)
    o
  }

  private def sortedJson(node: JsonNode): String = JsonCanon.sortedJson(node)
}

/** `normalize_body(str)` -> canonical JSON string, see [[NormalizeBodyWorker]]. */
case class NormalizeBody(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new NormalizeBodyWorker
  protected def method = "normalize"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): NormalizeBody =
    copy(child = newChild)
}

object NormalizeBody {
  def apply(c: Column): Column =
    ExpressionUtils.column(NormalizeBody(ExpressionUtils.expression(c)))
}
