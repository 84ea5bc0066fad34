package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Canonical JSON serialization shared by body kernels: sorted object keys,
  * compact — byte-equal to what Go's `json.Marshal` produces for a
  * `map[string]any` (pdata `Value.AsString` round-trips through exactly
  * that, so the reference's `body_v2`/`body_promoted` strings are sorted-key
  * JSON too).
  */
object JsonCanon {
  import scala.jdk.CollectionConverters._

  def sortedJson(node: JsonNode): String = node match {
    case o: ObjectNode =>
      val keys = o.fieldNames().asScala.toArray.sorted
      keys.map(k => s"${quote(k)}:${sortedJson(o.get(k))}").mkString("{", ",", "}")
    case a if a.isArray =>
      a.elements().asScala.map(sortedJson).mkString("[", ",", "]")
    // text nodes go through quote() (Jackson's TextNode.toString would emit
    // < > & raw, diverging from Go)
    case t if t.isTextual => quote(t.asText())
    case other => other.toString
  }

  // Go's json.Marshal HTML-escapes '<' '>' '&' to the \u00XX forms below by
  // default (encoding/json escapeHTML=true in Marshal), so those three must
  // be escaped here too for byte equality.
  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case '<' => sb.append("\\u003c")
      case '>' => sb.append("\\u003e")
      case '&' => sb.append("\\u0026")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Body-JSON mode kernel (`exporter/clickhouselogsexporter/exporter.go:840-863`
  * `processBody` + `promoted.go:22-83` `buildPromoted`/`handleSinglePath`):
  * for a JSON-object body, emit
  *  - `body_v2`: the body map serialized (sorted-key canonical JSON);
  *  - `body_promoted`: only the configured promoted paths, extracted with
  *    LITERAL-KEY PREFERENCE at every level — at each map level, a literal
  *    key equal to the whole remaining path wins over descending segment by
  *    segment (promoted.go:57-65); a literal hit that is itself a map does
  *    NOT extract and descent continues (promoted.go:59-61); paths whose
  *    leaf is a map are not extracted (promoted_test.go
  *    "parent_is_promoted_but_is_not_leaf_in_data_input").
  *
  * Non-object / unparseable bodies return NULL (the reference errors the
  * record in body-JSON mode, exporter.go:855-857; this engine's equivalent
  * of that per-record failure is the on_error-style null).
  *
  * One Jackson parse per row; promoted keys are emitted in sorted path order
  * (the reference iterates a Go map — nondeterministic order — so a
  * deterministic order is required for row equality and sorted matches the
  * sink's canonical form).
  */
final class BodyPromotedWorker(paths: Array[String]) extends Serializable {

  // per-thread mapper: a shared ObjectMapper serializes task threads on its
  // symbol-table lock (see JsonTypedMapsWorker)
  @transient private lazy val mappers =
    ThreadLocal.withInitial[ObjectMapper](() => new ObjectMapper())

  def process(input: UTF8String): InternalRow = {
    if (input == null) return null
    val mapper = mappers.get()
    val root =
      try mapper.readTree(input.toString)
      catch { case _: Exception => return null }
    if (root == null || !root.isObject) return null
    val obj = root.asInstanceOf[ObjectNode]
    val promoted = mapper.createObjectNode()
    var i = 0
    while (i < paths.length) {
      handleSinglePath(obj, promoted, paths(i), paths(i))
      i += 1
    }
    InternalRow(
      UTF8String.fromString(JsonCanon.sortedJson(obj)),
      UTF8String.fromString(JsonCanon.sortedJson(promoted)))
  }

  @annotation.tailrec
  private def handleSinglePath(bodyMap: ObjectNode, promotedMap: ObjectNode,
      fullPath: String, remainingPath: String): Unit = {
    // step 1: literal match of the entire remaining path wins
    val lit = bodyMap.get(remainingPath)
    if (lit != null && !lit.isObject) {
      promotedMap.set[JsonNode](fullPath, lit)
      return
    }
    // step 2: split head.tail and descend into a nested map
    val idx = remainingPath.indexOf('.')
    if (idx == -1) return
    val head = remainingPath.substring(0, idx)
    val tail = remainingPath.substring(idx + 1)
    val h = bodyMap.get(head)
    if (h != null && h.isObject)
      handleSinglePath(h.asInstanceOf[ObjectNode], promotedMap, fullPath, tail)
  }
}

/** `body_promoted(body)` -> struct(body_v2 STRING, body_promoted STRING);
  * NULL when the body is not a JSON object.
  */
case class BodyPromoted(child: Expression, paths: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyPromotedWorker(paths.sorted.toArray)
  protected def method = "process"
  override def dataType: DataType = StructType(Seq(
    StructField("body_v2", StringType),
    StructField("body_promoted", StringType)))
  override protected def withNewChildInternal(newChild: Expression): BodyPromoted =
    copy(child = newChild)
}

object BodyPromoted {
  def of(c: Column, paths: Seq[String]): Column =
    ExpressionUtils.column(BodyPromoted(ExpressionUtils.expression(c), paths))
}
