package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Write-side body-path kernels: the engine's equivalent of the stanza
  * `BodyField.Set/Delete/Merge` mutations (`stanza/entry/body_field.go:127-199`,
  * `stanza/entry/field.go:241-256` getNestedMap) over this engine's
  * string-body model.
  *
  * Correspondence: the reference's in-flight body is `any` — entries whose
  * body is a `map[string]any` support path writes; string bodies do not
  * (Set replaces them with a fresh map, Delete fails). SigNoz's fork patched
  * `Get` to read *through* a JSON string body (`body_field.go:58-127
  * ParseBodyJson`) but left Set/Delete on the upstream map-only semantics.
  * Here the body column is always a string, so a JSON-OBJECT body string is
  * the representation of the reference's map body, and these kernels apply
  * the map-body semantics through it:
  *
  *  - set(path, v): parse body as a JSON object (fresh `{}` when the body is
  *    absent/not an object — upstream Set's map-or-replace), walk the path
  *    with getNestedMap semantics (missing or non-object intermediates are
  *    clobbered by `{}`), set the leaf. A map-valued `v` takes the Merge
  *    path: its entries are merged INTO the map at `path` (existing sibling
  *    keys survive, per-key overwrite) — body_field.go:127-133,157-172.
  *  - root set: map value merges into the root object; a scalar replaces the
  *    whole body with its raw rendering (strings unquoted, exactly
  *    `entry.Body = value` + pcommon AsString).
  *  - delete(path): only acts when the body is a JSON object and the path
  *    exists; otherwise the body passes through unchanged (upstream Delete
  *    returns !exist and the operator takes its on_error path).
  *  - move(from, to): Delete-then-Set in the reference's order
  *    (move/transformer.go:27-31), so self-overlapping moves (`body.a` ->
  *    `body.a.b`) resolve identically.
  *
  * Deliberate divergence, documented: a body that is ALREADY a JSON-object
  * string at ingest is treated as the map it denotes (path writes preserve
  * its other keys), where the upstream Set would clobber the whole string.
  * The fork's own Get patch reads such bodies as maps; carrying the same
  * reading into writes is the coherent completion of that patch — and the
  * clobber behavior is unreachable here anyway (this engine has no
  * runtime distinction between an ingested JSON object and one produced by
  * an earlier Set, by design: one string column, no shadow type tag).
  *
  * Rendering is canonical sorted-key JSON ([[JsonCanon.sortedJson]]): the
  * reference marshals map bodies by iterating a Go map into pcommon
  * (utils.go:62-134) — RANDOM key order per row — so a deterministic order
  * is required for this engine's testable/exactly-reproducible output, and
  * sorted matches the Go `encoding/json` map-marshal convention used
  * everywhere else in the sinks.
  */
final class BodyEditWorker(keys: Array[String], toKeys: Array[String])
    extends Serializable {

  @transient private lazy val mappers =
    ThreadLocal.withInitial[ObjectMapper](() => new ObjectMapper())
  private def mapper: ObjectMapper = mappers.get()

  private def parseObject(body: UTF8String): ObjectNode = {
    if (body == null) return null
    val s = body.toString
    // cheap guard: only object bodies are editable; skips parser setup on
    // plain-text rows (same reasoning as FieldCols.bodyJson)
    var i = 0
    while (i < s.length && s.charAt(i) <= ' ') i += 1
    if (i >= s.length || s.charAt(i) != '{') return null
    try mapper.readTree(s) match {
      case o: ObjectNode => o
      case _ => null
    } catch { case _: Exception => null }
  }

  /** Walk to the node at `keys` (Go `Get` loop): null when any step is
    * missing or a non-object intermediate appears.
    */
  private def walk(root: ObjectNode, path: Array[String]): JsonNode = {
    var cur: JsonNode = root
    var i = 0
    while (i < path.length) {
      if (cur == null || !cur.isObject) return null
      if (!cur.asInstanceOf[ObjectNode].has(path(i))) return null
      cur = cur.get(path(i))
      i += 1
    }
    cur
  }

  /** getNestedMap (field.go:241-256): child map at `key`, creating it and
    * clobbering any non-object current value.
    */
  private def nested(m: ObjectNode, key: String): ObjectNode =
    m.get(key) match {
      case o: ObjectNode => o
      case _ => m.putObject(key)
    }

  private def render(n: JsonNode): UTF8String =
    UTF8String.fromString(JsonCanon.sortedJson(n))

  /** Fork `Get` through the JSON body: subtree as canonical JSON text
    * (objects/arrays/scalars all JSON-rendered — feed [[set]], not string
    * sinks). Null when the body is not an object or the path is absent.
    */
  def get(body: UTF8String): UTF8String = {
    val root = parseObject(body)
    if (root == null) return null
    val n = walk(root, keys)
    if (n == null) null else render(n)
  }

  /** Presence under Get/Delete semantics: object body + full path present
    * (a JSON `null` leaf is PRESENT, like a nil map value in Go).
    */
  def exists(body: UTF8String): Boolean = {
    val root = parseObject(body)
    root != null && walk(root, keys) != null
  }

  private def setAt(root0: ObjectNode, path: Array[String], v: JsonNode): UTF8String = {
    val root = if (root0 == null) mapper.createObjectNode() else root0
    if (v != null && v.isObject) {
      // Merge (body_field.go:157-172): walk ALL keys, merge entries in
      var cur = root
      var i = 0
      while (i < path.length) { cur = nested(cur, path(i)); i += 1 }
      val it = v.fields()
      while (it.hasNext) { val e = it.next(); cur.set[JsonNode](e.getKey, e.getValue) }
      render(root)
    } else if (path.isEmpty) {
      // scalar replaces the whole body; strings render raw (pcommon SetStr)
      if (v == null) null
      else if (v.isTextual) UTF8String.fromString(v.asText())
      else render(v)
    } else {
      var cur = root
      var i = 0
      while (i < path.length - 1) { cur = nested(cur, path(i)); i += 1 }
      cur.set[JsonNode](path(path.length - 1), v)
      render(root)
    }
  }

  /** Set `keys` to `value`.
    *
    * `raw = true`: the value is a string scalar and stays one (a string
    * attribute moved into the body keeps its Go `string` type even when it
    * happens to look like JSON). `raw = false`: the value is JSON-rendered
    * (a body subtree from [[get]], a number/bool rendering) — parsed, with
    * unparseable text falling back to a string scalar (the whole-body
    * source case: an object body merges as the map it denotes, a plain-text
    * body sets as the string it is).
    */
  def set(body: UTF8String, value: UTF8String, raw: Boolean): UTF8String = {
    if (value == null) return body
    val v: JsonNode =
      if (raw) com.fasterxml.jackson.databind.node.TextNode.valueOf(value.toString)
      else
        try mapper.readTree(value.toString)
        catch { case _: Exception =>
          com.fasterxml.jackson.databind.node.TextNode.valueOf(value.toString)
        }
    setAt(parseObject(body), keys, v)
  }

  /** Delete `keys`; body unchanged when not an object / path absent. */
  def delete(body: UTF8String): UTF8String = {
    val root = parseObject(body)
    if (root == null) return body
    if (keys.isEmpty) return null // root delete: entry.Body = nil
    val parent = walk(root, keys.dropRight(1))
    if (parent == null || !parent.isObject ||
        !parent.asInstanceOf[ObjectNode].has(keys.last)) return body
    parent.asInstanceOf[ObjectNode].remove(keys.last)
    render(root)
  }

  /** Move `keys` -> `toKeys` inside the body (Delete then Set, the
    * reference operator's order). Body unchanged when the source is absent.
    * Whole-body sources (`keys` empty) are composed by the caller as
    * `set(null, to, oldBody)` instead.
    */
  def move(body: UTF8String): UTF8String = {
    require(keys.nonEmpty, "whole-body move composes set(null, to, body)")
    val root = parseObject(body)
    if (root == null) return body
    val parent = walk(root, keys.dropRight(1))
    if (parent == null || !parent.isObject ||
        !parent.asInstanceOf[ObjectNode].has(keys.last)) return body
    val v = parent.asInstanceOf[ObjectNode].remove(keys.last)
    setAt(root, toKeys, v)
  }

  /** Copy `keys` -> `toKeys` inside the body: one parse, one render —
    * equivalent to set(body, to, get(body, from)) without the intermediate
    * canonical-JSON round-trip. Body unchanged when the source is absent.
    */
  def copyWithin(body: UTF8String): UTF8String = {
    val root = parseObject(body)
    if (root == null) return body
    val v = walk(root, keys)
    if (v == null) return body
    // deepCopy: Merge installs the value node into the target map, and a
    // shared subtree would otherwise alias its source
    setAt(root, toKeys, v.deepCopy[JsonNode]())
  }
}

/** set: body column + value -> edited body. Handles null body (fresh
  * object) itself, so no nullSafe wrapper. `raw` selects string-scalar vs
  * JSON-rendered value semantics (see [[BodyEditWorker.set]]).
  */
case class BodyJsonSet(left: Expression, right: Expression, keys: Seq[String],
    raw: Boolean) extends BinaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(keys.toArray, Array.empty)
  protected def method = "set"
  override protected def arguments = Seq(left, right, Literal(raw))
  override protected def propagateNull = false
  override def dataType: DataType = StringType
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): BodyJsonSet =
    copy(left = newLeft, right = newRight)
}

case class BodyJsonDelete(child: Expression, keys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(keys.toArray, Array.empty)
  protected def method = "delete"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): BodyJsonDelete =
    copy(child = newChild)
}

case class BodyJsonMove(child: Expression, fromKeys: Seq[String], toKeys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(fromKeys.toArray, toKeys.toArray)
  protected def method = "move"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): BodyJsonMove =
    copy(child = newChild)
}

case class BodyJsonCopy(child: Expression, fromKeys: Seq[String], toKeys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(fromKeys.toArray, toKeys.toArray)
  protected def method = "copyWithin"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): BodyJsonCopy =
    copy(child = newChild)
}

case class BodyJsonExists(child: Expression, keys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(keys.toArray, Array.empty)
  protected def method = "exists"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = BooleanType
  override protected def withNewChildInternal(newChild: Expression): BodyJsonExists =
    copy(child = newChild)
}

case class BodyJsonGet(child: Expression, keys: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BodyEditWorker(keys.toArray, Array.empty)
  protected def method = "get"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): BodyJsonGet =
    copy(child = newChild)
}

object BodyEdit {
  /** JSON-rendered value (body subtrees, number/bool renderings). */
  def set(body: Column, keys: Seq[String], valueJson: Column): Column =
    ExpressionUtils.column(BodyJsonSet(
      ExpressionUtils.expression(body), ExpressionUtils.expression(valueJson), keys,
      raw = false))
  /** String-scalar value (string attrs, add/EXPR values): never re-typed. */
  def setRaw(body: Column, keys: Seq[String], value: Column): Column =
    ExpressionUtils.column(BodyJsonSet(
      ExpressionUtils.expression(body), ExpressionUtils.expression(value), keys,
      raw = true))
  def delete(body: Column, keys: Seq[String]): Column =
    ExpressionUtils.column(BodyJsonDelete(ExpressionUtils.expression(body), keys))
  def move(body: Column, fromKeys: Seq[String], toKeys: Seq[String]): Column =
    ExpressionUtils.column(BodyJsonMove(ExpressionUtils.expression(body), fromKeys, toKeys))
  def copyWithin(body: Column, fromKeys: Seq[String], toKeys: Seq[String]): Column =
    ExpressionUtils.column(BodyJsonCopy(ExpressionUtils.expression(body), fromKeys, toKeys))
  def exists(body: Column, keys: Seq[String]): Column =
    ExpressionUtils.column(BodyJsonExists(ExpressionUtils.expression(body), keys))
  def get(body: Column, keys: Seq[String]): Column =
    ExpressionUtils.column(BodyJsonGet(ExpressionUtils.expression(body), keys))
}
