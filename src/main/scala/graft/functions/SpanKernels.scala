package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Span-shaping kernels for the traces exporter slice
  * (`exporter/clickhousetracesexporter/clickhouse_exporter_v3.go`).
  *
  * All are plain codegen-friendly expressions (worker object + [[InvokeKernel]])
  * so the spansV3 projection stays inside whole-stage codegen — the same
  * discipline as [[MapSortedJsonKernel]] (one CodegenFallback expression
  * would drag the entire span projection interpreted).
  */
object SpanEventsJsonKernel extends Serializable {

  /** `IsExceptionEvent` (pkg/schema/traces/event.go:36-38). */
  def isException(name: String): Boolean =
    name == "exception" || name.endsWith(".exception")

  /** Go `json.Marshal` of one `Event{Name, TimeUnixNano, AttributeMap,
    * IsError}` (schema-signoz.go:27-32): struct field order, omitempty on
    * every field, map keys byte-sorted, escapeHTML quoting — byte-for-byte
    * what the reference appends to the `events` column
    * (clickhouse_exporter_v3.go:142-172).
    */
  def eventJson(name: UTF8String, tsNs: Long, attrs: MapData): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append('{')
    var first = true
    def comma(): Unit = { if (!first) sb.append(','); first = false }
    val nameStr = if (name == null) "" else name.toString
    if (nameStr.nonEmpty) { comma(); sb.append("\"name\":").append(JsonCanon.quote(nameStr)) }
    if (tsNs != 0L) { comma(); sb.append("\"timeUnixNano\":").append(java.lang.Long.toUnsignedString(tsNs)) }
    if (attrs != null && attrs.numElements() > 0) {
      comma()
      sb.append("\"attributeMap\":").append(MapSortedJsonKernel.toJson(attrs).toString)
    }
    if (isException(nameStr)) { comma(); sb.append("\"isError\":true") }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }

  /** events array<struct<name,ts_ns,attrs>> -> array<string> of event JSONs. */
  def toJsonArray(events: ArrayData): ArrayData = {
    if (events == null) return null
    val n = events.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val row = events.getStruct(i, 3)
      out(i) = eventJson(
        if (row.isNullAt(0)) null else row.getUTF8String(0),
        if (row.isNullAt(1)) 0L else row.getLong(1),
        if (row.isNullAt(2)) null else row.getMap(2))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `span_events_json(events)` — see [[SpanEventsJsonKernel]]. */
case class SpanEventsJson(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = SpanEventsJsonKernel
  protected def method = "toJsonArray"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): SpanEventsJson =
    copy(child = newChild)
}

object SpanEventsJson {
  def apply(events: Column): Column =
    ExpressionUtils.column(SpanEventsJson(ExpressionUtils.expression(events)))
}

object SpanReferencesKernel extends Serializable {

  /** `makeJaegerProtoReferences` + json.Marshal
    * (clickhouse_exporter_v3.go:33-79,316): parent CHILD_OF ref first, then
    * one FOLLOWS_FROM per link. The reference's empty-parent guard
    * `len([8]byte(parentSpanID)) != 0` compares the ARRAY length (always 8),
    * so the CHILD_OF entry is emitted unconditionally — with empty ids
    * omitted by `omitempty`, an orphan span yields `[{"refType":"CHILD_OF"}]`
    * (their own golden, clickhouse_exporter_v3_test.go:436). Replicated
    * faithfully.
    */
  def toJson(span: InternalRow): UTF8String = {
    val traceId = if (span.isNullAt(0)) null else span.getUTF8String(0)
    val parentSpanId = if (span.isNullAt(1)) null else span.getUTF8String(1)
    val links: ArrayData = if (span.isNullAt(2)) null else span.getArray(2)
    val parent = if (parentSpanId == null) "" else parentSpanId.toString
    val nLinks = if (links == null) 0 else links.numElements()
    val sb = new java.lang.StringBuilder(64)
    sb.append('[')
    var first = true
    def ref(tid: String, sid: String, refType: String): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append('{')
      var f2 = true
      def field(k: String, v: String): Unit = {
        if (v.nonEmpty) {
          if (!f2) sb.append(',')
          f2 = false
          sb.append('"').append(k).append("\":").append(JsonCanon.quote(v))
        }
      }
      field("traceId", tid)
      field("spanId", sid)
      field("refType", refType)
      sb.append('}')
    }
    ref(if (traceId == null) "" else traceId.toString, parent, "CHILD_OF")
    var i = 0
    while (i < nLinks) {
      val l = links.getStruct(i, 2)
      ref(
        if (l.isNullAt(0)) "" else l.getUTF8String(0).toString,
        if (l.isNullAt(1)) "" else l.getUTF8String(1).toString,
        "FOLLOWS_FROM")
      i += 1
    }
    sb.append(']')
    UTF8String.fromString(sb.toString)
  }
}

/** `span_references(struct(trace_id, parent_span_id, links))`. */
case class SpanReferences(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = SpanReferencesKernel
  protected def method = "toJson"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): SpanReferences =
    copy(child = newChild)
}

object SpanReferences {
  def apply(traceId: Column, parentSpanId: Column, links: Column): Column =
    ExpressionUtils.column(SpanReferences(ExpressionUtils.expression(
      org.apache.spark.sql.functions.struct(traceId, parentSpanId, links))))
}

/** Go-JSON string quote (`encoding/json` escapeHTML rules, [[JsonCanon.quote]])
  * as a scalar column — lets struct-shaped JSON like the marshalled
  * `InstrumentationScope` (schema-signoz.go:216-220, writer.go:164) be built
  * with `concat` in field order while keeping byte parity on the values.
  */
object GoJsonQuoteKernel extends Serializable {
  def quote(s: UTF8String): UTF8String =
    UTF8String.fromString(JsonCanon.quote(if (s == null) "" else s.toString))
}

case class GoJsonQuote(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = GoJsonQuoteKernel
  protected def method = "quote"
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): GoJsonQuote =
    copy(child = newChild)
}

object GoJsonQuote {
  def apply(c: Column): Column =
    ExpressionUtils.column(GoJsonQuote(ExpressionUtils.expression(c)))
}

/** Drop map keys with a given prefix — the traces exporter's billable
  * resource filter `ExcludeSigNozWorkspaceResourceAttrs =
  * ^signoz.workspace.*` (pkg/metering/signoz_attributes.go:6;
  * clickhouse_exporter_v3.go:275-280). A literal prefix test, not a regex,
  * so it stays a codegen one-liner.
  */
object MapDropKeyPrefixKernel extends Serializable {
  def drop(m: MapData, prefix: UTF8String): MapData =
    MapEntries.filter(m, StringType, (d, i) => !MapEntries.key(d, i).startsWith(prefix))
}

case class MapDropKeyPrefix(child: Expression, prefix: String)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = MapDropKeyPrefixKernel
  protected def method = "drop"
  override protected def arguments = Seq(child, Literal(prefix))
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(newChild: Expression): MapDropKeyPrefix =
    copy(child = newChild)
}

object MapDropKeyPrefix {
  def apply(m: Column, prefix: String): Column =
    ExpressionUtils.column(MapDropKeyPrefix(ExpressionUtils.expression(m), prefix))
}
