package graft.sources

import graft.functions.GoFloat
import graft.sources.OtlpEnvelope.{MetricKey, Scope, temporalityNum}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpRow, OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}
import graft.sources.ProtoWire.{nonNull, nonNullSeq, orEmpty}

/** OTLP/JSON encoding — the Kafka exporter's `otlp_json` encodings
  * (`exporter/signozkafkaexporter/marshaler.go:43,57,67`
  * `ptrace/pmetric/plog.JSONMarshaler`, gated "experimental" in
  * `factory.go:132-193`): one JSON `LogsData` / `TracesData` /
  * `MetricsData` document per producer message.
  *
  * The encoding follows the OTLP specification's JSON mapping (protojson
  * over the public opentelemetry-proto messages), which is what pdata's
  * JSONMarshaler implements:
  *   - field names in lowerCamelCase, default-valued fields omitted;
  *   - (u)int64 / fixed64 values as decimal STRINGS (`"timeUnixNano":
  *     "1544712660300000000"`, packed `bucketCounts` as string arrays);
  *   - 32-bit ints, enums (severityNumber / kind / status.code /
  *     aggregationTemporality) and fixed32 flags as JSON numbers;
  *   - `trace_id` / `span_id` / `parent_span_id` as lowercase hex strings
  *     (the OTLP spec's explicit deviation from protojson's base64);
  *   - doubles as protojson's copy of `json.Marshal` prints them
  *     ([[GoFloat.json]], SURVEY row 409); non-finite values as its quoted
  *     `"NaN"` / `"Infinity"` / `"-Infinity"`;
  *   - AnyValue as its oneof wrapper object (`{"stringValue": ...}`,
  *     int64 `intValue` again a string).
  *
  * Documented divergence: no HTML escaping inside strings (`<` stays `<`) —
  * Go stdlib `encoding/json` would emit `<`; the JSON is semantically
  * identical either way and protojson does not HTML-escape.
  *
  * Row grouping (resource -> scope -> record in first-seen order, metrics
  * additionally by metric identity) is [[OtlpEnvelope]]'s, the one grouping
  * [[OtlpProtoEncode]] renders too, and the per-field omission guards match
  * the proto encoder's, so the proto and JSON encodings of the same frame
  * carry identical structure.
  */
object OtlpJson {

  // ---- JSON writer ---------------------------------------------------------

  /** Append `s` as a protojson string literal: quote, backslash and the
    * short escapes, other control characters as four-hex-digit unicode
    * escapes, nothing else escaped (no HTML escaping). The Jaeger jsonpb
    * encoder shares it.
    */
  private[sources] def appendString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Append-only JSON builder: callers bracket objects/arrays and add
    * fields; comma placement is tracked per nesting level.
    */
  private final class J(initial: Int = 1024) {
    private val sb = new java.lang.StringBuilder(initial)
    private var first = true
    private def comma(): Unit = { if (!first) sb.append(','); first = false }
    def beginObj(): Unit = { comma(); sb.append('{'); first = true }
    def endObj(): Unit = { sb.append('}'); first = false }
    def key(k: String): Unit = { comma(); str(k); sb.append(':'); first = true }
    def beginArr(k: String): Unit = { key(k); sb.append('['); first = true }
    def endArr(): Unit = { sb.append(']'); first = false }
    private def str(s: String): Unit = appendString(sb, s)
    def strField(k: String, v: String): Unit = { key(k); str(v); first = false }
    /** int64/uint64/fixed64 — protojson decimal string. */
    def longStrField(k: String, v: Long): Unit =
      { key(k); sb.append('"').append(v).append('"'); first = false }
    /** 32-bit ints, enums, fixed32 — JSON number. */
    def numField(k: String, v: Long): Unit = { key(k); sb.append(v); first = false }
    def boolField(k: String, v: Boolean): Unit = { key(k); sb.append(v); first = false }
    def dblField(k: String, v: Double): Unit = { key(k); dbl(v) }
    def dblElem(v: Double): Unit = { comma(); dbl(v); first = false }
    def longStrElem(v: Long): Unit =
      { comma(); sb.append('"').append(v).append('"'); first = false }
    private def dbl(v: Double): Unit = {
      // protojson: non-finite doubles are quoted strings
      if (java.lang.Double.isNaN(v)) sb.append("\"NaN\"")
      else if (v == java.lang.Double.POSITIVE_INFINITY) sb.append("\"Infinity\"")
      else if (v == java.lang.Double.NEGATIVE_INFINITY) sb.append("\"-Infinity\"")
      else sb.append(GoFloat.json(v))
      first = false
    }
    def toBytes: Array[Byte] =
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- shared attribute / scope fragments -----------------------------------

  private def kvString(j: J, k: String, v: String): Unit = {
    j.beginObj()
    if (k.nonEmpty) j.strField("key", k)
    j.key("value"); j.beginObj()
    if (orEmpty(v).nonEmpty) j.strField("stringValue", v)
    j.endObj(); j.endObj()
  }

  /** Typed attr emission — integral numbers re-emit as intValue (decimal
    * string per protojson int64), matching the proto encoder's int_value
    * fold; string then number then bool, each map in iteration order.
    */
  private def attrArr(j: J, name: String, strs: Map[String, String],
      nums: Map[String, Double], bools: Map[String, Boolean]): Unit = {
    if (nonNull(strs).isEmpty && nonNull(nums).isEmpty && nonNull(bools).isEmpty) return
    j.beginArr(name)
    nonNull(strs).foreach { case (k, v) => kvString(j, k, v) }
    nonNull(nums).foreach { case (k, v) =>
      j.beginObj()
      if (k.nonEmpty) j.strField("key", k)
      j.key("value"); j.beginObj()
      val l = v.toLong
      if (l.toDouble == v) j.longStrField("intValue", l)
      else j.dblField("doubleValue", v)
      j.endObj(); j.endObj()
    }
    nonNull(bools).foreach { case (k, v) =>
      j.beginObj()
      if (k.nonEmpty) j.strField("key", k)
      j.key("value"); j.beginObj()
      j.boolField("boolValue", v)
      j.endObj(); j.endObj()
    }
    j.endArr()
  }

  private def stringAttrArr(j: J, name: String, m: Map[String, String]): Unit =
    if (nonNull(m).nonEmpty) {
      j.beginArr(name)
      m.foreach { case (k, v) => kvString(j, k, v) }
      j.endArr()
    }

  private def resourceObj(j: J, attrs: Map[String, String]): Unit =
    if (nonNull(attrs).nonEmpty) {
      j.key("resource"); j.beginObj()
      stringAttrArr(j, "attributes", attrs)
      j.endObj()
    }

  private def scopeObj(j: J, scope: Scope): Unit =
    if (scope.name.nonEmpty || scope.version.nonEmpty || scope.attrs.nonEmpty) {
      j.key("scope"); j.beginObj()
      if (scope.name.nonEmpty) j.strField("name", scope.name)
      if (scope.version.nonEmpty) j.strField("version", scope.version)
      stringAttrArr(j, "attributes", scope.attrs)
      j.endObj()
    }

  /** Render [[OtlpEnvelope]]'s grouping as `{topField: [{resource,
    * scopeField: [{scope, recordsField: [...], schemaUrl}]}]}`, each record
    * object's fields written by `record`.
    */
  private def envelope[R](nested: OtlpEnvelope.Nested[R], topField: String,
      scopeField: String, recordsField: String)(record: (J, R) => Unit): Array[Byte] = {
    val j = new J()
    j.beginObj()
    j.beginArr(topField)
    nested.foreach { case (res, scopes) =>
      j.beginObj()
      resourceObj(j, res)
      j.beginArr(scopeField)
      scopes.foreach { case (scope, records) =>
        j.beginObj()
        scopeObj(j, scope)
        j.beginArr(recordsField)
        records.foreach { r => j.beginObj(); record(j, r); j.endObj() }
        j.endArr()
        if (scope.schemaUrl.nonEmpty) j.strField("schemaUrl", scope.schemaUrl)
        j.endObj()
      }
      j.endArr()
      j.endObj()
    }
    j.endArr()
    j.endObj()
    j.toBytes
  }

  // ---- logs ----------------------------------------------------------------

  /** Rows -> one `{"resourceLogs":[...]}` document (plog JSONMarshaler). */
  def encodeLogsJson(rows: Seq[OtlpRow]): Array[Byte] =
    envelope(OtlpEnvelope.logs(rows), "resourceLogs", "scopeLogs", "logRecords") {
      (j, r) =>
        if (r.timestamp != 0L) j.longStrField("timeUnixNano", r.timestamp)
        if (r.severity_number != 0) j.numField("severityNumber", r.severity_number.toLong)
        if (orEmpty(r.severity_text).nonEmpty) j.strField("severityText", r.severity_text)
        if (orEmpty(r.body).nonEmpty) {
          j.key("body"); j.beginObj(); j.strField("stringValue", r.body); j.endObj()
        }
        attrArr(j, "attributes", r.attributes_string, r.attributes_number,
          r.attributes_bool)
        if (r.trace_flags != 0) j.numField("flags", r.trace_flags.toLong)
        if (orEmpty(r.trace_id).nonEmpty) j.strField("traceId", r.trace_id)
        if (orEmpty(r.span_id).nonEmpty) j.strField("spanId", r.span_id)
        if (r.observed_timestamp != 0L)
          j.longStrField("observedTimeUnixNano", r.observed_timestamp)
    }

  // ---- traces --------------------------------------------------------------

  private def eventObj(j: J, e: OtlpSpanEvent): Unit = {
    j.beginObj()
    if (e.ts_ns != 0L) j.longStrField("timeUnixNano", e.ts_ns)
    if (orEmpty(e.name).nonEmpty) j.strField("name", e.name)
    stringAttrArr(j, "attributes", e.attrs)
    j.endObj()
  }

  private def linkObj(j: J, l: OtlpSpanLink): Unit = {
    j.beginObj()
    if (orEmpty(l.trace_id).nonEmpty) j.strField("traceId", l.trace_id)
    if (orEmpty(l.span_id).nonEmpty) j.strField("spanId", l.span_id)
    j.endObj()
  }

  /** Rows -> one `{"resourceSpans":[...]}` document (ptrace JSONMarshaler). */
  def encodeTracesJson(rows: Seq[OtlpSpanRow]): Array[Byte] =
    envelope(OtlpEnvelope.spans(rows), "resourceSpans", "scopeSpans", "spans") {
      (j, r) =>
        if (orEmpty(r.trace_id).nonEmpty) j.strField("traceId", r.trace_id)
        if (orEmpty(r.span_id).nonEmpty) j.strField("spanId", r.span_id)
        if (orEmpty(r.trace_state).nonEmpty) j.strField("traceState", r.trace_state)
        if (orEmpty(r.parent_span_id).nonEmpty)
          j.strField("parentSpanId", r.parent_span_id)
        if (orEmpty(r.name).nonEmpty) j.strField("name", r.name)
        if (r.kind != 0) j.numField("kind", r.kind.toLong)
        if (r.start_ts != 0L) j.longStrField("startTimeUnixNano", r.start_ts)
        if (r.end_ts != 0L) j.longStrField("endTimeUnixNano", r.end_ts)
        attrArr(j, "attributes", r.attributes_string, r.attributes_number,
          r.attributes_bool)
        if (nonNullSeq(r.events).nonEmpty) {
          j.beginArr("events"); r.events.foreach(eventObj(j, _)); j.endArr()
        }
        if (nonNullSeq(r.links).nonEmpty) {
          j.beginArr("links"); r.links.foreach(linkObj(j, _)); j.endArr()
        }
        if (r.status_code != 0 || orEmpty(r.status_message).nonEmpty) {
          j.key("status"); j.beginObj()
          if (orEmpty(r.status_message).nonEmpty) j.strField("message", r.status_message)
          if (r.status_code != 0) j.numField("code", r.status_code.toLong)
          j.endObj()
        }
        if (r.flags != 0) j.numField("flags", r.flags.toLong)
    }

  // ---- metrics -------------------------------------------------------------

  private def numberPoint(j: J, r: OtlpMetricRow): Unit = {
    j.beginObj()
    if (r.unix_milli != 0L) j.longStrField("timeUnixNano", r.unix_milli * 1000000L)
    // always asDouble — mirrors the proto encoder's as_double fold
    j.dblField("asDouble", r.value)
    stringAttrArr(j, "attributes", r.attrs)
    if (r.flags != 0) j.numField("flags", r.flags.toLong)
    j.endObj()
  }

  private def histogramPoint(j: J, r: OtlpMetricRow): Unit = {
    j.beginObj()
    if (r.unix_milli != 0L) j.longStrField("timeUnixNano", r.unix_milli * 1000000L)
    if (r.count != 0L) j.longStrField("count", r.count)
    if (r.has_sum) j.dblField("sum", r.sum_v)
    if (nonNullSeq(r.bucket_counts).nonEmpty) {
      j.beginArr("bucketCounts"); r.bucket_counts.foreach(j.longStrElem); j.endArr()
    }
    if (nonNullSeq(r.explicit_bounds).nonEmpty) {
      j.beginArr("explicitBounds"); r.explicit_bounds.foreach(j.dblElem); j.endArr()
    }
    stringAttrArr(j, "attributes", r.attrs)
    if (r.flags != 0) j.numField("flags", r.flags.toLong)
    if (r.has_min) j.dblField("min", r.min_v)
    if (r.has_max) j.dblField("max", r.max_v)
    j.endObj()
  }

  private def summaryPoint(j: J, r: OtlpMetricRow): Unit = {
    j.beginObj()
    if (r.unix_milli != 0L) j.longStrField("timeUnixNano", r.unix_milli * 1000000L)
    if (r.count != 0L) j.longStrField("count", r.count)
    j.dblField("sum", r.sum_v) // summary decode always sets has_sum
    if (nonNullSeq(r.quantiles).nonEmpty) {
      j.beginArr("quantileValues")
      r.quantiles.foreach { q =>
        j.beginObj()
        if (q.q != 0.0) j.dblField("quantile", q.q)
        if (q.v != 0.0) j.dblField("value", q.v)
        j.endObj()
      }
      j.endArr()
    }
    stringAttrArr(j, "attributes", r.attrs)
    if (r.flags != 0) j.numField("flags", r.flags.toLong)
    j.endObj()
  }

  private def expHistPoint(j: J, r: OtlpMetricRow): Unit = {
    j.beginObj()
    stringAttrArr(j, "attributes", r.attrs)
    if (r.unix_milli != 0L) j.longStrField("timeUnixNano", r.unix_milli * 1000000L)
    if (r.count != 0L) j.longStrField("count", r.count)
    if (r.has_sum) j.dblField("sum", r.sum_v)
    if (r.scale != 0) j.numField("scale", r.scale.toLong)
    if (r.zero_count != 0.0) j.longStrField("zeroCount", r.zero_count.toLong)
    def buckets(name: String, offset: Int, counts: Seq[Double]): Unit =
      if (offset != 0 || nonNullSeq(counts).nonEmpty) {
        j.key(name); j.beginObj()
        if (offset != 0) j.numField("offset", offset.toLong)
        if (nonNullSeq(counts).nonEmpty) {
          j.beginArr("bucketCounts")
          counts.foreach(c => j.longStrElem(c.toLong))
          j.endArr()
        }
        j.endObj()
      }
    buckets("positive", r.positive_offset, r.positive_counts)
    buckets("negative", r.negative_offset, r.negative_counts)
    if (r.flags != 0) j.numField("flags", r.flags.toLong)
    if (r.has_min) j.dblField("min", r.min_v)
    if (r.has_max) j.dblField("max", r.max_v)
    j.endObj()
  }

  private def metricObj(j: J, key: MetricKey, points: Seq[OtlpMetricRow]): Unit = {
    if (key.name.nonEmpty) j.strField("name", key.name)
    if (key.description.nonEmpty) j.strField("description", key.description)
    if (key.unit.nonEmpty) j.strField("unit", key.unit)
    val (dataName, withTemporality, point) = key.metricType match {
      case "Gauge" => ("gauge", false, numberPoint _)
      case "Sum" => ("sum", true, numberPoint _)
      case "Histogram" => ("histogram", true, histogramPoint _)
      case "ExponentialHistogram" => ("exponentialHistogram", true, expHistPoint _)
      case "Summary" => ("summary", false, summaryPoint _)
      case other => throw new IllegalArgumentException(s"unknown metric_type: $other")
    }
    j.key(dataName); j.beginObj()
    j.beginArr("dataPoints")
    points.foreach(point(j, _))
    j.endArr()
    if (withTemporality && temporalityNum(key.temporality) != 0)
      j.numField("aggregationTemporality", temporalityNum(key.temporality).toLong)
    if (key.metricType == "Sum" && key.isMonotonic) j.boolField("isMonotonic", key.isMonotonic)
    j.endObj()
  }

  /** Rows -> one `{"resourceMetrics":[...]}` document (pmetric
    * JSONMarshaler): resource -> scope (with ScopeMetrics schemaUrl) ->
    * metric identity.
    */
  def encodeMetricsJson(rows: Seq[OtlpMetricRow]): Array[Byte] =
    envelope(OtlpEnvelope.metrics(rows), "resourceMetrics", "scopeMetrics", "metrics") {
      case (j, (key, points)) => metricObj(j, key, points)
    }
}
