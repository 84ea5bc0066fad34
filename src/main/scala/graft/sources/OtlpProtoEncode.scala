package graft.sources

import graft.sources.OtlpEnvelope.{MetricKey, Scope, temporalityNum}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpRow, OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}
import graft.sources.ProtoWire.{Writer, hexToBytes, nonNull, nonNullSeq, orEmpty}

/** OTLP-protobuf ENCODING — the write half of [[OtlpProto]], used by the
  * Kafka exporter analogue (`exporter/signozkafkaexporter/pdata_marshaler.go`
  * `plog/ptrace/pmetric.ProtoMarshaler`, the exporter's DEFAULT `otlp_proto`
  * encoding, `marshaler.go:41-76`): one serialized
  * LogsData / TracesData / MetricsData payload per producer message.
  *
  * Field numbers are the same public opentelemetry-proto ones documented on
  * the decode side ([[OtlpProto.parseLogsData]] / [[OtlpProto.parseTracesData]]
  * / [[OtlpProto.parseMetricsData]] Scaladoc). proto3 semantics: zero /
  * empty fields are omitted. The encoders take the engine's flattened frame
  * rows and render the Resource -> Scope -> record nesting of
  * [[OtlpEnvelope]]'s first-seen grouping (the one [[OtlpJson]] renders), so
  * `parse*Data(encode*Data(rows))` returns exactly `rows` (order preserved
  * within each resource+scope group; the flatten order overall).
  *
  * Frame-level lossiness carried over (documented, test-asserted):
  *  - typed attr maps re-emit numbers as int_value when integral (the
  *    decoder folds as_int/int_value into the number map either way);
  *  - resource/scope attrs were force-stringified on decode and re-emit as
  *    string_value (sink semantics — the exporter only ever sees strings);
  *  - log bodies are always string_value (`kafka_exporter.go:131-157`
  *    normalizeLogData forces every body to a string before marshaling).
  */
object OtlpProtoEncode {

  // ---- AnyValue / attribute encoding ---------------------------------------

  private def avStringMsg(s: String): Writer = {
    val w = new Writer(s.length + 8)
    if (s.nonEmpty) w.stringField(1, s)
    w
  }

  private def kvString(k: String, v: String): Writer = {
    val w = new Writer(k.length + v.length + 16)
    w.stringField(1, k)
    w.msgField(2, avStringMsg(v))
    w
  }

  /** Attribute-list re-encode from the engine's typed split
    * (string / number / bool maps). Numbers that are exactly integral go
    * back as int_value — [[OtlpProto]] decodes as_int and as_double into the
    * same number map, so either direction round-trips; the int form is what
    * a Go SDK most commonly produced.
    */
  def attrFields(w: Writer, field: Int,
      strings: Map[String, String],
      numbers: Map[String, Double],
      bools: Map[String, Boolean]): Unit = {
    nonNull(strings).foreach { case (k, v) => w.msgField(field, kvString(k, v)) }
    nonNull(numbers).foreach { case (k, d) =>
      val kv = new Writer(k.length + 16)
      kv.stringField(1, k)
      val av = new Writer(12)
      if (d == scala.math.rint(d) && scala.math.abs(d) <= (1L << 53).toDouble)
        av.varintField(3, d.toLong)
      else av.doubleField(4, d)
      kv.msgField(2, av)
      w.msgField(field, kv)
    }
    nonNull(bools).foreach { case (k, b) =>
      val kv = new Writer(k.length + 8)
      kv.stringField(1, k)
      val av = new Writer(4)
      av.boolField(2, b)
      kv.msgField(2, av)
      w.msgField(field, kv)
    }
  }

  /** Resource{attributes=1} — all values strings (sink force-stringify). */
  private def resourceMsg(attrs: Map[String, String]): Writer = {
    val w = new Writer(64)
    nonNull(attrs).foreach { case (k, v) => w.msgField(1, kvString(k, v)) }
    w
  }

  /** InstrumentationScope{name=1, version=2, attributes=3}. */
  private def scopeMsg(scope: Scope): Writer = {
    val w = new Writer(64)
    if (scope.name.nonEmpty) w.stringField(1, scope.name)
    if (scope.version.nonEmpty) w.stringField(2, scope.version)
    scope.attrs.foreach { case (k, v) => w.msgField(3, kvString(k, v)) }
    w
  }

  /** Render [[OtlpEnvelope]]'s grouping as `XData{resource_x=1}` ->
    * `ResourceX{resource=1, scope_x=2}` -> `ScopeX{scope=1, records=2,
    * schema_url=3}`, each record encoded by `record`.
    */
  private def envelope[R](nested: OtlpEnvelope.Nested[R])(record: R => Writer): Array[Byte] = {
    val top = new Writer(1024)
    nested.foreach { case (res, scopes) =>
      val rx = new Writer(512)
      if (res.nonEmpty) rx.msgField(1, resourceMsg(res))
      scopes.foreach { case (scope, records) =>
        val sx = new Writer(512)
        if (scope.name.nonEmpty || scope.version.nonEmpty || scope.attrs.nonEmpty)
          sx.msgField(1, scopeMsg(scope))
        records.foreach(r => sx.msgField(2, record(r)))
        if (scope.schemaUrl.nonEmpty) sx.stringField(3, scope.schemaUrl)
        rx.msgField(2, sx)
      }
      top.msgField(1, rx)
    }
    top.toBytes
  }

  // ---- logs ----------------------------------------------------------------

  /** LogRecord (field numbers: [[OtlpProto.parseLogsData]] doc). */
  private def logRecordMsg(r: OtlpRow): Writer = {
    val w = new Writer(256)
    if (r.timestamp != 0L) w.fixed64Field(1, r.timestamp)
    if (r.severity_number != 0) w.varintField(2, r.severity_number.toLong)
    if (orEmpty(r.severity_text).nonEmpty) w.stringField(3, r.severity_text)
    if (orEmpty(r.body).nonEmpty) w.msgField(5, avStringMsg(r.body))
    attrFields(w, 6, r.attributes_string, r.attributes_number, r.attributes_bool)
    if (r.trace_flags != 0) w.fixed32Field(8, r.trace_flags)
    if (orEmpty(r.trace_id).nonEmpty) w.bytesField(9, hexToBytes(r.trace_id))
    if (orEmpty(r.span_id).nonEmpty) w.bytesField(10, hexToBytes(r.span_id))
    if (r.observed_timestamp != 0L) w.fixed64Field(11, r.observed_timestamp)
    w
  }

  /** Rows -> one serialized LogsData payload. */
  def encodeLogsData(rows: Seq[OtlpRow]): Array[Byte] =
    envelope(OtlpEnvelope.logs(rows))(logRecordMsg)

  // ---- traces --------------------------------------------------------------

  private def spanEventMsg(e: OtlpSpanEvent): Writer = {
    val w = new Writer(128)
    if (e.ts_ns != 0L) w.fixed64Field(1, e.ts_ns)
    if (orEmpty(e.name).nonEmpty) w.stringField(2, e.name)
    nonNull(e.attrs).foreach { case (k, v) => w.msgField(3, kvString(k, v)) }
    w
  }

  private def spanLinkMsg(l: OtlpSpanLink): Writer = {
    val w = new Writer(48)
    if (orEmpty(l.trace_id).nonEmpty) w.bytesField(1, hexToBytes(l.trace_id))
    if (orEmpty(l.span_id).nonEmpty) w.bytesField(2, hexToBytes(l.span_id))
    w
  }

  /** Span (field numbers: [[OtlpProto.parseTracesData]] doc). */
  private def spanMsg(r: OtlpSpanRow): Writer = {
    val w = new Writer(384)
    if (orEmpty(r.trace_id).nonEmpty) w.bytesField(1, hexToBytes(r.trace_id))
    if (orEmpty(r.span_id).nonEmpty) w.bytesField(2, hexToBytes(r.span_id))
    if (orEmpty(r.trace_state).nonEmpty) w.stringField(3, r.trace_state)
    if (orEmpty(r.parent_span_id).nonEmpty) w.bytesField(4, hexToBytes(r.parent_span_id))
    if (orEmpty(r.name).nonEmpty) w.stringField(5, r.name)
    if (r.kind != 0) w.varintField(6, r.kind.toLong)
    if (r.start_ts != 0L) w.fixed64Field(7, r.start_ts)
    if (r.end_ts != 0L) w.fixed64Field(8, r.end_ts)
    attrFields(w, 9, r.attributes_string, r.attributes_number, r.attributes_bool)
    nonNullSeq(r.events).foreach(e => w.msgField(11, spanEventMsg(e)))
    nonNullSeq(r.links).foreach(l => w.msgField(13, spanLinkMsg(l)))
    if (r.status_code != 0 || orEmpty(r.status_message).nonEmpty) {
      val st = new Writer(32)
      if (orEmpty(r.status_message).nonEmpty) st.stringField(2, r.status_message)
      if (r.status_code != 0) st.varintField(3, r.status_code.toLong)
      w.msgField(15, st)
    }
    if (r.flags != 0) w.fixed32Field(16, r.flags)
    w
  }

  /** Rows -> one serialized TracesData payload. */
  def encodeTracesData(rows: Seq[OtlpSpanRow]): Array[Byte] =
    envelope(OtlpEnvelope.spans(rows))(spanMsg)

  // ---- metrics -------------------------------------------------------------

  private def stringAttrFields(w: Writer, field: Int, m: Map[String, String]): Unit =
    nonNull(m).foreach { case (k, v) => w.msgField(field, kvString(k, v)) }

  private def numberPointMsg(r: OtlpMetricRow): Writer = {
    val w = new Writer(96)
    if (r.unix_milli != 0L) w.fixed64Field(3, r.unix_milli * 1000000L)
    // always as_double: the decoder folds as_int/as_double into one double
    w.doubleField(4, r.value)
    stringAttrFields(w, 7, r.attrs)
    if (r.flags != 0) w.varintField(8, r.flags.toLong)
    w
  }

  private def histogramPointMsg(r: OtlpMetricRow): Writer = {
    val w = new Writer(192)
    if (r.unix_milli != 0L) w.fixed64Field(3, r.unix_milli * 1000000L)
    if (r.count != 0L) w.fixed64Field(4, r.count)
    if (r.has_sum) w.doubleField(5, r.sum_v)
    if (nonNullSeq(r.bucket_counts).nonEmpty) w.packedFixed64Field(6, r.bucket_counts)
    if (nonNullSeq(r.explicit_bounds).nonEmpty) w.packedDoubleField(7, r.explicit_bounds)
    stringAttrFields(w, 9, r.attrs)
    if (r.flags != 0) w.varintField(10, r.flags.toLong)
    if (r.has_min) w.doubleField(11, r.min_v)
    if (r.has_max) w.doubleField(12, r.max_v)
    w
  }

  private def summaryPointMsg(r: OtlpMetricRow): Writer = {
    val w = new Writer(160)
    if (r.unix_milli != 0L) w.fixed64Field(3, r.unix_milli * 1000000L)
    if (r.count != 0L) w.fixed64Field(4, r.count)
    w.doubleField(5, r.sum_v) // summary decode always sets has_sum
    nonNullSeq(r.quantiles).foreach { q =>
      val qw = new Writer(24)
      qw.doubleField(1, q.q)
      qw.doubleField(2, q.v)
      w.msgField(6, qw)
    }
    stringAttrFields(w, 7, r.attrs)
    if (r.flags != 0) w.varintField(8, r.flags.toLong)
    w
  }

  private def expHistPointMsg(r: OtlpMetricRow): Writer = {
    val w = new Writer(192)
    stringAttrFields(w, 1, r.attrs)
    if (r.unix_milli != 0L) w.fixed64Field(3, r.unix_milli * 1000000L)
    if (r.count != 0L) w.fixed64Field(4, r.count)
    if (r.has_sum) w.doubleField(5, r.sum_v)
    if (r.scale != 0) w.sint32Field(6, r.scale)
    if (r.zero_count != 0.0) w.fixed64Field(7, r.zero_count.toLong)
    def buckets(field: Int, offset: Int, counts: Seq[Double]): Unit =
      if (offset != 0 || nonNullSeq(counts).nonEmpty) {
        val b = new Writer(64)
        if (offset != 0) b.sint32Field(1, offset)
        if (nonNullSeq(counts).nonEmpty) b.packedVarintField(2, counts.map(_.toLong))
        w.msgField(field, b)
      }
    buckets(8, r.positive_offset, r.positive_counts)
    buckets(9, r.negative_offset, r.negative_counts)
    if (r.flags != 0) w.varintField(10, r.flags.toLong)
    if (r.has_min) w.doubleField(12, r.min_v)
    if (r.has_max) w.doubleField(13, r.max_v)
    w
  }

  private def metricMsg(key: MetricKey, points: Seq[OtlpMetricRow]): Writer = {
    val w = new Writer(256)
    if (key.name.nonEmpty) w.stringField(1, key.name)
    if (key.description.nonEmpty) w.stringField(2, key.description)
    if (key.unit.nonEmpty) w.stringField(3, key.unit)
    val (dataField, withTemporality, pointMsg) = key.metricType match {
      case "Gauge" => (5, false, numberPointMsg _)
      case "Sum" => (7, true, numberPointMsg _)
      case "Histogram" => (9, true, histogramPointMsg _)
      case "ExponentialHistogram" => (10, true, expHistPointMsg _)
      case "Summary" => (11, false, summaryPointMsg _)
      case other => throw new IllegalArgumentException(s"unknown metric_type: $other")
    }
    val data = new Writer(256)
    points.foreach(p => data.msgField(1, pointMsg(p)))
    if (withTemporality && temporalityNum(key.temporality) != 0)
      data.varintField(2, temporalityNum(key.temporality).toLong)
    if (key.metricType == "Sum" && key.isMonotonic) data.boolField(3, key.isMonotonic)
    w.msgField(dataField, data)
    w
  }

  /** Rows -> one serialized MetricsData payload: resource -> scope (with
    * schema_url=3 on ScopeMetrics) -> metric identity.
    */
  def encodeMetricsData(rows: Seq[OtlpMetricRow]): Array[Byte] =
    envelope(OtlpEnvelope.metrics(rows)) { case (key, points) => metricMsg(key, points) }
}
