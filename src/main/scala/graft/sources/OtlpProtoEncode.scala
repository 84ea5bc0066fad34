package graft.sources

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
  * rows and rebuild the Resource -> Scope -> record nesting by grouping on
  * resource / scope identity in first-seen order, so
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
  private def scopeMsg(name: String, version: String,
      attrs: Map[String, String]): Writer = {
    val w = new Writer(64)
    if (orEmpty(name).nonEmpty) w.stringField(1, name)
    if (orEmpty(version).nonEmpty) w.stringField(2, version)
    nonNull(attrs).foreach { case (k, v) => w.msgField(3, kvString(k, v)) }
    w
  }

  // ---- generic Resource -> Scope -> record nesting -------------------------

  private type ScopeKey = (String, String, Map[String, String])

  /** Rebuild `ResourceX{resource=1, scope_x=2}` / `ScopeX{scope=1, records=2}`
    * nesting from flat rows, grouping by resource then scope identity in
    * first-seen order. `recordsField`/`scopeExtra` parameterize the small
    * differences between the three signals.
    */
  private def nest[R](rows: Seq[R],
      resourceOf: R => Map[String, String],
      scopeOf: R => ScopeKey,
      encodeRecord: R => Writer,
      scopeExtra: (Writer, R) => Unit = (_: Writer, _: R) => ()): Array[Byte] = {
    val byResource =
      new java.util.LinkedHashMap[Map[String, String],
        java.util.LinkedHashMap[ScopeKey, (scala.collection.mutable.ArrayBuffer[Writer], R)]]()
    rows.foreach { row =>
      val res = nonNull(resourceOf(row))
      val scopes = byResource.computeIfAbsent(res, _ => new java.util.LinkedHashMap())
      val key = scopeOf(row)
      val slot = scopes.get(key)
      if (slot == null)
        scopes.put(key, (scala.collection.mutable.ArrayBuffer(encodeRecord(row)), row))
      else slot._1 += encodeRecord(row)
    }
    val top = new Writer(1024)
    byResource.forEach { (res, scopes) =>
      val rl = new Writer(512)
      if (res.nonEmpty) rl.msgField(1, resourceMsg(res))
      scopes.forEach { (key, slot) =>
        val sl = new Writer(512)
        val (name, version, attrs) = key
        if (name.nonEmpty || version.nonEmpty || attrs.nonEmpty)
          sl.msgField(1, scopeMsg(name, version, attrs))
        slot._1.foreach(sl.msgField(2, _))
        scopeExtra(sl, slot._2)
        rl.msgField(2, sl)
      }
      top.msgField(1, rl)
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
    nest[OtlpRow](rows,
      r => r.resources_string,
      r => (orEmpty(r.scope_name), orEmpty(r.scope_version), nonNull(r.scope_string)),
      logRecordMsg)

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
    nest[OtlpSpanRow](rows,
      r => r.resources_string,
      r => (orEmpty(r.scope_name), orEmpty(r.scope_version), nonNull(r.scope_string)),
      spanMsg)

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

  private def temporalityNum(s: String): Int = s match {
    case "Delta" => 1
    case "Cumulative" => 2
    case _ => 0
  }

  /** Metric identity: all datapoint rows sharing it re-nest into one Metric
    * message with one data-oneof.
    */
  private type MetricKey = (String, String, String, String, String, Boolean)
  private def metricKey(r: OtlpMetricRow): MetricKey =
    (orEmpty(r.metric_name), orEmpty(r.description), orEmpty(r.unit),
      orEmpty(r.metric_type), orEmpty(r.temporality), r.is_monotonic)

  private def metricMsg(key: MetricKey, points: Seq[Writer]): Writer = {
    val (name, description, unit, metricType, temporality, isMonotonic) = key
    val w = new Writer(256)
    if (name.nonEmpty) w.stringField(1, name)
    if (description.nonEmpty) w.stringField(2, description)
    if (unit.nonEmpty) w.stringField(3, unit)
    val data = new Writer(256)
    points.foreach(data.msgField(1, _))
    val (dataField, withTemporality) = metricType match {
      case "Gauge" => (5, false)
      case "Sum" => (7, true)
      case "Histogram" => (9, true)
      case "ExponentialHistogram" => (10, true)
      case "Summary" => (11, false)
      case other => throw new IllegalArgumentException(s"unknown metric_type: $other")
    }
    if (withTemporality && temporalityNum(temporality) != 0)
      data.varintField(2, temporalityNum(temporality).toLong)
    if (metricType == "Sum" && isMonotonic) data.boolField(3, isMonotonic)
    w.msgField(dataField, data)
    w
  }

  private def pointMsg(r: OtlpMetricRow): Writer = r.shape match {
    case "scalar" => numberPointMsg(r)
    case "histogram" => histogramPointMsg(r)
    case "summary" => summaryPointMsg(r)
    case "exp_histogram" => expHistPointMsg(r)
    case other => throw new IllegalArgumentException(s"unknown shape: $other")
  }

  /** Rows -> one serialized MetricsData payload. Rows regroup by resource,
    * scope (incl. schema_url=3 on ScopeMetrics), then metric identity.
    */
  def encodeMetricsData(rows: Seq[OtlpMetricRow]): Array[Byte] = {
    // nest() handles resource+scope; the metric level needs its own grouping,
    // so group rows by (resource, scope) into per-scope metric maps first.
    type ScopeId = (Map[String, String], String, String, String, Map[String, String])
    val byScope = new java.util.LinkedHashMap[ScopeId,
      java.util.LinkedHashMap[MetricKey, scala.collection.mutable.ArrayBuffer[Writer]]]()
    rows.foreach { r =>
      val sid: ScopeId = (nonNull(r.resource_attrs), orEmpty(r.scope_name),
        orEmpty(r.scope_version), orEmpty(r.scope_schema_url), nonNull(r.scope_attrs))
      val metrics = byScope.computeIfAbsent(sid, _ => new java.util.LinkedHashMap())
      metrics.computeIfAbsent(metricKey(r),
        _ => scala.collection.mutable.ArrayBuffer.empty[Writer]) += pointMsg(r)
    }
    // regroup scopes under their resource, preserving first-seen order
    val byResource = new java.util.LinkedHashMap[Map[String, String],
      scala.collection.mutable.ArrayBuffer[(ScopeId,
        java.util.LinkedHashMap[MetricKey, scala.collection.mutable.ArrayBuffer[Writer]])]]()
    byScope.forEach { (sid, metrics) =>
      byResource.computeIfAbsent(sid._1,
        _ => scala.collection.mutable.ArrayBuffer.empty) += ((sid, metrics))
    }
    val top = new Writer(1024)
    byResource.forEach { (res, scopes) =>
      val rm = new Writer(512)
      if (res.nonEmpty) rm.msgField(1, resourceMsg(res))
      scopes.foreach { case ((_, name, version, schemaUrl, attrs), metrics) =>
        val sm = new Writer(512)
        if (name.nonEmpty || version.nonEmpty || attrs.nonEmpty)
          sm.msgField(1, scopeMsg(name, version, attrs))
        metrics.forEach { (key, points) => sm.msgField(2, metricMsg(key, points.toSeq)) }
        if (schemaUrl.nonEmpty) sm.stringField(3, schemaUrl)
        rm.msgField(2, sm)
      }
      top.msgField(1, rm)
    }
    top.toBytes
  }
}
