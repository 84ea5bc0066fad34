package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.functions.GoFloat
import graft.model.LogFrames
import graft.sources.OtlpEnvelope.{Scope, decodeMessages}
import graft.sources.ProtoWire.{Reader, idHex}

/** OTLP-protobuf logs decoding — the Kafka receiver's DEFAULT logs encoding
  * (`receiver/signozkafkareceiver/unmarshaler.go:75-84` `otlp_proto` ->
  * `plog.ProtoUnmarshaler`, `pdata_unmarshaler.go:17-19`): each message value
  * is a serialized `LogsData` / `ExportLogsServiceRequest` (identical wire
  * layout: `repeated ResourceLogs resource_logs = 1`), unpacked three levels
  * deep (ResourceLogs -> ScopeLogs -> LogRecord) into LogRow columns with
  * the engine's typed-attribute split and force-stringified resource attrs.
  *
  * The message walk below reads through [[ProtoWire.Reader]] and follows
  * the public OTLP proto definitions (opentelemetry-proto
  * `logs/v1/logs.proto`, `common/v1/common.proto`) — no generated code, no
  * external deps. Unknown fields are skipped by wire type (forward
  * compatible). Field numbers:
  *
  *  - LogsData: resource_logs=1
  *  - ResourceLogs: resource=1, scope_logs=2, schema_url=3
  *  - Resource: attributes=1, dropped=2
  *  - ScopeLogs: scope=1, log_records=2, schema_url=3
  *  - InstrumentationScope: name=1, version=2, attributes=3
  *  - LogRecord: time_unix_nano=1 (fixed64), severity_number=2 (varint),
  *    severity_text=3, body=5 (AnyValue), attributes=6, dropped=7,
  *    flags=8 (fixed32), trace_id=9 (bytes), span_id=10 (bytes),
  *    observed_time_unix_nano=11 (fixed64)
  *  - AnyValue oneof: string=1, bool=2 (varint), int=3 (varint),
  *    double=4 (fixed64), array=5, kvlist=6, bytes=7
  *  - KeyValue: key=1, value=2 (AnyValue); ArrayValue: values=1;
  *    KeyValueList: values=1 (KeyValue)
  *
  * The three signals share one envelope walk (`walk`: XData -> ResourceX
  * -> ScopeX) and differ only in their record parsers. Decoding runs in
  * [[OtlpEnvelope.decodeMessages]], a typed Dataset `flatMap` (per-message
  * imperative parse over binary payloads — the one shape Catalyst
  * expressions don't fit);
  * everything downstream of the adapter is back in codegen land. At scale
  * the cost is one pass over the message bytes per record, embarrassingly
  * parallel over Kafka partitions.
  */
object OtlpProto {

  /** One decoded LogRecord, named to line up with [[graft.model.LogRow]]
    * (missing columns get LogFrames.withDefaults' neutral values).
    */
  final case class OtlpRow(
      timestamp: Long,
      observed_timestamp: Long,
      severity_number: Int,
      severity_text: String,
      body: String,
      attributes_string: Map[String, String],
      attributes_number: Map[String, Double],
      attributes_bool: Map[String, Boolean],
      resources_string: Map[String, String],
      trace_id: String,
      span_id: String,
      trace_flags: Int,
      scope_name: String,
      scope_version: String,
      scope_string: Map[String, String])

  // ---- AnyValue ------------------------------------------------------------

  private sealed trait AV
  private case class AVStr(s: String) extends AV
  private case class AVBool(b: Boolean) extends AV
  private case class AVInt(l: Long) extends AV
  private case class AVDouble(d: Double) extends AV
  private case class AVBytes(b: Array[Byte]) extends AV
  private case class AVArr(vs: List[AV]) extends AV
  private case class AVKv(vs: List[(String, AV)]) extends AV
  private case object AVEmpty extends AV

  /** Deepest AnyValue nesting (arrays and kvlists) the decoder accepts. The
    * parse and the rendering below recurse once per level, so a deeper value
    * would overflow a thread stack (about 1.5k levels on a 1 MiB stack);
    * past the bound the message fails to decode like any malformed payload
    * and the receiver adapter drops it. Go's growable stacks let the
    * reference decode any depth; real attribute values nest a few levels.
    */
  val MaxAnyValueDepth = 100

  private def parseAnyValue(r: Reader, depth: Int): AV = {
    require(depth <= MaxAnyValueDepth,
      s"AnyValue nested deeper than $MaxAnyValueDepth levels")
    var out: AV = AVEmpty
    while (r.hasMore) {
      val tag = r.readVarint()
      val field = (tag >> 3).toInt
      val wire = (tag & 7).toInt
      field match {
        case 1 => out = AVStr(r.readString())
        case 2 => out = AVBool(r.readVarint() != 0L)
        case 3 => out = AVInt(r.readVarint())
        case 4 => out = AVDouble(r.readDouble())
        case 5 => // ArrayValue{values=1}
          val a = r.readSlice()
          val vs = scala.collection.mutable.ListBuffer.empty[AV]
          while (a.hasMore) {
            val t2 = a.readVarint()
            if ((t2 >> 3).toInt == 1) vs += parseAnyValue(a.readSlice(), depth + 1)
            else a.skip((t2 & 7).toInt)
          }
          out = AVArr(vs.toList)
        case 6 => // KeyValueList{values=1}
          val k = r.readSlice()
          val vs = scala.collection.mutable.ListBuffer.empty[(String, AV)]
          while (k.hasMore) {
            val t2 = k.readVarint()
            if ((t2 >> 3).toInt == 1) vs += parseKeyValue(k.readSlice(), depth + 1)
            else k.skip((t2 & 7).toInt)
          }
          out = AVKv(vs.toList)
        case 7 => out = AVBytes(r.readBytes())
        case _ => r.skip(wire)
      }
    }
    out
  }

  /** KeyValue{key=1, value=2}; `depth` is the value's nesting level. */
  private def parseKeyValue(r: Reader, depth: Int = 1): (String, AV) = {
    var key = ""
    var v: AV = AVEmpty
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => key = r.readString()
        case 2 => v = parseAnyValue(r.readSlice(), depth)
        case _ => r.skip((tag & 7).toInt)
      }
    }
    (key, v)
  }

  /** Stringify an AnyValue the way pdata's `Value.AsString` does (body,
    * resource and scope values, non-scalar attributes): a double through
    * `strconv.FormatFloat(f, 'f', -1, 64)`, which is [[GoFloat.fixed]]
    * (SURVEY rows 294 and 353); arrays and kvlists as compact JSON with the
    * exporter's canonical escaping, their doubles as `json.Marshal` prints
    * them ([[GoFloat.json]], `null` for NaN and ±Inf); bytes base64.
    */
  private def avToString(v: AV): String = v match {
    case AVStr(s) => s
    case AVBool(b) => if (b) "true" else "false"
    case AVInt(l) => java.lang.Long.toString(l)
    case AVDouble(d) => GoFloat.fixed(d)
    case AVBytes(b) => java.util.Base64.getEncoder.encodeToString(b)
    case AVArr(vs) => vs.map(avToJson).mkString("[", ",", "]")
    case AVKv(vs) => vs.map { case (k, x) =>
      graft.functions.JsonCanon.quote(k) + ":" + avToJson(x)
    }.mkString("{", ",", "}")
    case AVEmpty => ""
  }

  private def avToJson(v: AV): String = v match {
    case AVStr(s) => graft.functions.JsonCanon.quote(s)
    case AVBool(b) => if (b) "true" else "false"
    case AVInt(l) => java.lang.Long.toString(l)
    case AVDouble(d) => Option(GoFloat.json(d)).getOrElse("null")
    case AVBytes(b) =>
      graft.functions.JsonCanon.quote(java.util.Base64.getEncoder.encodeToString(b))
    case AVArr(_) | AVKv(_) => avToString(v)
    case AVEmpty => "null"
  }

  /** Typed-map split of an attribute list (the exporter's own rule,
    * `exporter/clickhouselogsexporter/exporter.go:1007-1031`: Str->string,
    * Int/Double->number, Bool->bool, everything else stringified).
    */
  private def splitAttrs(attrs: List[(String, AV)])
      : (Map[String, String], Map[String, Double], Map[String, Boolean]) = {
    val s = Map.newBuilder[String, String]
    val n = Map.newBuilder[String, Double]
    val b = Map.newBuilder[String, Boolean]
    attrs.foreach {
      case (k, AVStr(v)) => s += k -> v
      case (k, AVInt(v)) => n += k -> v.toDouble
      case (k, AVDouble(v)) => n += k -> v
      case (k, AVBool(v)) => b += k -> v
      case (k, other) => s += k -> avToString(other)
    }
    (s.result(), n.result(), b.result())
  }

  /** KeyValue with its value rendered AsString (resource, scope, span event
    * and datapoint attributes).
    */
  private def stringKeyValue(r: Reader): (String, String) = {
    val (k, v) = parseKeyValue(r)
    k -> avToString(v)
  }

  /** Resource{attributes=1}, force-stringified as the sink sees it. */
  private def readResource(r: Reader): Map[String, String] = {
    var attrs = Map.empty[String, String]
    while (r.hasMore) {
      val tag = r.readVarint()
      if ((tag >> 3).toInt == 1) attrs += stringKeyValue(r.readSlice())
      else r.skip((tag & 7).toInt)
    }
    attrs
  }

  // ---- message walk --------------------------------------------------------

  /** The envelope walk every signal shares: `XData{resource_x=1}` ->
    * `ResourceX{resource=1, scope_x=2}` -> `ScopeX{scope=1, records=2,
    * schema_url=3}`. Each record slice goes to the signal's own parser with
    * its resource (force-stringified, as the sink sees it) and [[Scope]].
    * A ResourceX or ScopeX is read to its end before its records are
    * parsed, so fields after the records still apply to them. Malformed
    * payloads raise (the receiver's unmarshal-error path; the adapters
    * drop the message).
    */
  private def walk[T](bytes: Array[Byte])(
      record: (Reader, Map[String, String], Scope) => IterableOnce[T]): Seq[T] = {
    if (bytes == null || bytes.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.readVarint()
      if ((tag >> 3).toInt == 1) {
        val rx = top.readSlice()
        var resource = Map.empty[String, String]
        val scopeSlices = scala.collection.mutable.ListBuffer.empty[Reader]
        while (rx.hasMore) {
          val t = rx.readVarint()
          (t >> 3).toInt match {
            case 1 => resource = readResource(rx.readSlice())
            case 2 => scopeSlices += rx.readSlice()
            case _ => rx.skip((t & 7).toInt)
          }
        }
        scopeSlices.foreach { sx =>
          val (scope, records) = readScopeX(sx)
          records.foreach(out ++= record(_, resource, scope))
        }
      } else top.skip((tag & 7).toInt)
    }
    out.toSeq
  }

  /** ScopeX{scope=1, records=2, schema_url=3} -> its scope and record
    * slices.
    */
  private def readScopeX(r: Reader): (Scope, Seq[Reader]) = {
    var name = ""
    var version = ""
    var attrs = Map.empty[String, String]
    var schemaUrl = ""
    val records = scala.collection.mutable.ListBuffer.empty[Reader]
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => // InstrumentationScope{name=1, version=2, attributes=3}
          val s = r.readSlice()
          while (s.hasMore) {
            val t2 = s.readVarint()
            (t2 >> 3).toInt match {
              case 1 => name = s.readString()
              case 2 => version = s.readString()
              case 3 => attrs += stringKeyValue(s.readSlice())
              case _ => s.skip((t2 & 7).toInt)
            }
          }
        case 2 => records += r.readSlice()
        case 3 => schemaUrl = r.readString()
        case _ => r.skip((tag & 7).toInt)
      }
    }
    (Scope(name, version, attrs, schemaUrl), records.toSeq)
  }

  /** Parse one serialized LogsData / ExportLogsServiceRequest into rows.
    * Malformed payloads raise (the receiver's unmarshal-error path;
    * [[OtlpEnvelope.decodeMessages]] drops such a message).
    */
  def parseLogsData(bytes: Array[Byte]): Seq[OtlpRow] =
    walk(bytes)((r, resource, scope) => Iterator.single(parseLogRecord(r, resource, scope)))

  private def parseLogRecord(r: Reader, resource: Map[String, String],
      scope: Scope): OtlpRow = {
    var ts = 0L
    var ots = 0L
    var sevNum = 0
    var sevText = ""
    var body = ""
    var attrs: List[(String, AV)] = Nil
    var flags = 0
    var traceId = ""
    var spanId = ""
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 1 => ts = r.readFixed64()
        case 2 => sevNum = r.readVarint().toInt
        case 3 => sevText = r.readString()
        case 5 => body = avToString(parseAnyValue(r.readSlice(), 1))
        case 6 => attrs = attrs :+ parseKeyValue(r.readSlice())
        case 8 => flags = r.readFixed32()
        case 9 => traceId = idHex(r.readBytes())
        case 10 => spanId = idHex(r.readBytes())
        case 11 => ots = r.readFixed64()
        case _ => r.skip(wire)
      }
    }
    val (as, an, ab) = splitAttrs(attrs)
    OtlpRow(ts, ots, sevNum, sevText, body, as, an, ab, resource,
      traceId, spanId, flags, scope.name, scope.version, scope.attrs)
  }

  // ---- DataFrame adapter ---------------------------------------------------

  /** Binary column of OTLP-protobuf logs payloads -> LogRow frame.
    * Undecodable messages are dropped (the receiver increments an error
    * metric and continues; here the drop is the deterministic equivalent).
    */
  def fromOtlpProto(df: DataFrame, valueCol: Column): DataFrame =
    LogFrames.withDefaults(decodeMessages(df, valueCol)(parseLogsData))

  /** Convenience for [[LogSources.fromKafka]]. */
  def fromKafka(df: DataFrame): DataFrame = fromOtlpProto(df, col("value"))

  // ---- traces (TracesData / ExportTraceServiceRequest) ---------------------

  /** One decoded Span, named to line up with [[graft.model.SpanFrames]]
    * (missing columns get SpanFrames.withDefaults' neutral values). Events
    * carry stringified attrs (the traces exporter JSONs them,
    * SpanKernels events column); links keep ids only (the exporter
    * hardcodes the FOLLOWS_FROM ref type, see SpanSchema).
    */
  final case class OtlpSpanRow(
      start_ts: Long,
      end_ts: Long,
      trace_id: String,
      span_id: String,
      parent_span_id: String,
      trace_state: String,
      flags: Int,
      name: String,
      kind: Int,
      status_code: Int,
      status_message: String,
      attributes_string: Map[String, String],
      attributes_number: Map[String, Double],
      attributes_bool: Map[String, Boolean],
      resources_string: Map[String, String],
      scope_name: String,
      scope_version: String,
      scope_string: Map[String, String],
      events: Seq[OtlpSpanEvent],
      links: Seq[OtlpSpanLink])

  final case class OtlpSpanEvent(name: String, ts_ns: Long,
      attrs: Map[String, String])
  final case class OtlpSpanLink(trace_id: String, span_id: String)

  /** Parse one serialized TracesData / ExportTraceServiceRequest (identical
    * wire layout: `repeated ResourceSpans resource_spans = 1`) — the Kafka
    * receiver's default traces encoding (`unmarshaler.go:53-62` `otlp_proto`
    * -> `ptrace.ProtoUnmarshaler`). Field numbers from the public
    * opentelemetry-proto `trace/v1/trace.proto`:
    *
    *  - TracesData: resource_spans=1
    *  - ResourceSpans: resource=1, scope_spans=2, schema_url=3
    *  - ScopeSpans: scope=1, spans=2, schema_url=3
    *  - Span: trace_id=1 (bytes), span_id=2 (bytes), trace_state=3,
    *    parent_span_id=4 (bytes), name=5, kind=6 (varint),
    *    start_time_unix_nano=7 (fixed64), end_time_unix_nano=8 (fixed64),
    *    attributes=9, dropped=10, events=11, dropped_events=12, links=13,
    *    dropped_links=14, status=15, flags=16 (fixed32)
    *  - Span.Event: time_unix_nano=1 (fixed64), name=2, attributes=3
    *  - Span.Link: trace_id=1, span_id=2, trace_state=3, attributes=4,
    *    dropped=5, flags=6 (fixed32)
    *  - Status: message=2, code=3 (varint; field 1 is the deprecated code)
    *
    * All-zero ids map to "" (`utils.TraceIDToHexOrEmptyString` /
    * `SpanIDToHexOrEmptyString` parity).
    */
  def parseTracesData(bytes: Array[Byte]): Seq[OtlpSpanRow] =
    walk(bytes)((r, resource, scope) => Iterator.single(parseSpan(r, resource, scope)))

  private def parseSpanEvent(r: Reader): OtlpSpanEvent = {
    var ts = 0L
    var name = ""
    var attrs = Map.empty[String, String]
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => ts = r.readFixed64()
        case 2 => name = r.readString()
        case 3 => attrs += stringKeyValue(r.readSlice())
        case _ => r.skip((tag & 7).toInt)
      }
    }
    OtlpSpanEvent(name, ts, attrs)
  }

  private def parseSpanLink(r: Reader): OtlpSpanLink = {
    var traceId = ""
    var spanId = ""
    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => traceId = idHex(r.readBytes())
        case 2 => spanId = idHex(r.readBytes())
        case _ => r.skip((tag & 7).toInt)
      }
    }
    OtlpSpanLink(traceId, spanId)
  }

  private def parseSpan(r: Reader, resource: Map[String, String],
      scope: Scope): OtlpSpanRow = {
    var traceId = ""
    var spanId = ""
    var parentId = ""
    var traceState = ""
    var name = ""
    var kind = 0
    var startTs = 0L
    var endTs = 0L
    var attrs: List[(String, AV)] = Nil
    var statusCode = 0
    var statusMessage = ""
    var flags = 0
    val events = scala.collection.mutable.ListBuffer.empty[OtlpSpanEvent]
    val links = scala.collection.mutable.ListBuffer.empty[OtlpSpanLink]
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 1 => traceId = idHex(r.readBytes())
        case 2 => spanId = idHex(r.readBytes())
        case 3 => traceState = r.readString()
        case 4 => parentId = idHex(r.readBytes())
        case 5 => name = r.readString()
        case 6 => kind = r.readVarint().toInt
        case 7 => startTs = r.readFixed64()
        case 8 => endTs = r.readFixed64()
        case 9 => attrs = attrs :+ parseKeyValue(r.readSlice())
        case 11 => events += parseSpanEvent(r.readSlice())
        case 13 => links += parseSpanLink(r.readSlice())
        case 15 =>
          val s = r.readSlice()
          while (s.hasMore) {
            val t2 = s.readVarint()
            (t2 >> 3).toInt match {
              case 2 => statusMessage = s.readString()
              case 3 => statusCode = s.readVarint().toInt
              case _ => s.skip((t2 & 7).toInt)
            }
          }
        case 16 => flags = r.readFixed32()
        case _ => r.skip(wire)
      }
    }
    val (as, an, ab) = splitAttrs(attrs)
    OtlpSpanRow(startTs, endTs, traceId, spanId, parentId, traceState, flags,
      name, kind, statusCode, statusMessage, as, an, ab, resource,
      scope.name, scope.version, scope.attrs, events.toSeq, links.toSeq)
  }

  /** Binary column of OTLP-protobuf traces payloads -> SpanFrames frame,
    * ready for [[graft.pipeline.TraceExporter.spansV3]]. Undecodable
    * messages are dropped (receiver error-metric parity, as in
    * [[fromOtlpProto]]).
    */
  def fromOtlpProtoSpans(df: DataFrame, valueCol: Column): DataFrame =
    graft.model.SpanFrames.withDefaults(decodeMessages(df, valueCol)(parseTracesData))

  /** Kafka traces topic (default `otlp_proto` encoding) -> span frame. */
  def fromKafkaSpans(df: DataFrame): DataFrame =
    fromOtlpProtoSpans(df, col("value"))

  // ---- metrics (MetricsData / ExportMetricsServiceRequest) -----------------

  /** One decoded datapoint, named to line up with
    * [[graft.model.MetricFrames]]; `shape` selects which frame family the
    * row belongs to (scalar / histogram / summary / exp_histogram) and the
    * unused extras keep their frame-default values. Attribute values are
    * `pcommon.Value.AsString`-rendered, matching what the fingerprint/label
    * layer consumes (exporter.go:1110-1125).
    */
  final case class OtlpMetricRow(
      shape: String,
      metric_name: String,
      description: String,
      unit: String,
      metric_type: String,
      temporality: String,
      is_monotonic: Boolean,
      unix_milli: Long,
      value: Double,
      flags: Int,
      attrs: Map[String, String],
      scope_name: String,
      scope_version: String,
      scope_schema_url: String,
      scope_attrs: Map[String, String],
      resource_attrs: Map[String, String],
      count: Long,
      sum_v: Double,
      min_v: Double,
      max_v: Double,
      has_sum: Boolean,
      has_min: Boolean,
      has_max: Boolean,
      explicit_bounds: Seq[Double],
      bucket_counts: Seq[Long],
      quantiles: Seq[OtlpQuantile],
      scale: Int,
      zero_count: Double,
      positive_offset: Int,
      positive_counts: Seq[Double],
      negative_offset: Int,
      negative_counts: Seq[Double])

  /** Field names match [[graft.model.MetricFrames.quantileType]]. */
  final case class OtlpQuantile(q: Double, v: Double)

  private def temporalityString(v: Int): String = v match {
    case 1 => "Delta"
    case 2 => "Cumulative"
    case _ => "Unspecified"
  }

  /** Parse one serialized MetricsData / ExportMetricsServiceRequest — the
    * Kafka receiver's default metrics encoding (`unmarshaler.go:64-73`
    * `otlp_proto` -> `pmetric.ProtoUnmarshaler`). Field numbers from the
    * public opentelemetry-proto `metrics/v1/metrics.proto`:
    *
    *  - MetricsData: resource_metrics=1; ResourceMetrics: resource=1,
    *    scope_metrics=2; ScopeMetrics: scope=1, metrics=2, schema_url=3
    *  - Metric: name=1, description=2, unit=3; oneof data: gauge=5, sum=7,
    *    histogram=9, exponential_histogram=10, summary=11
    *  - Gauge: data_points=1; Sum: data_points=1, temporality=2 (varint),
    *    is_monotonic=3; Histogram/ExponentialHistogram: data_points=1,
    *    temporality=2; Summary: data_points=1
    *  - NumberDataPoint: start=2, time=3 (fixed64), as_double=4 (fixed64),
    *    exemplars=5, as_int=6 (sfixed64), attributes=7, flags=8
    *  - HistogramDataPoint: start=2, time=3, count=4 (fixed64), sum=5
    *    (fixed64 double, optional), bucket_counts=6 (packed fixed64),
    *    explicit_bounds=7 (packed double), attributes=9, flags=10,
    *    min=11, max=12 (optional doubles)
    *  - ExponentialHistogramDataPoint: attributes=1, start=2, time=3,
    *    count=4, sum=5, scale=6 (SIGN-ZIGZAG sint32), zero_count=7
    *    (fixed64), positive=8, negative=9 (Buckets: offset=1 sint32,
    *    bucket_counts=2 packed varint), flags=10, min=12, max=13
    *  - SummaryDataPoint: start=2, time=3, count=4, sum=5, quantile_values=6
    *    (ValueAtQuantile: quantile=1, value=2 — fixed64 doubles),
    *    attributes=7, flags=8
    *
    * One output row per datapoint; `unix_milli` = time_unix_nano/1e6 and
    * type/temporality render as the pmetric enum strings the exporter
    * consumes ("Gauge"/"Sum"/..., "Delta"/"Cumulative"/"Unspecified").
    */
  def parseMetricsData(bytes: Array[Byte]): Seq[OtlpMetricRow] =
    walk(bytes)(parseMetric)

  /** Shared identity for every datapoint row of one Metric. */
  private final case class MetricCtx(
      name: String, description: String, unit: String, metricType: String,
      temporality: String, isMonotonic: Boolean,
      resource: Map[String, String], scope: Scope)

  private def baseRow(c: MetricCtx, shape: String, timeNano: Long,
      flags: Int, attrs: Map[String, String]): OtlpMetricRow =
    OtlpMetricRow(shape, c.name, c.description, c.unit, c.metricType,
      c.temporality, c.isMonotonic, timeNano / 1000000L, 0.0, flags, attrs,
      c.scope.name, c.scope.version, c.scope.schemaUrl, c.scope.attrs, c.resource,
      count = 0L, sum_v = 0.0, min_v = 0.0, max_v = 0.0,
      has_sum = false, has_min = false, has_max = false,
      explicit_bounds = Nil, bucket_counts = Nil, quantiles = Nil,
      scale = 0, zero_count = 0.0, positive_offset = 0, positive_counts = Nil,
      negative_offset = 0, negative_counts = Nil)

  /** One Metric -> one row per datapoint (none for a Metric without data). */
  private def parseMetric(r: Reader, resource: Map[String, String],
      scope: Scope): Seq[OtlpMetricRow] = {
    var name = ""
    var description = ""
    var unit = ""
    // the data oneof: remember which field arrived + its point slices
    var metricType = ""
    var temporality = "Unspecified"
    var isMonotonic = false
    val points = scala.collection.mutable.ListBuffer.empty[Reader]

    def parseDataMsg(s: Reader, typ: String): Unit = {
      metricType = typ
      while (s.hasMore) {
        val t2 = s.readVarint()
        (t2 >> 3).toInt match {
          case 1 => points += s.readSlice()
          case 2 if typ != "Gauge" && typ != "Summary" =>
            temporality = temporalityString(s.readVarint().toInt)
          case 3 if typ == "Sum" => isMonotonic = s.readVarint() != 0
          case _ => s.skip((t2 & 7).toInt)
        }
      }
    }

    while (r.hasMore) {
      val tag = r.readVarint()
      (tag >> 3).toInt match {
        case 1 => name = r.readString()
        case 2 => description = r.readString()
        case 3 => unit = r.readString()
        case 5 => parseDataMsg(r.readSlice(), "Gauge")
        case 7 => parseDataMsg(r.readSlice(), "Sum")
        case 9 => parseDataMsg(r.readSlice(), "Histogram")
        case 10 => parseDataMsg(r.readSlice(), "ExponentialHistogram")
        case 11 => parseDataMsg(r.readSlice(), "Summary")
        case _ => r.skip((tag & 7).toInt)
      }
    }
    if (metricType.isEmpty) return Nil
    val ctx = MetricCtx(name, description, unit, metricType, temporality,
      isMonotonic, resource, scope)
    val parsePoint: Reader => OtlpMetricRow = metricType match {
      case "Gauge" | "Sum" => parseNumberPoint(_, ctx)
      case "Histogram" => parseHistogramPoint(_, ctx)
      case "Summary" => parseSummaryPoint(_, ctx)
      case "ExponentialHistogram" => parseExpHistPoint(_, ctx)
    }
    points.map(parsePoint).toSeq
  }

  private def parseNumberPoint(r: Reader, c: MetricCtx): OtlpMetricRow = {
    var time = 0L
    var value = 0.0
    var flags = 0
    var attrs = Map.empty[String, String]
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 3 => time = r.readFixed64()
        case 4 => value = r.readDouble()
        case 6 => value = r.readFixed64().toDouble // sfixed64 as_int
        case 7 => attrs += stringKeyValue(r.readSlice())
        case 8 => flags = r.readVarint().toInt
        case _ => r.skip(wire)
      }
    }
    baseRow(c, "scalar", time, flags, attrs).copy(value = value)
  }

  private def parseHistogramPoint(r: Reader, c: MetricCtx): OtlpMetricRow = {
    var time = 0L
    var count = 0L
    var sum = 0.0
    var hasSum = false
    var min = 0.0
    var hasMin = false
    var max = 0.0
    var hasMax = false
    var flags = 0
    var attrs = Map.empty[String, String]
    val buckets = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 3 => time = r.readFixed64()
        case 4 => count = r.readFixed64()
        case 5 => sum = r.readDouble(); hasSum = true
        case 6 => r.readRepeatedFixed64(wire, buckets)
        case 7 => r.readRepeatedFixed64(wire, bounds)
        case 9 => attrs += stringKeyValue(r.readSlice())
        case 10 => flags = r.readVarint().toInt
        case 11 => min = r.readDouble(); hasMin = true
        case 12 => max = r.readDouble(); hasMax = true
        case _ => r.skip(wire)
      }
    }
    baseRow(c, "histogram", time, flags, attrs).copy(
      count = count, sum_v = sum, min_v = min, max_v = max,
      has_sum = hasSum, has_min = hasMin, has_max = hasMax,
      explicit_bounds = bounds.map(java.lang.Double.longBitsToDouble).toSeq,
      bucket_counts = buckets.toSeq)
  }

  private def parseSummaryPoint(r: Reader, c: MetricCtx): OtlpMetricRow = {
    var time = 0L
    var count = 0L
    var sum = 0.0
    var flags = 0
    var attrs = Map.empty[String, String]
    val qs = scala.collection.mutable.ListBuffer.empty[OtlpQuantile]
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 3 => time = r.readFixed64()
        case 4 => count = r.readFixed64()
        case 5 => sum = r.readDouble()
        case 6 =>
          val s = r.readSlice()
          var q = 0.0
          var v = 0.0
          while (s.hasMore) {
            val t2 = s.readVarint()
            (t2 >> 3).toInt match {
              case 1 => q = s.readDouble()
              case 2 => v = s.readDouble()
              case _ => s.skip((t2 & 7).toInt)
            }
          }
          qs += OtlpQuantile(q, v)
        case 7 => attrs += stringKeyValue(r.readSlice())
        case 8 => flags = r.readVarint().toInt
        case _ => r.skip(wire)
      }
    }
    baseRow(c, "summary", time, flags, attrs).copy(
      count = count, sum_v = sum, has_sum = true, quantiles = qs.toList)
  }

  private def parseExpHistPoint(r: Reader, c: MetricCtx): OtlpMetricRow = {
    var time = 0L
    var count = 0L
    var sum = 0.0
    var hasSum = false
    var min = 0.0
    var hasMin = false
    var max = 0.0
    var hasMax = false
    var scale = 0
    var zeroCount = 0.0
    var posOff = 0
    var negOff = 0
    var flags = 0
    var attrs = Map.empty[String, String]
    val pos = scala.collection.mutable.ArrayBuffer.empty[Long]
    val neg = scala.collection.mutable.ArrayBuffer.empty[Long]

    def parseBuckets(s: Reader): (Int, Seq[Long]) = {
      var off = 0
      val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (s.hasMore) {
        val t2 = s.readVarint()
        val w2 = (t2 & 7).toInt
        (t2 >> 3).toInt match {
          case 1 => off = s.readSint32()
          case 2 => s.readRepeatedVarint(w2, counts)
          case _ => s.skip(w2)
        }
      }
      (off, counts.toSeq)
    }

    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt match {
        case 1 => attrs += stringKeyValue(r.readSlice())
        case 3 => time = r.readFixed64()
        case 4 => count = r.readFixed64()
        case 5 => sum = r.readDouble(); hasSum = true
        case 6 => scale = r.readSint32()
        case 7 => zeroCount = r.readFixed64().toDouble
        case 8 =>
          val (o, cs) = parseBuckets(r.readSlice()); posOff = o; pos ++= cs
        case 9 =>
          val (o, cs) = parseBuckets(r.readSlice()); negOff = o; neg ++= cs
        case 10 => flags = r.readVarint().toInt
        case 12 => min = r.readDouble(); hasMin = true
        case 13 => max = r.readDouble(); hasMax = true
        case _ => r.skip(wire)
      }
    }
    baseRow(c, "exp_histogram", time, flags, attrs).copy(
      count = count, sum_v = sum, min_v = min, max_v = max,
      has_sum = hasSum, has_min = hasMin, has_max = hasMax,
      scale = scale, zero_count = zeroCount,
      positive_offset = posOff, positive_counts = pos.map(_.toDouble).toSeq,
      negative_offset = negOff, negative_counts = neg.map(_.toDouble).toSeq)
  }

  // ---- metrics DataFrame adapter -------------------------------------------

  /** Binary OTLP-metrics payloads -> the four MetricFrames families, ready
    * for [[graft.pipeline.MetricsExporter]] (`scalarPoints`,
    * `histogramSeries`, `summarySeries`, `expHistRows`). One decode pass;
    * the split is a column filter on `shape`.
    */
  def fromOtlpProtoMetrics(df: DataFrame, valueCol: Column): OtlpMetricFrames =
    metricFramesFrom(df, valueCol, parseMetricsData)

  /** The four-family fan-out for any payload->rows parser (the firehose
    * `otlp_v1` framing reuses it with its length-delimited record parser).
    */
  def metricFramesFrom(df: DataFrame, valueCol: Column,
      parser: Array[Byte] => Seq[OtlpMetricRow]): OtlpMetricFrames = {
    val all = decodeMessages(df, valueCol)(parser).cache()
    def shaped(shape: String, keep: Seq[String]): DataFrame =
      all.filter(col("shape") === shape).select(keep.map(col): _*)
    val ident = Seq("metric_name", "description", "unit", "metric_type",
      "temporality", "is_monotonic", "unix_milli", "flags", "attrs",
      "scope_name", "scope_version", "scope_schema_url", "scope_attrs",
      "resource_attrs")
    OtlpMetricFrames(
      scalars = graft.model.MetricFrames.withDefaults(
        shaped("scalar", ident :+ "value")),
      histograms = graft.model.MetricFrames.withHistogramDefaults(
        shaped("histogram", ident ++ Seq("count", "sum_v", "min_v", "max_v",
          "has_sum", "has_min", "has_max", "explicit_bounds", "bucket_counts"))),
      summaries = graft.model.MetricFrames.withSummaryDefaults(
        shaped("summary", ident ++ Seq("count", "sum_v", "quantiles"))),
      expHistograms = graft.model.MetricFrames.withExpHistDefaults(
        shaped("exp_histogram", ident ++ Seq("count", "sum_v", "min_v",
          "max_v", "has_sum", "scale", "zero_count", "positive_offset",
          "positive_counts", "negative_offset", "negative_counts"))))
  }

  /** Kafka metrics topic (default `otlp_proto` encoding) -> metric frames. */
  def fromKafkaMetrics(df: DataFrame): OtlpMetricFrames =
    fromOtlpProtoMetrics(df, col("value"))
}

/** The four datapoint families one OTLP metrics payload fans into. */
final case class OtlpMetricFrames(
    scalars: DataFrame, histograms: DataFrame, summaries: DataFrame,
    expHistograms: DataFrame)
