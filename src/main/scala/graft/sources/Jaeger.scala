package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.OtlpJson.appendString
import graft.sources.OtlpProto.{OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}
import graft.sources.ProtoWire.{Reader, Writer, hexToBytes, idHex, nonNull, nonNullSeq, orEmpty}

/** Jaeger trace encodings — the Kafka exporter's `jaeger_proto` /
  * `jaeger_json` marshalers (`exporter/signozkafkaexporter/
  * jaeger_marshaler.go`: one jaeger `model.Span` per producer message,
  * message key = the trace id string, `Process` spliced into every span)
  * and the Kafka receiver's matching unmarshalers
  * (`receiver/signozkafkareceiver/jaeger_unmarshaler.go`: one span per
  * message, wrapped into a single-span Batch).
  *
  * Three public layers, all built from public definitions:
  *
  *  1. The jaeger `model.proto` wire format (github.com/jaegertracing/
  *     jaeger `model/proto` — public): Span{trace_id=1 (16 bytes),
  *     span_id=2 (8 bytes), operation_name=3, references=4, flags=5
  *     (varint), start_time=6 (google.protobuf.Timestamp), duration=7
  *     (google.protobuf.Duration), tags=8, logs=9, process=10,
  *     process_id=11, warnings=12}; SpanRef{trace_id=1, span_id=2,
  *     ref_type=3 (CHILD_OF=0, FOLLOWS_FROM=1)}; Process{service_name=1,
  *     tags=2}; Log{timestamp=1, fields=2}; KeyValue{key=1, v_type=2
  *     (STRING=0,BOOL=1,INT64=2,FLOAT64=3,BINARY=4), v_str=3, v_bool=4,
  *     v_int64=5, v_float64=6, v_binary=7}.
  *
  *  2. The gogo `jsonpb` JSON form the exporter's `jaeger_json` uses
  *     (default `jsonpb.Marshaler{}`): camelCase names, defaults omitted,
  *     enums as NAMES, int64 as decimal strings, the custom TraceID/SpanID
  *     bytes types as base64, and the well-known Timestamp / Duration types
  *     in protojson canonical text (RFC3339 with 0/3/6/9 fractional digits;
  *     seconds + 0/3/6/9-digit fraction + "s").
  *
  *  3. The OTLP <-> Jaeger translation, following the public
  *     opentelemetry-collector-contrib `pkg/translator/jaeger` semantics
  *     the reference calls (`jaeger.ProtoFromTraces` / `ProtoToTraces`):
  *     resource -> Process (service.name lifted out, `OTLPResourceNoServiceName`
  *     when the resource is empty), span attrs -> typed tags, then the
  *     synthesized tags in order `span.kind` (client/server/producer/
  *     consumer/internal), `otel.status_code` (OK/ERROR), `error` (bool,
  *     ERROR only), `otel.status_description`, `w3c.tracestate`,
  *     `otel.scope.name`, `otel.scope.version`; events -> logs with the
  *     `event` field first; parent -> leading CHILD_OF reference, links ->
  *     FOLLOWS_FROM references. The reverse direction undoes each mapping
  *     (legacy `otel.library.name`/`otel.library.version` accepted too).
  *
  * Engine-frame lossiness carried over (documented, test-asserted): event
  * attributes and resource tags are already stringified in this engine's
  * frames, so typed process/log fields decode via their `AsString`
  * rendering (BINARY -> base64, matching pcommon bytes rendering); span
  * flags are not carried (contrib parity: `ProtoFromTraces` leaves jaeger
  * flags 0 and `ProtoToTraces` ignores them).
  */
object Jaeger {

  // ---- model -----------------------------------------------------------

  /** v_type values (model.proto ValueType). */
  object VType {
    val STRING = 0; val BOOL = 1; val INT64 = 2; val FLOAT64 = 3; val BINARY = 4
  }

  final case class JaegerKV(key: String, vType: Int, vStr: String = "",
      vBool: Boolean = false, vInt64: Long = 0L, vFloat64: Double = 0.0,
      vBinary: Array[Byte] = null) {
    /** pcommon.Value.AsString rendering for the engine's string maps: a
      * float64 through `strconv.FormatFloat(f, 'f', -1, 64)`, which is
      * [[graft.functions.GoFloat.fixed]] as at every AsString site (SURVEY
      * rows 350, 353, 410).
      */
    def asString: String = vType match {
      case VType.STRING => vStr
      case VType.BOOL => if (vBool) "true" else "false"
      case VType.INT64 => vInt64.toString
      case VType.FLOAT64 => graft.functions.GoFloat.fixed(vFloat64)
      case VType.BINARY =>
        if (vBinary == null) "" else java.util.Base64.getEncoder.encodeToString(vBinary)
      case _ => ""
    }
  }

  final case class JaegerLog(tsNanos: Long, fields: Seq[JaegerKV])
  /** refType: 0 = CHILD_OF, 1 = FOLLOWS_FROM. Ids are lowercase hex. */
  final case class JaegerRef(traceId: String, spanId: String, refType: Int)

  final case class JaegerSpan(
      traceId: String, // lowercase hex, "" when all-zero
      spanId: String,
      operationName: String,
      references: Seq[JaegerRef],
      flags: Int,
      startNanos: Long,
      durationNanos: Long,
      tags: Seq[JaegerKV],
      logs: Seq[JaegerLog],
      serviceName: String,
      processTags: Seq[JaegerKV])

  /** `translator/jaeger` sentinel for an attribute-less resource. */
  val NoServiceName = "OTLPResourceNoServiceName"

  // ---- OTLP frame -> jaeger span (ProtoFromTraces semantics) ------------

  private def kindName(kind: Int): String = kind match {
    case 1 => "internal"
    case 2 => "server"
    case 3 => "client"
    case 4 => "producer"
    case 5 => "consumer"
    case _ => ""
  }

  def fromSpanRow(r: OtlpSpanRow): JaegerSpan = {
    val tags = scala.collection.mutable.ArrayBuffer.empty[JaegerKV]
    // span attributes first (typed; integral numbers re-emit as INT64,
    // mirroring the OTLP encoders' int_value fold)
    nonNull(r.attributes_string).foreach { case (k, v) =>
      tags += JaegerKV(k, VType.STRING, vStr = v)
    }
    nonNull(r.attributes_number).foreach { case (k, v) =>
      val l = v.toLong
      if (l.toDouble == v) tags += JaegerKV(k, VType.INT64, vInt64 = l)
      else tags += JaegerKV(k, VType.FLOAT64, vFloat64 = v)
    }
    nonNull(r.attributes_bool).foreach { case (k, v) =>
      tags += JaegerKV(k, VType.BOOL, vBool = v)
    }
    val kn = kindName(r.kind)
    if (kn.nonEmpty) tags += JaegerKV("span.kind", VType.STRING, vStr = kn)
    if (r.status_code == 1) // Ok
      tags += JaegerKV("otel.status_code", VType.STRING, vStr = "OK")
    else if (r.status_code == 2) { // Error
      tags += JaegerKV("otel.status_code", VType.STRING, vStr = "ERROR")
      tags += JaegerKV("error", VType.BOOL, vBool = true)
    }
    if (orEmpty(r.status_message).nonEmpty)
      tags += JaegerKV("otel.status_description", VType.STRING, vStr = r.status_message)
    if (orEmpty(r.trace_state).nonEmpty)
      tags += JaegerKV("w3c.tracestate", VType.STRING, vStr = r.trace_state)
    if (orEmpty(r.scope_name).nonEmpty)
      tags += JaegerKV("otel.scope.name", VType.STRING, vStr = r.scope_name)
    if (orEmpty(r.scope_version).nonEmpty)
      tags += JaegerKV("otel.scope.version", VType.STRING, vStr = r.scope_version)

    val refs = scala.collection.mutable.ArrayBuffer.empty[JaegerRef]
    if (orEmpty(r.parent_span_id).nonEmpty)
      refs += JaegerRef(orEmpty(r.trace_id), r.parent_span_id, 0)
    nonNullSeq(r.links).foreach { l =>
      refs += JaegerRef(orEmpty(l.trace_id), orEmpty(l.span_id), 1)
    }

    val logs = nonNullSeq(r.events).map { e =>
      val fields = scala.collection.mutable.ArrayBuffer.empty[JaegerKV]
      if (orEmpty(e.name).nonEmpty)
        fields += JaegerKV("event", VType.STRING, vStr = e.name)
      nonNull(e.attrs).foreach { case (k, v) =>
        fields += JaegerKV(k, VType.STRING, vStr = v)
      }
      JaegerLog(e.ts_ns, fields.toSeq)
    }

    // resource -> process: service.name lifted; empty resource -> sentinel
    val res = nonNull(r.resources_string)
    val serviceName =
      if (res.isEmpty) NoServiceName else res.getOrElse("service.name", "")
    val processTags = res.iterator.filter(_._1 != "service.name")
      .map { case (k, v) => JaegerKV(k, VType.STRING, vStr = v) }.toSeq

    JaegerSpan(orEmpty(r.trace_id), orEmpty(r.span_id), orEmpty(r.name),
      refs.toSeq, 0, r.start_ts, r.end_ts - r.start_ts, tags.toSeq, logs,
      serviceName, processTags)
  }

  // ---- jaeger span -> OTLP frame (ProtoToTraces semantics) --------------

  def toSpanRow(s: JaegerSpan): OtlpSpanRow = {
    var kind = 0
    var statusCode = 0
    var statusMessage = ""
    var traceState = ""
    var scopeName = ""
    var scopeVersion = ""
    var errorTag = false
    val as = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val an = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ab = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    s.tags.foreach { t =>
      t.key match {
        case "span.kind" if t.vType == VType.STRING =>
          kind = t.vStr match {
            case "internal" => 1
            case "server" => 2
            case "client" => 3
            case "producer" => 4
            case "consumer" => 5
            case _ => 0
          }
        case "otel.status_code" if t.vType == VType.STRING =>
          statusCode = t.vStr match {
            case "OK" => 1
            case "ERROR" => 2
            case _ => statusCode
          }
        case "error" if t.vType == VType.BOOL =>
          errorTag = t.vBool
        case "otel.status_description" if t.vType == VType.STRING =>
          statusMessage = t.vStr
        case "w3c.tracestate" if t.vType == VType.STRING =>
          traceState = t.vStr
        case "otel.scope.name" | "otel.library.name" if t.vType == VType.STRING =>
          scopeName = t.vStr
        case "otel.scope.version" | "otel.library.version" if t.vType == VType.STRING =>
          scopeVersion = t.vStr
        case k => t.vType match {
          case VType.STRING => as(k) = t.vStr
          case VType.BOOL => ab(k) = t.vBool
          case VType.INT64 => an(k) = t.vInt64.toDouble
          case VType.FLOAT64 => an(k) = t.vFloat64
          case VType.BINARY => as(k) = t.asString // base64, pcommon rendering
          case _ => as(k) = t.asString
        }
      }
    }
    if (errorTag && statusCode == 0) statusCode = 2

    var parent = ""
    val links = scala.collection.mutable.ArrayBuffer.empty[OtlpSpanLink]
    s.references.foreach { ref =>
      if (parent.isEmpty && ref.refType == 0 && ref.traceId == s.traceId)
        parent = ref.spanId
      else links += OtlpSpanLink(ref.traceId, ref.spanId)
    }

    val events = s.logs.map { l =>
      var name = ""
      val attrs = scala.collection.mutable.LinkedHashMap.empty[String, String]
      l.fields.foreach { f =>
        if (f.key == "event" && f.vType == VType.STRING && name.isEmpty) name = f.vStr
        else attrs(f.key) = f.asString
      }
      OtlpSpanEvent(name, l.tsNanos, attrs.toMap)
    }

    val res = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (s.serviceName.nonEmpty && s.serviceName != NoServiceName)
      res("service.name") = s.serviceName
    s.processTags.foreach(t => res(t.key) = t.asString)

    OtlpSpanRow(s.startNanos, s.startNanos + s.durationNanos, s.traceId,
      s.spanId, parent, traceState, 0, s.operationName, kind, statusCode,
      statusMessage, as.toMap, an.toMap, ab.toMap, res.toMap, scopeName,
      scopeVersion, Map.empty, events, links.toSeq)
  }

  // ---- proto wire ----------------------------------------------------------

  /** The jaeger custom id types marshal as FIXED-WIDTH bytes (16 / 8),
    * zero bytes included — unlike OTLP's omit-when-all-zero ids.
    */
  private def idBytes(hex: String, width: Int): Array[Byte] =
    if (orEmpty(hex).isEmpty) new Array[Byte](width) else hexToBytes(hex)

  private def timestampMsg(nanos: Long): Writer = {
    val w = new Writer(16)
    val secs = Math.floorDiv(nanos, 1000000000L)
    val ns = Math.floorMod(nanos, 1000000000L)
    if (secs != 0L) w.varintField(1, secs)
    if (ns != 0L) w.varintField(2, ns)
    w
  }

  private def kvMsg(kv: JaegerKV): Writer = {
    val w = new Writer(48)
    if (kv.key.nonEmpty) w.stringField(1, kv.key)
    if (kv.vType != 0) w.varintField(2, kv.vType.toLong)
    kv.vType match {
      case VType.STRING => if (kv.vStr.nonEmpty) w.stringField(3, kv.vStr)
      case VType.BOOL => if (kv.vBool) w.boolField(4, true)
      case VType.INT64 => if (kv.vInt64 != 0L) w.varintField(5, kv.vInt64)
      case VType.FLOAT64 => if (kv.vFloat64 != 0.0) w.doubleField(6, kv.vFloat64)
      case VType.BINARY =>
        if (kv.vBinary != null && kv.vBinary.nonEmpty) w.bytesField(7, kv.vBinary)
      case _ => ()
    }
    w
  }

  /** One serialized jaeger `model.Span` (`span.Marshal()` parity). */
  def encodeSpanProto(s: JaegerSpan): Array[Byte] = {
    val w = new Writer(512)
    w.bytesField(1, idBytes(s.traceId, 16))
    w.bytesField(2, idBytes(s.spanId, 8))
    if (s.operationName.nonEmpty) w.stringField(3, s.operationName)
    s.references.foreach { r =>
      val rw = new Writer(48)
      rw.bytesField(1, idBytes(r.traceId, 16))
      rw.bytesField(2, idBytes(r.spanId, 8))
      if (r.refType != 0) rw.varintField(3, r.refType.toLong)
      w.msgField(4, rw)
    }
    if (s.flags != 0) w.varintField(5, s.flags.toLong)
    // gogo stdtime/stdduration fields are non-nullable: always emitted
    w.msgField(6, timestampMsg(s.startNanos))
    w.msgField(7, timestampMsg(s.durationNanos))
    s.tags.foreach(t => w.msgField(8, kvMsg(t)))
    s.logs.foreach { l =>
      val lw = new Writer(96)
      lw.msgField(1, timestampMsg(l.tsNanos))
      l.fields.foreach(f => lw.msgField(2, kvMsg(f)))
      w.msgField(9, lw)
    }
    val pw = new Writer(64)
    if (s.serviceName.nonEmpty) pw.stringField(1, s.serviceName)
    s.processTags.foreach(t => pw.msgField(2, kvMsg(t)))
    w.msgField(10, pw)
    w.toBytes
  }

  // ---- proto parse ----------------------------------------------------------

  private def parseTimestamp(r: Reader): Long = {
    var secs = 0L; var nanos = 0L
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, _) => secs = r.readVarint()
        case (2, _) => nanos = r.readVarint()
        case (_, w) => r.skip(w)
      }
    }
    secs * 1000000000L + nanos
  }

  private def parseKV(r: Reader): JaegerKV = {
    var key = ""; var vType = 0; var vStr = ""; var vBool = false
    var vInt = 0L; var vDbl = 0.0; var vBin: Array[Byte] = null
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, _) => key = r.readString()
        case (2, _) => vType = r.readVarint().toInt
        case (3, _) => vStr = r.readString()
        case (4, _) => vBool = r.readVarint() != 0L
        case (5, _) => vInt = r.readVarint()
        case (6, _) => vDbl = r.readDouble()
        case (7, _) => vBin = r.readBytes()
        case (_, w) => r.skip(w)
      }
    }
    JaegerKV(key, vType, vStr, vBool, vInt, vDbl, vBin)
  }

  /** Parse one serialized jaeger `model.Span`. Throws on malformed input
    * (the receiver surfaces the error and drops the message).
    */
  def parseSpanProto(bytes: Array[Byte]): JaegerSpan = {
    val r = new Reader(bytes, 0, bytes.length)
    var traceId = ""; var spanId = ""; var op = ""; var flags = 0
    var start = 0L; var dur = 0L; var service = ""
    val refs = scala.collection.mutable.ArrayBuffer.empty[JaegerRef]
    val tags = scala.collection.mutable.ArrayBuffer.empty[JaegerKV]
    val logs = scala.collection.mutable.ArrayBuffer.empty[JaegerLog]
    val processTags = scala.collection.mutable.ArrayBuffer.empty[JaegerKV]
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, _) => traceId = idHex(r.readBytes())
        case (2, _) => spanId = idHex(r.readBytes())
        case (3, _) => op = r.readString()
        case (4, _) =>
          val s = r.readSlice()
          var tid = ""; var sid = ""; var rt = 0
          while (s.hasMore) {
            val t2 = s.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (1, _) => tid = idHex(s.readBytes())
              case (2, _) => sid = idHex(s.readBytes())
              case (3, _) => rt = s.readVarint().toInt
              case (_, w) => s.skip(w)
            }
          }
          refs += JaegerRef(tid, sid, rt)
        case (5, _) => flags = r.readVarint().toInt
        case (6, _) => start = parseTimestamp(r.readSlice())
        case (7, _) => dur = parseTimestamp(r.readSlice())
        case (8, _) => tags += parseKV(r.readSlice())
        case (9, _) =>
          val s = r.readSlice()
          var ts = 0L
          val fields = scala.collection.mutable.ArrayBuffer.empty[JaegerKV]
          while (s.hasMore) {
            val t2 = s.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (1, _) => ts = parseTimestamp(s.readSlice())
              case (2, _) => fields += parseKV(s.readSlice())
              case (_, w) => s.skip(w)
            }
          }
          logs += JaegerLog(ts, fields.toSeq)
        case (10, _) =>
          val s = r.readSlice()
          while (s.hasMore) {
            val t2 = s.readVarint()
            ((t2 >> 3).toInt, (t2 & 7).toInt) match {
              case (1, _) => service = s.readString()
              case (2, _) => processTags += parseKV(s.readSlice())
              case (_, w) => s.skip(w)
            }
          }
        case (_, w) => r.skip(w)
      }
    }
    JaegerSpan(traceId, spanId, op, refs.toSeq, flags, start, dur,
      tags.toSeq, logs.toSeq, service, processTags.toSeq)
  }

  // ---- jsonpb --------------------------------------------------------------

  /** protojson canonical Timestamp: RFC3339 UTC, fraction 0/3/6/9 digits. */
  def timestampJson(nanos: Long): String = {
    val secs = Math.floorDiv(nanos, 1000000000L)
    val ns = Math.floorMod(nanos, 1000000000L).toInt
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d" +
      f"T${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    base + fraction(ns) + "Z"
  }

  /** protojson canonical Duration: secs + 0/3/6/9-digit fraction + "s". */
  def durationJson(nanos: Long): String = {
    val secs = nanos / 1000000000L
    val ns = (nanos % 1000000000L).toInt
    s"$secs${fraction(math.abs(ns))}s"
  }

  private def fraction(ns: Int): String =
    if (ns == 0) ""
    else if (ns % 1000000 == 0) f".${ns / 1000000}%03d"
    else if (ns % 1000 == 0) f".${ns / 1000}%06d"
    else f".$ns%09d"

  private def b64(bytes: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(bytes)

  private def kvJson(kv: JaegerKV): String = {
    val sb = new java.lang.StringBuilder(64)
    sb.append("{\"key\":"); appendString(sb, kv.key)
    kv.vType match {
      case VType.STRING =>
        if (kv.vStr.nonEmpty) {
          sb.append(",\"vStr\":"); appendString(sb, kv.vStr)
        }
      case VType.BOOL =>
        sb.append(",\"vType\":\"BOOL\"")
        if (kv.vBool) sb.append(",\"vBool\":true")
      case VType.INT64 =>
        sb.append(",\"vType\":\"INT64\"")
        if (kv.vInt64 != 0L) sb.append(",\"vInt64\":\"").append(kv.vInt64).append('"')
      case VType.FLOAT64 =>
        sb.append(",\"vType\":\"FLOAT64\"")
        if (kv.vFloat64 != 0.0) {
          sb.append(",\"vFloat64\":")
          // gogo jsonpb prints a double as encoding/json does (SURVEY row 410)
          val f = graft.functions.GoFloat.json(kv.vFloat64)
          sb.append(if (f == null) "0" else f)
        }
      case VType.BINARY =>
        sb.append(",\"vType\":\"BINARY\"")
        if (kv.vBinary != null && kv.vBinary.nonEmpty)
          sb.append(",\"vBinary\":\"").append(b64(kv.vBinary)).append('"')
      case _ => ()
    }
    sb.append('}').toString
  }

  /** One span as gogo-jsonpb JSON (`jaeger_json` exporter encoding). */
  def encodeSpanJson(s: JaegerSpan): Array[Byte] = {
    val sb = new java.lang.StringBuilder(768)
    sb.append("{\"traceId\":\"").append(b64(idBytes(s.traceId, 16))).append('"')
    sb.append(",\"spanId\":\"").append(b64(idBytes(s.spanId, 8))).append('"')
    if (s.operationName.nonEmpty) {
      sb.append(",\"operationName\":"); appendString(sb, s.operationName)
    }
    if (s.references.nonEmpty) {
      sb.append(",\"references\":[")
      sb.append(s.references.map { r =>
        val rb = new java.lang.StringBuilder(96)
        rb.append("{\"traceId\":\"").append(b64(idBytes(r.traceId, 16))).append('"')
        rb.append(",\"spanId\":\"").append(b64(idBytes(r.spanId, 8))).append('"')
        if (r.refType == 1) rb.append(",\"refType\":\"FOLLOWS_FROM\"")
        rb.append('}').toString
      }.mkString(","))
      sb.append(']')
    }
    if (s.flags != 0) sb.append(",\"flags\":").append(s.flags)
    sb.append(",\"startTime\":\"").append(timestampJson(s.startNanos)).append('"')
    sb.append(",\"duration\":\"").append(durationJson(s.durationNanos)).append('"')
    if (s.tags.nonEmpty)
      sb.append(",\"tags\":[").append(s.tags.map(kvJson).mkString(",")).append(']')
    if (s.logs.nonEmpty) {
      sb.append(",\"logs\":[")
      sb.append(s.logs.map { l =>
        val lb = new java.lang.StringBuilder(128)
        lb.append("{\"timestamp\":\"").append(timestampJson(l.tsNanos)).append('"')
        if (l.fields.nonEmpty)
          lb.append(",\"fields\":[").append(l.fields.map(kvJson).mkString(",")).append(']')
        lb.append('}').toString
      }.mkString(","))
      sb.append(']')
    }
    sb.append(",\"process\":{")
    var pFirst = true
    if (s.serviceName.nonEmpty) {
      sb.append("\"serviceName\":"); appendString(sb, s.serviceName)
      pFirst = false
    }
    if (s.processTags.nonEmpty) {
      if (!pFirst) sb.append(',')
      sb.append("\"tags\":[").append(s.processTags.map(kvJson).mkString(",")).append(']')
    }
    sb.append('}')
    sb.append('}')
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Parse one jsonpb span (the receiver's `jaeger_json`). Accepts enum
    * names or numbers and base64 or empty ids; throws on malformed JSON.
    */
  def parseSpanJson(bytes: Array[Byte]): JaegerSpan = {
    val mapper = JaegerJsonMapper.mapper
    val n = mapper.readTree(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    require(n != null && n.isObject, "not a JSON object")
    def idOf(node: com.fasterxml.jackson.databind.JsonNode): String =
      if (node == null || node.asText().isEmpty) ""
      else idHex(java.util.Base64.getDecoder.decode(node.asText()))
    def tsOf(node: com.fasterxml.jackson.databind.JsonNode): Long =
      if (node == null) 0L
      else {
        val t = java.time.OffsetDateTime.parse(node.asText())
        t.toEpochSecond * 1000000000L + t.getNano
      }
    def durOf(node: com.fasterxml.jackson.databind.JsonNode): Long =
      if (node == null) 0L
      else {
        val s = node.asText()
        require(s.endsWith("s"), s"malformed duration: $s")
        val num = s.substring(0, s.length - 1)
        val dot = num.indexOf('.')
        if (dot < 0) num.toLong * 1000000000L
        else {
          val secs = num.substring(0, dot).toLong
          val frac = (num.substring(dot + 1) + "00000000").take(9).toLong
          secs * 1000000000L + (if (secs < 0) -frac else frac)
        }
      }
    def kvOf(node: com.fasterxml.jackson.databind.JsonNode): JaegerKV = {
      val key = if (node.has("key")) node.get("key").asText() else ""
      val vt = if (!node.has("vType")) 0 else {
        val t = node.get("vType")
        if (t.isNumber) t.asInt()
        else t.asText() match {
          case "BOOL" => 1; case "INT64" => 2; case "FLOAT64" => 3
          case "BINARY" => 4; case _ => 0
        }
      }
      JaegerKV(key, vt,
        vStr = if (node.has("vStr")) node.get("vStr").asText() else "",
        vBool = node.has("vBool") && node.get("vBool").asBoolean(),
        vInt64 = if (node.has("vInt64")) node.get("vInt64").asLong() else 0L,
        vFloat64 = if (node.has("vFloat64")) node.get("vFloat64").asDouble() else 0.0,
        vBinary = if (node.has("vBinary"))
          java.util.Base64.getDecoder.decode(node.get("vBinary").asText()) else null)
    }
    def kvsOf(node: com.fasterxml.jackson.databind.JsonNode): Seq[JaegerKV] =
      if (node == null) Nil
      else (0 until node.size()).map(i => kvOf(node.get(i)))
    val refs =
      if (!n.has("references")) Nil
      else (0 until n.get("references").size()).map { i =>
        val rn = n.get("references").get(i)
        val rt = if (!rn.has("refType")) 0 else {
          val t = rn.get("refType")
          if (t.isNumber) t.asInt()
          else if (t.asText() == "FOLLOWS_FROM") 1 else 0
        }
        JaegerRef(idOf(rn.get("traceId")), idOf(rn.get("spanId")), rt)
      }
    val logs =
      if (!n.has("logs")) Nil
      else (0 until n.get("logs").size()).map { i =>
        val ln = n.get("logs").get(i)
        JaegerLog(tsOf(ln.get("timestamp")), kvsOf(ln.get("fields")))
      }
    val proc = n.get("process")
    JaegerSpan(
      idOf(n.get("traceId")), idOf(n.get("spanId")),
      if (n.has("operationName")) n.get("operationName").asText() else "",
      refs, if (n.has("flags")) n.get("flags").asInt() else 0,
      tsOf(n.get("startTime")), durOf(n.get("duration")),
      kvsOf(n.get("tags")), logs,
      if (proc != null && proc.has("serviceName")) proc.get("serviceName").asText() else "",
      if (proc != null) kvsOf(proc.get("tags")) else Nil)
  }

  // ---- frame-level API -------------------------------------------------------

  /** Kafka traces topic in `jaeger_proto` / `jaeger_json` -> SpanFrames
    * frame (one span per message; undecodable messages dropped by the
    * receiver adapter the OTLP decoders share, [[OtlpEnvelope.decodeMessages]]).
    */
  def fromKafkaJaeger(df: DataFrame, encoding: String,
      valueCol: Column = col("value")): DataFrame = {
    val parse: Array[Byte] => JaegerSpan = encoding match {
      case "jaeger_proto" => parseSpanProto
      case "jaeger_json" => parseSpanJson
      case other =>
        throw new IllegalArgumentException(s"unrecognized jaeger encoding: $other")
    }
    graft.model.SpanFrames.withDefaults(OtlpEnvelope.decodeMessages(df, valueCol)(
      bytes => Seq(toSpanRow(parse(bytes)))))
  }
}

/** Jackson mapper shared across executor threads (thread-safe for reads). */
private[sources] object JaegerJsonMapper {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
