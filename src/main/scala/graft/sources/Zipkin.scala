package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.OtlpProto.{OtlpSpanEvent, OtlpSpanRow}
import graft.sources.ProtoWire.{Reader, hex, orEmpty}

/** Zipkin trace decodings — the Kafka receiver's `zipkin_proto` /
  * `zipkin_json` / `zipkin_thrift` unmarshalers
  * (`receiver/signozkafkareceiver/unmarshaler.go:54-56`:
  * `zipkinv2.NewProtobufTracesUnmarshaler` / `NewJSONTracesUnmarshaler` /
  * `zipkinv1.NewThriftTracesUnmarshaler`). All three decode a BATCH per
  * message (a v2 `ListOfSpans` proto, a v2 JSON array, a thrift list of v1
  * `zipkincore.Span`), translated to the engine's span frame.
  *
  * Wire formats, all from public definitions:
  *
  *  - zipkin v2 JSON (openzipkin span format): `[{"traceId":hex,
  *    "parentId":hex,"id":hex,"kind":"CLIENT|SERVER|PRODUCER|CONSUMER",
  *    "name":...,"timestamp":micros,"duration":micros,
  *    "localEndpoint":{"serviceName","ipv4","ipv6","port"},
  *    "remoteEndpoint":{...},"annotations":[{"timestamp","value"}],
  *    "tags":{k:v},"debug":bool,"shared":bool}]`.
  *  - zipkin v2 proto3 (`zipkin.proto`): ListOfSpans{spans=1};
  *    Span{trace_id=1 (bytes), parent_id=2, id=3, kind=4 (enum, CLIENT=1..
  *    CONSUMER=4), name=5, timestamp=6 (fixed64 micros), duration=7
  *    (varint micros), local_endpoint=8, remote_endpoint=9,
  *    annotations=10, tags=11 (map<string,string>), debug=12, shared=13};
  *    Endpoint{service_name=1, ipv4=2 (bytes), ipv6=3, port=4};
  *    Annotation{timestamp=1 (fixed64), value=2}.
  *  - zipkin v1 thrift (`zipkincore.thrift`, TBinaryProtocol, the payload
  *    is a bare `list<Span>`): Span{trace_id:1 i64, name:3, id:4 i64,
  *    parent_id:5 i64, annotations:6 list, binary_annotations:8 list,
  *    debug:9, timestamp:10 i64, duration:11 i64, trace_id_high:12 i64};
  *    Annotation{timestamp:1, value:2, host:3}; BinaryAnnotation{key:1,
  *    value:2 binary, annotation_type:3 i32 (BOOL=0,BYTES=1,I16=2,I32=3,
  *    I64=4,DOUBLE=5,STRING=6), host:4}; Endpoint{ipv4:1 i32, port:2 i16,
  *    service_name:3, ipv6:4 binary}.
  *
  * v1 -> v2 conversion follows the public zipkin v1 semantics (as in the
  * contrib `zipkinv1` translator): core annotations `cs`/`cr` -> kind
  * CLIENT, `sr`/`ss` -> kind SERVER (the annotations themselves dropped;
  * v1 spans missing timestamp/duration derive them from the core
  * annotation pair), other annotations kept as events, binary annotations
  * decoded per their type into tags (BYTES -> base64), the `sa`/`ca`
  * address annotations -> remote endpoint, the first annotation host ->
  * local endpoint.
  *
  * OTLP mapping (contrib `zipkinv2.ToTranslator` shape): one resource per
  * span — `service.name` from the local endpoint (omitted when absent),
  * tags -> string attributes with the `otel.status_code` / `error` /
  * `otel.status_description` / `otel.scope.name` / `otel.scope.version` /
  * `w3c.tracestate` specials lifted back out (mirroring [[Jaeger]]),
  * annotations -> events, `shared`/`debug` dropped. Endpoint address
  * mapping is this engine's documented choice (exact contrib key parity
  * not verifiable offline): local ipv4/ipv6/port -> resource attrs
  * `ipv4`/`ipv6`/`port`; remote endpoint -> span attrs `peer.service` /
  * `net.peer.ip` / `net.peer.port`.
  */
object Zipkin {

  // ---- v2 model --------------------------------------------------------

  final case class ZEndpoint(serviceName: String = "", ipv4: String = "",
      ipv6: String = "", port: Int = 0) {
    def isEmpty: Boolean =
      serviceName.isEmpty && ipv4.isEmpty && ipv6.isEmpty && port == 0
  }
  final case class ZAnnotation(tsMicros: Long, value: String)
  final case class ZipkinSpan(
      traceId: String, // hex as sent (v2 allows 16 or 32 chars)
      parentId: String,
      id: String,
      kind: String, // "", CLIENT, SERVER, PRODUCER, CONSUMER
      name: String,
      timestampMicros: Long,
      durationMicros: Long,
      local: ZEndpoint,
      remote: ZEndpoint,
      annotations: Seq[ZAnnotation],
      tags: Map[String, String],
      debug: Boolean,
      shared: Boolean)

  // ---- v2 span -> OTLP frame row ----------------------------------------

  private val kindNums =
    Map("CLIENT" -> 3, "SERVER" -> 2, "PRODUCER" -> 4, "CONSUMER" -> 5)

  /** Zipkin trace ids are 64- or 128-bit; OTLP ids are 128-bit — left-pad.
    * All-zero collapses to "" (engine id convention).
    */
  private def padId(hex: String, width: Int): String = {
    val h = orEmpty(hex).toLowerCase
    if (h.isEmpty || h.forall(_ == '0')) ""
    else ("0" * math.max(0, width - h.length)) + h
  }

  def toSpanRow(z: ZipkinSpan): OtlpSpanRow = {
    var statusCode = 0
    var statusMessage = ""
    var traceState = ""
    var scopeName = ""
    var scopeVersion = ""
    var errorTag = false
    val as = scala.collection.mutable.LinkedHashMap.empty[String, String]
    z.tags.foreach { case (k, v) =>
      k match {
        case "otel.status_code" =>
          statusCode = v match { case "OK" => 1; case "ERROR" => 2; case _ => 0 }
        case "error" => errorTag = true
        case "otel.status_description" => statusMessage = v
        case "w3c.tracestate" => traceState = v
        case "otel.scope.name" | "otel.library.name" => scopeName = v
        case "otel.scope.version" | "otel.library.version" => scopeVersion = v
        case _ => as(k) = v
      }
    }
    if (errorTag && statusCode == 0) statusCode = 2
    if (z.remote.serviceName.nonEmpty) as("peer.service") = z.remote.serviceName
    val peerIp = if (z.remote.ipv6.nonEmpty) z.remote.ipv6 else z.remote.ipv4
    if (peerIp.nonEmpty) as("net.peer.ip") = peerIp
    val an = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (z.remote.port != 0) an("net.peer.port") = z.remote.port.toDouble

    val res = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (z.local.serviceName.nonEmpty) res("service.name") = z.local.serviceName
    if (z.local.ipv4.nonEmpty) res("ipv4") = z.local.ipv4
    if (z.local.ipv6.nonEmpty) res("ipv6") = z.local.ipv6
    if (z.local.port != 0) res("port") = z.local.port.toString

    val events = z.annotations.map(a =>
      OtlpSpanEvent(a.value, a.tsMicros * 1000L, Map.empty))

    val startNs = z.timestampMicros * 1000L
    val endNs = startNs + z.durationMicros * 1000L
    OtlpSpanRow(startNs, endNs, padId(z.traceId, 32), padId(z.id, 16),
      padId(z.parentId, 16), traceState, 0, orEmpty(z.name),
      kindNums.getOrElse(z.kind, 0), statusCode, statusMessage,
      as.toMap, an.toMap, Map.empty, res.toMap, scopeName, scopeVersion,
      Map.empty, events, Nil)
  }

  // ---- v2 JSON ----------------------------------------------------------

  private def endpointOf(n: com.fasterxml.jackson.databind.JsonNode): ZEndpoint =
    if (n == null || n.isNull) ZEndpoint()
    else ZEndpoint(
      if (n.has("serviceName")) n.get("serviceName").asText() else "",
      if (n.has("ipv4")) n.get("ipv4").asText() else "",
      if (n.has("ipv6")) n.get("ipv6").asText() else "",
      if (n.has("port")) n.get("port").asInt() else 0)

  /** One v2 JSON array -> spans. Throws on malformed JSON (receiver drops). */
  def parseJsonV2(bytes: Array[Byte]): Seq[ZipkinSpan] = {
    val root = JaegerJsonMapper.mapper.readTree(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
    require(root != null && root.isArray, "zipkin v2 payload must be a JSON array")
    (0 until root.size()).map { i =>
      val n = root.get(i)
      val tags =
        if (!n.has("tags")) Map.empty[String, String]
        else {
          val t = n.get("tags")
          val b = scala.collection.mutable.LinkedHashMap.empty[String, String]
          t.fieldNames().forEachRemaining(k => b(k) = t.get(k).asText())
          b.toMap
        }
      val anns =
        if (!n.has("annotations")) Nil
        else (0 until n.get("annotations").size()).map { j =>
          val a = n.get("annotations").get(j)
          ZAnnotation(
            if (a.has("timestamp")) a.get("timestamp").asLong() else 0L,
            if (a.has("value")) a.get("value").asText() else "")
        }
      ZipkinSpan(
        if (n.has("traceId")) n.get("traceId").asText() else "",
        if (n.has("parentId")) n.get("parentId").asText() else "",
        if (n.has("id")) n.get("id").asText() else "",
        if (n.has("kind")) n.get("kind").asText() else "",
        if (n.has("name")) n.get("name").asText() else "",
        if (n.has("timestamp")) n.get("timestamp").asLong() else 0L,
        if (n.has("duration")) n.get("duration").asLong() else 0L,
        endpointOf(n.get("localEndpoint")), endpointOf(n.get("remoteEndpoint")),
        anns, tags,
        n.has("debug") && n.get("debug").asBoolean(),
        n.has("shared") && n.get("shared").asBoolean())
    }
  }

  // ---- v2 proto3 ---------------------------------------------------------

  private def ipOf(b: Array[Byte]): String =
    if (b == null || b.isEmpty) ""
    else java.net.InetAddress.getByAddress(b).getHostAddress

  private def parseProtoEndpoint(r: Reader): ZEndpoint = {
    var svc = ""; var ipv4 = ""; var ipv6 = ""; var port = 0
    while (r.hasMore) {
      val tag = r.readVarint()
      ((tag >> 3).toInt, (tag & 7).toInt) match {
        case (1, _) => svc = r.readString()
        case (2, _) => ipv4 = ipOf(r.readBytes())
        case (3, _) => ipv6 = ipOf(r.readBytes())
        case (4, _) => port = r.readVarint().toInt
        case (_, w) => r.skip(w)
      }
    }
    ZEndpoint(svc, ipv4, ipv6, port)
  }

  private val protoKinds = Array("", "CLIENT", "SERVER", "PRODUCER", "CONSUMER")

  /** One `ListOfSpans` payload -> spans. Throws on malformed input. */
  def parseProtoV2(bytes: Array[Byte]): Seq[ZipkinSpan] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[ZipkinSpan]
    val top = new Reader(bytes, 0, bytes.length)
    while (top.hasMore) {
      val tag = top.readVarint()
      require((tag >> 3).toInt == 1 && (tag & 7).toInt == 2,
        "not a ListOfSpans payload")
      val r = top.readSlice()
      var traceId = ""; var parentId = ""; var id = ""; var kind = ""
      var name = ""; var ts = 0L; var dur = 0L
      var local = ZEndpoint(); var remote = ZEndpoint()
      val anns = scala.collection.mutable.ArrayBuffer.empty[ZAnnotation]
      val tags = scala.collection.mutable.LinkedHashMap.empty[String, String]
      var debug = false; var shared = false
      while (r.hasMore) {
        val t = r.readVarint()
        ((t >> 3).toInt, (t & 7).toInt) match {
          case (1, _) => traceId = hex(r.readBytes())
          case (2, _) => parentId = hex(r.readBytes())
          case (3, _) => id = hex(r.readBytes())
          case (4, _) =>
            val k = r.readVarint().toInt
            kind = if (k >= 0 && k < protoKinds.length) protoKinds(k) else ""
          case (5, _) => name = r.readString()
          case (6, _) => ts = r.readFixed64()
          case (7, _) => dur = r.readVarint()
          case (8, _) => local = parseProtoEndpoint(r.readSlice())
          case (9, _) => remote = parseProtoEndpoint(r.readSlice())
          case (10, _) =>
            val a = r.readSlice()
            var ats = 0L; var av = ""
            while (a.hasMore) {
              val t2 = a.readVarint()
              ((t2 >> 3).toInt, (t2 & 7).toInt) match {
                case (1, _) => ats = a.readFixed64()
                case (2, _) => av = a.readString()
                case (_, w) => a.skip(w)
              }
            }
            anns += ZAnnotation(ats, av)
          case (11, _) =>
            // map<string,string> entry: key=1, value=2
            val m = r.readSlice()
            var k = ""; var v = ""
            while (m.hasMore) {
              val t2 = m.readVarint()
              ((t2 >> 3).toInt, (t2 & 7).toInt) match {
                case (1, _) => k = m.readString()
                case (2, _) => v = m.readString()
                case (_, w) => m.skip(w)
              }
            }
            tags(k) = v
          case (12, _) => debug = r.readVarint() != 0L
          case (13, _) => shared = r.readVarint() != 0L
          case (_, w) => r.skip(w)
        }
      }
      out += ZipkinSpan(traceId, parentId, id, kind, name, ts, dur, local,
        remote, anns.toSeq, tags.toMap, debug, shared)
    }
    out.toSeq
  }

  // ---- v1 thrift ----------------------------------------------------------

  /** Deepest nesting of structs and containers that the v1 Thrift reader
    * skips through. Without a bound a crafted message nests deeper than the
    * thread's stack; real spans nest a few levels.
    */
  val MaxThriftDepth = 100

  /** Minimal TBinaryProtocol reader (big-endian, strict struct framing):
    * the payload is a bare `list<zipkincore.Span>` — one byte element type
    * (STRUCT=12) + i32 count, then each struct as (type byte, i16 field id,
    * value)* terminated by STOP=0.
    */
  private final class T(val buf: Array[Byte], var pos: Int) {
    /** `n` more bytes must be left; a truncated message throws. */
    private def need(n: Int, what: String): Unit =
      if (n > buf.length - pos) throw new IllegalArgumentException(s"truncated thrift $what")
    def u8(): Int = { need(1, "byte"); val b = buf(pos) & 0xff; pos += 1; b }
    def i16(): Int = {
      need(2, "i16")
      val v = ((buf(pos) & 0xff) << 8) | (buf(pos + 1) & 0xff); pos += 2; v.toShort.toInt
    }
    def i32(): Int = {
      need(4, "i32")
      var v = 0; var i = 0
      while (i < 4) { v = (v << 8) | (buf(pos + i) & 0xff); i += 1 }
      pos += 4; v
    }
    def i64(): Long = {
      need(8, "i64")
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (buf(pos + i) & 0xffL); i += 1 }
      pos += 8; v
    }
    private def advance(n: Int, what: String): Unit = { need(n, what); pos += n }
    /** A STRING/BINARY length, checked against the bytes left. */
    private def length(): Int = {
      val len = i32()
      require(len >= 0 && len <= buf.length - pos, "truncated thrift binary")
      len
    }
    /** A MAP/SET/LIST element count; a negative count is malformed. */
    def size(): Int = {
      val n = i32()
      require(n >= 0, s"negative thrift container size $n")
      n
    }
    def binary(): Array[Byte] = {
      val len = length()
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len; out
    }
    def str(): String = new String(binary(), java.nio.charset.StandardCharsets.UTF_8)
    /** Skip one value of the given thrift type id, nested `depth` levels. */
    def skip(tpe: Int, depth: Int = 0): Unit = {
      require(depth <= MaxThriftDepth,
        s"thrift value nested deeper than $MaxThriftDepth levels")
      tpe match {
        case 2 => advance(1, "bool")
        case 3 => advance(1, "byte")
        case 4 => advance(8, "double")
        case 6 => advance(2, "i16")
        case 8 => advance(4, "i32")
        case 10 => advance(8, "i64")
        case 11 => // STRING/BINARY
          val len = length()
          pos += len
        case 12 => // STRUCT
          var t = u8()
          while (t != 0) { i16(); skip(t, depth + 1); t = u8() }
        case 13 => // MAP
          val kt = u8(); val vt = u8(); val n = size()
          var i = 0
          while (i < n) { skip(kt, depth + 1); skip(vt, depth + 1); i += 1 }
        case 14 | 15 => // SET / LIST
          val et = u8(); val n = size()
          var i = 0
          while (i < n) { skip(et, depth + 1); i += 1 }
        case other => throw new IllegalArgumentException(s"unknown thrift type $other")
      }
    }
  }

  private final case class V1Endpoint(ipv4: Int, port: Int, serviceName: String,
      ipv6: Array[Byte])
  private final case class V1Annotation(ts: Long, value: String, host: V1Endpoint)
  private final case class V1BinaryAnnotation(key: String, value: Array[Byte],
      annType: Int, host: V1Endpoint)

  private def thriftEndpoint(t: T): V1Endpoint = {
    var ipv4 = 0; var port = 0; var svc = ""; var ipv6: Array[Byte] = null
    var tpe = t.u8()
    while (tpe != 0) {
      val fid = t.i16()
      (fid, tpe) match {
        case (1, 8) => ipv4 = t.i32()
        case (2, 6) => port = t.i16()
        case (3, 11) => svc = t.str()
        case (4, 11) => ipv6 = t.binary()
        case _ => t.skip(tpe)
      }
      tpe = t.u8()
    }
    V1Endpoint(ipv4, port, svc, ipv6)
  }

  private def v1EndpointToV2(e: V1Endpoint): ZEndpoint =
    if (e == null) ZEndpoint()
    else ZEndpoint(e.serviceName,
      if (e.ipv4 == 0) ""
      else ipOf(java.nio.ByteBuffer.allocate(4).putInt(e.ipv4).array()),
      if (e.ipv6 == null || e.ipv6.isEmpty) "" else ipOf(e.ipv6),
      // v1 port is an i16; negative values are the unsigned upper range
      e.port & 0xffff)

  private def hexOfLong(v: Long): String = f"$v%016x"

  /** One thrift `list<Span>` payload -> v2 spans (v1 semantics applied). */
  def parseThriftV1(bytes: Array[Byte]): Seq[ZipkinSpan] = {
    val t = new T(bytes, 0)
    val elemType = t.u8()
    require(elemType == 12, s"thrift list element type must be STRUCT, got $elemType")
    val count = t.i32()
    require(count >= 0 && count < 1000000, s"implausible span count $count")
    (0 until count).map { _ =>
      var traceId = 0L; var traceIdHigh = 0L; var id = 0L; var parentId = 0L
      var name = ""; var ts = 0L; var dur = 0L; var debug = false
      val anns = scala.collection.mutable.ArrayBuffer.empty[V1Annotation]
      val binAnns = scala.collection.mutable.ArrayBuffer.empty[V1BinaryAnnotation]
      var tpe = t.u8()
      while (tpe != 0) {
        val fid = t.i16()
        (fid, tpe) match {
          case (1, 10) => traceId = t.i64()
          case (3, 11) => name = t.str()
          case (4, 10) => id = t.i64()
          case (5, 10) => parentId = t.i64()
          case (6, 15) =>
            val et = t.u8(); val n = t.size()
            require(et == 12, "annotations must be structs")
            (0 until n).foreach { _ =>
              var ats = 0L; var av = ""; var host: V1Endpoint = null
              var t2 = t.u8()
              while (t2 != 0) {
                val f2 = t.i16()
                (f2, t2) match {
                  case (1, 10) => ats = t.i64()
                  case (2, 11) => av = t.str()
                  case (3, 12) => host = thriftEndpoint(t)
                  case _ => t.skip(t2)
                }
                t2 = t.u8()
              }
              anns += V1Annotation(ats, av, host)
            }
          case (8, 15) =>
            val et = t.u8(); val n = t.size()
            require(et == 12, "binary annotations must be structs")
            (0 until n).foreach { _ =>
              var key = ""; var value: Array[Byte] = null; var at = 6
              var host: V1Endpoint = null
              var t2 = t.u8()
              while (t2 != 0) {
                val f2 = t.i16()
                (f2, t2) match {
                  case (1, 11) => key = t.str()
                  case (2, 11) => value = t.binary()
                  case (3, 8) => at = t.i32()
                  case (4, 12) => host = thriftEndpoint(t)
                  case _ => t.skip(t2)
                }
                t2 = t.u8()
              }
              binAnns += V1BinaryAnnotation(key, value, at, host)
            }
          case (9, 2) => debug = t.u8() != 0
          case (10, 10) => ts = t.i64()
          case (11, 10) => dur = t.i64()
          case (12, 10) => traceIdHigh = t.i64()
          case _ => t.skip(tpe)
        }
        tpe = t.u8()
      }

      // v1 -> v2: core annotations give kind (+ timestamps when missing)
      var kind = ""
      var csTs = 0L; var crTs = 0L; var srTs = 0L; var ssTs = 0L
      var local: ZEndpoint = ZEndpoint()
      val events = scala.collection.mutable.ArrayBuffer.empty[ZAnnotation]
      anns.foreach { a =>
        if (local.isEmpty && a.host != null) local = v1EndpointToV2(a.host)
        a.value match {
          case "cs" => kind = "CLIENT"; csTs = a.ts
          case "cr" => kind = "CLIENT"; crTs = a.ts
          case "sr" => kind = "SERVER"; srTs = a.ts
          case "ss" => kind = "SERVER"; ssTs = a.ts
          case v => events += ZAnnotation(a.ts, v)
        }
      }
      var remote = ZEndpoint()
      val tags = scala.collection.mutable.LinkedHashMap.empty[String, String]
      binAnns.foreach { b =>
        if (b.key == "sa" || b.key == "ca") {
          if (b.host != null) remote = v1EndpointToV2(b.host)
        } else {
          if (local.isEmpty && b.host != null) local = v1EndpointToV2(b.host)
          tags(b.key) = decodeV1Value(b.value, b.annType)
        }
      }
      var ts2 = ts
      var dur2 = dur
      if (ts2 == 0L) ts2 = if (kind == "SERVER") srTs else csTs
      if (dur2 == 0L) {
        if (kind == "SERVER" && srTs != 0L && ssTs != 0L) dur2 = ssTs - srTs
        else if (kind == "CLIENT" && csTs != 0L && crTs != 0L) dur2 = crTs - csTs
      }
      ZipkinSpan(
        if (traceIdHigh != 0L) hexOfLong(traceIdHigh) + hexOfLong(traceId)
        else hexOfLong(traceId),
        if (parentId == 0L) "" else hexOfLong(parentId),
        hexOfLong(id), kind, name, ts2, dur2, local, remote,
        events.toSeq, tags.toMap, debug, shared = false)
    }
  }

  private def decodeV1Value(value: Array[Byte], annType: Int): String = {
    if (value == null) return ""
    val bb = java.nio.ByteBuffer.wrap(value) // thrift is big-endian
    annType match {
      case 0 => if (value.nonEmpty && value(0) != 0) "true" else "false"
      case 1 => java.util.Base64.getEncoder.encodeToString(value)
      case 2 => bb.getShort.toString
      case 3 => bb.getInt.toString
      case 4 => bb.getLong.toString
      case 5 =>
        // SURVEY row 411 does not settle the contrib v1 translator's float
        // text; json.Marshal's layout stands until it does
        Option(graft.functions.GoFloat.json(bb.getDouble)).getOrElse("null")
      case _ => new String(value, java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  // ---- frame-level API -----------------------------------------------------

  /** Kafka traces topic in any zipkin encoding -> SpanFrames frame
    * (a batch of spans per message; undecodable messages dropped by
    * [[OtlpEnvelope.decodeMessages]]).
    */
  def fromKafkaZipkin(df: DataFrame, encoding: String,
      valueCol: Column = col("value")): DataFrame = {
    val parse: Array[Byte] => Seq[ZipkinSpan] = encoding match {
      case "zipkin_proto" => parseProtoV2
      case "zipkin_json" => parseJsonV2
      case "zipkin_thrift" => parseThriftV1
      case other =>
        throw new IllegalArgumentException(s"unrecognized zipkin encoding: $other")
    }
    graft.model.SpanFrames.withDefaults(OtlpEnvelope.decodeMessages(df, valueCol)(
      bytes => parse(bytes).map(toSpanRow)))
  }
}
