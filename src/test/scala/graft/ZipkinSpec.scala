package graft

import graft.sources.Zipkin
import graft.sources.Zipkin.{ZAnnotation, ZEndpoint}
import graft.sources.ProtoWire.Writer

/** Zipkin receiver decodings (`zipkin_proto` / `zipkin_json` /
  * `zipkin_thrift`): v2 JSON parse goldens, hand-encoded proto3 and
  * TBinaryProtocol payloads, v1 core-annotation semantics (kind inference,
  * derived timing, typed binary annotations, address annotations), OTLP
  * mapping, and the frame-level batch decode.
  */
class ZipkinSpec extends SparkSuite {

  private val v2Json =
    """[{"traceId":"0102030405060708090a0b0c0d0e0f10","parentId":"0102030405060707",
      |"id":"0102030405060708","kind":"SERVER","name":"get /api",
      |"timestamp":1597759000,"duration":10000,
      |"localEndpoint":{"serviceName":"my_service","ipv4":"10.0.0.1","port":8080},
      |"remoteEndpoint":{"serviceName":"peer_svc","ipv4":"10.0.0.2","port":9000},
      |"annotations":[{"timestamp":1597760000,"value":"wr"}],
      |"tags":{"http.method":"GET","otel.status_code":"ERROR",
      |"otel.status_description":"bad","otel.scope.name":"lib"},
      |"debug":true,"shared":true}]""".stripMargin.replace("\n", "")

  test("v2 JSON parse golden") {
    val spans = Zipkin.parseJsonV2(v2Json.getBytes("UTF-8"))
    assert(spans.length === 1)
    val s = spans.head
    assert(s.traceId === "0102030405060708090a0b0c0d0e0f10")
    assert(s.parentId === "0102030405060707")
    assert(s.id === "0102030405060708")
    assert(s.kind === "SERVER")
    assert(s.name === "get /api")
    assert(s.timestampMicros === 1597759000L && s.durationMicros === 10000L)
    assert(s.local === ZEndpoint("my_service", "10.0.0.1", "", 8080))
    assert(s.remote === ZEndpoint("peer_svc", "10.0.0.2", "", 9000))
    assert(s.annotations === Seq(ZAnnotation(1597760000L, "wr")))
    assert(s.tags("http.method") === "GET")
    assert(s.debug && s.shared)
  }

  test("OTLP mapping: kind, specials lifted, endpoints, events, id padding") {
    val row = Zipkin.toSpanRow(Zipkin.parseJsonV2(v2Json.getBytes("UTF-8")).head)
    assert(row.kind === 2) // SERVER
    assert(row.status_code === 2 && row.status_message === "bad")
    assert(row.scope_name === "lib")
    assert(row.attributes_string === Map("http.method" -> "GET",
      "peer.service" -> "peer_svc", "net.peer.ip" -> "10.0.0.2"))
    assert(row.attributes_number === Map("net.peer.port" -> 9000.0))
    assert(row.resources_string === Map("service.name" -> "my_service",
      "ipv4" -> "10.0.0.1", "port" -> "8080"))
    assert(row.start_ts === 1597759000000L && row.end_ts === 1597769000000L)
    assert(row.events === Seq(
      graft.sources.OtlpProto.OtlpSpanEvent("wr", 1597760000000L, Map.empty)))
    // 64-bit v1-style trace id pads to 32 hex chars
    val short = Zipkin.toSpanRow(Zipkin.parseJsonV2(
      """[{"traceId":"0102030405060708","id":"0a0b0c0d0e0f1011"}]"""
        .getBytes("UTF-8")).head)
    assert(short.trace_id === "00000000000000000102030405060708")
    assert(short.span_id === "0a0b0c0d0e0f1011")
  }

  private def protoEndpoint(svc: String, ipv4: Array[Byte], port: Int): Writer = {
    val w = new Writer(32)
    if (svc.nonEmpty) w.stringField(1, svc)
    if (ipv4 != null) w.bytesField(2, ipv4)
    if (port != 0) w.varintField(4, port.toLong)
    w
  }

  test("v2 proto parse: hand-encoded ListOfSpans matches the JSON equivalent") {
    val span = new Writer(128)
    span.bytesField(1, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16))
    span.bytesField(2, Array[Byte](1, 2, 3, 4, 5, 6, 7, 7))
    span.bytesField(3, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    span.varintField(4, 2L) // SERVER
    span.stringField(5, "get /api")
    span.fixed64Field(6, 1597759000L)
    span.varintField(7, 10000L)
    span.msgField(8, protoEndpoint("my_service", Array[Byte](10, 0, 0, 1), 8080))
    span.msgField(9, protoEndpoint("peer_svc", Array[Byte](10, 0, 0, 2), 9000))
    val ann = new Writer(24)
    ann.fixed64Field(1, 1597760000L)
    ann.stringField(2, "wr")
    span.msgField(10, ann)
    def tagEntry(k: String, v: String): Writer = {
      val w = new Writer(24); w.stringField(1, k); w.stringField(2, v); w
    }
    span.msgField(11, tagEntry("http.method", "GET"))
    span.msgField(11, tagEntry("otel.status_code", "ERROR"))
    span.msgField(11, tagEntry("otel.status_description", "bad"))
    span.msgField(11, tagEntry("otel.scope.name", "lib"))
    span.boolField(12, true)
    span.boolField(13, true)
    val list = new Writer(160)
    list.msgField(1, span)
    val got = Zipkin.parseProtoV2(list.toBytes)
    val want = Zipkin.parseJsonV2(v2Json.getBytes("UTF-8"))
    assert(got === want)
  }

  test("v2 proto: a fixed64 timestamp cut off at the span's end throws") {
    val cut = new Writer(32)
    cut.stringField(5, "a")
    cut.varint((6L << 3) | 1) // timestamp=6 (fixed64) with only 3 of its 8 bytes
    Seq(1L, 2L, 3L).foreach(cut.varint)
    val next = new Writer(32)
    next.stringField(5, "b")
    next.fixed64Field(6, 1597759000L)
    val list = new Writer(64)
    list.msgField(1, cut)
    list.msgField(1, next)
    intercept[IllegalArgumentException](Zipkin.parseProtoV2(list.toBytes))
  }

  // minimal TBinaryProtocol writer (big-endian)
  private final class TW {
    private val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): TW = { out.write(v); this }
    def i16(v: Int): TW = { out.write(v >> 8); out.write(v); this }
    def i32(v: Int): TW = { out.write(v >> 24); out.write(v >> 16); out.write(v >> 8); out.write(v); this }
    def i64(v: Long): TW = { i32((v >> 32).toInt); i32(v.toInt); this }
    def str(s: String): TW = { val b = s.getBytes("UTF-8"); i32(b.length); out.write(b); this }
    def bin(b: Array[Byte]): TW = { i32(b.length); out.write(b); this }
    def field(tpe: Int, id: Int): TW = { u8(tpe); i16(id); this }
    def stop(): TW = u8(0)
    def bytes: Array[Byte] = out.toByteArray
  }

  private def thriftEndpoint(w: TW, ipv4: Int, port: Int, svc: String): Unit = {
    w.field(8, 1).i32(ipv4)
    w.field(6, 2).i16(port)
    w.field(11, 3).str(svc)
    w.stop()
  }

  test("thrift parse: the reference test's minimal span (name only)") {
    val w = new TW
    w.u8(12).i32(1) // list<STRUCT>[1]
    w.field(11, 3).str("foo")
    w.stop()
    val spans = Zipkin.parseThriftV1(w.bytes)
    assert(spans.length === 1)
    assert(spans.head.name === "foo")
    val row = Zipkin.toSpanRow(spans.head)
    assert(row.name === "foo")
    assert(row.trace_id === "" && row.span_id === "") // all-zero ids collapse
  }

  test("thrift v1 semantics: core annotations, typed binary annotations, sa address") {
    val w = new TW
    w.u8(12).i32(1)
    w.field(10, 1).i64(0x0102030405060708L) // trace_id
    w.field(11, 3).str("call")
    w.field(10, 4).i64(0x0a0b0c0d0e0f1011L) // id
    // annotations: cs/cr with host -> CLIENT kind + local endpoint + timing
    w.field(15, 6).u8(12).i32(3)
    w.field(10, 1).i64(1000L); w.field(11, 2).str("cs")
    w.field(12, 3); thriftEndpoint(w, (10 << 24) | 1, 8080, "caller")
    w.stop()
    w.field(10, 1).i64(5000L); w.field(11, 2).str("cr"); w.stop()
    w.field(10, 1).i64(2000L); w.field(11, 2).str("wire"); w.stop()
    // binary annotations: typed values + an sa address annotation
    w.field(15, 8).u8(12).i32(5)
    w.field(11, 1).str("http.status"); w.field(11, 2).bin(
      java.nio.ByteBuffer.allocate(4).putInt(200).array())
    w.field(8, 3).i32(3); w.stop() // I32
    w.field(11, 1).str("ok"); w.field(11, 2).bin(Array[Byte](1))
    w.field(8, 3).i32(0); w.stop() // BOOL
    w.field(11, 1).str("ratio"); w.field(11, 2).bin(
      java.nio.ByteBuffer.allocate(8).putDouble(0.5).array())
    w.field(8, 3).i32(5); w.stop() // DOUBLE
    w.field(11, 1).str("blob"); w.field(11, 2).bin(Array[Byte](1, 2, -1))
    w.field(8, 3).i32(1); w.stop() // BYTES
    w.field(11, 1).str("sa"); w.field(11, 2).bin(Array[Byte](1))
    w.field(8, 3).i32(0)
    w.field(12, 4); thriftEndpoint(w, (10 << 24) | 2, 9000, "callee")
    w.stop()
    w.stop() // end span struct
    val s = Zipkin.parseThriftV1(w.bytes).head
    assert(s.kind === "CLIENT")
    assert(s.timestampMicros === 1000L && s.durationMicros === 4000L) // cr - cs
    assert(s.local === ZEndpoint("caller", "10.0.0.1", "", 8080))
    assert(s.remote === ZEndpoint("callee", "10.0.0.2", "", 9000))
    assert(s.annotations === Seq(ZAnnotation(2000L, "wire"))) // core anns dropped
    assert(s.tags === Map("http.status" -> "200", "ok" -> "true",
      "ratio" -> "0.5", "blob" -> "AQL/"))
    assert(s.traceId === "0102030405060708")
    val row = Zipkin.toSpanRow(s)
    assert(row.kind === 3 && row.trace_id === "00000000000000000102030405060708")
  }

  test("explicit v1 timestamp/duration win over derived ones") {
    val w = new TW
    w.u8(12).i32(1)
    w.field(10, 4).i64(1L)
    w.field(15, 6).u8(12).i32(2)
    w.field(10, 1).i64(1000L); w.field(11, 2).str("sr"); w.stop()
    w.field(10, 1).i64(9000L); w.field(11, 2).str("ss"); w.stop()
    w.field(10, 10).i64(1500L)
    w.field(10, 11).i64(2500L)
    w.stop()
    val s = Zipkin.parseThriftV1(w.bytes).head
    assert(s.kind === "SERVER")
    assert(s.timestampMicros === 1500L && s.durationMicros === 2500L)
  }

  /** `f` on one daemon thread with `stackBytes` of stack: its result or what
    * it threw, or None while it is still running after `seconds`.
    */
  private def onThread[A](stackBytes: Long, seconds: Int)(f: => A): Option[Either[Throwable, A]] = {
    val out = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, A]]()
    val t = new Thread(null, () => out.set(try Right(f) catch { case e: Throwable => Left(e) }),
      "thrift-parse", stackBytes)
    t.setDaemon(true)
    t.start()
    t.join(seconds * 1000L)
    Option(out.get)
  }

  test("thrift: an unknown string field is skipped to the byte after it") {
    def parse(unknown: Boolean) = {
      val w = new TW
      w.u8(12).i32(1)
      w.field(10, 1).i64(7L)
      if (unknown) w.field(11, 99).str("unknown field")
      w.field(11, 3).str("call")
      w.field(10, 4).i64(9L)
      w.stop()
      Zipkin.parseThriftV1(w.bytes)
    }
    assert(parse(unknown = false).map(_.name) === Seq("call"))
    assert(parse(unknown = true) === parse(unknown = false))
  }

  test("thrift: a negative string length is rejected, not looped on") {
    // list<STRUCT>[1], then field 99 of type STRING with length -3
    val msg = Array(0x0c, 0, 0, 0, 1, 0x0b, 0x00, 0x63, 0xff, 0xff, 0xff, 0xfd).map(_.toByte)
    val r = onThread(1L << 20, 10)(Zipkin.parseThriftV1(msg))
    assert(r.isDefined, "parseThriftV1 still running after 10 s")
    assert(r.get.left.exists(_.isInstanceOf[IllegalArgumentException]), r)
  }

  test("thrift: unknown structs nested past MaxThriftDepth throw, not overflow the stack") {
    val w = new TW
    w.u8(12).i32(1)
    (0 until 50000).foreach(_ => w.field(12, 99))
    (0 to 50000).foreach(_ => w.stop())
    val r = onThread(512L << 10, 60)(Zipkin.parseThriftV1(w.bytes))
    assert(r.isDefined, "parseThriftV1 still running after 60 s")
    assert(r.get.left.exists(_.isInstanceOf[IllegalArgumentException]), r)
  }

  test("thrift: every strict prefix of a valid message throws IllegalArgumentException") {
    import spark.implicits._
    val w = new TW
    w.u8(12).i32(2)
    w.field(10, 1).i64(0x0102030405060708L)
    w.field(11, 3).str("call")
    w.field(10, 4).i64(9L)
    w.field(15, 6).u8(12).i32(1)
    w.field(10, 1).i64(1000L); w.field(11, 2).str("cs")
    w.field(12, 3); thriftEndpoint(w, (10 << 24) | 1, 8080, "caller")
    w.stop()
    w.field(15, 8).u8(12).i32(1)
    w.field(11, 1).str("k"); w.field(11, 2).bin(Array[Byte](1)); w.field(8, 3).i32(0); w.stop()
    w.field(2, 9).u8(1) // debug
    // unknown fields of every fixed-width type, skipped
    w.field(2, 90).u8(0); w.field(3, 91).u8(7); w.field(4, 92).i64(1L)
    w.field(6, 93).i16(5); w.field(8, 94).i32(6); w.field(10, 95).i64(7L)
    w.stop()
    w.field(11, 3).str("second")
    w.stop()
    val msg = w.bytes
    assert(Zipkin.parseThriftV1(msg).map(_.name) === Seq("call", "second"))
    (0 until msg.length).foreach { n =>
      intercept[IllegalArgumentException](Zipkin.parseThriftV1(msg.take(n)))
    }
    val prefixes = Seq(1, msg.length / 2, msg.length - 1).map(msg.take)
    assert(Zipkin.fromKafkaZipkin(prefixes.toDF("value"), "zipkin_thrift").count() === 0L)
  }

  test("frame-level decode for all three encodings; malformed messages dropped") {
    import spark.implicits._
    val protoBytes = {
      val span = new Writer(64)
      span.bytesField(1, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16))
      span.bytesField(3, Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
      span.stringField(5, "p")
      val l = new Writer(80); l.msgField(1, span); l.toBytes
    }
    val thriftBytes = {
      val w = new TW; w.u8(12).i32(1); w.field(11, 3).str("t"); w.stop(); w.bytes
    }
    val jsonBytes =
      """[{"traceId":"0102030405060708090a0b0c0d0e0f10","id":"0102030405060708","name":"j"}]"""
        .getBytes("UTF-8")
    val bad = "+$%".getBytes("UTF-8")
    def frame(enc: String, payload: Array[Byte]): Seq[String] =
      Zipkin.fromKafkaZipkin(
        Seq(payload, bad).toDF("value"), enc)
        .select("name").as[String].collect().toSeq
    assert(frame("zipkin_proto", protoBytes) === Seq("p"))
    assert(frame("zipkin_json", jsonBytes) === Seq("j"))
    assert(frame("zipkin_thrift", thriftBytes) === Seq("t"))
  }
}
