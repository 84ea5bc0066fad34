package graft

import graft.sinks.KafkaExport
import graft.sources.{Jaeger, ProtoWire}
import graft.sources.Jaeger.{JaegerKV, JaegerRef, VType}
import graft.sources.OtlpProto.{OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}

/** Jaeger trace encodings (`jaeger_proto` / `jaeger_json` exporter
  * marshalers + receiver unmarshalers): OTLP->Jaeger translation goldens
  * (contrib `ProtoFromTraces` semantics), proto + jsonpb wire round-trips,
  * the reference's own `jaeger_unmarshaler_test.go` round-trip, and the
  * one-message-per-span keyed export shape.
  */
class JaegerSpec extends SparkSuite {

  private def fullRow(): OtlpSpanRow = OtlpSpanRow(
    start_ts = 1581452772000000321L, end_ts = 1581452773000000789L,
    trace_id = "5b8efff798038103d269b633813fc60c", span_id = "eee19b7ec3c1b174",
    parent_span_id = "eee19b7ec3c1b173", trace_state = "a=b", flags = 256,
    name = "op-a", kind = 2, status_code = 2, status_message = "boom",
    attributes_string = Map("k" -> "v"),
    attributes_number = Map("i" -> 42.0, "d" -> 0.5),
    attributes_bool = Map("ok" -> true),
    resources_string = Map("service.name" -> "gateway", "env" -> "prod"),
    scope_name = "lib", scope_version = "1.2", scope_string = Map.empty,
    events = Seq(OtlpSpanEvent("ev", 1581452772500000000L, Map("e" -> "1"))),
    links = Seq(OtlpSpanLink("4bf92f3577b34da6a3ce929d0e0e4736", "00f067aa0ba902b7")))

  test("translation golden: OTLP row -> jaeger span (ProtoFromTraces semantics)") {
    val s = Jaeger.fromSpanRow(fullRow())
    assert(s.operationName === "op-a")
    assert(s.serviceName === "gateway")
    assert(s.processTags === Seq(JaegerKV("env", VType.STRING, vStr = "prod")))
    assert(s.startNanos === 1581452772000000321L)
    assert(s.durationNanos === 1000000468L)
    // attrs first, then the synthesized tags in contrib order
    val tail = s.tags.drop(4)
    assert(s.tags.take(4).map(_.key).toSet === Set("k", "i", "d", "ok"))
    assert(tail.map(t => t.key -> t.asString) === Seq(
      "span.kind" -> "server",
      "otel.status_code" -> "ERROR",
      "error" -> "true",
      "otel.status_description" -> "boom",
      "w3c.tracestate" -> "a=b",
      "otel.scope.name" -> "lib",
      "otel.scope.version" -> "1.2"))
    // typed tag values
    assert(s.tags.find(_.key == "i").get === JaegerKV("i", VType.INT64, vInt64 = 42L))
    assert(s.tags.find(_.key == "d").get === JaegerKV("d", VType.FLOAT64, vFloat64 = 0.5))
    assert(s.tags.find(_.key == "ok").get === JaegerKV("ok", VType.BOOL, vBool = true))
    // parent CHILD_OF first, links FOLLOWS_FROM after
    assert(s.references === Seq(
      JaegerRef("5b8efff798038103d269b633813fc60c", "eee19b7ec3c1b173", 0),
      JaegerRef("4bf92f3577b34da6a3ce929d0e0e4736", "00f067aa0ba902b7", 1)))
    // events -> logs with the `event` name field first
    assert(s.logs.head.fields === Seq(
      JaegerKV("event", VType.STRING, vStr = "ev"),
      JaegerKV("e", VType.STRING, vStr = "1")))
    // jaeger flags not carried (contrib parity)
    assert(s.flags === 0)
  }

  test("empty resource maps to the translator's no-service-name sentinel, and back") {
    val row = fullRow().copy(resources_string = Map.empty)
    val s = Jaeger.fromSpanRow(row)
    assert(s.serviceName === Jaeger.NoServiceName)
    assert(Jaeger.toSpanRow(s).resources_string === Map.empty)
  }

  test("proto round-trip: full span survives encode -> parse bit-exactly") {
    val s = Jaeger.fromSpanRow(fullRow())
    val back = Jaeger.parseSpanProto(Jaeger.encodeSpanProto(s))
    assert(back === s)
  }

  test("jsonpb round-trip: full span survives encode -> parse") {
    val s = Jaeger.fromSpanRow(fullRow())
    val back = Jaeger.parseSpanJson(Jaeger.encodeSpanJson(s))
    assert(back === s)
  }

  test("full OTLP round-trip through both encodings (jaeger_unmarshaler_test.go shape)") {
    // the reference test: translator(span{name, ts 10..20, ids}) -> marshal
    // -> unmarshal -> same traces. Status/scope-less minimal span plus the
    // full-feature span, through both wire forms.
    val minimal = OtlpSpanRow(10L, 20L,
      "0102030405060708090a0b0c0d0e0f10", "0102030405060708", "", "", 0,
      "foo", 0, 0, "", Map.empty, Map.empty, Map.empty, Map.empty,
      "", "", Map.empty, Nil, Nil)
    for (row <- Seq(minimal, fullRow().copy(flags = 0))) {
      val s = Jaeger.fromSpanRow(row)
      val viaProto = Jaeger.toSpanRow(Jaeger.parseSpanProto(Jaeger.encodeSpanProto(s)))
      val viaJson = Jaeger.toSpanRow(Jaeger.parseSpanJson(Jaeger.encodeSpanJson(s)))
      assert(viaProto === row.copy(flags = 0, scope_string = Map.empty))
      assert(viaJson === row.copy(flags = 0, scope_string = Map.empty))
    }
  }

  test("jsonpb golden: exact JSON text (enum names, base64 ids, canonical time)") {
    val s = Jaeger.fromSpanRow(OtlpSpanRow(1581452772000000321L, 1581452773000000321L,
      "5b8efff798038103d269b633813fc60c", "eee19b7ec3c1b174", "", "", 0,
      "op", 3, 0, "", Map("n" -> "1"), Map("i" -> 2.0), Map.empty,
      Map("service.name" -> "svc"), "", "", Map.empty, Nil, Nil))
    val got = new String(Jaeger.encodeSpanJson(s), "UTF-8")
    val want =
      """{"traceId":"W47/95gDgQPSabYzgT/GDA==","spanId":"7uGbfsPBsXQ=",""" +
        """"operationName":"op",""" +
        """"startTime":"2020-02-11T20:26:12.000000321Z","duration":"1s",""" +
        """"tags":[{"key":"n","vStr":"1"},""" +
        """{"key":"i","vType":"INT64","vInt64":"2"},""" +
        """{"key":"span.kind","vStr":"client"}],""" +
        """"process":{"serviceName":"svc"}}"""
    assert(got === want)
  }

  test("canonical timestamp/duration text: 0/3/6/9 fractional digits") {
    assert(Jaeger.timestampJson(0L) === "1970-01-01T00:00:00Z")
    assert(Jaeger.timestampJson(1500000000L) === "1970-01-01T00:00:01.500Z")
    assert(Jaeger.timestampJson(1500100000L) === "1970-01-01T00:00:01.500100Z")
    assert(Jaeger.timestampJson(1500100009L) === "1970-01-01T00:00:01.500100009Z")
    assert(Jaeger.durationJson(0L) === "0s")
    assert(Jaeger.durationJson(10L) === "0.000000010s")
    assert(Jaeger.durationJson(1000340012L) === "1.000340012s")
    assert(Jaeger.durationJson(3000000000L) === "3s")
    assert(Jaeger.durationJson(2500000000L) === "2.500s")
  }

  test("BINARY tags decode to base64 strings (pcommon bytes rendering)") {
    val kv = JaegerKV("b", VType.BINARY, vBinary = Array[Byte](1, 2, 0xff.toByte))
    // hand round-trip through the proto wire
    val s = Jaeger.parseSpanProto(Jaeger.encodeSpanProto(
      Jaeger.JaegerSpan("", "", "x", Nil, 0, 0L, 0L, Seq(kv), Nil, "svc", Nil)))
    val row = Jaeger.toSpanRow(s)
    assert(row.attributes_string === Map("b" -> "AQL/"))
  }

  test("malformed payloads throw (receiver drops them)") {
    intercept[Exception](Jaeger.parseSpanProto("+$%".getBytes("UTF-8")))
    intercept[Exception](Jaeger.parseSpanJson("+$%".getBytes("UTF-8")))
  }

  test("a string length above 2^32 is not narrowed into range") {
    // KeyValue{key=1} whose length prefix is 2^32 + 3 (3 once cut to an Int)
    def spanWithKeyLength(len: Long): Array[Byte] = {
      val prefix = new ProtoWire.Writer(8)
      prefix.varint(10L) // field 1, wire 2
      prefix.varint(len)
      val span = new ProtoWire.Writer(32)
      span.bytesField(8, prefix.toBytes ++ "abc".getBytes("UTF-8"))
      span.toBytes
    }
    assert(Jaeger.parseSpanProto(spanWithKeyLength(3L)).tags.map(_.key) === Seq("abc"))
    intercept[IllegalArgumentException](Jaeger.parseSpanProto(spanWithKeyLength((1L << 32) + 3)))
  }

  test("kafka export: one keyed message per span; receive side restores the frame") {
    import spark.implicits._
    val df = Seq(
      ("5b8efff798038103d269b633813fc60c", "eee19b7ec3c1b174", "op-a", "svc1"),
      ("00000000000000000000000000000002", "0000000000000003", "op-b", "svc2"))
      .toDF("trace_id", "span_id", "name", "svc")
      .withColumn("resources_string",
        org.apache.spark.sql.functions.map(
          org.apache.spark.sql.functions.lit("service.name"),
          org.apache.spark.sql.functions.col("svc")))
      .drop("svc")
    for (enc <- Seq("jaeger_proto", "jaeger_json")) {
      val msgs = KafkaExport.tracesToKafka(df, encoding = enc, tenant = "t").collect()
      assert(msgs.length === 2)
      assert(msgs.forall(_.topic == "t_traces"))
      // key = model.TraceID.String(): low-half-only hex when high is zero
      assert(msgs.map(m => new String(m.key, "UTF-8")).sorted.toSeq ===
        Seq("0000000000000002", "5b8efff798038103d269b633813fc60c"))
      val back = Jaeger.fromKafkaJaeger(
        msgs.toSeq.toDF("topic", "value", "key"), enc)
      assert(back.count() === 2)
      val names = back.select("name").as[String].collect().sorted.toSeq
      assert(names === Seq("op-a", "op-b"))
      assert(back.select("resources_string")
        .collect().map(_.getMap[String, String](0)("service.name")).sorted.toSeq ===
        Seq("svc1", "svc2"))
    }
  }

  test("jaeger_json accepts enum numbers and names on decode") {
    val json =
      """{"traceId":"AQIDBAUGBwgJCgsMDQ4PEA==","spanId":"AQIDBAUGBwg=",""" +
        """"operationName":"x","references":[{"traceId":"AQIDBAUGBwgJCgsMDQ4PEA==",""" +
        """"spanId":"AQIDBAUGBwk=","refType":1}],""" +
        """"startTime":"1970-01-01T00:00:00.000000010Z","duration":"0.000000010s",""" +
        """"tags":[{"key":"t","vType":2,"vInt64":"7"}],"process":{"serviceName":"s"}}"""
    val s = Jaeger.parseSpanJson(json.getBytes("UTF-8"))
    assert(s.references.head.refType === 1)
    assert(s.tags === Seq(JaegerKV("t", VType.INT64, vInt64 = 7L)))
    assert(s.startNanos === 10L && s.durationNanos === 10L)
  }
}
