package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.sources.{OtlpJson, OtlpProto, OtlpProtoEncode}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpRow, OtlpSpanRow}
import graft.sources.ProtoWire.{Reader, Writer}

/** The shared OTLP envelope: rows interleaved across resources and scopes
  * nest in first-seen order alike in the proto and JSON encodings, proto
  * decode returns the rows in that nesting's order, and a message whose
  * AnyValue nests too deep is dropped by each receiver without failing the
  * rest of its batch.
  */
class OtlpEnvelopeSpec extends SparkSuite {
  import spark.implicits._

  private val resA = Map("service.name" -> "a")
  private val resB = Map("service.name" -> "b", "env" -> "prod")
  private val schemaUrl = "https://opentelemetry.io/schemas/1.21.0"

  /** (resource, scope name) per row: every group is revisited after the
    * others have been seen.
    */
  private val layout = {
    val once = Seq((resA, "s1"), (resB, "s1"), (resA, "s2"), (resB, "s2"),
      (resA, "s1"), (resB, "s2"), (resA, "s2"), (resB, "s1"))
    once ++ once
  }

  /** Resource attrs -> (scope name, schema_url, record ids) per scope. */
  private type Nesting = Seq[(Map[String, String], Seq[(String, String, Seq[String])])]

  /** The expected first-seen nesting, grouped here without the encoders. */
  private def expectedNesting[R](rows: Seq[R])(resource: R => Map[String, String],
      scope: R => (String, String), records: Seq[R] => Seq[String]): Nesting =
    rows.map(resource).distinct.map { res =>
      val inRes = rows.filter(resource(_) == res)
      res -> inRes.map(scope).distinct.map { s =>
        (s._1, s._2, records(inRes.filter(scope(_) == s)))
      }
    }

  /** The rows in the nesting's order: grouped by each key in turn, groups
    * in first-seen order, rows in input order within a group.
    */
  private def nestedOrder[R](rows: Seq[R], keys: List[R => Any]): Seq[R] = keys match {
    case Nil => rows
    case key :: rest =>
      rows.map(key).distinct.flatMap(k => nestedOrder(rows.filter(key(_) == k), rest))
  }

  // ---- proto structure -----------------------------------------------------

  private def lenFields(r: Reader): Seq[(Int, Reader)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Reader)]
    while (r.hasMore) {
      val tag = r.readVarint()
      if ((tag & 7) == 2) out += (((tag >> 3).toInt, r.readSlice()))
      else r.skip((tag & 7).toInt)
    }
    out.toSeq
  }
  private def field(fs: Seq[(Int, Reader)], n: Int): Seq[Reader] =
    fs.collect { case (`n`, r) => r }
  private def str(r: Reader): String =
    new String(r.buf, r.pos, r.end - r.pos, java.nio.charset.StandardCharsets.UTF_8)
  private def firstStr(fs: Seq[(Int, Reader)], n: Int): String =
    field(fs, n).headOption.map(str).getOrElse("")

  private def protoNesting(bytes: Array[Byte])(recordId: Reader => String): Nesting =
    field(lenFields(new Reader(bytes, 0, bytes.length)), 1).map { rx =>
      val rf = lenFields(rx)
      val res = field(rf, 1).flatMap(r => field(lenFields(r), 1)).map { kv =>
        val f = lenFields(kv)
        firstStr(f, 1) -> firstStr(lenFields(field(f, 2).head), 1)
      }.toMap
      res -> field(rf, 2).map { sx =>
        val sf = lenFields(sx)
        val name = field(sf, 1).headOption.map(s => firstStr(lenFields(s), 1)).getOrElse("")
        (name, firstStr(sf, 3), field(sf, 2).map(recordId))
      }
    }

  // ---- JSON structure ------------------------------------------------------

  private def jsonNesting(bytes: Array[Byte], top: String, scopes: String,
      records: String)(recordId: JsonNode => String): Nesting =
    new ObjectMapper().readTree(bytes).get(top).elements.asScala.toSeq.map { rx =>
      val res = Option(rx.get("resource")).toSeq
        .flatMap(_.get("attributes").elements.asScala)
        .map(kv => kv.get("key").asText -> kv.get("value").get("stringValue").asText).toMap
      res -> rx.get(scopes).elements.asScala.toSeq.map { sx =>
        (Option(sx.get("scope")).flatMap(s => Option(s.get("name"))).map(_.asText).getOrElse(""),
          Option(sx.get("schemaUrl")).map(_.asText).getOrElse(""),
          sx.get(records).elements.asScala.toSeq.map(recordId))
      }
    }

  // ---- logs / spans / metrics ----------------------------------------------

  test("logs: interleaved resources x scopes nest first-seen alike in proto and JSON") {
    val rows = layout.zipWithIndex.map { case ((res, scope), i) =>
      OtlpRow(1700000000000000000L + i, 0L, 9, s"r$i", s"body $i",
        Map("i" -> i.toString), Map.empty, Map.empty, res, "", "", 0,
        scope, "1.0", Map("lib" -> scope))
    }
    val resource = (r: OtlpRow) => r.resources_string
    val scope = (r: OtlpRow) => (r.scope_name, "")
    val want = expectedNesting(rows)(resource, scope, _.map(_.severity_text))
    assert(want.length == 2 && want.forall(_._2.length == 2))
    val proto = OtlpProtoEncode.encodeLogsData(rows)
    assert(protoNesting(proto)(r => firstStr(lenFields(r), 3)) === want)
    assert(jsonNesting(OtlpJson.encodeLogsJson(rows), "resourceLogs", "scopeLogs",
      "logRecords")(_.get("severityText").asText) === want)
    assert(OtlpProto.parseLogsData(proto) === nestedOrder(rows, List(resource, scope)))
  }

  test("spans: interleaved resources x scopes nest first-seen alike in proto and JSON") {
    val rows = layout.zipWithIndex.map { case ((res, scope), i) =>
      OtlpSpanRow(100L + i, 200L + i, "0102030405060708090a0b0c0d0e0f10",
        f"${i + 1}%016x", "", "", 0, s"span$i", 2, 0, "", Map("i" -> i.toString),
        Map.empty, Map.empty, res, scope, "", Map.empty, Nil, Nil)
    }
    val resource = (r: OtlpSpanRow) => r.resources_string
    val scope = (r: OtlpSpanRow) => (r.scope_name, "")
    val want = expectedNesting(rows)(resource, scope, _.map(_.name))
    val proto = OtlpProtoEncode.encodeTracesData(rows)
    assert(protoNesting(proto)(r => firstStr(lenFields(r), 5)) === want)
    assert(jsonNesting(OtlpJson.encodeTracesJson(rows), "resourceSpans", "scopeSpans",
      "spans")(_.get("name").asText) === want)
    assert(OtlpProto.parseTracesData(proto) === nestedOrder(rows, List(resource, scope)))
  }

  test("metrics: interleaved identities and a scope schema_url nest alike in proto and JSON") {
    val rows = layout.zipWithIndex.map { case ((res, scope), i) =>
      val gauge = (i % 8 < 4) == (i < 8) // per scope: m.a, m.b, m.b, m.a
      OtlpMetricRow("scalar", if (gauge) "m.a" else "m.b", "", "1",
        if (gauge) "Gauge" else "Sum", if (gauge) "Unspecified" else "Cumulative",
        is_monotonic = !gauge, unix_milli = 1700000000000L + i, value = i.toDouble,
        flags = 0, attrs = Map("i" -> i.toString), scope_name = scope,
        scope_version = "", scope_schema_url = if (scope == "s2") schemaUrl else "",
        scope_attrs = Map.empty, resource_attrs = res, count = 0L, sum_v = 0.0,
        min_v = 0.0, max_v = 0.0, has_sum = false, has_min = false, has_max = false,
        explicit_bounds = Nil, bucket_counts = Nil, quantiles = Nil, scale = 0,
        zero_count = 0.0, positive_offset = 0, positive_counts = Nil,
        negative_offset = 0, negative_counts = Nil)
    }
    val resource = (r: OtlpMetricRow) => r.resource_attrs
    val scope = (r: OtlpMetricRow) => (r.scope_name, r.scope_schema_url)
    // records of a scope are its metrics: name and datapoint count
    val want = expectedNesting(rows)(resource, scope, rs =>
      rs.map(_.metric_name).distinct.map(n => s"$n x${rs.count(_.metric_name == n)}"))
    assert(want.flatMap(_._2).forall(_._3 == Seq("m.a x2", "m.b x2")))
    assert(want.flatMap(_._2).map(_._2).toSet == Set("", schemaUrl))
    val proto = OtlpProtoEncode.encodeMetricsData(rows)
    assert(protoNesting(proto) { m =>
      val f = lenFields(m)
      val points = (field(f, 5) ++ field(f, 7)).flatMap(d => field(lenFields(d), 1))
      s"${firstStr(f, 1)} x${points.length}"
    } === want)
    assert(jsonNesting(OtlpJson.encodeMetricsJson(rows), "resourceMetrics",
      "scopeMetrics", "metrics") { m =>
      val data = Option(m.get("gauge")).getOrElse(m.get("sum"))
      s"${m.get("name").asText} x${data.get("dataPoints").size}"
    } === want)
    // within a scope, points regroup by metric identity in first-seen order
    assert(OtlpProto.parseMetricsData(proto) ===
      nestedOrder(rows, List(resource, scope, (r: OtlpMetricRow) => r.metric_name)))
  }

  // ---- AnyValue nesting depth ----------------------------------------------

  private def varintLen(v: Long): Int =
    if ((v & ~0x7fL) == 0L) 1 else 1 + varintLen(v >>> 7)

  /** An AnyValue nested `depth` levels: arrays around the string "x", built
    * inside-out without recursion.
    */
  private def deepAnyValue(depth: Int): Array[Byte] = {
    val sizes = new Array[Long](depth + 1)
    sizes(1) = 3L // AnyValue{string_value=1: "x"}
    def arraySize(k: Int): Long = 1 + varintLen(sizes(k - 1)) + sizes(k - 1)
    (2 to depth).foreach { k => sizes(k) = 1 + varintLen(arraySize(k)) + arraySize(k) }
    val w = new Writer(sizes(depth).toInt)
    (depth to 2 by -1).foreach { k =>
      w.varint(0x2aL); w.varint(arraySize(k)) // AnyValue{array_value=5}
      w.varint(0x0aL); w.varint(sizes(k - 1)) // ArrayValue{values=1}
    }
    w.stringField(1, "x")
    w.toBytes
  }

  /** One XData message: a resource carrying `deep` = `value`, one scope,
    * one record.
    */
  private def withDeepResource(value: Array[Byte], record: Writer): Array[Byte] = {
    val kv = new Writer(value.length + 16)
    kv.stringField(1, "deep"); kv.bytesField(2, value)
    val res = new Writer(value.length + 16); res.msgField(1, kv)
    val sx = new Writer(64); sx.msgField(2, record)
    val rx = new Writer(value.length + 64); rx.msgField(1, res); rx.msgField(2, sx)
    val top = new Writer(value.length + 64); top.msgField(1, rx)
    top.toBytes
  }

  private def logRecord(text: String): Writer = { val w = new Writer(16); w.stringField(3, text); w }
  private def span(name: String): Writer = { val w = new Writer(16); w.stringField(5, name); w }
  private def gauge(name: String): Writer = {
    val point = new Writer(16); point.doubleField(4, 1.0)
    val data = new Writer(16); data.msgField(1, point)
    val m = new Writer(32); m.stringField(1, name); m.msgField(5, data)
    m
  }

  test("an AnyValue nested past the stack is dropped by each receiver; the batch still decodes") {
    val deep = deepAnyValue(50000)
    val ok = deepAnyValue(3)
    val logs = Seq(withDeepResource(ok, logRecord("first")),
      withDeepResource(deep, logRecord("deep")), withDeepResource(ok, logRecord("last")))
    assert(OtlpProto.fromOtlpProto(logs.toDF("value"), col("value"))
      .select("severity_text").as[String].collect().toSeq === Seq("first", "last"))
    val spans = Seq(withDeepResource(ok, span("first")),
      withDeepResource(deep, span("deep")), withDeepResource(ok, span("last")))
    assert(OtlpProto.fromOtlpProtoSpans(spans.toDF("value"), col("value"))
      .select("name").as[String].collect().toSeq === Seq("first", "last"))
    val metrics = Seq(withDeepResource(ok, gauge("first")),
      withDeepResource(deep, gauge("deep")), withDeepResource(ok, gauge("last")))
    assert(OtlpProto.fromOtlpProtoMetrics(metrics.toDF("value"), col("value")).scalars
      .select("metric_name").as[String].collect().toSeq === Seq("first", "last"))
  }

  test("AnyValue depth bound: MaxAnyValueDepth levels decode, one more fails the message") {
    val depth = OtlpProto.MaxAnyValueDepth
    val rows = OtlpProto.parseLogsData(withDeepResource(deepAnyValue(depth), logRecord("r")))
    assert(rows.map(_.resources_string("deep")) ===
      Seq("[" * (depth - 1) + "\"x\"" + "]" * (depth - 1)))
    intercept[IllegalArgumentException](OtlpProto.parseLogsData(
      withDeepResource(deepAnyValue(depth + 1), logRecord("r"))))
  }
}
