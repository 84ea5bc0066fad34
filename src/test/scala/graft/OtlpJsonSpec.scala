package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sinks.KafkaExport
import graft.sources.{OtlpJson, OtlpProto}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpQuantile, OtlpRow, OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}

/** OTLP/JSON encoder (`otlp_json` Kafka exporter encoding — pdata
  * JSONMarshaler semantics per the OTLP spec's JSON mapping): hand-computed
  * goldens per signal, protojson value-form rules (int64-as-string, enum-as-
  * number, hex ids, non-finite doubles quoted), and structural equivalence
  * with the proto encoder (decode(proto(rows)) rows appear 1:1 in the JSON).
  */
class OtlpJsonSpec extends SparkSuite {

  private val mapper = new ObjectMapper()
  private def parse(b: Array[Byte]) = mapper.readTree(new String(b, "UTF-8"))

  private def logRow(
      ts: Long = 0L, ots: Long = 0L, sevNum: Int = 0, sevText: String = "",
      body: String, as: Map[String, String] = Map.empty,
      an: Map[String, Double] = Map.empty, ab: Map[String, Boolean] = Map.empty,
      res: Map[String, String] = Map.empty, traceId: String = "",
      spanId: String = "", flags: Int = 0, scopeName: String = "",
      scopeVersion: String = "", scopeAttrs: Map[String, String] = Map.empty): OtlpRow =
    OtlpRow(ts, ots, sevNum, sevText, body, as, an, ab, res, traceId, spanId,
      flags, scopeName, scopeVersion, scopeAttrs)

  test("logs golden: full record, exact JSON text") {
    val rows = Seq(logRow(ts = 1544712660300000000L, ots = 1544712660300000001L,
      sevNum = 9, sevText = "INFO", body = "hello",
      as = Map("k" -> "v"), an = Map("i" -> 42.0), ab = Map("ok" -> true),
      res = Map("service.name" -> "gateway"),
      traceId = "0102030405060708090a0b0c0d0e0f10", spanId = "0102030405060708",
      flags = 1, scopeName = "scope-a", scopeVersion = "1.2"))
    val got = new String(OtlpJson.encodeLogsJson(rows), "UTF-8")
    val want =
      """{"resourceLogs":[{"resource":{"attributes":[""" +
        """{"key":"service.name","value":{"stringValue":"gateway"}}]},""" +
        """"scopeLogs":[{"scope":{"name":"scope-a","version":"1.2"},""" +
        """"logRecords":[{"timeUnixNano":"1544712660300000000",""" +
        """"severityNumber":9,"severityText":"INFO",""" +
        """"body":{"stringValue":"hello"},""" +
        """"attributes":[{"key":"k","value":{"stringValue":"v"}},""" +
        """{"key":"i","value":{"intValue":"42"}},""" +
        """{"key":"ok","value":{"boolValue":true}}],""" +
        """"flags":1,"traceId":"0102030405060708090a0b0c0d0e0f10",""" +
        """"spanId":"0102030405060708",""" +
        """"observedTimeUnixNano":"1544712660300000001"}]}]}]}"""
    assert(got === want)
  }

  test("logs: zero/empty fields are omitted; empty frame is an empty list") {
    val n = parse(OtlpJson.encodeLogsJson(Seq(logRow(body = "x"))))
    val rec = n.at("/resourceLogs/0/scopeLogs/0/logRecords/0")
    assert(rec.fieldNames().next() === "body")
    assert(rec.size() === 1) // only body survives an all-default row
    // no resource / scope objects when empty
    assert(!n.at("/resourceLogs/0").has("resource"))
    assert(!n.at("/resourceLogs/0/scopeLogs/0").has("scope"))
    assert(parse(OtlpJson.encodeLogsJson(Nil)).at("/resourceLogs").size() === 0)
  }

  test("logs: string escaping (quotes, control chars, no HTML escaping)") {
    val got = new String(OtlpJson.encodeLogsJson(
      Seq(logRow(body = "a\"b\\c\n\t<&>"))), "UTF-8")
    // "\\" + "u0001": Scala resolves \ u escapes even in triple-quoted literals
    assert(got.contains(""""stringValue":"a\"b\\c\n\t""" + "\\" + "u0001" + """<&>""""))
    // and Jackson can read it back to the original
    val n = parse(got.getBytes("UTF-8"))
    assert(n.at("/resourceLogs/0/scopeLogs/0/logRecords/0/body/stringValue")
      .asText() === "a\"b\\c\n\t<&>")
  }

  test("logs: fractional number attrs as doubleValue, integral as intValue string") {
    val n = parse(OtlpJson.encodeLogsJson(Seq(logRow(body = "x",
      an = Map("d" -> 0.5, "i" -> 3.0, "big" -> 9.007199254740992e15)))))
    val attrs = n.at("/resourceLogs/0/scopeLogs/0/logRecords/0/attributes")
    val byKey = (0 until attrs.size()).map(i =>
      attrs.get(i).get("key").asText() -> attrs.get(i).get("value")).toMap
    assert(byKey("d").get("doubleValue").asDouble() === 0.5)
    assert(byKey("i").get("intValue").asText() === "3")
    assert(byKey("big").get("intValue").asText() === "9007199254740992")
  }

  test("logs: grouping matches the proto encoder (resource -> scope, first-seen order)") {
    val rows = Seq(
      logRow(body = "a", res = Map("service.name" -> "g"), scopeName = "s1"),
      logRow(body = "b", res = Map("service.name" -> "g"), scopeName = "s2"),
      logRow(body = "c", res = Map("service.name" -> "w")),
      logRow(body = "d", res = Map("service.name" -> "g"), scopeName = "s1"))
    val n = parse(OtlpJson.encodeLogsJson(rows))
    assert(n.at("/resourceLogs").size() === 2)
    assert(n.at("/resourceLogs/0/scopeLogs").size() === 2)
    assert(n.at("/resourceLogs/0/scopeLogs/0/logRecords").size() === 2)
    // same nesting the proto round-trip produces
    val viaProto = OtlpProto.parseLogsData(
      graft.sources.OtlpProtoEncode.encodeLogsData(rows))
    assert(viaProto.map(_.body) ===
      Seq("a", "d", "b", "c")) // resource g (s1 x2, s2), then w
  }

  test("traces golden: full span") {
    val rows = Seq(OtlpSpanRow(
      start_ts = 1581452772000000321L, end_ts = 1581452773000000789L,
      trace_id = "5b8efff798038103d269b633813fc60c", span_id = "eee19b7ec3c1b174",
      parent_span_id = "eee19b7ec3c1b173", trace_state = "a=b", flags = 256,
      name = "I'm a server span", kind = 2, status_code = 2,
      status_message = "boom",
      attributes_string = Map("my.span.attr" -> "some value"),
      attributes_number = Map.empty, attributes_bool = Map.empty,
      resources_string = Map("service.name" -> "my.service"),
      scope_name = "my.library", scope_version = "1.0.0",
      scope_string = Map("my.scope.attribute" -> "some scope attribute"),
      events = Seq(OtlpSpanEvent("ev", 1581452773000000123L, Map("e" -> "1"))),
      links = Seq(OtlpSpanLink("4bf92f3577b34da6a3ce929d0e0e4736", "00f067aa0ba902b7"))))
    val got = new String(OtlpJson.encodeTracesJson(rows), "UTF-8")
    val want =
      """{"resourceSpans":[{"resource":{"attributes":[""" +
        """{"key":"service.name","value":{"stringValue":"my.service"}}]},""" +
        """"scopeSpans":[{"scope":{"name":"my.library","version":"1.0.0",""" +
        """"attributes":[{"key":"my.scope.attribute","value":""" +
        """{"stringValue":"some scope attribute"}}]},""" +
        """"spans":[{"traceId":"5b8efff798038103d269b633813fc60c",""" +
        """"spanId":"eee19b7ec3c1b174","traceState":"a=b",""" +
        """"parentSpanId":"eee19b7ec3c1b173","name":"I'm a server span",""" +
        """"kind":2,"startTimeUnixNano":"1581452772000000321",""" +
        """"endTimeUnixNano":"1581452773000000789",""" +
        """"attributes":[{"key":"my.span.attr","value":{"stringValue":"some value"}}],""" +
        """"events":[{"timeUnixNano":"1581452773000000123","name":"ev",""" +
        """"attributes":[{"key":"e","value":{"stringValue":"1"}}]}],""" +
        """"links":[{"traceId":"4bf92f3577b34da6a3ce929d0e0e4736",""" +
        """"spanId":"00f067aa0ba902b7"}],""" +
        """"status":{"message":"boom","code":2},"flags":256}]}]}]}"""
    assert(got === want)
  }

  private def metricRow(
      shape: String = "scalar", name: String, metricType: String = "Gauge",
      temporality: String = "", isMonotonic: Boolean = false,
      unixMilli: Long, value: Double = 0.0,
      attrs: Map[String, String] = Map.empty,
      res: Map[String, String] = Map.empty,
      count: Long = 0L, sumV: Double = 0.0, minV: Double = 0.0, maxV: Double = 0.0,
      hasSum: Boolean = false, hasMin: Boolean = false, hasMax: Boolean = false,
      bounds: Seq[Double] = Nil, buckets: Seq[Long] = Nil,
      quantiles: Seq[OtlpQuantile] = Nil, scale: Int = 0, zeroCount: Double = 0.0,
      posOffset: Int = 0, posCounts: Seq[Double] = Nil,
      negOffset: Int = 0, negCounts: Seq[Double] = Nil,
      unit: String = "", description: String = ""): OtlpMetricRow =
    OtlpMetricRow(shape, name, description, unit, metricType, temporality,
      isMonotonic, unixMilli, value, 0, attrs, "", "", "", Map.empty, res,
      count, sumV, minV, maxV, hasSum, hasMin, hasMax, bounds, buckets,
      quantiles, scale, zeroCount, posOffset, posCounts, negOffset, negCounts)

  test("metrics golden: monotonic cumulative sum") {
    val rows = Seq(metricRow(name = "requests", metricType = "Sum",
      temporality = "Cumulative", isMonotonic = true,
      unixMilli = 1544712660300L, value = 10.5,
      attrs = Map("env" -> "staging"), unit = "1", description = "req count"))
    val got = new String(OtlpJson.encodeMetricsJson(rows), "UTF-8")
    val want =
      """{"resourceMetrics":[{"scopeMetrics":[{"metrics":[""" +
        """{"name":"requests","description":"req count","unit":"1",""" +
        """"sum":{"dataPoints":[{"timeUnixNano":"1544712660300000000",""" +
        """"asDouble":10.5,"attributes":[""" +
        """{"key":"env","value":{"stringValue":"staging"}}]}],""" +
        """"aggregationTemporality":2,"isMonotonic":true}}]}]}]}"""
    assert(got === want)
  }

  test("metrics: histogram uint64 arrays as strings, bounds as numbers") {
    val n = parse(OtlpJson.encodeMetricsJson(Seq(metricRow(
      shape = "histogram", name = "lat", metricType = "Histogram",
      temporality = "Delta", unixMilli = 1000L, count = 7L, sumV = 3.5,
      hasSum = true, hasMin = true, minV = 0.1, hasMax = true, maxV = 2.0,
      bounds = Seq(0.5, 1.0), buckets = Seq(2L, 4L, 1L)))))
    val dp = n.at("/resourceMetrics/0/scopeMetrics/0/metrics/0/histogram/dataPoints/0")
    assert(dp.get("count").asText() === "7")
    assert(dp.get("bucketCounts").get(0).isTextual)
    assert((0 until 3).map(dp.get("bucketCounts").get(_).asText()) === Seq("2", "4", "1"))
    assert(dp.get("explicitBounds").get(0).isNumber)
    assert(dp.get("sum").asDouble() === 3.5)
    assert(dp.get("min").asDouble() === 0.1)
    assert(dp.get("max").asDouble() === 2.0)
    assert(n.at("/resourceMetrics/0/scopeMetrics/0/metrics/0/histogram")
      .get("aggregationTemporality").asInt() === 1)
  }

  test("metrics: summary + exponential histogram shapes") {
    val n = parse(OtlpJson.encodeMetricsJson(Seq(
      metricRow(shape = "summary", name = "s", metricType = "Summary",
        unixMilli = 1000L, count = 3L, sumV = 9.0,
        quantiles = Seq(OtlpQuantile(0.5, 1.2), OtlpQuantile(0.99, 4.5))),
      metricRow(shape = "exp_histogram", name = "e",
        metricType = "ExponentialHistogram", temporality = "Delta",
        unixMilli = 1000L, count = 5L, sumV = 2.0, hasSum = true,
        scale = 3, zeroCount = 1.0, posOffset = 2, posCounts = Seq(1.0, 2.0),
        negOffset = -1, negCounts = Seq(2.0)))))
    val s = n.at("/resourceMetrics/0/scopeMetrics/0/metrics/0/summary/dataPoints/0")
    assert(s.get("sum").asDouble() === 9.0)
    assert(s.at("/quantileValues/1/quantile").asDouble() === 0.99)
    val e = n.at("/resourceMetrics/0/scopeMetrics/0/metrics/1/exponentialHistogram/dataPoints/0")
    assert(e.get("scale").asInt() === 3)
    assert(e.get("zeroCount").asText() === "1")
    assert(e.at("/positive/offset").asInt() === 2)
    assert(e.at("/positive/bucketCounts/1").asText() === "2")
    assert(e.at("/negative/offset").asInt() === -1)
  }

  test("non-finite doubles render as protojson quoted strings") {
    val got = new String(OtlpJson.encodeMetricsJson(Seq(
      metricRow(name = "g", unixMilli = 1000L, value = Double.NaN),
      metricRow(name = "g", unixMilli = 2000L, value = Double.PositiveInfinity),
      metricRow(name = "g", unixMilli = 3000L, value = Double.NegativeInfinity))), "UTF-8")
    assert(got.contains(""""asDouble":"NaN""""))
    assert(got.contains(""""asDouble":"Infinity""""))
    assert(got.contains(""""asDouble":"-Infinity""""))
  }

  test("kafka export dispatch: otlp_json for all three signals") {
    import spark.implicits._
    val logs = Seq(("c1", 0, "alpha"), ("c2", 0, "beta"))
      .toDF("conv_id", "turn_idx", "body")
      .withColumn("severity_number", org.apache.spark.sql.functions.lit(9))
    val logMsgs = KafkaExport.logsToKafka(logs, encoding = "otlp_json",
      tenant = "acme").collect()
    assert(logMsgs.forall(_.topic == "acme_logs"))
    val bodies = logMsgs.flatMap { m =>
      val recs = parse(m.value).findValues("logRecords")
      (0 until recs.get(0).size()).map(i =>
        recs.get(0).get(i).at("/body/stringValue").asText())
    }.sorted.toSeq
    assert(bodies === Seq("alpha", "beta"))

    val spans2 = Seq(("0102030405060708090a0b0c0d0e0f10", "0102030405060708", "op"))
      .toDF("trace_id", "span_id", "name")
    val spanMsgs = KafkaExport.tracesToKafka(spans2, encoding = "otlp_json").collect()
    assert(spanMsgs.head.topic === "default_traces")
    assert(parse(spanMsgs.head.value)
      .at("/resourceSpans/0/scopeSpans/0/spans/0/name").asText() === "op")

    val metrics = Seq(("cpu", "Gauge", 1000L, 0.25))
      .toDF("metric_name", "metric_type", "unix_milli", "value")
    val metricMsgs = KafkaExport.metricsToKafka(metrics, encoding = "otlp_json").collect()
    assert(parse(metricMsgs.head.value)
      .at("/resourceMetrics/0/scopeMetrics/0/metrics/0/gauge/dataPoints/0/asDouble")
      .asDouble() === 0.25)
  }
}
