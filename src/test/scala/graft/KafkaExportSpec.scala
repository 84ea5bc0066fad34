package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.KafkaExport
import graft.sources.{OtlpProto, OtlpProtoEncode, PdataGen}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpQuantile, OtlpRow, OtlpSpanEvent, OtlpSpanLink, OtlpSpanRow}

/** Kafka exporter analogue (`exporter/signozkafkaexporter`): encode-side
  * golden + roundtrip tests. The decoder ([[OtlpProto]]) is itself verified
  * against hand-built wire payloads in [[OtlpProtoSpec]], so
  * `parse == identity . encode` here pins the encoder to the same public
  * OTLP wire semantics.
  */
class KafkaExportSpec extends SparkSuite {
  import spark.implicits._

  private def logRow(
      ts: Long = 0L, ots: Long = 0L, sevNum: Int = 0, sevText: String = "",
      body: String = "", as: Map[String, String] = Map.empty,
      an: Map[String, Double] = Map.empty, ab: Map[String, Boolean] = Map.empty,
      res: Map[String, String] = Map.empty, traceId: String = "",
      spanId: String = "", flags: Int = 0, scopeName: String = "",
      scopeVersion: String = "", scopeAttrs: Map[String, String] = Map.empty): OtlpRow =
    OtlpRow(ts, ots, sevNum, sevText, body, as, an, ab, res, traceId, spanId,
      flags, scopeName, scopeVersion, scopeAttrs)

  // ---- logs: encoder core --------------------------------------------------

  test("logs roundtrip: typed attrs, ids, multiple resources and scopes") {
    val rows = Seq(
      logRow(ts = 1700000000000000001L, ots = 1700000000000000002L,
        sevNum = 9, sevText = "INFO", body = "hello world",
        as = Map("k" -> "v", "svc" -> "api"),
        an = Map("int" -> 42.0, "frac" -> 1.64, "big" -> 9.007199254740993e15),
        ab = Map("ok" -> true, "bad" -> false),
        res = Map("service.name" -> "gateway"),
        traceId = "0102030405060708090a0b0c0d0e0f10", spanId = "0102030405060708",
        flags = 1, scopeName = "scope-a", scopeVersion = "1.2",
        scopeAttrs = Map("sk" -> "sv")),
      // same resource+scope -> same ScopeLogs group
      logRow(body = "second", res = Map("service.name" -> "gateway"),
        scopeName = "scope-a", scopeVersion = "1.2", scopeAttrs = Map("sk" -> "sv")),
      // same resource, different scope
      logRow(body = "third", res = Map("service.name" -> "gateway"),
        scopeName = "scope-b"),
      // different resource; all-empty record fields stay defaults
      logRow(res = Map("service.name" -> "worker", "env" -> "prod")))
    val decoded = OtlpProto.parseLogsData(OtlpProtoEncode.encodeLogsData(rows))
    assert(decoded === rows)
  }

  test("logs roundtrip: empty frame encodes to empty payload") {
    assert(OtlpProtoEncode.encodeLogsData(Nil).isEmpty)
    assert(OtlpProto.parseLogsData(Array.emptyByteArray) === Nil)
  }

  test("integral number attrs re-encode as int_value, fractional as double") {
    // both must survive the number-map fold either way; the wire form for
    // integral values is int (what a Go SDK produced before the decode)
    val rows = Seq(logRow(body = "x", an = Map("i" -> 3.0, "d" -> 0.5)))
    val bytes = OtlpProtoEncode.encodeLogsData(rows)
    assert(OtlpProto.parseLogsData(bytes) === rows)
    // int_value for 3.0: AnyValue{int=3} is tag 0x18 + varint 3 inside the kv
    assert(bytes.containsSlice(Array[Byte](0x18, 3)))
  }

  // ---- logs: Spark API -----------------------------------------------------

  test("logsToKafka otlp_proto: topic routing + decode equality through the frame") {
    val df = graft.model.LogFrames.withDefaults(
      Seq(("c1", 0, "alpha"), ("c1", 1, "beta"), ("c2", 0, "gamma"))
        .toDF("conv_id", "turn_idx", "body")
        .withColumn("severity_number", lit(9))
        .withColumn("resources_string", map(lit("service.name"), col("conv_id"))))
    val msgs = KafkaExport.logsToKafka(df, tenant = "acme").collect()
    assert(msgs.forall(_.topic == "acme_logs"))
    val decoded = msgs.flatMap(m => OtlpProto.parseLogsData(m.value))
    assert(decoded.map(_.body).sorted.toSeq === Seq("alpha", "beta", "gamma"))
    assert(decoded.forall(_.severity_number == 9))
    assert(decoded.find(_.body == "alpha").get.resources_string ===
      Map("service.name" -> "c1"))
  }

  test("logsToKafka: default tenant topic, maxMessageBytes cuts batches") {
    val df = graft.model.LogFrames.withDefaults(
      (0 until 40).map(i => (s"c$i", 0, "x" * 100)).toDF("conv_id", "turn_idx", "body"))
      .coalesce(1)
    val msgs = KafkaExport.logsToKafka(df, maxMessageBytes = 500).collect()
    assert(msgs.forall(_.topic == "default_logs"))
    assert(msgs.length > 5) // ~200B/row estimate vs 500B bound -> many cuts
    assert(msgs.flatMap(m => OtlpProto.parseLogsData(m.value)).length === 40)
  }

  test("logsToKafka raw: per-record Go-JSON bodies, empty string still emitted") {
    val df = graft.model.LogFrames.withDefaults(
      Seq(("c", 0, "foo"), ("c", 1, ""), ("c", 2, "a<b")).toDF("conv_id", "turn_idx", "body"))
    val got = KafkaExport.logsToKafka(df, encoding = "raw").collect()
      .map(m => new String(m.value, "UTF-8")).sorted.toSeq
    // Go json.Marshal: quoted, HTML-escaped; Str("") marshals to `""` and is
    // kept (normalizeLogData turns Empty bodies into Str before raw sees them)
    assert(got === Seq("\"\"", "\"a\\u003cb\"", "\"foo\"").sorted)
  }

  test("unrecognized encoding raises (exporter factory parity)") {
    val df = graft.model.LogFrames.withDefaults(Seq(("c", 0, "x")).toDF("conv_id", "turn_idx", "body"))
    val e = intercept[IllegalArgumentException](KafkaExport.logsToKafka(df, encoding = "nope"))
    assert(e.getMessage.contains("unrecognized encoding"))
    intercept[IllegalArgumentException](KafkaExport.tracesToKafka(df, encoding = "raw"))
  }

  // ---- raw marshaler golden (raw_marshaller_test.go fixtures) --------------

  test("rawBodyBytes: Go fixture parity") {
    import KafkaExport.RawBody
    def s(b: Option[Array[Byte]]): Option[String] = b.map(new String(_, "UTF-8"))
    assert(s(KafkaExport.rawBodyBytes(RawBody.Str("foo"))) === Some("\"foo\""))
    assert(s(KafkaExport.rawBodyBytes(RawBody.Bytes("foo".getBytes("UTF-8")))) === Some("foo"))
    assert(s(KafkaExport.rawBodyBytes(RawBody.Dbl(1.64))) === Some("1.64"))
    assert(s(KafkaExport.rawBodyBytes(RawBody.Int64(456L))) === Some("456"))
    assert(s(KafkaExport.rawBodyBytes(RawBody.Bool(true))) === Some("true"))
    assert(KafkaExport.rawBodyBytes(RawBody.Empty) === None)
  }

  test("rawBodyBytes: doubles print as json.Marshal does; NaN and Inf have no payload") {
    import KafkaExport.RawBody
    def s(d: Double): Option[String] =
      KafkaExport.rawBodyBytes(RawBody.Dbl(d)).map(new String(_, "UTF-8"))
    assert(s(12345678.5) === Some("12345678.5"))
    assert(s(1e-4) === Some("0.0001"))
    assert(s(1e21) === Some("1e+21"))
    assert(s(Double.NaN) === None)
    assert(s(Double.PositiveInfinity) === None)
    assert(s(Double.NegativeInfinity) === None)
  }

  // ---- topics --------------------------------------------------------------

  test("tenant topic prefixes (utils.go getKafkaTopicPrefixFromClientMetadata)") {
    assert(KafkaExport.logsTopic() === "default_logs")
    assert(KafkaExport.logsTopic("acme") === "acme_logs")
    assert(KafkaExport.tracesTopic("") === "default_traces")
    assert(KafkaExport.metricsTopic("t1") === "t1_metrics")
  }

  // ---- traces --------------------------------------------------------------

  test("traces roundtrip: events, links, status, kind, flags") {
    val rows = Seq(
      OtlpSpanRow(
        start_ts = 1700000000000000100L, end_ts = 1700000000000000900L,
        trace_id = "0102030405060708090a0b0c0d0e0f10", span_id = "1112131415161718",
        parent_span_id = "2122232425262728", trace_state = "vendor=1",
        flags = 256, name = "GET /api", kind = 2, status_code = 2,
        status_message = "boom",
        attributes_string = Map("http.method" -> "GET"),
        attributes_number = Map("http.status_code" -> 500.0),
        attributes_bool = Map("error" -> true),
        resources_string = Map("service.name" -> "api"),
        scope_name = "otel", scope_version = "1.0",
        scope_string = Map("lib" -> "x"),
        events = Seq(OtlpSpanEvent("exception", 1700000000000000500L,
          Map("exception.type" -> "IOError"))),
        links = Seq(OtlpSpanLink("f102030405060708090a0b0c0d0e0f10", "0102030405060708"))),
      OtlpSpanRow(0L, 0L, "", "", "", "", 0, "bare", 0, 0, "",
        Map.empty, Map.empty, Map.empty, Map.empty, "", "", Map.empty, Nil, Nil))
    val decoded = OtlpProto.parseTracesData(OtlpProtoEncode.encodeTracesData(rows))
    assert(decoded === rows)
  }

  test("tracesToKafka: frame-level cycle through the Spark API") {
    val payload = OtlpProtoEncode.encodeTracesData(Seq(
      OtlpSpanRow(5L, 9L, "aa" * 16, "bb" * 8, "", "", 0, "op", 1, 0, "",
        Map("k" -> "v"), Map.empty, Map.empty, Map("service.name" -> "s"),
        "sc", "", Map.empty, Nil, Nil)))
    val frame = OtlpProto.fromOtlpProtoSpans(
      Seq(payload).toDF("value"), col("value"))
    val msgs = KafkaExport.tracesToKafka(frame).collect()
    assert(msgs.forall(_.topic == "default_traces"))
    val back = msgs.flatMap(m => OtlpProto.parseTracesData(m.value))
    assert(back.map(r => (r.name, r.trace_id, r.attributes_string)).toSeq ===
      Seq(("op", "aa" * 16, Map("k" -> "v"))))
  }

  // ---- metrics -------------------------------------------------------------

  private def metricRow(shape: String, name: String, typ: String,
      temporality: String = "Unspecified", monotonic: Boolean = false): OtlpMetricRow =
    OtlpMetricRow(shape, name, "", "", typ, temporality, monotonic,
      unix_milli = 1700000000123L, value = 0.0, flags = 0,
      attrs = Map("le" -> "x"), scope_name = "m", scope_version = "",
      scope_schema_url = "", scope_attrs = Map.empty,
      resource_attrs = Map("service.name" -> "api"),
      count = 0L, sum_v = 0.0, min_v = 0.0, max_v = 0.0,
      has_sum = false, has_min = false, has_max = false,
      explicit_bounds = Nil, bucket_counts = Nil, quantiles = Nil,
      scale = 0, zero_count = 0.0, positive_offset = 0, positive_counts = Nil,
      negative_offset = 0, negative_counts = Nil)

  test("metrics roundtrip: all five data shapes") {
    val rows = Seq(
      metricRow("scalar", "cpu.util", "Gauge").copy(value = 0.75),
      metricRow("scalar", "requests", "Sum", "Cumulative", monotonic = true)
        .copy(value = 123.0, description = "req count", unit = "1"),
      metricRow("histogram", "latency", "Histogram", "Delta").copy(
        count = 10L, sum_v = 55.5, min_v = 1.0, max_v = 20.0,
        has_sum = true, has_min = true, has_max = true,
        explicit_bounds = Seq(1.0, 5.0, 10.0), bucket_counts = Seq(1L, 4L, 3L, 2L)),
      metricRow("summary", "gc.pause", "Summary").copy(
        count = 4L, sum_v = 9.0, has_sum = true,
        quantiles = Seq(OtlpQuantile(0.5, 2.0), OtlpQuantile(0.99, 7.5))),
      metricRow("exp_histogram", "size", "ExponentialHistogram", "Cumulative").copy(
        count = 7L, sum_v = 70.0, has_sum = true, scale = -2, zero_count = 1.0,
        positive_offset = 3, positive_counts = Seq(2.0, 0.0, 4.0),
        negative_offset = -1, negative_counts = Seq(1.0)))
    val decoded = OtlpProto.parseMetricsData(OtlpProtoEncode.encodeMetricsData(rows))
    assert(decoded === rows)
  }

  test("metricFramesToKafka: decoded frames re-export and re-decode") {
    val payload = OtlpProtoEncode.encodeMetricsData(Seq(
      metricRow("scalar", "cpu.util", "Gauge").copy(value = 0.25),
      metricRow("histogram", "latency", "Histogram", "Delta").copy(
        count = 3L, sum_v = 6.0, has_sum = true,
        explicit_bounds = Seq(2.0), bucket_counts = Seq(1L, 2L))))
    val frames = OtlpProto.fromOtlpProtoMetrics(Seq(payload).toDF("value"), col("value"))
    val msgs = KafkaExport.metricFramesToKafka(frames, tenant = "t9").collect()
    assert(msgs.forall(_.topic == "t9_metrics"))
    val back = msgs.flatMap(m => OtlpProto.parseMetricsData(m.value))
    assert(back.map(r => (r.shape, r.metric_name)).sorted.toSeq ===
      Seq(("histogram", "latency"), ("scalar", "cpu.util")))
    val h = back.find(_.shape == "histogram").get
    assert(h.explicit_bounds === Seq(2.0) && h.bucket_counts === Seq(1L, 2L)
      && h.count === 3L && h.sum_v === 6.0 && h.has_sum)
  }

  test("metricsToKafka: a histogram or a summary family frame round-trips") {
    // PdataGen family frames carry no `shape`; the Metric's data field and
    // each point's encoding both follow `metric_type`
    val frames = PdataGen.metrics(spark, PdataGen.Count(
      histMetrics = 2, histDataPoints = 3, histPointAttrs = 1,
      summaryMetrics = 2, summaryDataPoints = 3, summaryQuantiles = 2))
    def roundTrip(df: DataFrame) = OtlpProto.fromOtlpProtoMetrics(
      KafkaExport.metricsToKafka(df).select(col("value")), col("value"))
    def rows(df: DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val h = Seq("metric_name", "metric_type", "unix_milli", "count", "sum_v", "min_v",
      "max_v", "explicit_bounds", "bucket_counts", "attrs")
    val hBack = roundTrip(frames.histograms).histograms
    assert(hBack.count() == 6L)
    assert(rows(hBack, h: _*) == rows(frames.histograms, h: _*))
    val sm = Seq("metric_name", "metric_type", "unix_milli", "count", "sum_v", "quantiles")
    val sBack = roundTrip(frames.summaries).summaries
    assert(sBack.count() == 6L)
    assert(rows(sBack, sm: _*) == rows(frames.summaries, sm: _*))
  }
}
