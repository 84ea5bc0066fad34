package graft

import org.apache.spark.sql.functions._

import graft.sources.{FirehoseMetrics, OtlpProtoEncode}
import graft.sources.OtlpProto.OtlpMetricRow

/** Firehose metric-stream unmarshalers, golden against the reference's own
  * fixtures (ported byte-for-byte to src/test/resources/firehose):
  * `cwmetricstream/unmarshaler_test.go` count expectations and
  * `metricsbuilder.go` attribute/name semantics; `otlpmetricstream`
  * length-delimited framing.
  */
class FirehoseMetricsSpec extends SparkSuite {
  import spark.implicits._

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/firehose/$name")
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def cwDecode(record: String) =
    FirehoseMetrics.fromFirehoseCwMetrics(Seq(record).toDF("record"), col("record"))

  test("cwmetrics single_record: 4 stat gauges with the reference's " +
      "resource/attr/name mapping (unmarshaler_test.go WithSingleRecord)") {
    val rows = cwDecode(fixture("cwmetric_single_record")).collect()
    assert(rows.length == 4)
    val byName = rows.map(r => r.getAs[String]("metric_name") -> r).toMap
    assert(byName.keySet == Set(
      "aws_EC2_DiskWriteOps_sum", "aws_EC2_DiskWriteOps_count",
      "aws_EC2_DiskWriteOps_min", "aws_EC2_DiskWriteOps_max"))
    assert(byName("aws_EC2_DiskWriteOps_sum").getAs[Double]("value") == 20.0)
    assert(byName("aws_EC2_DiskWriteOps_count").getAs[Double]("value") == 3.0)
    assert(byName("aws_EC2_DiskWriteOps_min").getAs[Double]("value") == 0.0)
    assert(byName("aws_EC2_DiskWriteOps_max").getAs[Double]("value") == 18.0)
    val r0 = byName("aws_EC2_DiskWriteOps_sum")
    assert(r0.getAs[Map[String, String]]("resource_attrs") == Map(
      "cloud.provider" -> "aws",
      "cloud.account.id" -> "1234567890",
      "cloud.region" -> "us-east-1",
      "service.namespace" -> "AWS",
      "service.name" -> "EC2",
      "aws.cloudwatch.metric_stream_name" -> "MyMetricStream"))
    // InstanceId -> semconv service.instance.id (ToSemConvAttributeKey)
    assert(r0.getAs[Map[String, String]]("attrs") ==
      Map("service.instance.id" -> "i-123456789012"))
    assert(r0.getAs[Long]("unix_milli") == 1611929698000L)
    assert(r0.getAs[String]("unit") == "Seconds")
    assert(r0.getAs[String]("metric_type") == "Gauge")
    assert(r0.getAs[String]("temporality") == "Unspecified")
    assert(!r0.getAs[Boolean]("is_monotonic"))
  }

  test("cwmetrics multiple_records: 6 resources, 33 metrics x 4 stats, " +
      "127 datapoints x 4 (unmarshaler_test.go WithMultipleRecords)") {
    val out = cwDecode(fixture("cwmetric_multiple_records")).cache()
    assert(out.count() == 127L * 4)
    assert(out.select(graft.functions.MapSortedJson(col("resource_attrs")))
      .distinct().count() == 6)
    assert(out.select(graft.functions.MapSortedJson(col("resource_attrs")),
      col("metric_name")).distinct().count() == 33L * 4)
  }

  test("cwmetrics invalid_records: every datum fails the validity gate -> " +
      "empty output (the reference returns errInvalidRecords)") {
    assert(cwDecode(fixture("cwmetric_invalid_records")).count() == 0)
  }

  test("cwmetrics some_invalid_records: invalid datums skipped, the rest " +
      "decode (5 resources, 35 metrics x 4, 88 datapoints x 4)") {
    val out = cwDecode(fixture("cwmetric_some_invalid_records")).cache()
    assert(out.count() == 88L * 4)
    assert(out.select(graft.functions.MapSortedJson(col("resource_attrs")))
      .distinct().count() == 5)
    assert(out.select(graft.functions.MapSortedJson(col("resource_attrs")),
      col("metric_name")).distinct().count() == 35L * 4)
  }

  test("cwmetrics semantics: custom namespace, space-stripped dimension " +
      "keys, duplicate-datum dedup, newline split within one record") {
    val datum =
      """{"metric_stream_name":"s","account_id":"a","region":"r",""" +
      """"namespace":"Custom","metric_name":"M",""" +
      """"dimensions":{"Cluster Name":"c1","Broker ID":"7"},""" +
      """"timestamp":1000,"value":{"max":4.0,"min":1.0,"sum":9.0,"count":3.0},""" +
      """"unit":"Count"}"""
    // the same datum twice in one record (newline-delimited) dedups; an
    // empty line is skipped; a no-unit datum is dropped by the gate
    val noUnit = datum.replace(""","unit":"Count"}""", "}")
    val out = cwDecode(Seq(datum, "", datum, noUnit).mkString("\n")).collect()
    assert(out.length == 4)
    val r = out.find(_.getAs[String]("metric_name") == "aws_Custom_M_sum").get
    // no AWS/ prefix -> no service.namespace, service.name = whole namespace
    val res = r.getAs[Map[String, String]]("resource_attrs")
    assert(res("service.name") == "Custom" && !res.contains("service.namespace"))
    // normaliseAttributeName strips spaces; non-InstanceId keys unmapped
    assert(r.getAs[Map[String, String]]("attrs") ==
      Map("ClusterName" -> "c1", "BrokerID" -> "7"))
  }

  test("cwmetrics otlpMetricName: the regex namespace chain is equivalent " +
      "to split/filter(aws, empties)/join over edge namespaces") {
    // oracle = the HOF semantics the kernel replaced: split on "/", drop
    // parts equal to "aws" case-insensitively and empty parts, join "_"
    def oracle(ns: String, metric: String): String =
      (Seq("aws") ++
        Seq(ns.split("/", -1).filter(p => p.toLowerCase != "aws" && p.nonEmpty)
          .mkString("_")) ++ Seq(metric)).mkString("_")
    val cases = Seq("AWS/EC2", "Custom", "aws/aws/X", "A/aws/B", "AWS",
      "a//b", "/x/", "aws", "Aws/Kafka/Broker", "x/AWS")
    for (ns <- cases) {
      val datum =
        s"""{"metric_stream_name":"s","account_id":"a","region":"r",""" +
        s""""namespace":"$ns","metric_name":"M","dimensions":{},""" +
        s""""timestamp":1,"value":{"max":1.0,"min":0.0,"sum":1.0,"count":1.0},""" +
        s""""unit":"Count"}"""
      val names = cwDecode(datum).collect()
        .map(_.getAs[String]("metric_name")).toSet
      assert(names.contains(oracle(ns, "M") + "_sum"),
        s"ns=$ns got=$names want prefix=${oracle(ns, "M")}")
    }
  }

  // ---- otlp_v1 (length-delimited ExportMetricsServiceRequest) -------------

  private def row(name: String, v: Double): OtlpMetricRow = OtlpMetricRow(
    shape = "scalar", metric_name = name, description = "", unit = "1",
    metric_type = "Gauge", temporality = "Unspecified", is_monotonic = false,
    unix_milli = 1700000000000L, value = v, flags = 0,
    attrs = Map("k" -> "v"), scope_name = "", scope_version = "",
    scope_schema_url = "", scope_attrs = Map.empty,
    resource_attrs = Map("service.name" -> "svc"),
    count = 0L, sum_v = 0.0, min_v = 0.0, max_v = 0.0,
    has_sum = false, has_min = false, has_max = false,
    explicit_bounds = Nil, bucket_counts = Nil, quantiles = Nil,
    scale = 0, zero_count = 0.0, positive_offset = 0, positive_counts = Nil,
    negative_offset = 0, negative_counts = Nil)

  private def varint(n: Long): Array[Byte] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var v = n
    while ((v & ~0x7fL) != 0) { out += ((v & 0x7f) | 0x80).toByte; v >>>= 7 }
    out += v.toByte
    out.toArray
  }

  private def frame(payload: Array[Byte]): Array[Byte] =
    varint(payload.length.toLong) ++ payload

  test("otlp_v1: varint-length-delimited requests decode; requests of " +
      "DIFFERENT sizes in one record all decode (correct framing where the " +
      "reference re-reads the first length)") {
    val req1 = OtlpProtoEncode.encodeMetricsData(Seq(row("m.one", 1.0)))
    val req2 = OtlpProtoEncode.encodeMetricsData(
      Seq(row("m.two.with.a.much.longer.name", 2.0), row("m.three", 3.0)))
    assert(req1.length != req2.length)
    val record = frame(req1) ++ frame(req2)
    val rows = FirehoseMetrics.parseMetricStreamRecord(record)
    assert(rows.map(r => (r.metric_name, r.value)).toSet ==
      Set(("m.one", 1.0), ("m.two.with.a.much.longer.name", 2.0), ("m.three", 3.0)))
    assert(rows.forall(_.resource_attrs == Map("service.name" -> "svc")))
  }

  test("otlp_v1: malformed tail keeps the decoded prefix; garbage record " +
      "decodes to nothing; DataFrame adapter feeds MetricFrames") {
    val req = OtlpProtoEncode.encodeMetricsData(Seq(row("m.keep", 7.0)))
    // declared length runs past the record end -> stop after the good frame
    val truncated = frame(req) ++ varint(1000L) ++ Array[Byte](1, 2, 3)
    assert(FirehoseMetrics.parseMetricStreamRecord(truncated)
      .map(_.metric_name) == Seq("m.keep"))
    assert(FirehoseMetrics.parseMetricStreamRecord(Array[Byte]()) == Nil)
    val frames = FirehoseMetrics.fromFirehoseOtlpMetrics(
      Seq(frame(req), Array[Byte](0x00)).toDF("value"), col("value"))
    val scalars = frames.scalars.collect()
    assert(scalars.length == 1)
    assert(scalars.head.getAs[String]("metric_name") == "m.keep")
    assert(scalars.head.getAs[Double]("value") == 7.0)
    assert(scalars.head.getAs[Map[String, String]]("attrs") == Map("k" -> "v"))
  }
}
