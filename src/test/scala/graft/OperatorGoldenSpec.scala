package graft

import org.apache.spark.sql.DataFrame

import graft.model.LogFrames
import graft.operators._
import graft.pipeline.{Pipeline, PipelineSpec}

/** Golden per-operator cases, mirroring the reference's own unit tests
  * (`processor/signozlogspipelineprocessor/processor_test.go:26-255` — see
  * FIXTURES.md §2).
  */
class OperatorGoldenSpec extends SparkSuite {
  import spark.implicits._

  private def logs(rows: (String, Map[String, String])*): DataFrame =
    LogFrames.withDefaults(
      rows.toSeq.toDF("body", "attributes_string"))

  private def run(ops: Seq[Op], df: DataFrame): DataFrame =
    Pipeline.compile(PipelineSpec(ops :+ NoopOp(Common("__noop"))))(df)

  test("add: static value (processor_test.go:26-42)") {
    val out = run(Seq(AddOp(Common("add"), FieldRef.Attr(Seq("test")), "testValue")),
      logs("test log" -> Map.empty))
    assert(attrs(out) == Seq((Map("test" -> "testValue"), Map.empty, Map.empty)))
  }

  test("remove (processor_test.go:44-59)") {
    val out = run(Seq(RemoveOp(Common("rm"), FieldRef.Attr(Seq("test")))),
      logs("test log" -> Map("test" -> "testValue")))
    assert(attrs(out) == Seq((Map.empty[String, String], Map.empty, Map.empty)))
  }

  test("move (processor_test.go:61-77)") {
    val out = run(Seq(MoveOp(Common("mv"), FieldRef.Attr(Seq("test")), FieldRef.Attr(Seq("test1")))),
      logs("test log" -> Map("test" -> "testValue")))
    assert(attrs(out) == Seq((Map("test1" -> "testValue"), Map.empty, Map.empty)))
  }

  test("copy (processor_test.go:79-95)") {
    val out = run(Seq(CopyOp(Common("cp"), FieldRef.Attr(Seq("test")), FieldRef.Attr(Seq("test1")))),
      logs("test log" -> Map("test" -> "testValue")))
    assert(attrs(out) == Seq((Map("test" -> "testValue", "test1" -> "testValue"), Map.empty, Map.empty)))
  }

  test("regex_parser (processor_test.go:97-117)") {
    val out = run(Seq(RegexParserOp(Common("re"), "^a=(?P<a>.+);b=(?P<b>.+)$")),
      logs("a=aval;b=bval" -> Map.empty))
    assert(attrs(out) == Seq((Map("a" -> "aval", "b" -> "bval"), Map.empty, Map.empty)))
  }

  test("regex_parser k8s-file pattern: named groups interleaved with unnamed " +
      "(operators/regex/parser_test.go:113-131)") {
    val pat = "^(?P<pod_name>[a-z0-9]([-a-z0-9]*[a-z0-9])?(\\.[a-z0-9]([-a-z0-9]*[a-z0-9])?)*)_(?P<namespace>[^_]+)_(?P<container_name>.+)-(?P<container_id>[a-z0-9]{64})\\.log$"
    val out = run(Seq(RegexParserOp(Common("re"), pat)),
      logs("coredns-5644d7b6d9-mzngq_kube-system_coredns-901f7510281180a402936c92f5bc0f3557f5a21ccb5a4591c5bf98f3ddbffdd6.log" -> Map.empty))
    assert(attrs(out) == Seq((Map(
      "container_id" -> "901f7510281180a402936c92f5bc0f3557f5a21ccb5a4591c5bf98f3ddbffdd6",
      "container_name" -> "coredns",
      "namespace" -> "kube-system",
      "pod_name" -> "coredns-5644d7b6d9-mzngq"), Map.empty, Map.empty)))
  }

  test("grok_parser typed capture (processor_test.go:119-136)") {
    val out = run(Seq(GrokParserOp(Common("grok"), "status: %{INT:status_code:int}")),
      logs("status: 200" -> Map.empty))
    assert(attrs(out) == Seq((Map.empty[String, String], Map("status_code" -> 200.0), Map.empty)))
  }

  test("json_parser (processor_test.go:138-154)") {
    val out = run(Seq(JsonParserOp(Common("json"))),
      logs("""{"status": "ok"}""" -> Map.empty))
    assert(attrs(out) == Seq((Map("status" -> "ok"), Map.empty, Map.empty)))
  }

  test("trace_parser with short-id padding deferred to sink (processor_test.go:156-211)") {
    val df = logs("test log" -> Map(
      "traceId" -> "e37e734349000e2eda00c7a9fe01b2c5",
      "spanId" -> "ceb692",
      "traceFlags" -> "01"))
    val out = run(Seq(TraceParserOp(Common("trace"), TraceSpec(
      traceId = Some(FieldRef.Attr(Seq("traceId"))),
      spanId = Some(FieldRef.Attr(Seq("spanId"))),
      traceFlags = Some(FieldRef.Attr(Seq("traceFlags")))))), df)
    val r = out.select("trace_id", "span_id", "trace_flags").collect().head
    assert(r.getString(0) == "e37e734349000e2eda00c7a9fe01b2c5")
    assert(r.getString(1) == "ceb692") // padded to 16 at the sink boundary
    assert(r.getInt(2) == 1)
  }

  test("severity_parser mapping + overwrite_text (processor_test.go:213-235)") {
    val out = run(Seq(SeverityParserOp(Common("sev"), SeveritySpec(
      FieldRef.Attr(Seq("sev")), overwriteText = true,
      mapping = Seq("error" -> Seq(graft.functions.Severity.Str("oops")))))),
      logs("test log" -> Map("sev" -> "oops")))
    val r = out.select("severity_text", "severity_number").collect().head
    assert(r.getString(0) == "ERROR" && r.getInt(1) == 17)
  }

  test("time_parser epoch seconds (processor_test.go:237-255)") {
    val out = run(Seq(TimeParserOp(Common("time"),
      TimeParserSpec(FieldRef.Attr(Seq("tsUnixEpoch")), "epoch", "s"))),
      logs("test log" -> Map("tsUnixEpoch" -> "9999")))
    assert(out.select("timestamp").as[Long].collect().head == 9999L * 1000000000L)
  }

  test("router on severity fields (processor_test.go:348-392)") {
    val df = LogFrames.withDefaults(Seq(
      ("info log", 9, "INFO"),
      ("error log", 17, "ERROR")
    ).toDF("body", "severity_number", "severity_text"))
    val out = run(Seq(
      RouterOp(Common("router"), Seq(
        Route("severity_number == 9", Seq("add_attr"))), default = Seq("__noop")),
      AddOp(Common("add_attr", output = Seq("__noop")),
        FieldRef.Attr(Seq("test")), "test-value")), df)
    val got = out.select("body", "attributes_string").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(got("info log") == Map("test" -> "test-value"))
    assert(got("error log") == Map.empty)
  }

  test("body-JSON field refs in router/add/copy (processor_test.go:465-547)") {
    val df = logs(
      """{"request": {"id": "test"}}""" -> Map.empty,
      "not json" -> Map.empty)
    val out = run(Seq(
      RouterOp(Common("router"), Seq(
        Route("body.request.id == \"test\"", Seq("add_id"))), default = Seq("__noop")),
      AddOp(Common("add_id", ifExpr = Some("body.request.id != nil"), output = Seq("__noop")),
        FieldRef.Attr(Seq("request_id")), "EXPR(body.request.id)")), df)
    val got = out.select("body", "attributes_string").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(got("""{"request": {"id": "test"}}""") == Map("request_id" -> "test"))
    assert(got("not json") == Map.empty)
  }

  test("router+regex+remove+add chain (pipeline_test.go:65-109)") {
    val df = logs(
      "line1" -> Map("log_tags" -> "env:prod,kube_namespace:my-namespace,service:web"),
      "line2" -> Map("log_tags" -> "env:prod,service:web"))
    val out = run(Seq(
      RouterOp(Common("router_signoz"), Seq(
        Route("\"log_tags\" in attributes", Seq("parse-namespace"))),
        default = Seq("__noop")),
      RegexParserOp(Common("parse-namespace",
        ifExpr = Some("attributes?.log_tags != nil && attributes.log_tags matches \"kube_namespace:(?P<k8s_namespace_name>[^,]+)\""),
        onError = OnError.Send, output = Seq("remove-log-tags")),
        regex = "kube_namespace:(?P<k8s_namespace_name>[^,]+)",
        parseFrom = FieldRef.Attr(Seq("log_tags"))),
      RemoveOp(Common("remove-log-tags",
        ifExpr = Some("attributes?.k8s_namespace_name != nil"), output = Seq("add-worked")),
        FieldRef.Attr(Seq("log_tags"))),
      AddOp(Common("add-worked", output = Seq("__noop")),
        FieldRef.Attr(Seq("worked")), "true")), df)
    val got = out.select("body", "attributes_string").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(got("line1") == Map("k8s_namespace_name" -> "my-namespace", "worked" -> "true"))
    assert(got("line2") == Map("log_tags" -> "env:prod,service:web", "worked" -> "true"))
  }

  test("hotrod end-to-end pipeline (processor_test.go:258-345)") {
    val hotrodLine = "2024-09-04T09:58:39.635Z\tERROR\tdriver/server.go:85\tRetrying GetDriver after error\t" +
      """{"service":"driver","trace_id":"738d1c34020ba19e","span_id":"69e77f208cb24e9b","retry_no":1,"error":"redis timeout"}"""
    val df = logs(
      hotrodLine -> Map("container_name" -> "hotrod"),
      "some other log" -> Map("container_name" -> "other"))
    val out = run(Seq(
      RouterOp(Common("router"), Seq(
        Route("attributes[\"container_name\"] == \"hotrod\"", Seq("parse_line"))),
        default = Seq("__noop")),
      RegexParserOp(Common("parse_line",
        ifExpr = Some("body != nil && body matches \"^(?P<ts>.*)\\t(?P<log_level>.*)\\t(?P<location>.*)\\t(?P<msg>.*)\\t(?P<data_json>.*)$\""),
        onError = OnError.Send, output = Seq("parse_data_json")),
        regex = SparkEntry.hotrodRegex),
      JsonParserOp(Common("parse_data_json",
        ifExpr = Some("attributes?.data_json != nil && attributes.data_json matches \"^\\\\s*\\\\{.*\\\\}\\\\s*$\""),
        onError = OnError.Send, output = Seq("sev")),
        parseFrom = FieldRef.Attr(Seq("data_json"))),
      SeverityParserOp(Common("sev",
        ifExpr = Some("attributes?.log_level != nil"),
        onError = OnError.Send, output = Seq("rm")),
        SeveritySpec(FieldRef.Attr(Seq("log_level")), overwriteText = true)),
      RemoveOp(Common("rm", ifExpr = Some("attributes?.data_json != nil"),
        output = Seq("__noop")),
        FieldRef.Attr(Seq("data_json")))), df)

    val rows = out.collect().map(r => r.getAs[String]("body") -> r).toMap
    val matched = rows(hotrodLine)
    val aStr = matched.getMap[String, String](matched.fieldIndex("attributes_string")).toMap
    val aNum = matched.getMap[String, Double](matched.fieldIndex("attributes_number")).toMap
    assert(aStr("ts") == "2024-09-04T09:58:39.635Z")
    assert(aStr("log_level") == "ERROR")
    assert(aStr("location") == "driver/server.go:85")
    assert(aStr("msg") == "Retrying GetDriver after error")
    assert(aStr("service") == "driver")
    assert(aStr("trace_id") == "738d1c34020ba19e")
    assert(aStr("span_id") == "69e77f208cb24e9b")
    assert(aStr("error") == "redis timeout")
    assert(!aStr.contains("data_json"))
    assert(aNum("retry_no") == 1.0)
    assert(matched.getAs[String]("severity_text") == "ERROR")
    assert(matched.getAs[Int]("severity_number") == 17)
    // non-matching row passes through unchanged
    val other = rows("some other log")
    assert(other.getMap[String, String](other.fieldIndex("attributes_string")).toMap ==
      Map("container_name" -> "other"))
    assert(other.getAs[Int]("severity_number") == 0)
  }
}
