package graft

import graft.model.LogFrames
import graft.operators.PipelineConfig
import graft.pipeline.Pipeline

/** Config loader: reference-style operator JSON -> PipelineSpec, exercised
  * end-to-end with the reference's own pipeline_test_config.yaml /
  * config.yaml shapes (signozlogspipelineprocessor/testdata).
  */
class PipelineConfigSpec extends SparkSuite {
  import spark.implicits._

  test("reference pipeline_test_config: router -> regex -> remove -> add") {
    // JSON rendition of processor/signozlogspipelineprocessor/testdata/
    // pipeline_test_config.yaml, verbatim semantics
    val json =
      """{"operators": [
        |  {"id": "router_signoz", "type": "router", "default": "noop",
        |   "routes": [{"expr": "\"log_tags\" in attributes", "output": "parse-namespace"}]},
        |  {"id": "parse-namespace", "type": "regex_parser",
        |   "if": "attributes?.log_tags != nil && attributes.log_tags matches \"kube_namespace:(?P<k8s_namespace_name>[^,]+)\"",
        |   "on_error": "send",
        |   "parse_from": "attributes.log_tags", "parse_to": "attributes",
        |   "regex": "kube_namespace:(?P<k8s_namespace_name>[^,]+)",
        |   "output": "remove-log-tags"},
        |  {"id": "remove-log-tags", "type": "remove",
        |   "if": "attributes?.k8s_namespace_name != nil",
        |   "field": "attributes.log_tags", "output": "add-worked"},
        |  {"id": "add-worked", "type": "add", "field": "attributes.worked",
        |   "value": "true", "output": "noop"},
        |  {"id": "noop", "type": "noop"}
        |]}""".stripMargin
    val spec = PipelineConfig.fromJson(json)
    assert(spec.ops.map(_.id) ==
      Seq("router_signoz", "parse-namespace", "remove-log-tags", "add-worked", "noop"))

    val logs = LogFrames.withDefaults(Seq(
      ("c1", 0, "pod logs", Map("log_tags" -> "kube_namespace:my-ns,env:prod")),
      ("c2", 0, "other logs", Map("source" -> "stdout"))
    ).toDF("conv_id", "turn_idx", "body", "attributes_string"))
    val out = Pipeline.compile(spec)(logs)
      .select($"conv_id", $"route", $"attributes_string").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getMap[String, String](2).toMap))
      .toMap

    val (route1, attrs1) = out("c1")
    assert(route1 == "parse-namespace")
    assert(attrs1("k8s_namespace_name") == "my-ns")
    assert(!attrs1.contains("log_tags")) // removed
    assert(attrs1("worked") == "true") // added

    val (route2, attrs2) = out("c2")
    assert(route2 == "noop")
    assert(attrs2 == Map("source" -> "stdout")) // untouched
  }

  test("reference config.yaml: regex_parser with embedded timestamp+severity") {
    val json =
      """{"operators": [
        |  {"type": "regex_parser",
        |   "regex": "^(?P<time>\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (?P<sev>[A-Z]*) (?P<msg>.*)$",
        |   "timestamp": {"parse_from": "attributes.time", "layout": "%Y-%m-%d %H:%M:%S"},
        |   "severity": {"parse_from": "attributes.sev"}},
        |  {"type": "noop"}
        |]}""".stripMargin
    val spec = PipelineConfig.fromJson(json)
    assert(spec.ops.map(_.id) == Seq("regex_parser", "noop")) // stanza default ids

    val logs = LogFrames.fromBodies(spark, Seq("2024-03-01 10:20:30 ERROR boom"))
    val r = Pipeline.compile(spec)(logs)
      .select($"timestamp", $"severity_text", $"severity_number",
        $"attributes_string".getItem("msg")).collect().head
    assert(r.getLong(0) == java.time.Instant.parse("2024-03-01T10:20:30Z")
      .getEpochSecond * 1000000000L)
    assert(r.getString(1) == "ERROR" && r.getInt(2) == 17)
    assert(r.getString(3) == "boom")
  }

  test("severity mapping values: string, number, range, list; output as list") {
    val json =
      """{"operators": [
        |  {"type": "severity_parser", "parse_from": "attributes.code",
        |   "overwrite_text": true,
        |   "mapping": {"error": [{"min": 500, "max": 599}, "fail"],
        |               "info": "2xx", "debug": 7},
        |   "output": ["noop"]},
        |  {"type": "noop"}
        |]}""".stripMargin
    val spec = PipelineConfig.fromJson(json)
    val logs = LogFrames.withDefaults(Seq(
      ("a", 0, Map("code" -> "503")), ("b", 0, Map("code" -> "fail")),
      ("c", 0, Map("code" -> "204")), ("d", 0, Map("code" -> "7"))
    ).toDF("conv_id", "turn_idx", "attributes_string"))
    val out = Pipeline.compile(spec)(logs)
      .select($"conv_id", $"severity_text").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") == "ERROR" && out("b") == "ERROR")
    assert(out("c") == "INFO" && out("d") == "DEBUG")
  }
}
