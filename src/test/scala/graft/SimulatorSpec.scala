package graft

import org.apache.spark.sql.functions._

import graft.model.LogFrames
import graft.pipeline.{AttributesProcessor, Simulator}
import graft.pipeline.Simulator.ProcessorConfig

/** Pipeline-preview simulator (`pkg/collectorsimulator`) + the contrib
  * `attributes` processor it drives. The two end-to-end cases port the
  * reference's own tests verbatim:
  * `collectorsimulator/logs_test.go:20-105` (two logstransform chains,
  * router + add) and `traces_test.go:16-96` (two attributes processors,
  * strict include + insert).
  */
class SimulatorSpec extends SparkSuite {
  import spark.implicits._

  private def logsInput = LogFrames.withDefaults(Seq(
    ("test log 1", "GET"),
    ("test log 2", "POST")
  ).toDF("body", "method"))
    .withColumn("attributes_string", map(lit("method"), $"method"))
    .drop("method")

  test("logs simulation: two logstransform processors (logs_test.go port)") {
    val p1 = ProcessorConfig("logstransform/test", """{"operators": [
      {"type": "router", "id": "router_signoz", "routes": [
        {"output": "add", "expr": "attributes.method == \"GET\""}], "default": "noop"},
      {"type": "add", "id": "add", "field": "attributes.test", "value": "test-value-get"},
      {"type": "noop", "id": "noop"}]}""")
    val p2 = ProcessorConfig("logstransform/test2", """{"operators": [
      {"type": "router", "id": "router_signoz", "routes": [
        {"output": "add", "expr": "attributes.method == \"POST\""}], "default": "noop"},
      {"type": "add", "id": "add", "field": "attributes.test", "value": "test-value-post"},
      {"type": "noop", "id": "noop"}]}""")

    val out = Simulator.simulateLogsProcessing(Seq(p1, p2), logsInput)
      .select($"attributes_string".getItem("method"), $"attributes_string".getItem("test"))
      .as[(String, String)].collect().toMap
    assert(out == Map("GET" -> "test-value-get", "POST" -> "test-value-post"))
  }

  test("traces simulation: two attributes processors (traces_test.go port)") {
    val input = LogFrames.withDefaults(Seq(
      ("test span 1", "GET"),
      ("test span 2", "POST")
    ).toDF("name", "method"))
      .withColumn("attributes_string", map(lit("method"), $"method"))
      .drop("method")

    val p1 = ProcessorConfig("attributes/test", """{
      "include": {"match_type": "strict",
        "attributes": [{"key": "method", "value": "GET"}]},
      "actions": [{"key": "test", "value": "test-value-get", "action": "insert"}]}""")
    val p2 = ProcessorConfig("attributes/test2", """{
      "include": {"match_type": "strict",
        "attributes": [{"key": "method", "value": "POST"}]},
      "actions": [{"key": "test", "value": "test-value-post", "action": "insert"}]}""")

    val out = Simulator.simulateTracesProcessing(Seq(p1, p2), input)
      .select($"attributes_string".getItem("method"), $"attributes_string".getItem("test"))
      .as[(String, String)].collect().toMap
    assert(out == Map("GET" -> "test-value-get", "POST" -> "test-value-post"))
  }

  test("simulator output keeps exactly the input columns; unknown type fails fast") {
    val out = Simulator.simulateLogsProcessing(
      Seq(ProcessorConfig("logstransform/t", """{"operators": [{"type": "noop"}]}""")),
      logsInput)
    assert(out.columns.toSeq == logsInput.columns.toSeq)
    intercept[IllegalArgumentException] {
      Simulator.simulateLogsProcessing(
        Seq(ProcessorConfig("spanmetrics/x", "{}")), logsInput)
    }
  }

  // ---- attributes processor action matrix ---------------------------------

  private def attrsFrame = LogFrames.withDefaults(Seq(
    Tuple1("GET /api/users?q=1")
  ).toDF("body"))
    .withColumn("attributes_string",
      map(lit("method"), lit("GET"), lit("count_s"), lit("42"),
        lit("frac_s"), lit("1.5"), lit("secret"), lit("hunter2")))
    .withColumn("attributes_number", map(lit("latency"), lit(3.9)))
    .withColumn("attributes_bool", map(lit("ok"), lit(true)))

  private def run(df: org.apache.spark.sql.DataFrame, cfg: String) =
    AttributesProcessor.compile(cfg)(df)

  private def strAttrs(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.select("attributes_string").as[Map[String, String]].head()
  private def numAttrs(df: org.apache.spark.sql.DataFrame): Map[String, Double] =
    df.select("attributes_number").as[Map[String, Double]].head()

  test("insert does not overwrite; update needs presence; upsert always wins") {
    val out = run(attrsFrame, """{"actions": [
      {"key": "method", "value": "X", "action": "insert"},
      {"key": "fresh", "value": "new", "action": "insert"},
      {"key": "absent", "value": "v", "action": "update"},
      {"key": "method", "value": "POST", "action": "update"},
      {"key": "up", "value": 7, "action": "upsert"}]}""")
    val s = strAttrs(out)
    assert(s("method") == "POST" && s("fresh") == "new" && !s.contains("absent"))
    assert(numAttrs(out)("up") == 7.0)
  }

  test("typed copy via from_attribute preserves the source map") {
    val out = run(attrsFrame, """{"actions": [
      {"key": "lat2", "from_attribute": "latency", "action": "upsert"},
      {"key": "m2", "from_attribute": "method", "action": "upsert"}]}""")
    assert(numAttrs(out)("lat2") == 3.9)
    assert(strAttrs(out)("m2") == "GET")
  }

  test("delete by key and by pattern") {
    val out = run(attrsFrame, """{"actions": [
      {"key": "secret", "action": "delete"},
      {"key": "", "pattern": "^count", "action": "delete"}]}""")
    val s = strAttrs(out)
    assert(!s.contains("secret") && !s.contains("count_s") && s.contains("method"))
  }

  test("hash is SHA-256 hex of the value") {
    val out = run(attrsFrame, """{"actions": [
      {"key": "secret", "action": "hash"}]}""")
    // sha256("hunter2")
    assert(strAttrs(out)("secret") ==
      "f52fbd32b2b3b86ff88ef6c490628285f482af15ddcb29541f94bcf526a3f6c7")
  }

  private def typedFrame = attrsFrame
    .withColumn("attributes_number", map(lit("latency"), lit(3.9), lit("size"), lit(2.0)))
    .withColumn("attributes_bool", map(lit("ok"), lit(true), lit("cached"), lit(false)))
  private def boolAttrs(df: org.apache.spark.sql.DataFrame): Map[String, Boolean] =
    df.select("attributes_bool").as[Map[String, Boolean]].head()
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("delete by pattern: an unanchored key match in all three typed maps; null stays null") {
    val cfg = """{"actions": [{"key": "", "pattern": "^count|lat|^ok$", "action": "delete"}]}"""
    val out = run(typedFrame, cfg)
    assert(strAttrs(out).keySet == Set("method", "frac_s", "secret"))
    assert(numAttrs(out) == Map("size" -> 2.0))
    assert(boolAttrs(out) == Map("cached" -> false))
    val nulls = run(typedFrame.withColumn("attributes_bool",
      lit(null).cast(graft.model.LogSchema.mapSB)), cfg)
    assert(nulls.select("attributes_bool").head().isNullAt(0))
  }

  test("hash by pattern: matched string, number and bool keys become SHA-256 hex strings") {
    val out = run(typedFrame, """{"actions": [
      {"key": "", "pattern": "^secret|lat|^ok$", "action": "hash"}]}""")
    assert(strAttrs(out) == Map("method" -> "GET", "count_s" -> "42", "frac_s" -> "1.5",
      "secret" -> sha256("hunter2"), "latency" -> sha256("3.9"), "ok" -> sha256("true")))
    assert(numAttrs(out) == Map("size" -> 2.0))
    assert(boolAttrs(out) == Map("cached" -> false))
  }

  test("convert: string->int (integral only), string->double, number->string") {
    val out = run(attrsFrame, """{"actions": [
      {"key": "count_s", "action": "convert", "converted_type": "int"},
      {"key": "frac_s", "action": "convert", "converted_type": "int"},
      {"key": "latency", "action": "convert", "converted_type": "string"}]}""")
    val s = strAttrs(out); val n = numAttrs(out)
    assert(n("count_s") == 42.0 && !s.contains("count_s"))
    // "1.5" fails Go strconv.ParseInt -> unchanged, stays a string
    assert(s("frac_s") == "1.5" && !n.contains("frac_s"))
    assert(s("latency") == "3.9" && !n.contains("latency"))
    // double truncates toward zero
    val t = run(attrsFrame, """{"actions": [
      {"key": "latency", "action": "convert", "converted_type": "int"}]}""")
    assert(numAttrs(t)("latency") == 3.0)
  }

  test("extract: named groups become attributes; no-match rows untouched") {
    val two = LogFrames.withDefaults(Seq(
      ("GET /api/users", "r1"), ("not a request", "r2")
    ).toDF("req", "tag"))
      .withColumn("attributes_string", map(lit("tag"), $"tag", lit("http.req"), $"req"))
      .drop("tag", "req")
    val out = run(two, """{"actions": [
      {"key": "http.req", "pattern": "^(?P<verb>[A-Z]+) (?P<path>\\S+)$",
       "action": "extract"}]}""")
      .select($"attributes_string".getItem("tag"),
        $"attributes_string".getItem("verb"), $"attributes_string".getItem("path"))
      .as[(String, Option[String], Option[String])].collect()
      .map { case (k, v1, v2) => k -> ((v1, v2)) }.toMap
    assert(out("r1") == (Some("GET"), Some("/api/users")))
    assert(out("r2") == (None, None))
  }

  test("include regexp + exclude strict gating") {
    val three = LogFrames.withDefaults(Seq(
      ("alpha", "GET"), ("beta", "GETX"), ("gamma", "POST")
    ).toDF("body", "m"))
      .withColumn("attributes_string", map(lit("m"), $"m")).drop("m")
    // regexp include: Go MatchString is unanchored -> GET matches GETX too;
    // strict exclude carves GETX back out
    val out = run(three, """{
      "include": {"match_type": "regexp", "attributes": [{"key": "m", "value": "GET"}]},
      "exclude": {"match_type": "strict", "attributes": [{"key": "m", "value": "GETX"}]},
      "actions": [{"key": "hit", "value": true, "action": "insert"}]}""")
      .select($"body", $"attributes_bool".getItem("hit"))
      .as[(String, Option[Boolean])].collect().toMap
    assert(out == Map("alpha" -> Some(true), "beta" -> None, "gamma" -> None))
  }

  test("log_bodies / severity / services any-of match") {
    val f = attrsFrame
      .withColumn("severity_text", lit("ERROR"))
      .withColumn("resources_string", map(lit("service.name"), lit("api")))
    val out = run(f, """{
      "include": {"match_type": "strict", "log_bodies": ["nope", "GET /api/users?q=1"],
        "log_severity_texts": ["ERROR"], "services": ["api"]},
      "actions": [{"key": "hit", "value": "y", "action": "insert"}]}""")
    assert(strAttrs(out)("hit") == "y")
    val miss = run(f, """{
      "include": {"match_type": "strict", "services": ["other"]},
      "actions": [{"key": "hit", "value": "y", "action": "insert"}]}""")
    assert(!strAttrs(miss).contains("hit"))
  }
}
