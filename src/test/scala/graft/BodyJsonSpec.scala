package graft

import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BodyPromotedWorker
import graft.pipeline.{Exporter, ExporterConfig}

/** Golden tests for body-JSON mode, mirroring the reference's
  * `exporter/clickhouselogsexporter/promoted_test.go` cases
  * (buildPromoted/handleSinglePath semantics) plus the processBody wiring
  * (`exporter.go:840-863`).
  */
class BodyJsonSpec extends SparkSuite {

  private def promote(body: String, paths: String*): Option[(String, String)] = {
    val r = new BodyPromotedWorker(paths.sorted.toArray)
      .process(UTF8String.fromString(body))
    Option(r).map(row => (row.getUTF8String(0).toString, row.getUTF8String(1).toString))
  }

  test("invalid body type -> null (TestInvalidBodyType)") {
    assert(promote("test log").isEmpty)
    assert(promote("[1,2]").isEmpty)
    assert(promote("not json", "a.b").isEmpty)
  }

  test("HTML characters escape like Go json.Marshal (escapeHTML default)") {
    val Some((v2, p)) = promote(
      """{"msg":"a<b>&c","q<k":"v"}""", "msg")
    assert(v2 == "{\"msg\":\"a\\u003cb\\u003e\\u0026c\",\"q\\u003ck\":\"v\"}")
    assert(p == "{\"msg\":\"a\\u003cb\\u003e\\u0026c\"}")
  }

  test("simple literal key match") {
    val Some((_, p)) = promote(
      """{"message":"test log","level":"info","user.id":"123"}""", "user.id")
    assert(p == """{"user.id":"123"}""")
  }

  test("nested path extraction") {
    val Some((_, p)) = promote(
      """{"message":"test log","user":{"id":"123","name":"john","email":"john@example.com"}}""",
      "user.id", "user.name")
    assert(p == """{"user.id":"123","user.name":"john"}""")
  }

  test("parent is promoted but is not a leaf -> nothing extracted") {
    val Some((_, p)) = promote(
      """{"message":"test log","user":{"id":"123","name":"john"}}""", "user")
    assert(p == "{}")
  }

  test("array leaf found -> promoted") {
    val Some((_, p)) = promote(
      """{"message":"t","user":{"orders":[{"id":"1","created_at":"some date"}],"id":"123"}}""",
      "user.orders")
    assert(p == """{"user.orders":[{"created_at":"some date","id":"1"}]}""")
  }

  test("ambiguous dot notation: literal preference over nested descent") {
    val Some((_, p)) = promote(
      """{"message":"t","a.b.c":"literal_value","a":{"b":{"c":"nested_value"}}}""",
      "a.b.c")
    assert(p == """{"a.b.c":"literal_value"}""")
  }

  test("literal preference applies at every level (dotted sibling inside map)") {
    val Some((_, p)) = promote(
      """{"user":{"id":"123","name":"john","address.street":"123 Main St","address.city":"New York"}}""",
      "user.id", "user.name", "user.address.city")
    assert(p == """{"user.address.city":"New York","user.id":"123","user.name":"john"}""")
  }

  test("deeply nested paths") {
    val Some((_, p)) = promote(
      """{"request":{"headers":{"authorization":"Bearer token123","content-type":"application/json"},
        |"body":{"user":{"profile":{"settings":{"theme":"dark"}}}}}}""".stripMargin.replace("\n", ""),
      "request.headers.authorization", "request.body.user.profile.settings.theme")
    assert(p ==
      """{"request.body.user.profile.settings.theme":"dark","request.headers.authorization":"Bearer token123"}""")
  }

  test("no promoted paths / non-existent paths -> empty map") {
    assert(promote("""{"message":"t","level":"info"}""").get._2 == "{}")
    assert(promote("""{"message":"t"}""", "non.existent.path", "another.missing").get._2 == "{}")
  }

  test("literal hit that is itself a map does NOT extract; descent continues") {
    // promoted.go:59-61: a literal key equal to the remaining path whose
    // value is a map falls through to segment descent
    val Some((_, p)) = promote(
      """{"a.b":{"x":1},"a":{"b":"descended"}}""", "a.b")
    assert(p == """{"a.b":"descended"}""")
  }

  test("body_v2 is the sorted-key canonical JSON of the body map") {
    val Some((v2, _)) = promote("""{"z":1,"a":{"y":2,"b":3},"m":"s"}""")
    assert(v2 == """{"a":{"b":3,"y":2},"m":"s","z":1}""")
  }

  test("exporter wiring: body blanked unless old-body enabled; non-object keeps body") {
    val logs = graft.model.LogFrames.fromBodies(spark,
      Seq("""{"user":{"id":"7"},"msg":"x"}""", "plain text line"))
    val cfg = ExporterConfig(bodyJsonEnabled = true, promotedPaths = Seq("user.id"))
    val out = Exporter.logsV2(logs, cfg)
      .select("body", "body_v2", "body_promoted").orderBy("body").collect()
    // JSON-object body: blanked, v2 + promoted populated
    assert(out(0).getString(0) == "" &&
      out(0).getString(1) == """{"msg":"x","user":{"id":"7"}}""" &&
      out(0).getString(2) == """{"user.id":"7"}""")
    // non-object body: kept as-is, v2/promoted null (reference errors the
    // record; this engine's per-record analogue)
    assert(out(1).getString(0) == "plain text line" && out(1).isNullAt(1))

    val kept = Exporter.logsV2(logs,
      cfg.copy(bodyJsonOldBodyEnabled = true))
      .select("body").orderBy("body").collect().map(_.getString(0))
    assert(kept.contains("""{"user":{"id":"7"},"msg":"x"}"""))
  }
}
