package graft

import org.apache.spark.sql.DataFrame

import graft.model.LogFrames
import graft.operators.PipelineConfig
import graft.pipeline.Pipeline

/** Ports the stanza add transformer test table
  * (`operators/add/transformer_test.go:40-340` TestProcessAndBuild) through
  * the CONFIG LOADER (typed YAML/JSON `value: any`, add/config.go): typed
  * ints land in the number attribute map, maps/arrays into body paths with
  * BodyField.Set semantics, `EXPR(body.key + "_suffix")` string
  * concatenation, overwrite. Divergence note: int resource values stringify
  * (this engine's resource map is string-typed like the sink's).
  */
class AddTableSpec extends SparkSuite {
  import spark.implicits._

  private val baseBody = """{"key":"val","nested":{"nestedkey":"nestedval"}}"""

  private def run(opJson: String, body: String = baseBody) = {
    val df: DataFrame = LogFrames.withDefaults(Seq(body).toDF("body"))
    val spec = PipelineConfig.fromJson(
      s"""{"operators": [$opJson, {"type": "noop", "id": "__noop"}]}""")
    val out = Pipeline.compile(spec)(df)
    val r = out.select("body", "attributes_string", "attributes_number",
      "attributes_bool", "resources_string").collect()(0)
    (r.getString(0), r.getMap[String, String](1).toMap,
      r.getMap[String, Double](2).toMap, r.getMap[String, Boolean](3).toMap,
      r.getMap[String, String](4).toMap)
  }

  test("add_value: string to body path") {
    val (body, _, _, _, _) =
      run("""{"type":"add","field":"body.new","value":"randomMessage"}""")
    assert(body ==
      """{"key":"val","nested":{"nestedkey":"nestedval"},"new":"randomMessage"}""")
  }

  test("add_expr: EXPR string concatenation (body.key + \"_suffix\")") {
    val (body, _, _, _, _) = run(
      """{"type":"add","field":"body.new","value":"EXPR(body.key + \"_suffix\")"}""")
    assert(body ==
      """{"key":"val","nested":{"nestedkey":"nestedval"},"new":"val_suffix"}""")
  }

  test("add_nest: map value merges at the body path") {
    val (body, _, _, _, _) = run(
      """{"type":"add","field":"body.new","value":{"nest":{"key":"val"}}}""")
    assert(body ==
      """{"key":"val","nested":{"nestedkey":"nestedval"},"new":{"nest":{"key":"val"}}}""")
  }

  test("add_attribute / add_resource: plain strings") {
    val (_, attrs, _, _, _) =
      run("""{"type":"add","field":"attributes.new","value":"some.attribute"}""")
    assert(attrs == Map("new" -> "some.attribute"))
    val (_, _, _, _, res) =
      run("""{"type":"add","field":"resource.new","value":"some.resource"}""")
    assert(res == Map("new" -> "some.resource"))
  }

  test("add_int_to_body / add_array_to_body / overwrite") {
    val (b1, _, _, _, _) = run("""{"type":"add","field":"body.new","value":1}""")
    assert(b1 == """{"key":"val","nested":{"nestedkey":"nestedval"},"new":1}""")
    val (b2, _, _, _, _) = run("""{"type":"add","field":"body.new","value":[1,2,3,4]}""")
    assert(b2 == """{"key":"val","nested":{"nestedkey":"nestedval"},"new":[1,2,3,4]}""")
    val (b3, _, _, _, _) = run("""{"type":"add","field":"body.key","value":[1,2,3,4]}""")
    assert(b3 == """{"key":[1,2,3,4],"nested":{"nestedkey":"nestedval"}}""")
  }

  test("add_int_to_attributes: typed number map; int to resource stringifies") {
    val (_, s, n, _, _) = run("""{"type":"add","field":"attributes.new","value":1}""")
    assert(n == Map("new" -> 1.0) && !s.contains("new"))
    val (_, _, _, _, res) = run("""{"type":"add","field":"resource.new","value":1}""")
    assert(res == Map("new" -> "1"))
  }

  test("a float added to resource prints Go's %v") {
    val (_, _, _, _, res) = run("""{"type":"add","field":"resource.new","value":0.0001}""")
    assert(res == Map("new" -> "0.0001"))
    val (_, _, _, _, big) = run("""{"type":"add","field":"resource.new","value":12345678.5}""")
    assert(big == Map("new" -> "1.23456785e+07"))
  }

  test("add_nested_to_attributes: map value stringifies into the string map") {
    val (_, s, _, _, _) = run(
      """{"type":"add","field":"attributes.new","value":{"nest":{"key":"val"}}}""")
    assert(s == Map("new" -> """{"nest":{"key":"val"}}"""))
  }

  test("numeric attr + numeric attr adds per row; string side concatenates") {
    val in = LogFrames.withDefaults(
      Seq(("{}", Map("s" -> "x"), Map("price" -> 10.5, "tax" -> 5.2)))
        .toDF("body", "attributes_string", "attributes_number"))
    val spec = PipelineConfig.fromJson(
      """{"operators": [
        |{"type":"add","field":"attributes.total","value":"EXPR(attributes.price + attributes.tax)"},
        |{"type":"add","field":"attributes.tagged","value":"EXPR(attributes.s + attributes.s)"},
        |{"type":"noop","id":"__noop"}]}""".stripMargin)
    val r = Pipeline.compile(spec)(in)
      .select("attributes_string").collect()(0).getMap[String, String](0)
    assert(r("total") == "15.7")
    assert(r("tagged") == "xx")
  }

  test("EXPR runtime error (nil + string) skips the write, entry unchanged") {
    val (_, attrs, _, _, _) = run(
      """{"type":"add","field":"attributes.tagged","value":"EXPR(attributes.absent + \"_suffix\")"}""")
    assert(!attrs.contains("tagged"))
  }

  test("int64 above 2^53 stays exact into body paths and long tops") {
    val (body, _, _, _, _) = run(
      """{"type":"add","field":"body.new","value":1726531200123456789}""")
    assert(body ==
      """{"key":"val","nested":{"nestedkey":"nestedval"},"new":1726531200123456789}""")
  }

  test("typed bool lands in the bool map; bool to body path is a JSON bool") {
    val (_, _, _, b, _) = run("""{"type":"add","field":"attributes.new","value":true}""")
    assert(b == Map("new" -> true))
    val (body, _, _, _, _) = run("""{"type":"add","field":"body.new","value":true}""")
    assert(body == """{"key":"val","nested":{"nestedkey":"nestedval"},"new":true}""")
  }
}
