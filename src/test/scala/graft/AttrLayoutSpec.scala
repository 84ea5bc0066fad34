package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.LogFrames
import graft.operators._
import graft.pipeline.{AttributesProcessor, Enrich, LlmPricing, Pipeline, PipelineSpec, SpanMapper}

/** The one-map rule (SURVEY §1): a record's attributes are one
  * `pcommon.Map` in the reference, so each key lives in exactly one of the
  * three typed maps. Every attribute editor runs here over a row whose
  * written keys already sit in another typed map; each output row must hold
  * every key once, with the expected value and type.
  */
class AttrLayoutSpec extends SparkSuite {
  import spark.implicits._

  private type Attrs = (Map[String, String], Map[String, Double], Map[String, Boolean])

  /** `s`, `n` and `b` each hold the key the others' editors write. */
  private val base: Attrs = (
    Map("s" -> "str", "msg" -> "x=7",
      "js" -> """{"s": 5, "n": true, "b": "t", "new": 1}"""),
    Map("n" -> 1.5),
    Map("b" -> true))

  private def frame(a: Attrs = base): DataFrame =
    LogFrames.withDefaults(Seq((a._1, a._2, a._3, "bash", "user", "x=7")).toDF(
      "attributes_string", "attributes_number", "attributes_bool", "tool", "role", "body"))

  /** The one output row, after checking no key sits in two typed maps. */
  private def one(df: DataFrame): Attrs = {
    val rows = attrs(df)
    assert(rows.size == 1, rows)
    val (s, n, b) = rows.head
    val twice = (s.keySet & n.keySet) ++ (s.keySet & b.keySet) ++ (n.keySet & b.keySet)
    assert(twice.isEmpty, s"keys in two typed maps: $twice in $rows")
    rows.head
  }

  private def stanza(ops: Op*): Attrs =
    one(Pipeline.compile(PipelineSpec(ops :+ NoopOp(Common("__noop"))))(frame()))

  private def ottl(stmts: String*): Attrs =
    one(OttlStatements.applyAll(frame(), Seq("log" -> stmts)))

  private def attributes(action: String): Attrs =
    one(AttributesProcessor.compile(s"""{"actions": [$action]}""")(frame()))

  private def attr(k: String) = FieldRef.Attr(Seq(k))

  test("stanza add, copy and move") {
    val (s1, n1, _) = stanza(AddOp(Common("add"), attr("n"), "v"))
    assert(s1("n") == "v" && !n1.contains("n"))
    val (s2, n2, _) = stanza(AddOp(Common("add"), attr("s"), "3", json = true))
    assert(n2("s") == 3.0 && !s2.contains("s"))
    val (s3, _, b3) = stanza(CopyOp(Common("cp"), attr("b"), attr("s")))
    assert(b3 == Map("b" -> true, "s" -> true) && !s3.contains("s"))
    val (s4, n4, _) = stanza(MoveOp(Common("mv"), attr("n"), attr("s")))
    assert(n4 == Map("s" -> 1.5) && !s4.contains("s"))
  }

  test("regex, grok and json parsers") {
    val (s1, n1, _) = stanza(RegexParserOp(Common("re"), "^x=(?P<n>\\d+)$", attr("msg")))
    assert(s1("n") == "7" && n1.isEmpty)
    val (_, n2, b2) = stanza(GrokParserOp(Common("grok"), "x=%{INT:b:int}", parseFrom = attr("msg")))
    assert(n2("b") == 7.0 && b2.isEmpty)
    val (s3, n3, b3) = stanza(JsonParserOp(Common("json"), parseFrom = attr("js")))
    assert(n3 == Map("s" -> 5.0, "new" -> 1.0) && b3 == Map("n" -> true) && s3("b") == "t")
  }

  test("OTTL set, keep_keys and limit") {
    val (s1, n1, b1) = ottl("""set(attributes["n"], "v")""", """set(attributes["b"], 2)""")
    assert(s1("n") == "v" && n1 == Map("b" -> 2.0) && b1.isEmpty)
    assert(ottl("""keep_keys(attributes, ["s", "n"])""") ==
      ((Map("s" -> "str"), Map("n" -> 1.5), Map.empty[String, Boolean])))
    val (s3, n3, b3) = ottl("limit(attributes, 2, [])")
    assert(s3.size + n3.size + b3.size == 2)
  }

  test("OTTL merge_maps: upsert, insert and update") {
    def merge(strategy: String) =
      ottl(s"""merge_maps(attributes, ParseJSON(attributes["js"]), "$strategy")""")
    val (us, un, ub) = merge("upsert")
    assert(un == Map("s" -> 5.0, "new" -> 1.0) && ub == Map("n" -> true) && us("b") == "t")
    val (is, in, ib) = merge("insert")
    assert(is("s") == "str" && in == Map("n" -> 1.5, "new" -> 1.0) && ib == Map("b" -> true))
    val (ps, pn, pb) = merge("update")
    assert(pn == Map("s" -> 5.0) && pb == Map("n" -> true) && ps("b") == "t")
  }

  test("attributes processor: insert, update, upsert, extract, convert and hash") {
    val (s1, n1, _) = attributes("""{"key": "n", "action": "insert", "value": "v"}""")
    assert(n1("n") == 1.5 && !s1.contains("n"))
    val (s2, n2, _) = attributes("""{"key": "n", "action": "update", "value": "v"}""")
    assert(s2("n") == "v" && n2.isEmpty)
    val (_, n3, b3) = attributes("""{"key": "b", "action": "upsert", "value": 3}""")
    assert(n3("b") == 3.0 && b3.isEmpty)
    val (s4, _, b4) = attributes("""{"key": "s", "action": "upsert", "from_attribute": "b"}""")
    assert(b4 == Map("b" -> true, "s" -> true) && !s4.contains("s"))
    val (s5, n5, _) = attributes(
      """{"key": "msg", "action": "extract", "pattern": "^x=(?P<n>\\d+)$"}""")
    assert(s5("n") == "7" && n5.isEmpty)
    val (s6, n6, _) = attributes("""{"key": "n", "action": "convert", "converted_type": "string"}""")
    assert(s6("n") == "1.5" && n6.isEmpty)
    val (_, n7, b7) = attributes("""{"key": "b", "action": "convert", "converted_type": "int"}""")
    assert(n7("b") == 1.0 && b7.isEmpty)
    val (s8, n8, _) = attributes("""{"key": "n", "action": "hash"}""")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("1.5".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(s8("n") == sha && n8.isEmpty)
  }

  test("span mapper: copy keeps the source's type, move deletes the source") {
    import SpanMapper.{Group, Rule, Source}
    val out = one(SpanMapper(frame(), Seq(Group("g", attrPatterns = Seq("s"), resPatterns = Nil,
      rules = Seq(Rule("b", Seq(Source("s"))), Rule("s", Seq(Source("n", move = true))))))))
    assert(out == ((Map("msg" -> "x=7", "js" -> base._1("js"), "b" -> "str"),
      Map("s" -> 1.5), Map.empty[String, Boolean])))
  }

  test("enrich rules and lookup join write string attributes into one map") {
    val (s1, n1, _) = one(Enrich.applyRules(
      frame((base._1, Map("tool_class" -> 2.0), base._3)), col("tool"),
      Seq(Enrich.Rule("bash", Map("tool_class" -> "shell")))))
    assert(s1("tool_class") == "shell" && n1.isEmpty)
    val lookup = Seq(("user", "human")).toDF("role_key", "actor_kind")
    val (s2, _, b2) = one(Enrich.lookupJoin(
      frame((base._1, base._2, Map("actor_kind" -> true))), lookup, col("role"), "role_key"))
    assert(s2("actor_kind") == "human" && b2.isEmpty)
  }

  test("llm pricing writes its costs as number attributes into one map") {
    import LlmPricing._
    val cfg = Config(
      attrs = AttrMapping(model = "model", in = "in", out = "out"),
      rules = Seq(Rule("gpt", Seq("gpt-*"), in = 5.0, out = 15.0)),
      outputAttrs = OutputMapping(total = "cost"))
    val (s, n, _) = one(LlmPricing(frame((Map("model" -> "gpt-4o", "cost" -> "free"),
      Map("in" -> 1e6, "out" -> 1e6), Map.empty)), cfg))
    assert(n("cost") == 20.0 && !s.contains("cost"))
  }
}
