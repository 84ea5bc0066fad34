package graft

import org.apache.spark.sql.DataFrame

import graft.model.LogFrames
import graft.operators._
import graft.pipeline.{Pipeline, PipelineSpec}

/** Ports the stanza router transformer test table
  * (`operators/router/transformer_test.go:30-178` TestTransformer): routed
  * output counts via the compiled `sink` column, no-match silent drop,
  * default routes, first-match-wins ordering, and per-route attached
  * attributes. (The MatchEnv case is covered by ExprLangSpec's env() test —
  * process-level env vars can't be set per-JVM-test here.)
  */
class RouterTableSpec extends SparkSuite {
  import spark.implicits._

  private val body = """{"message":"test_message"}"""

  private def run(routes: Seq[Route], default: Seq[String]): DataFrame = {
    val df = LogFrames.withDefaults(Seq(body).toDF("body"))
    Pipeline.compile(PipelineSpec(Seq(
      RouterOp(Common("router"), routes, default),
      NoopOp(Common("output1")), NoopOp(Common("output2")))))(df)
  }
  // assert the matched route (stanza mocks are terminal; here a noop with no
  // explicit output flows to the next op in config, so `sink` converges)
  private def sinks(df: DataFrame): Seq[String] =
    df.select("route").collect().toSeq.map(_.getString(0))

  test("DefaultRoute: literal true routes") {
    assert(sinks(run(Seq(Route("true", Seq("output1"))), Nil)) == Seq("output1"))
  }

  test("NoMatch without default silently drops the entry") {
    assert(run(Seq(Route("false", Seq("output1"))), Nil).count() == 0)
  }

  test("SimpleMatch: first matching route wins, body JSON reads") {
    val out = run(Seq(
      Route("""body.message == "non_match"""", Seq("output1")),
      Route("""body.message == "test_message"""", Seq("output2"))), Nil)
    assert(sinks(out) == Seq("output2"))
  }

  test("MatchWithAttribute: the winning route attaches its attributes") {
    val out = run(Seq(
      Route("""body.message == "non_match"""", Seq("output1")),
      Route("""body.message == "test_message"""", Seq("output2"),
        attributes = Map("label-key" -> "label-value"))), Nil)
    val r = out.select("route", "attributes_string").collect()(0)
    assert(r.getString(0) == "output2")
    assert(r.getMap[String, String](1).toMap == Map("label-key" -> "label-value"))
  }

  test("UseDefault / MatchBeforeDefault") {
    assert(sinks(run(Seq(Route("false", Seq("output1"))), Seq("output2"))) == Seq("output2"))
    assert(sinks(run(Seq(Route("true", Seq("output1"))), Seq("output2"))) == Seq("output1"))
  }

  // Reach is per route: a route is named by its first output, so routes
  // that share that name must not share each other's outputs or attributes.
  // Rows "a" and "b"; `audit` adds attributes.audited and flows to `x`.
  private def audited(routes: Seq[Route], default: Seq[String]): Map[String, Map[String, String]] = {
    val df = LogFrames.withDefaults(Seq("a", "b").toDF("body"))
    Pipeline.compile(PipelineSpec(Seq(
      RouterOp(Common("router"), routes, default),
      AddOp(Common("audit", output = Seq("x")), FieldRef.Attr(Seq("audited")), "1"),
      NoopOp(Common("x")))))(df)
      .select("body", "attributes_string").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
  }

  test("routes sharing a first output keep their own output lists") {
    val got = audited(Seq(
      Route("body == \"a\"", Seq("x", "audit")),
      Route("body == \"b\"", Seq("x"))), Nil)
    assert(got == Map("a" -> Map("audited" -> "1"), "b" -> Map.empty[String, String]))
  }

  test("a route sharing its first output with the default keeps its own output list") {
    val got = audited(Seq(Route("body == \"a\"", Seq("x", "audit"))), Seq("x"))
    assert(got == Map("a" -> Map("audited" -> "1"), "b" -> Map.empty[String, String]))
  }

  test("routes sharing their outputs attach only their own attributes") {
    val got = audited(Seq(
      Route("body == \"a\"", Seq("x"), attributes = Map("from" -> "a")),
      Route("body == \"b\"", Seq("x"), attributes = Map("from" -> "b"))), Nil)
    assert(got == Map("a" -> Map("from" -> "a"), "b" -> Map("from" -> "b")))
  }
}
