package graft

import org.apache.spark.sql.DataFrame

import graft.model.LogFrames
import graft.operators._
import graft.pipeline.{Pipeline, PipelineSpec}

/** Ports the stanza trace parser test table
  * (`operators/trace/parser_test.go:94-291` TestProcess +
  * TestTraceParserParse): default body.trace_id/span_id/trace_flags sources,
  * per-field best-effort hex parsing (valid fields stick even when a sibling
  * errors — helper/trace.go:93-111), and the on_error routing of the
  * combined error.
  */
class TraceTableSpec extends SparkSuite {
  import spark.implicits._

  private def run(body: String, onError: OnError.T = OnError.Send): DataFrame = {
    val df = LogFrames.withDefaults(Seq(body).toDF("body"))
    Pipeline.compile(PipelineSpec(Seq(
      TraceParserOp(Common("t", onError = onError), TraceSpec()),
      NoopOp(Common("__noop")))))(df)
  }
  private def one(df: DataFrame): (String, String, Int) = {
    val r = df.select("trace_id", "span_id", "trace_flags").collect()(0)
    (r.getString(0), r.getString(1), r.getInt(2))
  }

  private val tid = "480140f3d770a5ae32f0a22b6a812cff"
  private val sid = "92c3792d54ba94f3"

  test("AllFields: default body sources, flags decode to the first byte") {
    val (t, s, f) = one(run(
      s"""{"trace_id":"$tid","span_id":"$sid","trace_flags":"01"}"""))
    assert(t == tid && s == sid && f == 1)
  }

  test("WrongFields: camelCase keys are not the defaults -> nothing set") {
    val (t, s, f) = one(run(
      s"""{"traceId":"$tid","spanId":"$sid","traceFlags":"01"}"""))
    assert(t == "" && s == "" && f == 0)
  }

  test("OnlyTraceId") {
    val (t, s, f) = one(run(s"""{"trace_id":"$tid"}"""))
    assert(t == tid && s == "" && f == 0)
  }

  test("WrongTraceIdFormat: valid span/flags still apply; error routes to on_error") {
    val in = s"""{"trace_id":"foo_bar","span_id":"$sid","trace_flags":"01"}"""
    val (t, s, f) = one(run(in))
    assert(t == "" && s == sid && f == 1)
    assert(run(in, OnError.Drop).count() == 0)
  }

  test("WrongTraceFlagFormat: trace/span apply, flags do not") {
    val (t, s, f) = one(run(
      s"""{"trace_id":"$tid","span_id":"$sid","trace_flags":"foo_bar"}"""))
    assert(t == tid && s == sid && f == 0)
    // odd-length hex is a decode error too (hex.DecodeString)
    val (t2, _, _) = one(run("""{"trace_id":"abc"}"""))
    assert(t2 == "")
  }

  test("uppercase hex normalizes to lowercase (deterministic id columns)") {
    val (t, _, _) = one(run(s"""{"trace_id":"${tid.toUpperCase}"}"""))
    assert(t == tid)
  }

  test("drop decides on the entry as it was before the valid fields were set") {
    // the if: reads trace_id, which the valid trace id rewrites while the
    // invalid span id routes the error
    val df = LogFrames.withDefaults(Seq(s"""{"trace_id":"$tid","span_id":"foo_bar"}""")
      .toDF("body"))
    def out(onError: OnError.T): DataFrame = Pipeline.compile(PipelineSpec(Seq(
      TraceParserOp(Common("t", ifExpr = Some("trace_id == \"\""), onError = onError), TraceSpec()),
      NoopOp(Common("__noop")))))(df)
    assert(one(out(OnError.Send))._1 == tid)
    assert(out(OnError.Drop).count() == 0)
  }
}
