package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.model.LogFrames
import graft.operators._
import graft.pipeline.{Pipeline, PipelineSpec}

/** The on_error table (`helper/transformer.go:43-51,118-130`) over every
  * operator that can fail, under `send`, `send_quiet`, `drop` and
  * `drop_quiet`. Each case runs four rows: one the operator parses, one it
  * fails on, and the same two inputs behind an `if:` that is false. A failed
  * row passes unchanged under `send*` and is removed under `drop*`; a row
  * whose `if:` is false passes unchanged under every mode, whether or not
  * the operator would have failed on it.
  */
class OnErrorTableSpec extends SparkSuite {
  import spark.implicits._

  private val modes = Seq(OnError.Send, OnError.SendQuiet, OnError.Drop, OnError.DropQuiet)

  private val cols = Seq("body", "attributes_string", "attributes_number",
    "severity_number", "severity_text", "timestamp", "trace_id")

  /** Rows keyed by their `row` attribute; (body, attributes) per row. */
  private def frame(rows: Seq[(String, String, Map[String, String])]): DataFrame =
    LogFrames.withDefaults(rows.map { case (tag, body, a) =>
      (body, a + ("row" -> tag) + ("gate" -> (if (tag.startsWith("skip")) "off" else "on")))
    }.toDF("body", "attributes_string"))

  private def byRow(df: DataFrame): Map[String, Row] =
    df.select(cols.head, cols.tail: _*).collect()
      .map(r => r.getMap[String, String](1)("row") -> r).toMap

  private def run(op: Op, in: DataFrame): DataFrame =
    Pipeline.compile(PipelineSpec(Seq(op, NoopOp(Common("__noop")))))(in)

  private def common(mode: OnError.T) =
    Common("op", ifExpr = Some("attributes?.gate == \"on\""), onError = mode)

  /** Runs `op` under every mode over a row that parses (`ok`) and one that
    * fails (`bad`), each also behind a false `if:`, and checks the fate of
    * every row; `parsed` checks the row that parsed.
    */
  private def table(op: Common => Op, ok: (String, Map[String, String]),
      bad: (String, Map[String, String]))(parsed: Row => Unit): Unit = {
    val in = frame(Seq(("ok", ok._1, ok._2), ("bad", bad._1, bad._2),
      ("skip_ok", ok._1, ok._2), ("skip_bad", bad._1, bad._2)))
    val before = byRow(in)
    modes.foreach { mode =>
      val out = byRow(run(op(common(mode)), in))
      val dropped = mode == OnError.Drop || mode == OnError.DropQuiet
      withClue(s"$mode: ") {
        assert(out.keySet == (if (dropped) Set("ok", "skip_ok", "skip_bad")
          else Set("ok", "bad", "skip_ok", "skip_bad")))
        assert(out("skip_ok") == before("skip_ok"))
        assert(out("skip_bad") == before("skip_bad"))
        if (!dropped) assert(out("bad") == before("bad"))
        assert(out("ok") != before("ok"))
        parsed(out("ok"))
      }
    }
  }

  private def str(r: Row): Map[String, String] = r.getMap[String, String](1).toMap

  test("regex_parser: a body that does not match is the error") {
    table(c => RegexParserOp(c, "^k=(?P<k>\\w+)$"), ("k=v", Map.empty), ("nope", Map.empty)) { r =>
      assert(str(r)("k") == "v")
    }
  }

  test("grok_parser: a body that does not match is the error") {
    table(c => GrokParserOp(c, "%{WORD:w} %{INT:n:int}"), ("w 5", Map.empty),
      ("nope", Map.empty)) { r =>
      assert(str(r)("w") == "w" && r.getMap[String, Double](2)("n") == 5.0)
    }
  }

  test("json_parser: a body that is not a JSON object is the error") {
    table(c => JsonParserOp(c), ("""{"j":"v"}""", Map.empty), ("nope", Map.empty)) { r =>
      assert(str(r)("j") == "v")
    }
  }

  test("severity_parser: a missing parse_from field is the error") {
    table(c => SeverityParserOp(c, SeveritySpec(FieldRef.Attr(Seq("sev")))),
      ("", Map("sev" -> "error")), ("", Map.empty)) { r =>
      assert(r.getInt(3) == 17 && r.getString(4) == "error")
    }
  }

  test("time_parser: a value the layout does not parse is the error") {
    table(c => TimeParserOp(c, TimeParserSpec(FieldRef.Attr(Seq("ts")), "epoch", "s")),
      ("", Map("ts" -> "1136214245")), ("", Map("ts" -> "not-a-time"))) { r =>
      assert(r.getLong(5) == 1136214245L * 1000000000L)
    }
  }

  private val tid = "480140f3d770a5ae32f0a22b6a812cff"

  test("trace_parser: an id that is not hex is the error") {
    table(c => TraceParserOp(c, TraceSpec(traceId = Some(FieldRef.Attr(Seq("tid"))))),
      ("", Map("tid" -> tid)), ("", Map("tid" -> "foo_bar"))) { r =>
      assert(r.getString(6) == tid)
    }
  }

  test("copy: a missing from field is the error") {
    table(c => CopyOp(c, FieldRef.Attr(Seq("a")), FieldRef.Attr(Seq("b"))),
      ("", Map("a" -> "1")), ("", Map.empty)) { r =>
      assert(str(r)("a") == "1" && str(r)("b") == "1")
    }
  }

  test("move: a missing from field is the error") {
    table(c => MoveOp(c, FieldRef.Attr(Seq("a")), FieldRef.Attr(Seq("b"))),
      ("", Map("a" -> "1")), ("", Map.empty)) { r =>
      assert(!str(r).contains("a") && str(r)("b") == "1")
    }
  }

  test("remove: a missing field is the error") {
    table(c => RemoveOp(c, FieldRef.Attr(Seq("a"))), ("", Map("a" -> "1")),
      ("", Map.empty)) { r =>
      assert(!str(r).contains("a"))
    }
  }

  test("regex_parser with a failing embedded timestamp: send keeps the parse, drop removes the row") {
    val op = (mode: OnError.T) => RegexParserOp(Common("op", onError = mode),
      "^k=(?P<k>\\w+)$", extras = ParserExtras(timestamp = Some(
        TimeParserSpec(FieldRef.Attr(Seq("k")), "epoch", "s"))))
    val in = frame(Seq(("ok", "k=v", Map.empty)))
    modes.foreach { mode =>
      val out = byRow(run(op(mode), in))
      withClue(s"$mode: ") {
        if (mode == OnError.Drop || mode == OnError.DropQuiet) assert(out.isEmpty)
        else {
          assert(str(out("ok"))("k") == "v")
          assert(out("ok").getLong(5) == 0L)
        }
      }
    }
  }
}
