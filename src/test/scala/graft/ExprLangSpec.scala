package graft

import org.apache.spark.sql.functions._

import graft.model.LogFrames
import graft.operators.ExprLang
import graft.pipeline.{Pipeline, PipelineSpec}
import graft.operators._

/** Expression-language golden tests: like/ilike tiering semantics (mirroring
  * the reference `helper/like.go` / `ilike.go` tiers and escapes), env(),
  * expr-lang nil comparison semantics, string-escape preservation, and
  * out-of-config-order DAG wiring.
  */
class ExprLangSpec extends SparkSuite {
  import spark.implicits._

  /** Evaluate a boolean route expression against rows with the given body. */
  private def evalBool(expr: String, bodies: Seq[String]): Seq[Boolean] = {
    val df = LogFrames.fromBodies(spark, bodies)
    df.select(ExprLang.boolExpr(expr).as("b")).collect().toSeq.map(_.getBoolean(0))
  }

  private def evalAttr(expr: String, attrs: Seq[Map[String, String]]): Seq[Boolean] = {
    val df = LogFrames.withDefaults(
      attrs.zipWithIndex.map { case (m, i) => (s"c$i", i, m) }
        .toDF("conv_id", "turn_idx", "attributes_string"))
    df.select(ExprLang.boolExpr(expr).as("b")).collect().toSeq.map(_.getBoolean(0))
  }

  test("string() of a float literal prints Go's %v") {
    val df = LogFrames.fromBodies(spark, Seq("x"))
    val got = df.select(ExprLang.stringExpr("string(0.0001)"), ExprLang.stringExpr("string(12345678.5)"),
      ExprLang.stringExpr("string(3)")).head()
    assert((got.getString(0), got.getString(1), got.getString(2)) == (("0.0001", "1.23456785e+07", "3")))
  }

  test("like: the reference's own expr_test.go table rows (helper/expr_test.go:54-104)") {
    val cases = Seq( // (pattern, input, want)
      ("hello", "hello", true), ("world", "hello", false),
      ("", "", true), ("a", "", false), ("", "a", false),
      ("hello%", "hello", true), ("hello%", "hello world", true),
      ("%hello", "hello", true), ("%hello", "say hello", true),
      ("hello%world", "helloworld", true),
      ("%", "anything", true), ("%", "", true), ("%%", "abc", true),
      ("hello%", "world", false),
      ("_", "a", true), ("_", "", false), ("_", "ab", false),
      ("a_c", "abc", true), ("a_c", "ac", false),
      ("___", "abc", true), ("___", "ab", false),
      ("hello%world", "hello beautiful world", true),
      ("hello%world", "greetings world", false),
      ("hello%world", "hello earth", false),
      ("hello%world", "helloworl", false),
      ("f%b_r", "foobar", true),
      ("%needle%", "needle", true), ("%needle%", "find needle here", true),
      ("%needle%", "no match here", false),
      ("hello", "Hello", false)) // case sensitive
    cases.foreach { case (pat, in, want) =>
      val p = pat.replace("\\", "\\\\").replace("\"", "\\\"")
      assert(evalBool(s"""like(body, "$p")""", Seq(in)) == Seq(want),
        s"like($in, $pat) should be $want")
    }
    // escape rows: \% literal percent, \_ literal underscore, \\ literal
    // backslash, \x -> x
    assert(evalBool("like(body, \"100\\\\%\")", Seq("100%", "100x")) == Seq(true, false))
    assert(evalBool("like(body, \"a\\\\_b\")", Seq("a_b", "axb")) == Seq(true, false))
    assert(evalBool("like(body, \"a\\\\\\\\b\")", Seq("a\\b", "axb")) == Seq(true, false))
    assert(evalBool("like(body, \"a\\\\xb\")", Seq("axb", "ayb")) == Seq(true, false))
  }

  test("like: every tier of the reference's pattern classification") {
    val bodies = Seq("error", "error at line 3", "an error", "prefix mid suffix", "other")
    // exact
    assert(evalBool("like(body, \"error\")", bodies) ==
      Seq(true, false, false, false, false))
    // prefix
    assert(evalBool("like(body, \"error%\")", bodies) ==
      Seq(true, true, false, false, false))
    // suffix
    assert(evalBool("like(body, \"%error\")", bodies) ==
      Seq(true, false, true, false, false))
    // contains
    assert(evalBool("like(body, \"%error%\")", bodies) ==
      Seq(true, true, true, false, false))
    // prefix+suffix
    assert(evalBool("like(body, \"prefix%suffix\")", bodies) ==
      Seq(false, false, false, true, false))
    // '_' wildcard -> regexp tier ("err_r" matches "error": _ is one char)
    assert(evalBool("like(body, \"err_r\")", bodies) ==
      Seq(true, false, false, false, false))
    assert(evalBool("like(body, \"_rror\")", bodies) ==
      Seq(true, false, false, false, false))
  }

  test("like escapes: \\% and \\_ are literals, \\x is x") {
    assert(evalBool("like(body, \"100\\\\%\")", Seq("100%", "1000")) == Seq(true, false))
    assert(evalBool("like(body, \"a\\\\_b\")", Seq("a_b", "axb")) == Seq(true, false))
    // \x -> literal x (reference: any escaped char is that char)
    assert(evalBool("like(body, \"\\\\xyz\")", Seq("xyz", "ayz")) == Seq(true, false))
  }

  test("ilike: the reference's own expr_test.go table rows (helper/expr_test.go:127-147)") {
    val cases = Seq(
      ("hello", "hello", true), ("hello", "HELLO", true), ("HELLO", "hello", true),
      ("hElLO", "HeLLo", true),
      ("hello%", "Hello World", true), ("H_llo", "Hello", true), ("h_llo", "HELLO", true),
      ("HELLO%WORLD", "hello beautiful world", true),
      ("HELLO%WORLD", "helloworld", true),
      ("HELLO%WORLD", "greetings world", false),
      ("WORLD", "hello", false))
    cases.foreach { case (pat, in, want) =>
      assert(evalBool(s"""ilike(body, "$pat")""", Seq(in)) == Seq(want),
        s"ilike($in, $pat) should be $want")
    }
    assert(evalBool("ilike(body, \"50\\\\%off\")", Seq("50%OFF")) == Seq(true))
    assert(evalBool("ilike(body, \"a\\\\_b\")", Seq("A_B")) == Seq(true))
  }

  test("ilike: case-insensitive across tiers") {
    val bodies = Seq("ERROR at foo", "no match")
    assert(evalBool("ilike(body, \"error%\")", bodies) == Seq(true, false))
    assert(evalBool("ilike(body, \"%AT FOO\")", bodies) == Seq(true, false))
    assert(evalBool("ilike(body, \"%aT f%\")", bodies) == Seq(true, false))
    assert(evalBool("ilike(body, \"err_r%\")", bodies) == Seq(true, false))
  }

  test("matches literal tiering: literal-only patterns skip regex, semantics intact") {
    import graft.operators.ExprLang.literalizeRegex
    assert(literalizeRegex("\\t") == Some((false, false, "\t")))
    assert(literalizeRegex("^status: ") == Some((true, false, "status: ")))
    assert(literalizeRegex("done$") == Some((false, true, "done")))
    assert(literalizeRegex("^exact$") == Some((true, true, "exact")))
    assert(literalizeRegex("a\\.b") == Some((false, false, "a.b")))
    assert(literalizeRegex("price\\$$") == Some((false, true, "price$")))
    assert(literalizeRegex("^\\s*\\{").isEmpty) // \s is real regex
    assert(literalizeRegex("a|b").isEmpty)
    assert(literalizeRegex("x[yz]").isEmpty)
    assert(literalizeRegex("a.*").isEmpty)
    // end-to-end: the same route predicates still route identically
    val df = graft.model.LogFrames.fromBodies(spark,
      Seq("a\tb", "status: 200", "no match here", "has status: inside"))
    def n(e: String): Long =
      df.filter(graft.operators.ExprLang.boolExpr(e)).count()
    assert(n("body matches \"\\t\"") == 1)
    assert(n("body matches \"^status: \"") == 1)
    assert(n("body matches \"status: \"") == 2)
    assert(n("body matches \"here$\"") == 1)
  }

  test("trailing $ is RE2 end-of-text in EVERY tier (no pre-newline match)") {
    // Go RE2 '$' (the reference's regex engine) matches END OF TEXT only;
    // Java '$' also matches before a final '\n'. The scan() rewrite to \z
    // makes the rlike fallback agree with both Go and the literal fast path
    // — "here$" must NOT match "here\n" anywhere.
    import graft.functions.RegexNamedGroups
    assert(RegexNamedGroups.scan("here$").javaPattern == "here\\z")
    assert(RegexNamedGroups.scan("price\\$$").javaPattern == "price\\$\\z")
    assert(RegexNamedGroups.scan("a$b").javaPattern == "a$b") // mid-pattern kept
    val bodies = Seq("stop here", "stop here\n")
    // literal tier (endsWith) and forced-regex tier ((?:...) blocks
    // literalization) must agree
    assert(evalBool("body matches \"here$\"", bodies) == Seq(true, false))
    assert(evalBool("body matches \"(?:here)$\"", bodies) == Seq(true, false))
    // and the newline-delimiter split path agrees with its compiled regex
    import graft.functions.NamedGroupMatcher
    import org.apache.spark.unsafe.types.UTF8String
    val nl = new NamedGroupMatcher("^(?P<a>[^\\n]*)\\n(?P<b>[^\\n]*)$")
    assert(nl.extract(UTF8String.fromString("a\nb")) != null)
    assert(nl.extract(UTF8String.fromString("a\nb\n")) == null) // 3 parts: no match
    val plain = java.util.regex.Pattern.compile(
      RegexNamedGroups.scan("^(?P<a>[^\\n]*)\\n(?P<b>[^\\n]*)$").javaPattern)
    assert(!plain.matcher("a\nb\n").find()) // regex tier agrees post-\z
  }

  test("HexToInt accepts leading zeros up to value overflow (Go ParseInt parity)") {
    val df = graft.model.LogFrames.fromBodies(spark, Seq("x"))
    def hx(s: String): Option[Double] = {
      val r = df.select(graft.operators.ExprLang
        .stringExpr(s"""HexToInt("$s")""").cast("double")).collect().head
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    assert(hx("0xff") == Some(255.0))
    assert(hx("00ff") == Some(255.0))
    assert(hx("0x00000000000000000001") == Some(1.0))
    assert(hx("0") == Some(0.0))
    assert(hx("000") == Some(0.0))
    assert(hx("7fffffffffffffff") == Some(9.223372036854776e18))
    assert(hx("007fffffffffffffff") == Some(9.223372036854776e18))
    assert(hx("8000000000000000") == None) // actual overflow still rejects
    assert(hx("ffffffffffffffff") == None)
    assert(hx("zz") == None)
  }

  test("delimiter-split fast path equals the regex semantics") {
    import graft.functions.{NamedGroupMatcher, RegexNamedGroups}
    import org.apache.spark.unsafe.types.UTF8String
    assert(RegexNamedGroups.splitDelim(SparkEntry.hotrodRegexFast) == '\t'.toInt)
    assert(RegexNamedGroups.splitDelim(SparkEntry.hotrodRegex) == -1) // (.*) form
    assert(RegexNamedGroups.splitDelim("^a=(?P<a>.+);b=(?P<b>.+)$") == -1)
    assert(RegexNamedGroups.splitDelim( // mixed delimiters -> no fast path
      "^(?P<a>[^,]*),(?P<b>[^;]*);(?P<c>[^,]*)$") == -1)
    assert(RegexNamedGroups.splitDelim("^(?P<a>[^,]*),(?P<b>[^,]*)$") == ','.toInt)

    val m = new NamedGroupMatcher(SparkEntry.hotrodRegexFast)
    def ex(s: String): Option[Map[String, String]] =
      Option(m.extract(UTF8String.fromString(s))).map { md =>
        (0 until md.numElements()).map(i =>
          md.keyArray().getUTF8String(i).toString ->
            md.valueArray().getUTF8String(i).toString).toMap
      }
    val got = ex("2024-01-01T00:00:00Z\tINFO\tsvc/a.go:1\tmsg here\t{\"k\":1}").get
    assert(got == Map("ts" -> "2024-01-01T00:00:00Z", "log_level" -> "INFO",
      "location" -> "svc/a.go:1", "msg" -> "msg here", "data_json" -> "{\"k\":1}"))
    // empty fields keep positions; unicode survives byte slicing
    assert(ex("\t\t\t\t").get == Map("ts" -> "", "log_level" -> "",
      "location" -> "", "msg" -> "", "data_json" -> ""))
    assert(ex("ü\tβ\t語\t🙂\tend").get("msg") == "🙂")
    // wrong arity = regex no-match = null
    assert(ex("only\tthree\tparts").isEmpty)
    assert(ex("a\tb\tc\td\te\tf").isEmpty)
    assert(ex("no tabs at all").isEmpty)
  }

  test("env(): resolved at plan build; unset -> empty string like os.Getenv") {
    // PATH is always set in this environment
    val path = sys.env("PATH")
    assert(evalBool(s"""env("PATH") == "${path.replace("\\", "\\\\")}"""", Seq("x")) == Seq(true))
    assert(evalBool("""env("GRAFT_DEFINITELY_UNSET_VAR_42") == """"", Seq("x")) == Seq(true))
  }

  test("nil comparison: != on a missing field is TRUE (expr-lang semantics)") {
    val rows = Seq(Map("x" -> "y"), Map.empty[String, String])
    // explicit nil form (presence test)
    assert(evalAttr("attributes.x != nil", rows) == Seq(true, false))
    // value comparison with the field MISSING: expr-lang nil != "z" is true;
    // a non-null-safe translation would yield NULL -> false
    assert(evalAttr("attributes.x != \"z\"", rows) == Seq(true, true))
    assert(evalAttr("attributes.x == \"y\"", rows) == Seq(true, false))
    // negated equality under null: !(nil == "y") must be true, not NULL
    assert(evalAttr("!(attributes.x == \"y\")", rows) == Seq(false, true))
  }

  test("string escapes: unknown escape sequences keep the backslash") {
    // a config writing matches "\d+" (single-escaped) must reach the regex
    // engine as \d+, not d+
    assert(evalBool("body matches \"^\\d+$\"", Seq("123", "abc")) == Seq(true, false))
    assert(evalBool("body matches \"a\\sb\"", Seq("a b", "ab")) == Seq(true, false))
    // known escapes still translate
    assert(evalBool("body == \"a\\tb\"", Seq("a\tb", "ab")) == Seq(true, false))
  }

  test("nested attribute addressing reads through serialized JSON values") {
    // a non-flattened json_parser stores {"a": {"b": "deep"}} as
    // attributes.a = "{\"b\":\"deep\"}"; attributes.a.b must resolve
    val df = LogFrames.withDefaults(
      Seq(("c0", 0, Map("a" -> """{"b":"deep"}""")))
        .toDF("conv_id", "turn_idx", "attributes_string"))
    val got = df.select(
      graft.operators.FieldCols.readString(FieldRef.parse("attributes.a.b")).as("v"),
      graft.operators.FieldCols.exists(FieldRef.parse("attributes.a.b")).as("e"),
      graft.operators.FieldCols.exists(FieldRef.parse("attributes.a.zz")).as("m"))
      .collect().head
    assert(got.getString(0) == "deep" && got.getBoolean(1) && !got.getBoolean(2))
  }

  test("DAG: output pointing at an EARLIER operator still executes it") {
    // config order: entry -> late -> early(sink); `late` outputs to `early`,
    // which appears BEFORE it in config. Compiling in config order would
    // silently no-op `early`; the toposort runs it after `late`.
    val spec = PipelineSpec(Seq(
      AddOp(Common("entry", output = Seq("late")), FieldRef.Attr(Seq("a")), "1"),
      AddOp(Common("early", output = Seq("sink")), FieldRef.Attr(Seq("b")), "2"),
      AddOp(Common("late", output = Seq("early")), FieldRef.Attr(Seq("c")), "3"),
      NoopOp(Common("sink"))
    ))
    val out = Pipeline.compile(spec)(LogFrames.fromBodies(spark, Seq("x")))
    val m = attrs(out).head._1
    assert(m == Map("a" -> "1", "b" -> "2", "c" -> "3"))
  }

  test("DAG: cycles are rejected loudly") {
    val spec = PipelineSpec(Seq(
      AddOp(Common("a", output = Seq("b")), FieldRef.Attr(Seq("a")), "1"),
      AddOp(Common("b", output = Seq("a")), FieldRef.Attr(Seq("b")), "2")
    ))
    val e = intercept[IllegalArgumentException] {
      Pipeline.compile(spec)(LogFrames.fromBodies(spark, Seq("x")))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("strptime: %z accepts +0000 and Z (Go Z0700), %j is the -07:00 zone") {
    val df = Seq("2024-03-01T10:00:00+0000", "2024-03-01T10:00:00Z", "2024-03-01T10:00:00+00:00")
      .toDF("s")
    val parsed = df.select(graft.functions.TimeFormats
      .parseToNanos(col("s"), "strptime", "%Y-%m-%dT%H:%M:%S%z").as("ns"))
      .collect().map(r => Option(r.get(0)))
    assert(parsed(0).contains(1709287200000000000L))
    assert(parsed(1).contains(1709287200000000000L))
    assert(parsed(2).isEmpty) // colon form is NOT Z0700 — must fail like Go
    val j = Seq("2024-03-01T10:00:00+05:30").toDF("s")
      .select(graft.functions.TimeFormats
        .parseToNanos(col("s"), "strptime", "%Y-%m-%dT%H:%M:%S%j").as("ns"))
      .collect().head.getLong(0)
    assert(j == 1709287200000000000L - 5L * 3600 * 1000000000L - 30L * 60 * 1000000000L)
  }

  test("time_parser location: zone-less layouts parse in the given zone") {
    val df = Seq("2024-03-01 10:00:00").toDF("s")
    def at(loc: Option[String]): Long = df.select(graft.functions.TimeFormats
      .parseToNanos(col("s"), "strptime", "%Y-%m-%d %H:%M:%S", location = loc).as("ns"))
      .collect().head.getLong(0)
    val utc = at(None)
    val kolkata = at(Some("Asia/Kolkata")) // UTC+5:30, no DST
    assert(utc - kolkata == 5L * 3600 * 1000000000L + 30L * 60 * 1000000000L)
    // layouts WITH a zone ignore location
    val withZone = Seq("2024-03-01T10:00:00Z").toDF("s")
      .select(graft.functions.TimeFormats
        .parseToNanos(col("s"), "strptime", "%Y-%m-%dT%H:%M:%S%z",
          location = Some("Asia/Kolkata")).as("ns"))
      .collect().head.getLong(0)
    assert(withZone == 1709287200000000000L)
  }
}
