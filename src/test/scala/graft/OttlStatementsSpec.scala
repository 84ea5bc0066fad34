package graft

import org.apache.spark.sql.functions._

import graft.model.{LogFrames, LogSchema}
import graft.operators.OttlStatements

/** The signoztransformprocessor OTTL statement surface
  * (set/delete_key/keep_keys/replace_pattern + `where`, log and resource
  * contexts), exercised with the reference's own example statements
  * (`processor/signoztransformprocessor/testdata/config.yaml:18-25`
  * log_statements).
  */
class OttlStatementsSpec extends SparkSuite {
  import spark.implicits._

  private def frame = LogFrames.withDefaults(Seq(
    ("c1", 0, "request one"),
    ("c1", 1, "request two")
  ).toDF("conv_id", "turn_idx", "body"))
    .withColumn("attributes_string",
      when($"turn_idx" === 0,
        map(lit("http.path"), lit("/animal"), lit("http.method"), lit("GET"),
          lit("extra"), lit("x")))
        .otherwise(map(lit("http.path"), lit("/other"),
          lit("http.method"), lit("POST"))))
    .withColumn("attributes_number", map(lit("latency"), lit(1.5)))

  test("reference config.yaml log_statements port end-to-end") {
    // the reference's own example block (testdata/config.yaml:18-25)
    val cfg = """{"log_statements": [
      {"context": "log", "statements": [
        "set(body, \"bear\") where attributes[\"http.path\"] == \"/animal\"",
        "keep_keys(attributes, [\"http.method\", \"http.path\"])"
      ]},
      {"context": "resource", "statements": [
        "set(attributes[\"name\"], \"bear\")"
      ]}
    ]}"""
    val out = OttlStatements.applyAll(frame, OttlStatements.fromJson(cfg))
      .orderBy("turn_idx")
      .select("body", "attributes_string", "attributes_number", "resources_string")
      .collect()
    // row 0 matched the where -> body replaced; row 1 untouched
    assert(out(0).getString(0) == "bear")
    assert(out(1).getString(0) == "request two")
    // keep_keys pruned `extra` AND the number map (latency not in the list)
    assert(out(0).getMap[String, String](1).toMap ==
      Map("http.path" -> "/animal", "http.method" -> "GET"))
    assert(out(0).getMap[String, Double](2).toMap == Map.empty)
    // resource-context set targets the resource map
    assert(out(0).getMap[String, String](3).toMap == Map("name" -> "bear"))
  }

  test("delete_key and typed set") {
    val stmts = Seq("log" -> Seq(
      """delete_key(attributes, "extra")""",
      """set(attributes["score"], 7)""",
      """set(attributes["ok"], true)"""))
    val out = OttlStatements.applyAll(frame, stmts).orderBy("turn_idx")
    val (s, n, b) = attrs(out).head
    assert(!s.contains("extra"))
    assert(n("score") == 7.0 && n("latency") == 1.5)
    assert(b("ok"))
  }

  test("replace_pattern with group references; unset targets untouched") {
    val df = LogFrames.withDefaults(Seq(
      ("c1", 0, "error code 404 here"),
      ("c2", 1, null.asInstanceOf[String])
    ).toDF("conv_id", "turn_idx", "body"))
    val out = OttlStatements.applyAll(df, Seq("log" -> Seq(
      """replace_pattern(body, "code (\\d+)", "code=[$1]")""")))
      .orderBy("turn_idx").select("body").as[String].collect()
    assert(out(0) == "error code=[404] here")
    assert(out(1) == null) // nil target -> no-op
  }

  test("set from a path value copies; nil source is a no-op") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["copied"], body)""",
      """set(attributes["missing_copy"], attributes["nope"])""")))
      .orderBy("turn_idx")
    val (s, _, _) = attrs(out).head
    assert(s("copied") == "request one")
    assert(!s.contains("missing_copy"))
  }

  test("where in resource context rewrites attribute paths to the resource map") {
    val df = frame.withColumn("resources_string",
      when($"turn_idx" === 0, map(lit("name"), lit("bear")))
        .otherwise(map().cast(LogSchema.mapSS)))
    val out = OttlStatements.applyAll(df, Seq("resource" -> Seq(
      """set(attributes["tagged"], "yes") where attributes["name"] == "bear"""")))
      .orderBy("turn_idx").select("resources_string").collect()
    assert(out(0).getMap[String, String](0).toMap ==
      Map("name" -> "bear", "tagged" -> "yes"))
    assert(!out(1).getMap[String, String](0).toMap.contains("tagged"))
  }

  // ---- upstream standard-library editors (ottlfuncs.StandardFuncs, the
  // full set the processor registers — internal/logs/functions.go:28) ----

  test("delete_matching_keys / keep_matching_keys: unanchored key regex " +
      "across the typed maps") {
    val del = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """delete_matching_keys(attributes, "^http")"""))).orderBy("turn_idx")
    val (s, n, _) = attrs(del).head
    assert(s.keySet == Set("extra"))
    assert(n.keySet == Set("latency")) // regex didn't match the number key
    val keep = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """keep_matching_keys(attributes, "^http")"""))).orderBy("turn_idx")
    val (s2, n2, _) = attrs(keep).head
    assert(s2.keySet == Set("http.path", "http.method"))
    assert(n2.isEmpty)
  }

  test("truncate_all cuts string values only; limit enforces a joint budget " +
      "with priority keys") {
    val t = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """truncate_all(attributes, 3)"""))).orderBy("turn_idx")
    val (s, n, _) = attrs(t).head
    assert(s("http.path") == "/an" && s("http.method") == "GET" && s("extra") == "x")
    assert(n("latency") == 1.5) // numbers pass through

    // row 0 has 4 attrs across the maps (3 strings + 1 number); keep 2 with
    // `latency` protected -> latency + the first string in stored order
    val l = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """limit(attributes, 2, ["latency"])"""))).orderBy("turn_idx")
    val (ls, ln, lb) = attrs(l).head
    assert(ln.keySet == Set("latency"))
    assert(ls.size + ln.size + lb.size == 2)
    // a generous budget is a no-op
    val noop = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """limit(attributes, 10, [])"""))).orderBy("turn_idx")
    val (ns, nn, _) = attrs(noop).head
    assert(ns.size == 3 && nn.size == 1)
  }

  test("replace_all_patterns: value mode rewrites string values with group " +
      "refs, key mode renames keys everywhere") {
    val v = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """replace_all_patterns(attributes, "value", "^/(\\w+)$", "path:$1")""")))
      .orderBy("turn_idx")
    val (vs, _, _) = attrs(v).head
    assert(vs("http.path") == "path:animal" && vs("http.method") == "GET")

    val k = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """replace_all_patterns(attributes, "key", "^http\\.", "h_")""")))
      .orderBy("turn_idx")
    val (ks, kn, _) = attrs(k).head
    assert(ks.keySet == Set("h_path", "h_method", "extra"))
    assert(kn.keySet == Set("latency"))
  }

  test("replace_match / replace_all_matches: whole-value glob semantics") {
    val m = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """replace_match(attributes["http.path"], "/anim*", "/masked")""",
      """replace_match(attributes["http.method"], "/anim*", "/nope")""")))
      .orderBy("turn_idx")
    val (ms, _, _) = attrs(m).head
    assert(ms("http.path") == "/masked")
    assert(ms("http.method") == "GET") // glob did not match -> untouched

    val all = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """replace_all_matches(attributes, "/anim*", "/masked")""")))
      .orderBy("turn_idx")
    val (as2, _, _) = attrs(all).head
    assert(as2("http.path") == "/masked" && as2("extra") == "x")
  }

  test("converter calls in set value position: Concat/Int/Double/Len/" +
      "Substring/ConvertCase/SHA256/IsMatch") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["joined"], Concat([attributes["http.method"], attributes["http.path"]], "-"))""",
      """set(attributes["n"], Int("42"))""",
      """set(attributes["d"], Double("2.5"))""",
      """set(attributes["len"], Len(body))""",
      """set(attributes["sub"], Substring(attributes["http.path"], 1, 4))""",
      """set(attributes["up"], ConvertCase(attributes["http.method"], "lower"))""",
      """set(attributes["is"], IsMatch(attributes["http.path"], "^/an"))""",
      """set(attributes["sha"], SHA256("a"))"""))).orderBy("turn_idx")
    val (s, n, b) = attrs(out).head
    assert(s("joined") == "GET-/animal")
    assert(n("n") == 42.0 && n("d") == 2.5)
    assert(n("len") == "request one".length.toDouble)
    assert(s("sub") == "anim")
    assert(s("up") == "get")
    assert(b("is"))
    // sha256("a"), the well-known public vector
    assert(s("sha") ==
      "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72b9807785afee48bb")
    // unknown converters fail at compile
    intercept[IllegalArgumentException] {
      OttlStatements.applyAll(frame, Seq("log" -> Seq(
        """set(attributes["x"], Reverse(body))""")))
    }
  }

  test("number values print as Go text in Concat, Format %v and String") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["joined"], Concat(["a", 3], "-"))""",
      """set(attributes["fmt"], Format("%v|%v|%v", [3, 0.00001, 12345678.5]))""",
      """set(attributes["str"], String(0.00001))""",
      """set(attributes["int"], String(Int("42")))"""))).orderBy("turn_idx")
    val (s, _, _) = attrs(out).head
    assert(s("joined") == "a-3")
    assert(s("fmt") == "3|1e-05|1.23456785e+07") // fmt %v
    assert(s("str") == "0.00001") // StringLikeGetter: json.Marshal's layout
    assert(s("int") == "42")
  }

  test("int64 converter results print their exact digits past 2^53") {
    // FNV-1a 64 of "a" is -5808556873153909620; as a float64 it would print
    // -5808556873153909760
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["fnv"], String(FNV("a")))""",
      """set(attributes["nano"], Concat([UnixNano(Unix(1700000000, 123456789))], ""))""",
      """set(attributes["sha"], SHA256(FNV("a")))""",
      """set(attributes["fmt"], Format("%v", [FNV("a")]))""",
      """set(resource.attributes["h"], FNV("a"))""",
      """set(resource.attributes["t"], UnixNano(Unix(1700000000, 123456789)))""",
      """set(resource.attributes["u"], Unix(1700000000, 123456789))"""))).orderBy("turn_idx")
    val (s, _, _) = attrs(out).head
    assert(s("fnv") == "-5808556873153909620")
    assert(s("nano") == "1700000000123456789")
    assert(s("sha") == "b467914d9d627bb138ed8b0a5d204e158aaa5fbf73ba890eac6a160f1d38f560")
    assert(s("fmt") == "-5808556873153909620")
    val res = out.select("resources_string").head().getMap[String, String](0)
    assert(res("h") == "-5808556873153909620")
    assert(res("t") == "1700000000123456789")
    assert(res("u") == "1700000000123456789")
  }

  // ---- widened standard-library converter set (round 5) --------------------

  test("string converters: Trim/Split/Format/String/Hex/ConvertCase snake+camel") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["trimmed"], Trim("  pad  "))""",
      """set(attributes["cut"], Trim("xxvaluexx", "x"))""",
      """set(attributes["parts"], Split("a,b,c", ","))""",
      """set(attributes["fmt"], Format("%s=%d (%.1f) ok=%t", [attributes["http.method"], 7, 2.26, true]))""",
      """set(attributes["str"], String(attributes["latency"]))""",
      """set(attributes["hexed"], Hex("AB"))""",
      """set(attributes["snake"], ConvertCase("fooBarBaz", "snake"))""",
      """set(attributes["snake2"], ConvertCase("HTTPServer responded", "snake"))""",
      """set(attributes["camel"], ConvertCase("foo_bar_baz", "camel"))"""
    ))).orderBy("turn_idx")
    val (s, _, _) = attrs(out).head
    assert(s("trimmed") == "pad")
    assert(s("cut") == "value")
    assert(s("parts") == """["a","b","c"]""") // slices render as JSON arrays
    assert(s("fmt") == "GET=7 (2.3) ok=true")
    assert(s("str") == "1.5")
    assert(s("hexed") == "4142") // hex.EncodeToString (lowercase)
    assert(s("snake") == "foo_bar_baz")
    assert(s("snake2") == "http_server_responded")
    assert(s("camel") == "FooBarBaz")
  }

  test("hash converters: SHA1/MD5/SHA512 public vectors; FNV-1a 64") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["s1"], SHA1("a"))""",
      """set(attributes["m5"], MD5("a"))""",
      """set(attributes["s512"], SHA512("a"))""",
      """set(attributes["fnv"], FNV("a"))"""))).orderBy("turn_idx")
    val (s, n, _) = attrs(out).head
    assert(s("s1") == "86f7e437faa5a7fce15d1ddcb9eaeaea377667b8")
    assert(s("m5") == "0cc175b9c0f1b6a831c399e269772661")
    assert(s("s512") ==
      "1f40fc92da241694750979ee6cf582f2d5d7d28e18335de05abc54d0560e0f53" +
      "02860c652bf08d560252aa5e74210546f369fbbbce8c12cfc7957b2652fe9a75")
    assert(n("fnv") == graft.functions.FnvBytesKernel
      .hash("a".getBytes("UTF-8"), 0xcbf29ce484222325L).toDouble)
  }

  test("time converters: Time/Unix*/TruncateTime/FormatTime/extractors, " +
      "exact long-nano writes to the time fields") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(time_unix_nano, Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S"))""",
      """set(attributes["ms"], UnixMilli(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(attributes["sec"], UnixSeconds(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(attributes["hr"], Hour(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(attributes["day"], Day(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(attributes["mon"], Month(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(attributes["yr"], Year(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S")))""",
      """set(observed_time_unix_nano, TruncateTime(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S"), "1h"))""",
      """set(attributes["rendered"], FormatTime(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S"), "2006-01-02T15:04:05"))"""
    ))).orderBy("turn_idx")
    // 2024-03-05T10:30:45Z = 1709634645 epoch seconds
    val expectNs = 1709634645L * 1000000000L
    val row = out.select("timestamp", "observed_timestamp").collect().head
    assert(row.getLong(0) == expectNs)
    assert(row.getLong(1) == 1709632800L * 1000000000L) // truncated to 10:00
    val (s, n, _) = attrs(out).head
    assert(n("ms") == 1709634645000.0)
    assert(n("sec") == 1709634645.0)
    assert(n("hr") == 10.0 && n("day") == 5.0 && n("mon") == 3.0 && n("yr") == 2024.0)
    assert(s("rendered") == "2024-03-05T10:30:45")
  }

  test("TruncateTime matches Go's zero-time-anchored rounding for a " +
      "non-hour-dividing duration") {
    // Go: time.Unix(1709634645, 0).Truncate(7 * time.Minute) — the year-1
    // anchor shifts the result vs naive epoch modulo. Replicate the Go math
    // in-test: r = (epochOffsetNs + t) mod d computed via BigInt.
    val t = 1709634645L * 1000000000L
    val d = 7L * 60L * 1000000000L
    val off = BigInt(62135596800L) * BigInt(1000000000L)
    val expect = t - (((off + BigInt(t)) mod BigInt(d)).toLong)
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(time_unix_nano, TruncateTime(Time("2024-03-05 10:30:45", "%Y-%m-%d %H:%M:%S"), "7m"))"""
    ))).select("timestamp").collect().head.getLong(0)
    assert(out == expect)
    // and it differs from the naive epoch-anchored truncation
    assert(expect != t - (t % d))
  }

  test("Duration parsing: composite/fractional/negative literals and " +
      "duration extractors") {
    val out = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["d1"], Duration("1h30m"))""",
      """set(attributes["d2"], Duration("-2.5s"))""",
      """set(attributes["d3"], Duration("300ms"))""",
      """set(attributes["hrs"], Hours(Duration("90m")))""",
      """set(attributes["mins"], Minutes(Duration("90s")))""",
      """set(attributes["secs"], Seconds(Duration("1500ms")))""",
      """set(attributes["ms"], Milliseconds(Duration("2s")))""",
      """set(attributes["us"], Microseconds(Duration("3ms")))""",
      """set(attributes["ns"], Nanoseconds(Duration("1us")))"""
    ))).orderBy("turn_idx")
    val (_, n, _) = attrs(out).head
    assert(n("d1") == 5400000000000.0)
    assert(n("d2") == -2500000000.0)
    assert(n("d3") == 300000000.0)
    assert(n("hrs") == 1.5 && n("mins") == 1.5 && n("secs") == 1.5)
    assert(n("ms") == 2000.0 && n("us") == 3000.0 && n("ns") == 1000.0)
    // malformed literal fails at compile (the reference errors at parse)
    intercept[IllegalArgumentException] {
      OttlStatements.applyAll(frame, Seq("log" -> Seq(
        """set(attributes["x"], Duration("1parsec"))""")))
    }
    // malformed duration from a PATH is a row-level no-op (nil gate)
    val rowLevel = OttlStatements.applyAll(frame, Seq("log" -> Seq(
      """set(attributes["from_path"], Duration(attributes["http.method"]))""")))
    val (s2, n2, _) = attrs(rowLevel).head
    assert(!s2.contains("from_path") && !n2.contains("from_path"))
  }

  test("type predicates: IsString/IsDouble/IsBool/IsInt/IsMap/IsList over " +
      "typed attr maps and serialized structures") {
    val df = frame
      .withColumn("attributes_bool", map(lit("flag"), lit(true)))
      .withColumn("body", lit("""{"a": 1}"""))
    val out = OttlStatements.applyAll(df, Seq("log" -> Seq(
      """set(attributes["p_str"], IsString(attributes["http.path"]))""",
      """set(attributes["p_dbl"], IsDouble(attributes["latency"]))""",
      """set(attributes["p_int"], IsInt(attributes["latency"]))""",
      """set(attributes["p_bool"], IsBool(attributes["flag"]))""",
      """set(attributes["p_map"], IsMap(body))""",
      """set(attributes["p_list"], IsList(body))""",
      """set(attributes["p_list2"], IsList(Split("a,b", ",")))"""
    ))).orderBy("turn_idx")
    val (_, _, b) = attrs(out).head
    assert(b("p_str") && b("p_dbl") && b("p_bool") && b("p_map"))
    assert(!b("p_int")) // engine numbers are float64 (JSON-round-trip parity)
    assert(!b("p_list") && b("p_list2"))
  }

  test("merge_maps + ParseJSON: upsert/insert/update strategies with typed " +
      "values and cross-map type moves") {
    val df = frame.withColumn("body",
      lit("""{"http.path": "/new", "latency": "fast", "added": 9, "fresh": true}"""))
    def run(strategy: String) = attrs(OttlStatements.applyAll(df, Seq("log" -> Seq(
      s"""merge_maps(attributes, ParseJSON(body), "$strategy")"""))).orderBy("turn_idx")).head

    val (us, un, ub) = run("upsert")
    assert(us("http.path") == "/new") // existing key overwritten
    assert(us("latency") == "fast" && !un.contains("latency")) // number -> string move
    assert(un("added") == 9.0 && ub("fresh")) // new keys inserted
    assert(us("extra") == "x") // untouched target key survives

    val (is, in, ib) = run("insert")
    assert(is("http.path") == "/animal") // existing key NOT overwritten
    assert(in("latency") == 1.5 && !is.contains("latency"))
    assert(in("added") == 9.0 && ib("fresh")) // new keys still inserted

    val (ps, pn, pb) = run("update")
    assert(ps("http.path") == "/new") // existing key updated
    assert(ps("latency") == "fast" && !pn.contains("latency"))
    assert(!pn.contains("added") && !pb.contains("fresh")) // new keys skipped
  }

  test("merge_maps + ParseKeyValue/ExtractPatterns/ExtractGrokPatterns; " +
      "resource target force-stringifies") {
    val df = frame.withColumn("body", lit("""k1=v1 k2="quoted v" k3=v3"""))
    val out = OttlStatements.applyAll(df, Seq("log" -> Seq(
      """merge_maps(attributes, ParseKeyValue(body), "upsert")""")))
    val (s, _, _) = attrs(out).head
    assert(s("k1") == "v1" && s("k2") == "quoted v" && s("k3") == "v3")

    val rx = OttlStatements.applyAll(df, Seq("log" -> Seq(
      """merge_maps(attributes, ExtractPatterns(body, "k1=(?P<first>\\w+)"), "upsert")""")))
    assert(attrs(rx).head._1("first") == "v1")

    val grok = OttlStatements.applyAll(
      frame.withColumn("body", lit("GET /index.html 200")),
      Seq("log" -> Seq(
        """merge_maps(attributes, ExtractGrokPatterns(body, "%{WORD:verb} %{URIPATH:path} %{INT:code}"), "upsert")""")))
    val (gs, _, _) = attrs(grok).head
    assert(gs("verb") == "GET" && gs("path") == "/index.html" && gs("code") == "200")

    // resource-target merge force-stringifies typed values (engine policy)
    val res = OttlStatements.applyAll(
      frame.withColumn("body", lit("""{"svc": "api", "n": 3}""")),
      Seq("log" -> Seq(
        """merge_maps(resource.attributes, ParseJSON(body), "upsert")""")))
      .select("resources_string").collect().head.getMap[String, String](0)
    assert(res.toMap == Map("svc" -> "api", "n" -> "3"))
  }

  test("Keys/Values render sorted JSON arrays across the typed maps") {
    val df = frame.withColumn("attributes_bool", map(lit("zflag"), lit(true)))
    val out = OttlStatements.applyAll(df, Seq("log" -> Seq(
      """set(attributes["keys"], Keys(attributes))""")))
    val (s, _, _) = attrs(out).head
    assert(s("keys") == """["extra","http.method","http.path","latency","zflag"]""")
  }

  test("map-valued converters are rejected in set position with a pointer " +
      "to merge_maps") {
    val e = intercept[IllegalArgumentException] {
      OttlStatements.applyAll(frame, Seq("log" -> Seq(
        """set(attributes["x"], ParseJSON(body))""")))
    }
    assert(e.getMessage.contains("merge_maps"))
  }
}
