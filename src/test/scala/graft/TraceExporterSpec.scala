package graft

import org.apache.spark.sql.functions._

import graft.model.SpanFrames
import graft.pipeline.{Exporter, TraceExporter}

/** Traces exporter slice, golden-tested against the reference's own test
  * fixtures (`exporter/clickhousetracesexporter/clickhouse_exporter_v3_test.go`).
  */
class TraceExporterSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1672531200L * 1000000000L // 2023-01-01T00:00:00Z ns

  private def spanFrame(rows: Seq[(String, String, String, Int, Map[String, String],
      Map[String, String])]) = {
    // (trace_id, span_id, parent, kind, attrs_string, resources)
    SpanFrames.withDefaults(rows.toDF(
      "trace_id", "span_id", "parent_span_id", "kind", "attributes_string",
      "resources_string")
      .withColumn("start_ts", lit(T0))
      .withColumn("end_ts", lit(T0 + 1500000L)))
  }

  test("newStructuredSpanV3 fixture: custom attr promotion + kind/status strings " +
      "(clickhouse_exporter_v3_test.go:340-440)") {
    val df = spanFrame(Seq((
      "", "", "", 2,
      Map("test_key" -> "test_value", "http.url" -> "http://test.com",
        "http.method" -> "GET", "http.host" -> "test.com",
        "db.name" -> "test_db", "db.operation" -> "test_operation",
        "http.status_code" -> "200"),
      Map("service.name" -> "test_service", "num" -> "10",
        "mymap.map_key" -> "map_val", "mymap.map_double" -> "20.5"))))
      .withColumn("name", lit("test_span"))
    val out = TraceExporter.spansV3(df).collect().head

    assert(out.getAs[String]("span_kind") == "Server")
    assert(out.getAs[String]("status_code_string") == "Unset")
    assert(out.getAs[String]("http_url") == "http://test.com")
    assert(out.getAs[String]("http_method") == "GET")
    assert(out.getAs[String]("http_host") == "test.com")
    assert(out.getAs[String]("db_name") == "test_db")
    assert(out.getAs[String]("db_operation") == "test_operation")
    assert(out.getAs[String]("response_status_code") == "200")
    assert(out.getAs[String]("is_remote") == "unknown")
    assert(!out.getAs[Boolean]("has_error"))
    assert(out.getAs[String]("service_name") == "test_service")
    // non-client span: external url/method stay empty
    assert(out.getAs[String]("external_http_url") == "")
    assert(out.getAs[String]("external_http_method") == "")
    // orphan span still gets the unconditional CHILD_OF ref with empty ids
    // omitted (the reference's len([8]byte) guard is always true; their own
    // golden at clickhouse_exporter_v3_test.go:436)
    assert(out.getAs[String]("references") == """[{"refType":"CHILD_OF"}]""")
  }

  test("populateCustomAttrsAndAttrs host/url matrix (v3_test.go:781-840)") {
    val cases = Seq(
      (3, Map("http.host" -> "api.example.com"), "api.example.com", ""),
      (3, Map("net.peer.name" -> "peer.example.com"), "peer.example.com", ""),
      (3, Map("url.full" -> "https://api.example.com:8080/path"),
        "api.example.com", "https://api.example.com:8080/path"),
      (2, Map("url.full" -> "https://api.example.com/path"),
        "", "https://api.example.com/path"),
      (3, Map("url.full" -> "https://url-host.com/path", "http.host" -> "explicit-host.com"),
        "explicit-host.com", "https://url-host.com/path"))
    cases.foreach { case (kind, attrs, expHost, expUrl) =>
      val out = TraceExporter.spansV3(spanFrame(Seq(("t", "s", "", kind, attrs,
        Map.empty[String, String])))).collect().head
      assert(out.getAs[String]("http_host") == expHost, s"host for $attrs")
      assert(out.getAs[String]("http_url") == expUrl, s"url for $attrs")
    }
  }

  test("is_remote flag decode (clickhouse_exporter.go:31-32)") {
    val df = SpanFrames.withDefaults(Seq(
      ("a", 0x000), ("b", 0x100), ("c", 0x300)).toDF("span_id", "flags")
      .withColumn("start_ts", lit(T0)).withColumn("end_ts", lit(T0)))
    val out = TraceExporter.spansV3(df)
      .select("span_id", "is_remote").as[(String, String)].collect().toMap
    assert(out == Map("a" -> "unknown", "b" -> "no", "c" -> "yes"))
  }

  test("error events: exception grouping md5 goldens (v3_test.go:190-320)") {
    val ts2023 = 1672531200L * 1000000000L
    val frame = spanFrame(Seq(("t1", "s1", "", 1, Map.empty[String, String],
      Map.empty[String, String])))
      .withColumn("events", expr(
        s"""array(named_struct('name', 'exception', 'ts_ns', ${ts2023}L, 'attrs',
           |  map('exception.type', 'RuntimeError',
           |      'exception.message', 'Something went wrong',
           |      'exception.stacktrace', 'at line 42\\nat line 43')))""".stripMargin))

    // service name resolves to <nil-service-name>... the reference fixture
    // passes an empty-service SpanV3, so group over "" + type + message
    val withSvc = frame.withColumn("resources_string",
      map(lit("service.name"), lit("")))
    val out = TraceExporter.errorEvents(withSvc).collect().head
    assert(out.getAs[String]("error_group_id") == "092cbbd898be10d4d3d1843203b177cb")
    assert(out.getAs[String]("exception_type") == "RuntimeError")
    assert(out.getAs[String]("exception_message") == "Something went wrong")
    assert(!out.getAs[Boolean]("exception_escaped"))

    // low-cardinality grouping drops the message: md5("" + "RuntimeError")
    val low = TraceExporter.errorEvents(withSvc, lowCardinalGrouping = true).collect().head
    assert(low.getAs[String]("error_group_id") == "a334b8fdd25f8fb3e632228494604ee1")

    // domain-specific exception names are recognized (http.client.request.exception)
    val domain = withSvc.withColumn("events", expr(
      s"""array(named_struct('name', 'http.client.request.exception', 'ts_ns', ${ts2023}L,
         |  'attrs', map('exception.type', 'TimeoutError',
         |               'exception.message', 'request timed out')))""".stripMargin))
    val dOut = TraceExporter.errorEvents(domain).collect().head
    assert(dOut.getAs[String]("error_group_id") == "62de452df58795e9c308a703ccad5a3d")
  }

  test("events JSON: Go marshal shape incl. isError and omitempty") {
    val ts2023 = 1672531200L * 1000000000L
    val frame = spanFrame(Seq(("t", "s", "", 1, Map.empty[String, String],
      Map.empty[String, String])))
      .withColumn("events", expr(
        s"""array(
           |  named_struct('name', 'exception', 'ts_ns', ${ts2023}L,
           |    'attrs', map('exception.type', 'E')),
           |  named_struct('name', 'plain', 'ts_ns', 0L,
           |    'attrs', map()))""".stripMargin))
    val out = TraceExporter.spansV3(frame)
      .select("events_json").as[Seq[String]].collect().head
    assert(out(0) ==
      s"""{"name":"exception","timeUnixNano":$ts2023,"attributeMap":{"exception.type":"E"},"isError":true}""")
    assert(out(1) == """{"name":"plain"}""")
  }

  test("references JSON: parent + links ordering") {
    val frame = spanFrame(Seq(("aaaa", "s1", "pppp", 1,
      Map.empty[String, String], Map.empty[String, String])))
      .withColumn("links", expr(
        """array(named_struct('trace_id', 'lt1', 'span_id', 'ls1'),
          |      named_struct('trace_id', 'lt2', 'span_id', 'ls2'))""".stripMargin))
    val out = TraceExporter.spansV3(frame).select("references").as[String].collect().head
    assert(out == """[{"traceId":"aaaa","spanId":"pppp","refType":"CHILD_OF"},""" +
      """{"traceId":"lt1","spanId":"ls1","refType":"FOLLOWS_FROM"},""" +
      """{"traceId":"lt2","spanId":"ls2","refType":"FOLLOWS_FROM"}]""")
  }

  test("billable resources drop signoz.workspace.* keys; scope json in struct order") {
    val frame = spanFrame(Seq(("t", "s", "", 1, Map.empty[String, String],
      Map("service.name" -> "svc", "signoz.workspace.id" -> "w1"))))
      .withColumn("scope_name", lit("io.lib"))
      .withColumn("scope_version", lit("1.2.3"))
      .withColumn("scope_string", map(lit("custom.key"), lit("custom.value")))
    val out = TraceExporter.spansV3(frame).collect().head
    assert(out.getAs[Map[String, String]]("billable_resources_string") ==
      Map("service.name" -> "svc"))
    assert(out.getAs[Map[String, String]]("resources_string").contains("signoz.workspace.id"))
    assert(out.getAs[String]("scope_json") ==
      """{"name":"io.lib","version":"1.2.3","attributes":{"custom.key":"custom.value"}}""")
  }

  test("trace summary + root operations (traces_migrations.go MVs)") {
    val frame = spanFrame(Seq(
      ("t1", "s1", "", 2, Map.empty[String, String], Map("service.name" -> "A")),
      ("t1", "s2", "s1", 1, Map.empty[String, String], Map("service.name" -> "A")),
      ("t2", "s3", "", 2, Map.empty[String, String], Map("service.name" -> "B"))))
    val main = TraceExporter.spansV3(frame)
    val summary = TraceExporter.traceSummary(main)
      .orderBy("trace_id").collect()
    assert(summary.map(r => (r.getString(0), r.getLong(3))).toSeq ==
      Seq(("t1", 2L), ("t2", 1L)))
    val roots = TraceExporter.rootOperations(main).collect()
    assert(roots.length == 2)
    assert(roots.map(_.getString(1)).toSet == Set("A", "B"))
  }

  test("sub_root_operations: cross-service children only, trace-scoped join " +
      "(squashed_traces_migrations.go:840-853)") {
    val frame = spanFrame(Seq(
      // t1: root(A) -> b(B) -> c(B): only b crosses a service boundary
      ("t1", "s1", "", 2, Map.empty[String, String], Map("service.name" -> "A")),
      ("t1", "s2", "s1", 1, Map.empty[String, String], Map("service.name" -> "B")),
      ("t1", "s3", "s2", 1, Map.empty[String, String], Map("service.name" -> "B")),
      // t2: same span ids as t1 but one service — a cross-TRACE id collision
      // must not produce an edge (the trace-scoped join; the reference's
      // unscoped MV relies on 8-byte id uniqueness)
      ("t2", "s2", "s1", 1, Map.empty[String, String], Map("service.name" -> "C")),
      ("t2", "s1", "", 2, Map.empty[String, String], Map("service.name" -> "C"))))
      .withColumn("name", concat(lit("op-"), col("span_id")))
    val out = TraceExporter.subRootOperations(TraceExporter.spansV3(frame))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(out == Set(("op-s2", "B")))
  }

  test("usage_explorer: per-service hourly span counts " +
      "(squashed_traces_migrations.go:707-724)") {
    val frame = spanFrame(Seq(
      ("t1", "s1", "", 2, Map.empty[String, String], Map("service.name" -> "A")),
      ("t1", "s2", "s1", 1, Map.empty[String, String], Map("service.name" -> "A")),
      ("t2", "s3", "", 2, Map.empty[String, String], Map("service.name" -> "B"))))
      // push one A span into the next hour
      .withColumn("start_ts",
        when(col("span_id") === "s2", lit(T0 + 3600L * 1000000000L))
          .otherwise(col("start_ts")))
    val out = TraceExporter.usageExplorer(TraceExporter.spansV3(frame))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val h0 = 1672531200L
    assert(out == Set((h0, "A", 1L), (h0 + 3600L, "A", 1L), (h0, "B", 1L)))
  }

  test("durationSort projection: v2 column names, attr-sourced httpRoute/rpc* " +
      "(squashed_traces_migrations.go:150-287)") {
    val frame = spanFrame(Seq(("t1", "s1", "p1", 3,
      Map("http.route" -> "/v1/:id", "rpc.system" -> "grpc",
        "rpc.service" -> "Svc", "rpc.method" -> "Get",
        "http.url" -> "https://h.example.com/x", "http.method" -> "POST"),
      Map("service.name" -> "A"))))
      .withColumn("name", lit("op"))
    val r = TraceExporter.durationSort(TraceExporter.spansV3(frame)).collect().head
    assert(r.getAs[String]("traceID") == "t1")
    assert(r.getAs[String]("spanID") == "s1")
    assert(r.getAs[String]("parentSpanID") == "p1")
    assert(r.getAs[String]("serviceName") == "A")
    assert(r.getAs[Long]("durationNano") == 1500000L)
    assert(r.getAs[String]("httpRoute") == "/v1/:id")
    assert(r.getAs[String]("rpcSystem") == "grpc")
    assert(r.getAs[String]("rpcService") == "Svc")
    assert(r.getAs[String]("rpcMethod") == "Get")
    assert(r.getAs[String]("httpMethod") == "POST")
    assert(r.getAs[String]("httpUrl") == "https://h.example.com/x")
    assert(r.getAs[String]("spanKind") == "Client")
    assert(r.getAs[Map[String, String]]("stringTagMap").contains("http.route"))
  }

  test("span tag rows: typed + spanfield + scope skip-empty (writer.go:311-421)") {
    val frame = spanFrame(Seq(("t", "s", "", 2,
      Map("http.method" -> "GET"), Map("service.name" -> "svc"))))
      .withColumn("attributes_number", map(lit("retries"), lit(2.0)))
      .withColumn("name", lit("op"))
      .withColumn("scope_name", lit("lib")) // scope.version stays "" -> skipped
    val rows = TraceExporter.tagAttributes(TraceExporter.spansV3(frame))
      .select("tag_key", "tag_type", "tag_data_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(rows.contains(("http.method", "tag", "string")))
    assert(rows.contains(("retries", "tag", "float64")))
    assert(rows.contains(("service.name", "resource", "string")))
    assert(rows.contains(("scope.name", "scope", "string")))
    assert(!rows.contains(("scope.version", "scope", "string"))) // empty value skipped
    assert(rows.contains(("name", "spanfield", "string")))
    assert(rows.contains(("kind", "spanfield", "float64")))
    assert(rows.contains(("kind_string", "spanfield", "string")))
    assert(rows.contains(("status_code", "spanfield", "float64")))
    assert(rows.contains(("status_code_string", "spanfield", "string")))

    val keys = TraceExporter.tagKeys(TraceExporter.spansV3(frame)).collect()
    assert(keys.forall(!_.getBoolean(3))) // isColumn always false here
  }

  test("trace resource sink: Exporter.resources over spansV3 dedups per " +
      "(fingerprint, bucket) and anti-joins existing (writer.go:508-540)") {
    val svcA = Map("service.name" -> "a")
    val svcB = Map("service.name" -> "b")
    val none = Map.empty[String, String]
    // a: three spans in the first bucket, one 1800 s later; b: one span
    val main = TraceExporter.spansV3(spanFrame(Seq(
      ("t1", "s1", "", 2, none, svcA), ("t1", "s2", "s1", 3, none, svcA),
      ("t2", "s3", "", 2, none, svcA), ("t3", "s4", "", 2, none, svcB)))
      .withColumn("start_ts", when($"span_id" === "s3", lit(T0 + 1800L * 1000000000L))
        .otherwise(lit(T0))))
    val res = Exporter.resources(main)
    assert(res.columns.toSeq == Seq("labels", "fingerprint", "seen_at_ts_bucket_start"))
    val rows = res.collect().map(r => (r.getString(0), r.getLong(2))).sortBy(_.toString).toSeq
    assert(rows == Seq(
      ("""{"service.name":"a"}""", T0 / 1000000000L),
      ("""{"service.name":"a"}""", T0 / 1000000000L + 1800L),
      ("""{"service.name":"b"}""", T0 / 1000000000L)))
    assert(res.select("fingerprint", "seen_at_ts_bucket_start").distinct().count() == 3)
    // the rfCache analogue: rows already written are not re-emitted
    val firstBucket = res.filter($"seen_at_ts_bucket_start" === T0 / 1000000000L)
    val again = Exporter.resources(main, existing = Some(firstBucket))
    assert(again.collect().map(r =>
        (r.getAs[String]("labels"), r.getAs[Long]("seen_at_ts_bucket_start"))).toSeq ==
      Seq(("""{"service.name":"a"}""", T0 / 1000000000L + 1800L)))
  }

  test("dependencyGraph: db/msg attr edges (kind!=2 gate), service self-join " +
      "within trace, exact quantiles (squashed_traces_migrations.go:477-634)") {
    val rows = Seq(
      // (trace, span, parent, kind, status, durNs, attrs, resources)
      ("t1", "p1", "", 2, 0, 5000000L,
        Map.empty[String, String], Map("service.name" -> "A")),
      ("t1", "c1", "p1", 3, 2, 1000000L,
        Map.empty[String, String], Map("service.name" -> "B")),
      ("t1", "c2", "p1", 3, 0, 3000000L,
        Map.empty[String, String], Map("service.name" -> "B")),
      // same service as parent -> no service edge
      ("t1", "c3", "p1", 3, 0, 9000000L,
        Map.empty[String, String], Map("service.name" -> "A")),
      // parent span id matches but in ANOTHER trace -> no edge (the
      // trace-co-partitioned join is deliberately tighter than the
      // reference MV's bare span-id join)
      ("t2", "x1", "p1", 3, 0, 7000000L,
        Map.empty[String, String], Map("service.name" -> "C")),
      ("t1", "d1", "", 3, 0, 2000000L,
        Map("db.system" -> "mysql"), Map("service.name" -> "A")),
      // kind=2 (server) excluded from attr edges
      ("t1", "d2", "", 2, 0, 2000000L,
        Map("db.system" -> "mysql"), Map("service.name" -> "A")),
      ("t1", "m1", "", 4, 2, 4000000L,
        Map("messaging.system" -> "kafka"),
        Map("service.name" -> "B", "deployment.environment" -> "prod")))
    val df = SpanFrames.withDefaults(rows.toDF(
      "trace_id", "span_id", "parent_span_id", "kind", "status_code", "dur",
      "attributes_string", "resources_string")
      .withColumn("start_ts", lit(T0))
      .withColumn("end_ts", lit(T0) + col("dur"))
      .drop("dur"))
    val out = TraceExporter.dependencyGraph(TraceExporter.spansV3(df),
        approxQuantiles = false)
      .collect().map(r => (r.getAs[String]("src"), r.getAs[String]("dest")) -> r)
      .toMap
    assert(out.keySet == Set(("A", "B"), ("A", "mysql"), ("B", "kafka")))
    val ab = out(("A", "B"))
    assert(ab.getAs[Long]("total_count") == 2L)
    assert(ab.getAs[Long]("error_count") == 1L)
    val qs = ab.getSeq[Double](ab.fieldIndex("duration_quantiles"))
    // [1e6, 3e6]: h=(n-1)*q -> p50=2e6, p99=2.98e6 (type-7 interpolation)
    assert(qs(0) == 2000000.0 && qs(4) == 2980000.0)
    assert(out(("A", "mysql")).getAs[Long]("total_count") == 1L)
    val msg = out(("B", "kafka"))
    assert(msg.getAs[String]("deployment_environment") == "prod")
    assert(msg.getAs[Long]("error_count") == 1L)
    assert(out.values.forall(_.getAs[Long]("timestamp") == 1672531200L))
  }

  test("dependencyGraph: approx quantiles (the scale default, matching the " +
      "reference MV's sampling-based quantilesState) agree with exact within " +
      "tolerance and use a bounded sketch aggregate") {
    // one hot edge with a wide duration spread (the shape that makes exact
    // percentile's per-group buffer unbounded at scale)
    val n = 5000
    val rows = (1 to n).map { i =>
      ("t" + (i % 97), "s" + i, "", 3, if (i % 10 == 0) 2 else 0,
        i.toLong * 1000000L, Map("db.system" -> "mysql"),
        Map("service.name" -> "A"))
    }
    val df = SpanFrames.withDefaults(rows.toDF(
      "trace_id", "span_id", "parent_span_id", "kind", "status_code", "dur",
      "attributes_string", "resources_string")
      .withColumn("start_ts", lit(T0))
      .withColumn("end_ts", lit(T0) + col("dur"))
      .drop("dur"))
    val spans = TraceExporter.spansV3(df)
    def quantiles(approx: Boolean): Seq[Double] = {
      val r = TraceExporter.dependencyGraph(spans, approxQuantiles = approx)
        .collect()
      assert(r.length == 1)
      r.head.getSeq[Double](r.head.fieldIndex("duration_quantiles"))
    }
    val exact = quantiles(false)
    val approx = quantiles(true)
    // approx_percentile(accuracy=10000) guarantees rank error <= n/10000;
    // on 5k uniform durations that is < 1 rank = 1e6 ns. Allow 2 ranks.
    exact.zip(approx).foreach { case (e, a) =>
      assert(math.abs(e - a) <= 2000000.0, s"exact=$e approx=$a")
    }
    // the plan must be the bounded-sketch aggregate, not exact percentile
    val plan = TraceExporter.dependencyGraph(spans).queryExecution
      .executedPlan.toString
    assert(plan.contains("approx_percentile"))
    assert(!plan.replace("approx_percentile", "").contains("percentile("),
      "exact percentile must not appear in the default plan")
  }
}
