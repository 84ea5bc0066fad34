package graft

import org.apache.spark.sql.functions._

import graft.model.SpanFrames
import graft.pipeline.SpanMetrics
import graft.pipeline.SpanMetrics.{Config, Dimension}

/** spanmetrics processor semantics, golden-tested against the reference's
  * own cases (`processor/signozspanmetricsprocessor/processor_test.go`:
  * TestBuildKeyWithDimensions dim-resolution matrix, getRemoteAddress
  * priority chain, exclude patterns).
  */
class SpanMetricsSpec extends SparkSuite {
  import spark.implicits._

  private val T0 = 1672531200L * 1000000000L

  private def frame(rows: Seq[(String, Int, Int, Long, Map[String, String],
      Map[String, String])]) =
    // (name, kind, status, durNs, attrs_string, resources)
    SpanFrames.withDefaults(rows.toDF(
      "name", "kind", "status_code", "dur", "attributes_string",
      "resources_string")
      .withColumn("start_ts", lit(T0))
      .withColumn("end_ts", lit(T0) + col("dur"))
      .drop("dur"))

  test("latency histogram: bucket counts, le labels, zero-duration clamp") {
    val svc = Map("service.name" -> "A")
    val df = frame(Seq(
      ("op", 2, 0, 1500000L, Map.empty[String, String], svc),   // 1.5 ms
      ("op", 2, 0, 3000000L, Map.empty[String, String], svc),   // 3 ms
      ("op", 2, 0, 7000000L, Map.empty[String, String], svc),   // 7 ms
      ("op", 2, 0, -5L, Map.empty[String, String], svc),        // clamp -> 0
      ("op", 2, 0, 20000000000L, Map.empty[String, String], svc))) // 20 s -> +Inf
    val out = SpanMetrics.latency(df)
      .select("le", "cumulative_count", "call_count", "sum_ms").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out.keySet.contains("2") && out.keySet.contains("+Inf"))
    assert(out("2")._1 == 2L)      // 1.5 ms + the clamped 0
    assert(out("4")._1 == 3L)      // + 3 ms
    assert(out("6")._1 == 3L)
    assert(out("8")._1 == 4L)      // + 7 ms
    assert(out("15000")._1 == 4L)  // 20 s beyond the last bound
    assert(out("+Inf")._1 == 5L)
    assert(out("2")._2 == 5L)      // total count on every row
    assert(out("2")._3 == 1.5 + 3.0 + 7.0 + 0.0 + 20000.0)
  }

  test("dimension resolution: span over resource, stable http name, default " +
      "(TestBuildKeyWithDimensions)") {
    val df = frame(Seq(
      ("c", 0, 0, 1000000L,
        Map("foo" -> "100", "http.response.status_code" -> "200"),
        Map("service.name" -> "ab", "foo" -> "99"))))
    val cfg = Config(dimensions = Seq(
      Dimension("foo"), Dimension("http.status_code"),
      Dimension("missing", default = Some("bar")),
      Dimension("absent")))
    val row = SpanMetrics.callsTotal(df, cfg).collect().head
    assert(row.getAs[String]("span_kind") == "SPAN_KIND_UNSPECIFIED")
    assert(row.getAs[String]("status_code") == "STATUS_CODE_UNSET")
    assert(row.getAs[String]("foo") == "100") // span attr wins over resource
    // the always-prepended call dim resolves via the stable name too
    assert(row.getAs[String]("http.status_code") == "200")
    assert(row.getAs[String]("missing") == "bar")
    assert(row.isNullAt(row.fieldIndex("absent")))
    assert(row.getAs[Long]("call_count") == 1L)
  }

  test("remoteAddress priority chain (getRemoteAddress, processor.go:846-966)") {
    val cases = Seq(
      (Map("rpc.system" -> "grpc", "rpc.service" -> "S", "rpc.method" -> "m"),
        "S/m"),
      (Map("rpc.system" -> "grpc", "rpc.method" -> "m"), "/m"),
      (Map("rpc.system" -> "grpc", "net.peer.name" -> "p"), "p"), // rpc fallback
      (Map("http.host" -> "h:80", "net.peer.name" -> "p"), "h:80"),
      (Map("net.peer.name" -> "p", "net.peer.port" -> "443"), "p:443"),
      (Map("server.address" -> "s", "server.port" -> "1"), "s:1"),
      (Map("net.sock.peer.addr" -> "1.2.3.4"), "1.2.3.4"),
      (Map("http.url" -> "https://u@api.example.com:8080/path?q=1"),
        "api.example.com:8080"),
      (Map("url.full" -> "api.example.com/path"), "api.example.com"), // scheme added
      (Map("peer.service" -> "ps"), "ps"))
    cases.foreach { case (attrs, want) =>
      val df = frame(Seq(("c", 3, 0, 1000000L, attrs, Map("service.name" -> "A"))))
      val got = df.select(
        SpanMetrics.remoteAddress(col("attributes_string")).as("a"))
        .collect().head.getString(0)
      assert(got == want, s"for $attrs")
    }
    // nothing matches -> NULL -> external-call family skips the span
    val none = frame(Seq(("c", 3, 0, 1000000L, Map.empty[String, String],
      Map("service.name" -> "A"))))
    assert(SpanMetrics.externalCallLatency(none).count() == 0L)
  }

  test("db/external families: kind gates and custom keys") {
    val rows = Seq(
      ("q", 3, 0, 2000000L, Map("db.system" -> "mysql", "db.name" -> "d1"),
        Map("service.name" -> "A")),
      ("q", 2, 0, 2000000L, Map("db.system" -> "mysql"),
        Map("service.name" -> "A")), // SERVER span: no db metric
      ("x", 3, 2, 4000000L, Map("net.peer.name" -> "ext", "http.status_code" -> "500"),
        Map("service.name" -> "A")),
      ("x", 2, 0, 4000000L, Map("net.peer.name" -> "ext"),
        Map("service.name" -> "A"))) // non-client: no external metric
    val df = frame(rows)
    val db = SpanMetrics.dbCallLatency(df).collect()
    assert(db.length == 1)
    assert(db.head.getAs[String]("db.system") == "mysql")
    assert(db.head.getAs[String]("db.name") == "d1")
    assert(db.head.getAs[Long]("latency_count") == 1L)
    assert(db.head.getAs[Double]("latency_sum_ms") == 2.0)
    val ext = SpanMetrics.externalCallLatency(df).collect()
    assert(ext.length == 1)
    assert(ext.head.getAs[String]("address") == "ext")
    assert(ext.head.getAs[String]("status_code") == "STATUS_CODE_ERROR")
    assert(ext.head.getAs[String]("http.status_code") == "500")
  }

  test("latency exp-histogram: base-2 buckets over the spanmetrics key") {
    val svc = Map("service.name" -> "A")
    // latencies 1, 2, 4 ms -> at any scale s, bucket indices are s apart;
    // exact powers of two land on bucket (log2(v) * 2^s) - 1
    val df = frame(Seq(
      ("op", 2, 0, 1000000L, Map.empty[String, String], svc),
      ("op", 2, 0, 2000000L, Map.empty[String, String], svc),
      ("op", 2, 0, 4000000L, Map.empty[String, String], svc)))
    val out = SpanMetrics.latencyExpHistogram(df).collect()
    assert(out.length == 3)
    val scale = out.head.getAs[Int]("scale")
    val idx = out.map(_.getAs[Long]("bucket_idx")).sorted
    // consecutive powers of two are exactly 2^scale buckets apart
    assert(idx(1) - idx(0) == (1L << scale) && idx(2) - idx(1) == (1L << scale))
    assert(out.forall(_.getAs[Long]("n") == 1L))
    assert(out.forall(_.getAs[String]("service_name") == "A"))
  }

  test("exclude patterns skip spans (TestExcludePatternSkips)") {
    val rows = Seq(
      ("keepOp", 2, 0, 1000000L, Map.empty[String, String],
        Map("service.name" -> "svcA")),
      ("dropOp", 2, 0, 1000000L, Map.empty[String, String],
        Map("service.name" -> "svcA")),
      ("keepOp", 2, 0, 1000000L, Map("tenant" -> "internal-x"),
        Map("service.name" -> "svcB")))
    val cfg = Config(excludePatterns = Map(
      "operation" -> "^drop", "tenant" -> "internal-.*"))
    val out = SpanMetrics.callsTotal(frame(rows), cfg).collect()
    assert(out.map(_.getAs[Long]("call_count")).sum == 1L)
    assert(out.head.getAs[String]("operation") == "keepOp")
  }

  test("exemplars: top-k by duration, empty-trace-id skip (setExemplars), " +
      "deterministic tie-break") {
    // 6 spans, one key; k=3 keeps the three slowest; t0/span "s0" has the
    // HIGHEST latency but an empty trace id -> skipped like the reference's
    // traceID.IsEmpty() gate; two spans tie at 5ms -> trace_id DESC breaks
    val rows = Seq(
      ("", "s0", 9000000L), // skipped despite being slowest
      ("t1", "s1", 7000000L),
      ("t2", "s2", 5000000L),
      ("t3", "s3", 5000000L), // tie with t2: t3 > t2 so t3 ranks first
      ("t4", "s4", 1000000L),
      ("t5", "s5", 2000000L))
    val df = SpanFrames.withDefaults(rows.toDF("tid", "span_id", "dur")
      .withColumn("name", lit("op"))
      .withColumn("kind", lit(2))
      .withColumn("status_code", lit(0))
      .withColumn("attributes_string", map().cast("map<string,string>"))
      .withColumn("resources_string",
        map(lit("service.name"), lit("A")))
      .withColumn("start_ts", lit(T0))
      .withColumn("end_ts", lit(T0) + col("dur"))
      .drop("dur"))
      .drop("trace_id").withColumnRenamed("tid", "trace_id")
    val out = SpanMetrics.latencyExemplars(df, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("trace_id"),
        r.getAs[Long]("value_ns")))
    assert(out.toSeq == Seq(
      (1, "t1", 7000000L),
      (2, "t3", 5000000L), // tie broken by trace_id descending
      (3, "t2", 5000000L)))
  }

  test("exemplars: partial-buffer merge keeps the global top-k across " +
      "partitions") {
    // 40 spans spread over 8 partitions; global top-2 must survive the
    // map-side partial -> reduce merge regardless of partition placement
    val rows = (1 to 40).map(i => (f"t$i%02d", f"s$i%02d", i * 1000000L))
    val df = SpanFrames.withDefaults(
      spark.createDataFrame(rows).toDF("tid", "span_id", "dur")
        .repartition(8)
        .withColumn("name", lit("op"))
        .withColumn("kind", lit(2))
        .withColumn("status_code", lit(0))
        .withColumn("resources_string", map(lit("service.name"), lit("A")))
        .withColumn("start_ts", lit(T0))
        .withColumn("end_ts", lit(T0) + col("dur"))
        .drop("dur"))
      .drop("trace_id").withColumnRenamed("tid", "trace_id")
    val out = SpanMetrics.latencyExemplars(df, k = 2)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("trace_id")))
    assert(out.toSeq == Seq((1, "t40"), (2, "t39")))
    // and the plan is the bounded-buffer aggregate, not a window sort
    val plan = SpanMetrics.latencyExemplars(df, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
  }
}
