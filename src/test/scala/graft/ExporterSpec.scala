package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, KeyCheck}
import graft.model.{LogFrames, MetricFrames, SpanFrames}
import graft.pipeline.{Exporter, ExporterConfig, Metadata}
import graft.sinks.GraftTable

/** Exporter stage + table-layer tests: fingerprint goldens straight from the
  * reference test suite (`utils/fingerprint/fingerprint_test.go:10-45`),
  * sink shaping, and snapshot/resume mechanics.
  */
class ExporterSpec extends SparkSuite {
  import spark.implicits._

  test("fingerprint matches reference golden values (fingerprint_test.go)") {
    assert(Fingerprint.calculate(Map("a" -> "b")) == "hash=15182603570120227210")
    assert(Fingerprint.calculate(Map("ec2.tag.env" -> "fn-prod", "host.image.id" -> "ami-fce3c696"))
      == "ec2.tag.env=fn-prod;hash=5580615729524003981")
    assert(Fingerprint.calculate(Map(
      "cloudwatch.log.stream" -> "mystr", "ec2.tag.env" -> "fn-prod",
      "host.image.id" -> "ami-fce3c696"))
      == "ec2.tag.env=fn-prod;cloudwatch.log.stream=mystr;hash=10649409385811604510")
    assert(Fingerprint.calculate(Map(
      "gcp.project" -> "myproject", "source_type" -> "gcp", "random_key" -> "val"))
      == "gcp.project=myproject;source_type=gcp;hash=11162778839006855273")
    assert(Fingerprint.calculate(Map(
      "service.name" -> "service", "env" -> "prod", "component" -> "service-component"))
      == "service.name=service;env=prod;component=service-component;hash=18170521368096690780")
  }

  test("keycheck random-key heuristic (keycheck.go detectors)") {
    assert(!KeyCheck.isRandomKey("service_name"))
    assert(!KeyCheck.isRandomKey("msg"))
    assert(!KeyCheck.isRandomKey("k8s_namespace_name"))
    assert(KeyCheck.isRandomKey("550e8400-e29b-41d4-a716-446655440000")) // uuid
    assert(KeyCheck.isRandomKey("deadbeefdeadbeef")) // hex >= 16
    assert(KeyCheck.isRandomKey("1726486700000")) // 13-digit ts
    assert(KeyCheck.isRandomKey("01ARZ3NDEKTSV4RRFFQ69G5FAV")) // ulid
    assert(KeyCheck.isRandomKey("a" * 300)) // too long
    assert(KeyCheck.isRandomKey("prefix.deadbeefdeadbeef.suffix")) // random segment
  }

  private def sampleLogs = LogFrames.withDefaults(Seq(
    ("c1", 0, "user", "hello world", 1704067200L * 1000000000L,
      Map("status" -> "ok"), Map("retry_no" -> 1.0), Map("role" -> "user")),
    ("c1", 1, "assistant", "hi", 1704067200L * 1000000000L + 5L * 1000000000L,
      Map.empty[String, String], Map.empty[String, Double], Map("role" -> "assistant")),
    ("c2", 0, "user", "other conv", 1704069000L * 1000000000L,
      Map("deadbeefdeadbeef" -> "x"), Map.empty[String, Double], Map("role" -> "user"))
  ).toDF("conv_id", "turn_idx", "role", "body", "timestamp",
    "attributes_string", "attributes_number", "resources_string"))

  test("sorted-json labels sort keys in UTF-8 BYTE order (Go json.Marshal)") {
    import org.apache.spark.sql.functions.{lit, map}
    // U+FF01 FULLWIDTH ! is one UTF-16 code unit (0xFF01, UTF-8 ef bc 81);
    // U+1F600 emoji is a surrogate pair (0xD83D 0xDE00, UTF-8 f0 9f 98 80).
    // Java String order: emoji (0xD83D) BEFORE fullwidth (0xFF01).
    // Go json.Marshal byte order: fullwidth (ef..) BEFORE emoji (f0..).
    // The orders disagree — pin the byte order the reference emits.
    val df = spark.range(1).select(
      map(lit("😀"), lit("emoji"), lit("！"), lit("fullwidth"), lit("a"), lit("ascii"))
        .as("m"))
    val json = df.select(graft.functions.MapSortedJson(org.apache.spark.sql.functions.col("m")))
      .collect().head.getString(0)
    // byte order: "a" (61) < "！" (ef bc 81) < "😀" (f0 9f 98 80)
    val ia = json.indexOf("\"a\"")
    val ifw = json.indexOf("！")
    val iem = json.indexOf("😀")
    assert(ia >= 0 && ifw >= 0 && iem >= 0)
    assert(ia < ifw && ifw < iem, json)
  }

  test("logs_v2 shaping: bucket, id, fingerprint, labels") {
    val main = Exporter.logsV2(sampleLogs)
    val r = main.filter($"conv_id" === "c1" && $"turn_idx" === 0).collect().head
    assert(r.getAs[Long]("ts_bucket_start") == 1704067200L / 1800 * 1800)
    assert(r.getAs[String]("id") == "c1#000000")
    assert(r.getAs[String]("labels") == """{"role":"user"}""")
    assert(r.getAs[String]("resource_fingerprint") ==
      Fingerprint.calculate(Map("role" -> "user")))
    // 30-min buckets split c1 (ts 1704067200) and c2 (ts 1704069000)
    val buckets = main.select("ts_bucket_start").distinct().as[Long].collect().sorted
    assert(buckets.toSeq == Seq(1704067200L, 1704069000L).map(t => t / 1800 * 1800))
  }

  test("resource sink dedups per bucket and anti-joins existing") {
    val main = Exporter.logsV2(sampleLogs)
    val res = Exporter.resources(main)
    // c1 has two rows with same (role=user / role=assistant distinct), c2 separate bucket
    assert(res.count() == main.select("resource_fingerprint", "ts_bucket_start").distinct().count())
    val again = Exporter.resources(main, existing = Some(res))
    assert(again.count() == 0)
  }

  test("resource sink: the anti-joined branch keeps the fresh branch's column order") {
    val main = Exporter.logsV2(sampleLogs)
    val fresh = Exporter.resources(main)
    val rest = Exporter.resources(main, existing = Some(fresh.limit(1)))
    assert(fresh.columns.toSeq === Seq("labels", "fingerprint", "seen_at_ts_bucket_start"))
    assert(rest.columns.toSeq === fresh.columns.toSeq)
  }

  test("attributes metadata: the anti-joined branch keeps the fresh branch's columns") {
    val main = Exporter.logsV2(sampleLogs)
    val spans = SpanFrames.withDefaults(Seq(("t1", "s1", "GET /", 1704067200000000000L))
      .toDF("trace_id", "span_id", "name", "start_ts"))
    val dps = MetricFrames.withDefaults(Seq(("requests", 1.0, 1704067200000L))
      .toDF("metric_name", "value", "unix_milli"))
    for ((ctx, rows) <- Seq[(String, Option[DataFrame] => DataFrame)](
        "logs" -> (e => Metadata.attributesMetadata(main, existing = e)),
        "traces" -> (e => Metadata.spanAttributesMetadata(spans, existing = e)),
        "metrics" -> (e => Metadata.metricAttributesMetadata(dps, existing = e)))) {
      val fresh = rows(None)
      assert(fresh.columns.toSeq === Seq("rounded_unix_milli", "data_source",
        "resource_fingerprint", "attr_fingerprint", "resource_attrs", "attrs"), ctx)
      assert(rows(Some(fresh.limit(1))).columns.toSeq === fresh.columns.toSeq, ctx)
      assert(rows(Some(fresh)).count() == 0L, ctx)
    }
  }

  test("tag attributes: keycheck filters random keys, typed rows split") {
    val main = Exporter.logsV2(sampleLogs)
    val tags = Exporter.tagAttributes(main)
    val keys = tags.select("tag_key").as[String].collect().toSet
    assert(!keys.contains("deadbeefdeadbeef")) // random key filtered
    assert(keys.contains("status") && keys.contains("retry_no") && keys.contains("role"))
    val retry = tags.filter($"tag_key" === "retry_no").collect().head
    assert(retry.getAs[String]("tag_data_type") == "float64")
    assert(retry.getAs[Double]("number_value") == 1.0)
    assert(retry.getAs[String]("tag_type") == "tag")
    val role = tags.filter($"tag_key" === "role" && $"string_value" === "user").collect().head
    assert(role.getAs[String]("tag_type") == "resource")
    // logfields present but not in the keys sinks
    assert(keys.contains("severity_text"))
    val akeys = Exporter.attributeKeys(main).select("name").as[String].collect().toSet
    assert(akeys == Set("status", "retry_no"))
    val rkeys = Exporter.resourceKeys(main).select("name").as[String].collect().toSet
    assert(rkeys == Set("role"))
  }

  test("a key that is both a tag and a resource attribute reaches both key sinks") {
    val both = LogFrames.withDefaults(Seq(
      ("c1", 0, "user", "hi", 1704067200L * 1000000000L,
        Map("host" -> "h1", "status" -> "ok"), Map("host" -> "h1")),
      ("c1", 1, "user", "again", 1704067200L * 1000000000L + 1000000000L,
        Map("host" -> "h1"), Map("host" -> "h1"))
    ).toDF("conv_id", "turn_idx", "role", "body", "timestamp",
      "attributes_string", "resources_string"))
    val main = Exporter.logsV2(both)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("name", "datatype").as[(String, String)].collect().toSeq.sorted
    assert(rows(Exporter.attributeKeys(main)) == Seq("host" -> "string", "status" -> "string"))
    assert(rows(Exporter.resourceKeys(main)) == Seq("host" -> "string"))
    // the q_attribute_keys shape: one row per (tag type, key)
    assert(rows(Exporter.keys(main, "tag", "resource")) ==
      Seq("host" -> "string", "host" -> "string", "status" -> "string"))
    val fanOut = Exporter.fanOutFrom(main)
    assert(rows(fanOut("logs_attribute_keys")) == rows(Exporter.attributeKeys(main)))
    assert(rows(fanOut("logs_resource_keys")) == rows(Exporter.resourceKeys(main)))
    val hostTags = fanOut("tag_attributes_v2").filter($"tag_key" === "host")
      .select("tag_type", "string_value").as[(String, String)].collect().toSeq.sorted
    assert(hostTags == Seq("resource" -> "h1", "tag" -> "h1"))
  }

  test("a NULL typed map drops only its branch of tag rows, not the record") {
    // a frame from an external adapter without withDefaults can carry NULL
    // maps; concat() null-propagates, so un-coalesced branches would drop
    // ALL tag rows for the record including the severity logfields
    val nulled = sampleLogs.withColumn("attributes_bool",
      lit(null).cast(graft.model.LogSchema.mapSB))
    val tags = Exporter.tagAttributes(Exporter.logsV2(nulled))
    val keys = tags.select("tag_key").as[String].collect().toSet
    assert(keys.contains("severity_text") && keys.contains("severity_number"))
    assert(keys.contains("status") && keys.contains("role"))
  }

  test("age cutoff filter") {
    val cfg = ExporterConfig(oldestAllowedTsNanos = 1704067201L * 1000000000L)
    val main = Exporter.logsV2(sampleLogs, cfg)
    assert(main.count() == 2) // c1#0 dropped
  }

  test("graft table: snapshot commit, lineage, resume skips done partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-table").toString
    val df = sampleLogs.withColumn("route",
      when($"conv_id" === "c1", "r1").otherwise("r2"))

    val s1 = GraftTable.write(df.filter($"route" === "r1"), dir, Some("route"), stage = "fanout")
    assert(s1.seq == 0 && s1.rowCount == 2)
    assert(GraftTable.completedPartitions(dir) == Set("r1"))

    // resume: r1 already committed -> only r2 written
    val s2 = GraftTable.appendMissingPartitions(df, dir, "route", stage = "fanout")
    assert(s2.parent == 0 && s2.rowCount == 3)
    assert(GraftTable.completedPartitions(dir) == Set("r1", "r2"))

    val back = GraftTable.read(spark, dir)
    assert(back.count() == 3)
    assert(back.columns.contains("route"))
    // idempotent: nothing missing -> same snapshot returned, no new write
    val s3 = GraftTable.appendMissingPartitions(df, dir, "route")
    assert(s3.seq == s2.seq)
  }
}
