package graft

import org.apache.spark.sql.functions._

import graft.model.{LogFrames, MetricFrames}
import graft.pipeline.{Exporter, MeterConnector, MeterExporter}
import graft.streaming.StreamJobs

/** signozmeterconnector semantics (connector.go + pkg/metering/v1). */
class MeterConnectorSpec extends SparkSuite {
  import spark.implicits._

  private def logs = Exporter.logsV2(LogFrames.withDefaults(Seq(
    ("c1", 0, "hello world", 1704067200L * 1000000000L, Map("role" -> "user", "env" -> "prod")),
    ("c1", 1, "hi", 1704067205L * 1000000000L, Map("role" -> "assistant", "env" -> "prod")),
    ("c2", 0, "other", 1704067210L * 1000000000L, Map("role" -> "user", "env" -> "dev")))
    .toDF("conv_id", "turn_idx", "body", "timestamp", "resources_string")))

  test("fromLogs: per-dim-key delta sums named signoz.meter.log.{count,size}") {
    val out = MeterConnector.fromLogs(logs, Seq("role"), "cid-1", 1704067300000L)
      .collect().map(r => (r.getAs[String]("metric_name"),
        r.getAs[Map[String, String]]("attrs"), r.getAs[Double]("value"))).toSeq
    val counts = out.filter(_._1 == "signoz.meter.log.count")
    assert(counts.toSet == Set(
      ("signoz.meter.log.count", Map("role" -> "user"), 2.0),
      ("signoz.meter.log.count", Map("role" -> "assistant"), 1.0)))
    // sizes equal the summed v1 billing record_size of the matching rows
    val sizes = out.filter(_._1 == "signoz.meter.log.size").map(t => (t._2, t._3)).toMap
    val expected = logs.groupBy(element_at(col("resources_string"), "role").as("role"))
      .agg(sum(col("record_size")).as("b")).collect()
      .map(r => (Map("role" -> r.getAs[String]("role")), r.getAs[Long]("b").toDouble)).toMap
    assert(sizes == expected)
    // identity: delta monotonic sums, scope signozmeterconnector + connector_id
    val row = MeterConnector.fromLogs(logs, Seq("role"), "cid-1", 1704067300000L).collect().head
    assert(row.getAs[String]("metric_type") == "Sum")
    assert(row.getAs[String]("temporality") == "Delta")
    assert(row.getAs[Boolean]("is_monotonic"))
    assert(row.getAs[String]("scope_name") == "signozmeterconnector")
    assert(row.getAs[Map[String, String]]("scope_attrs") == Map("connector_id" -> "cid-1"))
    assert(row.getAs[Long]("unix_milli") == 1704067300000L)
  }

  test("fromLogs: unconfigured dims collapse to one empty-attr key") {
    val out = MeterConnector.fromLogs(logs, Seq("absent.key"), "cid", 0L).collect()
    assert(out.length == 2) // one dim key -> count + size
    assert(out.forall(_.getAs[Map[String, String]]("attrs").isEmpty))
    assert(out.find(_.getAs[String]("metric_name") == "signoz.meter.log.count")
      .get.getAs[Double]("value") == 3.0)
  }

  test("fromLogs and meterConnectorStream build the same dimension key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = Seq[(Map[String, String], Long)](
      (Map("a" -> "x,y"), 1L), // one value holding the separator ...
      (Map("a" -> "x", "b" -> "y"), 2L), // ... against two split values
      (Map("a" -> "q\"u", "b" -> "back\\slash", "c" -> "dropped"), 4L),
      (Map("a" -> "q\"u", "b" -> "back\\slash"), 8L),
      (Map("c" -> "only-other"), 16L), // no configured key -> empty attrs
      (null, 32L)) // no resource map -> empty attrs too
    val dims = Seq("a", "b")
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[String]("metric_name"), r.getAs[Map[String, String]]("attrs"),
        r.getAs[Double]("value"))).toSet
    val batch = triples(MeterConnector.fromLogs(
      rows.toDF("resources_string", "record_size"), dims, "cid", 0L))
    val in = MemoryStream[(Map[String, String], Long)]
    val q = StreamJobs.meterConnectorStream(in.toDF().toDF("resources_string", "record_size"),
      dims, "cid").writeStream.outputMode("append")
      .format("memory").queryName("graft_meter_key_parity").start()
    val stream = try {
      in.addData(rows)
      q.processAllAvailable()
      triples(spark.table("graft_meter_key_parity"))
    } finally q.stop()
    assert(stream == batch)
    val counts = batch.filter(_._1 == "signoz.meter.log.count").map(t => (t._2, t._3))
    assert(counts == Set(
      (Map("a" -> "x,y"), 1.0),
      (Map("a" -> "x", "b" -> "y"), 1.0),
      (Map("a" -> "q\"u", "b" -> "back\\slash"), 2.0),
      (Map.empty[String, String], 2.0)))
  }

  test("fromMetricFrames: v1 datapoint counting — exclusions, histogram " +
      "expansion, summary quantiles+2, size 0 (metrics.go:59-111)") {
    val res = Map("service" -> "s1")
    val scalars = MetricFrames.withDefaults(Seq(
      ("requests", 1.0), ("requests", 2.0),
      ("signoz_internal", 5.0), ("otelcol_queue", 6.0)) // excluded
      .toDF("metric_name", "value").withColumn("resource_attrs", typedLit(res)))
    val hists = MetricFrames.withHistogramDefaults(Seq(
      ("latency", Seq(1L, 2L, 3L), true, false, true)) // 3 buckets +1 +sum +max = 6
      .toDF("metric_name", "bucket_counts", "has_sum", "has_min", "has_max")
      .withColumn("resource_attrs", typedLit(res)))
    val summaries = MetricFrames.withSummaryDefaults(Seq(
      Tuple1("rpc_summary")).toDF("metric_name")
      .withColumn("quantiles", expr(
        "array(named_struct('q', 0.5, 'v', 1.0), named_struct('q', 0.9, 'v', 2.0))")
        .cast(MetricFrames.quantileType))
      .withColumn("resource_attrs", typedLit(res)))
    val out = MeterConnector.fromMetricFrames(Seq("service"), "cid", 0L,
      scalars = Some(scalars), histograms = Some(hists), summaries = Some(summaries))
      .collect().map(r => (r.getAs[String]("metric_name"), r.getAs[Double]("value"))).toMap
    // 2 scalar + 6 histogram + (2 quantiles + 2) summary = 12; size always 0
    assert(out("signoz.meter.metric.datapoint.count") == 12.0)
    assert(out("signoz.meter.metric.datapoint.size") == 0.0)
  }

  test("v1 metrics Count reference goldens (metrics_test.go): 100/60/144/0/30") {
    val res = Map("r" -> "1")
    def count(scalars: Option[org.apache.spark.sql.DataFrame] = None,
        hists: Option[org.apache.spark.sql.DataFrame] = None,
        summ: Option[org.apache.spark.sql.DataFrame] = None): Double =
      MeterConnector.fromMetricFrames(Seq("r"), "cid", 0L, scalars, hists, summ)
        .filter(col("metric_name") === "signoz.meter.metric.datapoint.count")
        .collect().headOption.map(_.getAs[Double]("value")).getOrElse(0.0)

    // 10 gauge metrics x 10 dps = 100
    val gauges = MetricFrames.withDefaults(
      (0 until 10).flatMap(m => (0 until 10).map(d => (s"g$m", d.toDouble)))
        .toDF("metric_name", "value").withColumn("resource_attrs", typedLit(res)))
    assert(count(scalars = Some(gauges)) == 100.0)
    // 1 histogram metric x 6 dps x (20 buckets + count + sum + min + max) = 144
    val hists = MetricFrames.withHistogramDefaults(
      (0 until 6).map(d => ("h", (1 to 20).map(_.toLong), true, true, true))
        .toDF("metric_name", "bucket_counts", "has_sum", "has_min", "has_max")
        .withColumn("resource_attrs", typedLit(res)))
    assert(count(hists = Some(hists)) == 144.0)
    // 1 summary metric x 6 dps x (3 quantiles + 2) = 30
    val summ = MetricFrames.withSummaryDefaults(
      (0 until 6).map(d => Tuple1("s")).toDF("metric_name")
        .withColumn("quantiles", expr(
          "array(named_struct('q',0.5,'v',1.0), named_struct('q',0.9,'v',2.0), " +
            "named_struct('q',0.99,'v',3.0))").cast(MetricFrames.quantileType))
        .withColumn("resource_attrs", typedLit(res)))
    assert(count(summ = Some(summ)) == 30.0)
    // excluded prefix -> zero billable points -> family skipped entirely
    val excluded = MetricFrames.withDefaults(Seq(("signoz_x", 1.0), ("otelcol_y", 2.0))
      .toDF("metric_name", "value").withColumn("resource_attrs", typedLit(res)))
    assert(MeterConnector.fromMetricFrames(Seq("r"), "cid", 0L, scalars = Some(excluded))
      .count() == 0L)
  }

  test("connector output feeds the meter exporter sink end-to-end") {
    val frames = MetricFrames.withDefaults(
      MeterConnector.fromLogs(logs, Seq("role"), "cid-1", 1704067300000L))
    val sink = MeterExporter.samples(frames)
    assert(sink.count() == 4) // 2 dim keys x (count, size)
    val r = sink.filter(col("metric_name") === "signoz.meter.log.count").collect().head
    assert(r.getAs[String]("type") == "Sum")
    assert(r.getAs[String]("temporality") == "Delta")
    val labels = r.getAs[String]("labels")
    assert(labels.contains("\"__name__\":\"signoz.meter.log.count\""))
    assert(labels.contains("\"role\":"))
  }
}
