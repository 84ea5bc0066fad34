package graft

import org.apache.spark.sql.functions._

import graft.functions.PromFingerprintKernel
import graft.pipeline.MetricsExporter
import graft.pipeline.MetricsExporter.ReductionRule

/** Metrics exporter slice, golden-tested against the reference's own tests
  * (`internal/common/fingerprint/fingerprint_test.go`,
  * `exporter/signozclickhousemetrics/exporter_test.go`).
  */
class MetricsExporterSpec extends SparkSuite {
  import spark.implicits._

  private val TS = 1727286182000L // the reference generator's timestamp

  /** The pmetricsgen identity: resource.attr_0=value0, scope
    * go.signoz.io/app/reader 1.0.0 + scope.schema_url, scope.attr_0=value0.
    */
  private def dpFrame(name: String, temporality: String, typ: String,
      monotonic: Boolean, attrs: Map[String, String], value: Double = 0.0) =
    graft.model.MetricFrames.withDefaults(Seq((name, temporality, typ, monotonic, attrs, value))
      .toDF("metric_name", "temporality", "metric_type", "is_monotonic", "attrs", "value")
      .withColumn("unix_milli", lit(TS))
      .withColumn("description", lit(
        if (typ == "Gauge") "memory usage of the host" else "cpu time of the host"))
      .withColumn("unit", lit(if (typ == "Gauge") "bytes" else "s"))
      .withColumn("scope_name", lit("go.signoz.io/app/reader"))
      .withColumn("scope_version", lit("1.0.0"))
      .withColumn("scope_schema_url", lit("scope.schema_url"))
      .withColumn("scope_attrs", map(lit("scope.attr_0"), lit("value0")))
      .withColumn("resource_attrs", map(lit("resource.attr_0"), lit("value0"))))

  test("fingerprint hash goldens (fingerprint_test.go:9-27)") {
    import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
    import org.apache.spark.unsafe.types.UTF8String
    def mapData(m: Map[String, String]) = ArrayBasedMapData(
      m.keys.map(UTF8String.fromString).toArray,
      m.values.map(UTF8String.fromString).toArray)
    val base = mapData(Map("key1" -> "value1", "key2" -> "value2"))
    val h1 = PromFingerprintKernel.compute(base, null, 0L).getLong(0)
    assert(java.lang.Long.toUnsignedString(h1) == "4672270062576455370")
    val h2 = PromFingerprintKernel.compute(base,
      mapData(Map("key3" -> "value3")), 0L).getLong(0)
    assert(java.lang.Long.toUnsignedString(h2) == "5425952980149109402")
  }

  test("gauge batch golden: labels/attrs/ts (exporter_test.go Test_prepareBatchGauge)") {
    val points = MetricsExporter.scalarPoints(
      dpFrame("system.memory.usage0", "Unspecified", "Gauge", monotonic = false,
        Map("gauge.attr_0" -> "1")))
    val ts = MetricsExporter.timeSeriesV4(points).collect().head
    assert(ts.getAs[String]("env") == "")
    assert(ts.getAs[String]("temporality") == "Unspecified")
    assert(ts.getAs[String]("metric_name") == "system.memory.usage0")
    assert(ts.getAs[String]("description") == "memory usage of the host")
    assert(ts.getAs[String]("unit") == "bytes")
    assert(ts.getAs[String]("metric_type") == "Gauge")
    assert(!ts.getAs[Boolean]("is_monotonic"))
    assert(ts.getAs[Long]("unix_milli") == (TS / 3600000L) * 3600000L)
    assert(ts.getAs[String]("labels") ==
      """{"__name__":"system.memory.usage0","__scope.name__":"go.signoz.io/app/reader","__scope.schema_url__":"scope.schema_url","__scope.version__":"1.0.0","__temporality__":"Unspecified","gauge.attr_0":"1","resource.attr_0":"value0","scope.attr_0":"value0"}""")
    assert(ts.getAs[Map[String, String]]("attrs") ==
      Map("__temporality__" -> "Unspecified", "gauge.attr_0" -> "1"))
    assert(ts.getAs[Map[String, String]]("scope_attrs") ==
      Map("__scope.name__" -> "go.signoz.io/app/reader",
        "__scope.schema_url__" -> "scope.schema_url",
        "__scope.version__" -> "1.0.0", "scope.attr_0" -> "value0"))
    assert(ts.getAs[Map[String, String]]("resource_attrs") ==
      Map("resource.attr_0" -> "value0"))

    val s = MetricsExporter.samplesV4(points).collect().head
    assert(s.getAs[Long]("unix_milli") == TS)
    assert(s.getAs[Double]("value") == 0.0)
  }

  test("sum batch golden labels (exporter_test.go Test_prepareBatchSum)") {
    val points = MetricsExporter.scalarPoints(
      dpFrame("system.cpu.time0", "Cumulative", "Sum", monotonic = true,
        Map("sum.attr_0" -> "1")))
    val ts = MetricsExporter.timeSeriesV4(points).collect().head
    assert(ts.getAs[String]("labels") ==
      """{"__name__":"system.cpu.time0","__scope.name__":"go.signoz.io/app/reader","__scope.schema_url__":"scope.schema_url","__scope.version__":"1.0.0","__temporality__":"Cumulative","resource.attr_0":"value0","scope.attr_0":"value0","sum.attr_0":"1"}""")
    assert(ts.getAs[Boolean]("is_monotonic"))
  }

  test("histogram flattening: five series, cumulative buckets, +Inf " +
      "(exporter_test.go Test_prepareBatchHistogram)") {
    val hist = graft.model.MetricFrames.withHistogramDefaults(
      dpFrame("http.server.duration0", "Cumulative", "Histogram", monotonic = true,
        Map("histogram.attr_0" -> "1"))
        .withColumn("count", lit(30L))
        .withColumn("sum_v", lit(35.0))
        .withColumn("min_v", lit(0.0)).withColumn("max_v", lit(12.0))
        .withColumn("has_sum", lit(true))
        .withColumn("has_min", lit(true)).withColumn("has_max", lit(true))
        // counts 1 everywhere; 5 at i=5, 12 at i=12 (the generator's shape)
        .withColumn("explicit_bounds",
          expr("transform(sequence(0, 19), i -> cast(i as double))"))
        .withColumn("bucket_counts",
          expr("transform(sequence(0, 19), i -> cast(if(i = 5, 5, if(i = 12, 12, 1)) as long))")))

    val series = MetricsExporter.histogramSeries(hist)
    val byName = series.groupBy("metric_name").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byName == Map(
      "http.server.duration0.count" -> 1L, "http.server.duration0.sum" -> 1L,
      "http.server.duration0.min" -> 1L, "http.server.duration0.max" -> 1L,
      "http.server.duration0.bucket" -> 21L))

    // cumulative bucket values: prefix sums, then the dp count at +Inf
    val buckets = series.filter(col("metric_name").endsWith(".bucket"))
      .select(element_at(col("__extras"), "le").as("le"), col("value"))
      .as[(String, Double)].collect().toMap
    assert(buckets("0") == 1.0)
    assert(buckets("5") == 10.0) // 1*5 + 5
    assert(buckets("12") == 28.0) // 17 + 12 - 1
    assert(buckets("+Inf") == 30.0)

    // min/max demoted to gauge semantics (exporter.go:541-551)
    val mins = series.filter(col("metric_name").endsWith(".min")).collect().head
    assert(mins.getAs[String]("temporality") == "Unspecified")
    assert(mins.getAs[String]("metric_type") == "Gauge")
    assert(!mins.getAs[Boolean]("is_monotonic"))
    // count is unit "1" Sum
    val cnt = series.filter(col("metric_name").endsWith(".count")).collect().head
    assert(cnt.getAs[String]("unit") == "1")
    assert(cnt.getAs[String]("metric_type") == "Sum")
    assert(cnt.getAs[Double]("value") == 30.0)
  }

  test("summary flattening: count/sum + quantile gauge rows (exporter.go:758-912)") {
    val summ = graft.model.MetricFrames.withSummaryDefaults(
      dpFrame("rpc.duration0", "Cumulative", "Summary", monotonic = true,
        Map("summary.attr_0" -> "1"))
        .withColumn("count", lit(10L)).withColumn("sum_v", lit(100.0))
        .withColumn("quantiles", expr(
          "array(named_struct('q', 0.5d, 'v', 7.0d), named_struct('q', 0.99d, 'v', 12.0d))")))
    val series = MetricsExporter.summarySeries(summ)
    val rows = series.select(col("metric_name"),
      element_at(col("__extras"), "quantile").as("q"), col("value"),
      col("temporality")).collect()
    assert(rows.length == 4)
    val quantiles = rows.filter(_.getString(0).endsWith(".quantile"))
    assert(quantiles.map(r => (r.getString(1), r.getDouble(2))).toSet ==
      Set(("0.5", 7.0), ("0.99", 12.0)))
    assert(quantiles.forall(_.getString(3) == "Unspecified"))
  }

  test("agg rollups: 5m/30m with flags exclusion (metrics_migrations.go:759-801)") {
    val points = MetricsExporter.scalarPoints(
      graft.model.MetricFrames.withDefaults(Seq(
        ("m", "Cumulative", "Sum", true, Map.empty[String, String], 1.0, 0L, 0),
        ("m", "Cumulative", "Sum", true, Map.empty[String, String], 5.0, 120000L, 0),
        ("m", "Cumulative", "Sum", true, Map.empty[String, String], 99.0, 240000L, 1), // flagged
        ("m", "Cumulative", "Sum", true, Map.empty[String, String], 9.0, 360000L, 0))
        .toDF("metric_name", "temporality", "metric_type", "is_monotonic",
          "attrs", "value", "unix_milli", "flags")))
    val samples = MetricsExporter.samplesV4(points)
    val agg5 = MetricsExporter.samplesAgg5m(samples).collect()
    assert(agg5.length == 2) // [0,300s) and [300s,600s)
    val first = agg5.find(_.getAs[Long]("unix_milli") == 0L).get
    assert(first.getAs[Double]("last") == 5.0)
    assert(first.getAs[Double]("sum") == 6.0)
    assert(first.getAs[Long]("count") == 2L)
    val agg30 = MetricsExporter.samplesAgg30m(MetricsExporter.samplesAgg5m(samples)).collect()
    assert(agg30.length == 1)
    assert(agg30.head.getAs[Double]("sum") == 15.0)
    assert(agg30.head.getAs[Long]("count") == 3L)
  }

  test("reduction: reduced fingerprint collapses series differing only in dropped keys " +
      "(fingerprint_test.go:60-110, rules.go)") {
    val mk = (podId: String) => graft.model.MetricFrames.withDefaults(Seq(
      ("http.requests", "Cumulative", "Sum", true,
        Map("pod.id" -> podId, "region" -> "us"), 1.0))
      .toDF("metric_name", "temporality", "metric_type", "is_monotonic", "attrs", "value")
      .withColumn("unix_milli", lit(TS)))
    val points = MetricsExporter.scalarPoints(mk("a").unionByName(mk("b")))
    val rules = Seq(ReductionRule("http.requests", Seq("pod.id"), keep = false,
      effectiveFromUnixMilli = 0L))
    val reduced = MetricsExporter.withReduction(points, rules)
    val fps = reduced.select("fingerprint", "reduced_fingerprint")
      .as[(Long, Long)].collect()
    assert(fps.map(_._1).distinct.length == 2) // raw series distinct
    assert(fps.map(_._2).distinct.length == 1) // reduced collapse
    assert(fps.forall(_._2 != 0L))

    // a rule in the future (effective_from > dp ts) leaves points unreduced
    val future = MetricsExporter.withReduction(points,
      Seq(ReductionRule("http.requests", Seq("pod.id"), keep = false, TS + 1)))
    assert(future.select("reduced_fingerprint").as[Long].collect().forall(_ == 0L))

    // keep mode keeps ONLY listed + protected labels
    val kept = MetricsExporter.withReduction(points,
      Seq(ReductionRule("http.requests", Seq("region"), keep = true, 0L)))
    val keptAttrs = kept.filter(col("reduced_fingerprint") =!= 0L)
      .select(col("__rpfp.attrs")).as[Map[String, String]].collect().head
    assert(keptAttrs == Map("region" -> "us", "__temporality__" -> "Cumulative"))

    // reduced catalog rows: one per group per hour with is_reduced = true
    val cat = MetricsExporter.reducedTsRows(reduced).collect()
    assert(cat.length == 1)
    assert(cat.head.getAs[Boolean]("is_reduced"))
    assert(cat.head.getAs[Long]("fingerprint") ==
      cat.head.getAs[Long]("reduced_fingerprint"))
  }

  test("reduced sum 60s: cumulative->delta with reset detection " +
      "(metrics_migrations.go:1578-1630)") {
    val dps = graft.model.MetricFrames.withDefaults(Seq(
      // series value: 10 -> 15 -> 3 (reset) -> 7; increments: _, 5, 3, 4
      ("c", "Cumulative", "Sum", true, Map("k" -> "v"), 10.0, 0L, 0),
      ("c", "Cumulative", "Sum", true, Map("k" -> "v"), 15.0, 15000L, 0),
      ("c", "Cumulative", "Sum", true, Map("k" -> "v"), 3.0, 30000L, 0),
      ("c", "Cumulative", "Sum", true, Map("k" -> "v"), 7.0, 75000L, 0))
      .toDF("metric_name", "temporality", "metric_type", "is_monotonic",
        "attrs", "value", "unix_milli", "flags"))
    val points = MetricsExporter.withReduction(MetricsExporter.scalarPoints(dps),
      Seq(ReductionRule("c", Seq("k"), keep = false, 0L)))
    val samples = MetricsExporter.samplesV4(points)
    val out = MetricsExporter.reducedSum60sCumulative(samples)
      .select("unix_milli", "sum", "count_samples").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    // bucket 0: increments 5 (15-10) + 3 (reset -> post-reset value) = 8, 2 samples
    // bucket 60000: 7-3 = 4, 1 sample; the first point yields no increment
    assert(out.toSeq == Seq((0L, 8.0, 2L), (60000L, 4.0, 1L)))
    assert(MetricsExporter.reducedSum60sCumulative(samples)
      .select("temporality").as[String].collect().forall(_ == "Delta"))
  }

  test("metadata rows: window widened per identity (batch.go:34-84)") {
    val points = MetricsExporter.scalarPoints(
      graft.model.MetricFrames.withDefaults(Seq(
        ("m", "Delta", "Sum", true, Map("k" -> "v"), 1.0, 1000L, 0),
        ("m", "Delta", "Sum", true, Map("k" -> "v"), 2.0, 9000L, 0))
        .toDF("metric_name", "temporality", "metric_type", "is_monotonic",
          "attrs", "value", "unix_milli", "flags")))
    val meta = MetricsExporter.metadata(points).collect()
    // point attrs = k + __temporality__
    assert(meta.length == 2)
    val k = meta.find(_.getAs[String]("attr_name") == "k").get
    assert(k.getAs[Long]("first_reported_unix_milli") == 1000L)
    assert(k.getAs[Long]("last_reported_unix_milli") == 9000L)
  }

  test("usage metering: collectUsageForSample gate, count-only billing " +
      "(exporter.go:1458-1468,1313)") {
    val samples = MetricsExporter.samplesV4(MetricsExporter.scalarPoints(
      graft.model.MetricFrames.withDefaults(Seq(
        ("mm", "Delta", "Sum", true, Map("k" -> "v"), 1.0, 1000L, 0),
        ("mm", "Delta", "Sum", true, Map("k" -> "v"), 2.0, 2000L, 0),
        ("mm", "Delta", "Sum", true, Map("k" -> "w"), 3.0, 3000L, 0),
        // internal prefixes are not billed
        ("signoz_calls_total", "Delta", "Sum", true, Map.empty[String, String], 1.0, 1000L, 0),
        ("chi_errors", "Delta", "Sum", true, Map.empty[String, String], 1.0, 1000L, 0),
        ("otelcol_queue", "Delta", "Sum", true, Map.empty[String, String], 1.0, 1000L, 0))
        .toDF("metric_name", "temporality", "metric_type", "is_monotonic",
          "attrs", "value", "unix_milli", "flags"))))
    val u = MetricsExporter.usage(samples).collect()
    assert(u.length == 1) // single default env tenant
    assert(u.head.getAs[Long]("n_points") == 3L) // internal metrics excluded
    assert(u.head.getAs[Long]("n_bytes") == 0L)  // metrics bill by count, size 0
  }
}
