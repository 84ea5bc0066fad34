package graft

import graft.sources.PdataGen

/** Ports of the reference's pdatagen generator semantics
  * (`pkg/pdatagen/{plogsgen,ptracesgen,pmetricsgen}`), including the
  * benchmark workload shape the exporter benchmark drives.
  */
class PdataGenSpec extends SparkSuite {

  test("plogsgen defaults: 1 record, fixed body, resource.<i> attrs " +
      "(logs.go:11-41)") {
    val df = PdataGen.logs(spark, 1)
    val r = df.collect().head
    assert(df.count() == 1)
    assert(r.getAs[String]("body") == "This is a test log record")
    assert(r.getAs[Map[String, String]]("resources_string") ==
      Map("resource.0" -> "resource"))
    assert(r.getAs[Long]("timestamp") == r.getAs[Long]("observed_timestamp"))
    // the exporter benchmark workload shape (exporter_benchmark_test.go:78)
    assert(PdataGen.logs(spark, 100000).count() == 100000L)
    assert(PdataGen.logs(spark, 10, resourceAttributeCount = 3,
      resourceAttributeStringValue = "v").collect().head
      .getAs[Map[String, String]]("resources_string") ==
      Map("resource.0" -> "v", "resource.1" -> "v", "resource.2" -> "v"))
  }

  test("ptracesgen: span.<i> names, ASCII-truncated ids, typed attrs, events " +
      "(traces.go:12-76)") {
    val df = PdataGen.traces(spark, 2, eventCount = 2,
      attributes = Map("s" -> "x", "d" -> 2.5, "b" -> true, "n" -> 7))
    val rows = df.orderBy("name").collect()
    assert(rows.map(_.getAs[String]("name")).toSeq == Seq("span.0", "span.1"))
    // []byte("5B8EFFF798038103D269B633813FC60C") -> [16]byte keeps the first
    // 16 ASCII bytes; hex of '5','B','8','E',... = 3542 3845 ...
    assert(rows.head.getAs[String]("trace_id") ==
      "35423845464646373938303338313033")
    assert(rows.head.getAs[String]("span_id") == "4545453139423745")
    assert(rows.head.getAs[String]("parent_span_id") == rows.head.getAs[String]("span_id"))
    assert(rows.head.getAs[Int]("kind") == 3)
    assert(rows.head.getAs[Map[String, String]]("attributes_string") == Map("s" -> "x"))
    assert(rows.head.getAs[Map[String, Double]]("attributes_number") ==
      Map("d" -> 2.5, "n" -> 7.0))
    assert(rows.head.getAs[Map[String, Boolean]]("attributes_bool") == Map("b" -> true))
    val evs = rows.head.getSeq[org.apache.spark.sql.Row](rows.head.fieldIndex("events"))
    assert(evs.map(_.getAs[String]("name")) == Seq("event.0", "event.1"))
  }

  test("pmetricsgen gauge/sum: value=metric index, NaN/noRecorded segments, " +
      "per-segment ts restart, even/odd temporality, i%3 monotonic (data.go)") {
    val frames = PdataGen.metrics(spark, PdataGen.Count(
      gaugeMetrics = 2, gaugeDataPoints = 4, gaugeNan = 1, gaugeNoRecorded = 1,
      gaugePointAttrs = 2,
      sumMetrics = 4, sumDataPoints = 2))
    val scalars = frames.scalars.collect()
    assert(scalars.length == 2 * 4 + 4 * 2)
    val gauges = scalars.filter(_.getAs[String]("metric_type") == "Gauge")
    assert(gauges.map(_.getAs[String]("metric_name")).toSet ==
      Set("system.memory.usage0", "system.memory.usage1"))
    val g0 = gauges.filter(_.getAs[String]("metric_name") == "system.memory.usage0")
    // 2 valid (value 0), 1 noRecorded (flags 1), 1 NaN
    assert(g0.count(r => r.getAs[Double]("value") == 0.0 && r.getAs[Int]("flags") == 0) == 2)
    assert(g0.count(_.getAs[Int]("flags") == 1) == 1)
    assert(g0.count(r => r.getAs[Double]("value").isNaN) == 1)
    // per-segment j restart: valid segment ts offsets {0,1}, noRec {0}, NaN {0}
    assert(g0.map(_.getAs[Long]("unix_milli")).sorted.toSeq ==
      Seq(1727286182000L, 1727286182000L, 1727286182000L, 1727286183000L))
    assert(g0.head.getAs[Map[String, String]]("attrs") ==
      Map("gauge.attr_0" -> "1", "gauge.attr_1" -> "1"))
    assert(g0.head.getAs[Map[String, String]]("resource_attrs") ==
      Map("resource.attr_0" -> "resource0"))
    assert(g0.head.getAs[Map[String, String]]("scope_attrs") ==
      Map("scope.attr_0" -> "scope0"))
    assert(g0.head.getAs[String]("scope_name") == "go.signoz.io/app/reader")
    val sums = scalars.filter(_.getAs[String]("metric_type") == "Sum")
    def sumMeta(i: Int) = sums.find(
      _.getAs[String]("metric_name") == s"system.cpu.time$i").get
    assert(sumMeta(0).getAs[String]("temporality") == "Cumulative")
    assert(sumMeta(1).getAs[String]("temporality") == "Delta")
    assert(sumMeta(0).getAs[Boolean]("is_monotonic"))
    assert(!sumMeta(1).getAs[Boolean]("is_monotonic"))
    assert(sumMeta(3).getAs[Boolean]("is_monotonic") == (3 % 3 == 0))
    assert(sumMeta(2).getAs[Double]("value") == 2.0) // value = metric index
  }

  test("pmetricsgen hist/expHist/summary shapes (data.go fixed patterns)") {
    val frames = PdataGen.metrics(spark, PdataGen.Count(
      histMetrics = 2, histDataPoints = 2, histNan = 1,
      expHistMetrics = 1, expHistDataPoints = 1, expHistBuckets = 24,
      summaryMetrics = 1, summaryDataPoints = 3, summaryQuantiles = 2))
    val h = frames.histograms.collect()
    assert(h.length == 4)
    val h0 = h.filter(_.getAs[String]("metric_name") == "http.server.duration0")
    assert(h0.forall(r => r.getAs[Long]("count") == 30L && r.getAs[Double]("sum_v") == 35.0))
    assert(h0.forall(r => r.getSeq[Double](r.fieldIndex("explicit_bounds")) ==
      (0 until 20).map(_.toDouble)))
    assert(h0.forall(r => r.getSeq[Long](r.fieldIndex("bucket_counts")) ==
      Seq[Long](1, 1, 1, 1, 1, 5, 1, 1, 1, 1, 1, 1, 12, 1, 1, 1, 1, 1, 1, 1)))
    assert(h0.count(_.getAs[Double]("min_v").isNaN) == 1) // the NaN datapoint
    assert(h.exists(_.getAs[String]("temporality") == "Delta")) // odd metric
    val e = frames.expHistograms.collect()
    assert(e.length == 1)
    val eb = e.head.getSeq[Long](e.head.fieldIndex("positive_counts"))
    assert(eb.length == 24 && eb.take(22) ==
      Seq[Long](0, 0, 0, 1, 0, 0, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 11, 1, 1, 1, 1, 10)
      && eb.drop(22) == Seq(0L, 0L))
    assert(e.head.getAs[Int]("scale") == 2 && e.head.getAs[Int]("positive_offset") == 1)
    val s = frames.summaries.orderBy("count").collect()
    assert(s.length == 3)
    assert(s.map(_.getAs[Long]("count")).toSeq == Seq(0L, 1L, 2L))
    val q = s(2).getSeq[org.apache.spark.sql.Row](s(2).fieldIndex("quantiles"))
    assert(q.map(r => (r.getDouble(0), r.getDouble(1))) ==
      Seq((0.0, 2.0), (0.5, 3.0))) // q/nq, value j+q at j=2
  }

  test("generated frames feed the exporters end-to-end") {
    import graft.pipeline.{Exporter, MetricsExporter}
    // the reference's benchmark workload through the logs exporter shaping
    val logs = Exporter.logsV2(PdataGen.logs(spark, 1000))
    assert(logs.count() == 1000L)
    // and the full 5-way fan-out from the shaped batch (the scaleup row's
    // exact shape): identical records -> 1 resource row, 0 tag rows (the
    // constant resource.0 key is resource-typed), 1 resource key
    val sinks = Exporter.fanOutFrom(logs)
    assert(sinks("logs_v2").count() == 1000L)
    assert(sinks("logs_v2_resource").count() == 1L)
    assert(sinks("logs_resource_keys").count() >= 1L)
    assert(sinks.size == 5 && sinks.values.forall(_.count() >= 0L))
    val frames = PdataGen.metrics(spark, PdataGen.Count(
      gaugeMetrics = 3, gaugeDataPoints = 5))
    val samples = MetricsExporter.samplesV4(
      MetricsExporter.scalarPoints(frames.scalars))
    assert(samples.count() == 15L)
  }
}
