package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql.{bytesSql, fieldBytesSql, fnvSignedSql}
import graft.Query.read
import graft.model.MetricFrames
import graft.ops.Par
import graft.pipeline.MetricsExporter
import graft.pipeline.MetricsExporter.ReductionRule

/** Driver-checked queries for the metrics exporter slice. The `events` table
  * is lifted into deterministic metric datapoints; the DuckDB oracles
  * replicate the FULL resource->scope->point FNV-1a fingerprint chain
  * (internal/common/fingerprint) in SQL, so `fingerprint` /
  * `reduced_fingerprint` values are verified bit-for-bit, not just row
  * counts.
  */
object MetricQueries {

  // round 6: `wide = true` widens the events read for compute-heavy lifts —
  // the single-row-group file plans as one task; the ~0.1 s repartition
  // only pays for itself on the heavier decode/series chains (measured per
  // query; no-op at production width — ops/Par.scala)
  /** Gauge datapoints: metric `events.value`, point attrs {event_type},
    * resource {service.name: svc-(user_id%4)}, scope all-empty. Values are
    * floored so cross-engine double summation stays exact.
    */
  private def eventsAsGauges(spark: SparkSession, dir: String,
      wide: Boolean = false): DataFrame = {
    val ev = read(spark, dir, "events")
    gaugesFrom(if (wide) Par.widen(ev, col("event_id")) else ev)
  }

  /** Deterministic CloudWatch metric-stream records from an events table
    * (one JSON datum per record): shared by q_firehose_metrics and the
    * scale-up bench's firehose decode row. Every 11th datum ships without a
    * unit -> dropped by the validity gate (to_json omits null fields).
    */
  private[graft] def firehoseRecordsFrom(ev: DataFrame): DataFrame =
    ev.select(to_json(struct(
      lit("ms").as("metric_stream_name"),
      (col("user_id") % 3).cast("string").as("account_id"),
      lit("us-east-1").as("region"),
      when(col("event_id") % 3 === 0, "AWS/EC2")
        .when(col("event_id") % 3 === 1, "AWS/Lambda")
        .otherwise("Custom").as("namespace"),
      concat(lit("M"), (col("event_id") % 2).cast("string")).as("metric_name"),
      map(lit("InstanceId"),
        concat(lit("i-"), (col("user_id") % 5).cast("string"))).as("dimensions"),
      expr("unix_micros(cast(ts as timestamp)) div 1000").as("timestamp"),
      struct(
        (floor(col("value")) + 2.0).cast("double").as("max"),
        lit(0.0).as("min"),
        floor(col("value")).cast("double").as("sum"),
        lit(3.0).as("count")).as("value"),
      when(col("event_id") % 11 =!= 0, lit("Count")).as("unit"))).as("record"))

  /** The gauge lift as a pure DataFrame->DataFrame so the scale-up bench can
    * apply it to a synthetic events table of the same shape.
    */
  private[graft] def gaugesFrom(ev: DataFrame): DataFrame = {
    MetricFrames.withDefaults(ev.select(
      col("event_id"),
      lit("events.value").as("metric_name"),
      lit("event gauge").as("description"),
      lit("1").as("unit"),
      lit("Gauge").as("metric_type"),
      lit("Unspecified").as("temporality"),
      lit(false).as("is_monotonic"),
      expr("unix_micros(cast(ts as timestamp)) div 1000").as("unix_milli"),
      floor(col("value")).cast("double").as("value"),
      map(lit("event_type"), col("event_type")).as("attrs"),
      map(lit("service.name"),
        concat(lit("svc-"), (col("user_id") % 4).cast("string"))).as("resource_attrs")))
  }

  /** Cumulative counter datapoints for the reduction/delta path: unique
    * per-series timestamps (unix_milli = event_id*1000 so window ordering is
    * total) and a value that rises and resets deterministically.
    */
  private def eventsAsCounters(spark: SparkSession, dir: String,
      wide: Boolean = false): DataFrame = {
    val ev0 = read(spark, dir, "events")
    val ev = if (wide) Par.widen(ev0, col("event_id")) else ev0
    MetricFrames.withDefaults(ev.select(
      lit("req.count").as("metric_name"),
      lit("Sum").as("metric_type"),
      lit("Cumulative").as("temporality"),
      lit(true).as("is_monotonic"),
      (col("event_id") * 1000L).as("unix_milli"),
      (col("event_id") % 1000).cast("double").as("value"),
      map(lit("event_type"), col("event_type")).as("attrs"),
      map(lit("service.name"),
        concat(lit("svc-"), (col("user_id") % 4).cast("string"))).as("resource_attrs")))
  }

  /** Histogram datapoints: bounds [10,100,1000], bucket counts derived from
    * event_id, count = total + an +Inf remainder.
    */
  private def eventsAsHistograms(spark: SparkSession, dir: String): DataFrame = {
    val ev = read(spark, dir, "events")
    MetricFrames.withHistogramDefaults(ev.select(
      col("event_id"),
      lit("http.duration").as("metric_name"),
      lit("Histogram").as("metric_type"),
      lit("Cumulative").as("temporality"),
      lit(true).as("is_monotonic"),
      lit("ms").as("unit"),
      expr("unix_micros(cast(ts as timestamp)) div 1000").as("unix_milli"),
      map(lit("event_type"), col("event_type")).as("attrs"),
      map(lit("service.name"),
        concat(lit("svc-"), (col("user_id") % 4).cast("string"))).as("resource_attrs"),
      (col("event_id") % 3 + col("event_id") % 5 + col("event_id") % 7 +
        col("event_id") % 2).cast("long").as("count"),
      floor(col("value")).cast("double").as("sum_v"),
      lit(0.0).as("min_v"),
      floor(col("value")).cast("double").as("max_v"),
      lit(true).as("has_sum"), lit(true).as("has_min"), lit(true).as("has_max"),
      array(lit(10.0), lit(100.0), lit(1000.0)).as("explicit_bounds"),
      array((col("event_id") % 3).cast("long"), (col("event_id") % 5).cast("long"),
        (col("event_id") % 7).cast("long")).as("bucket_counts")))
  }

  // ---- DuckDB FNV-1a chain helpers -----------------------------------

  /** Fold `byteList` into a running FNV-1a state (HUGEINT in [0, 2^64)). */
  private def fnvFold(start: String, byteList: String): String =
    s"""list_reduce(
       |  list_prepend(CAST($start AS HUGEINT), $byteList),
       |  (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
       |               * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))""".stripMargin

  private val fnvBasis = "CAST('14695981039346656037' AS HUGEINT)"

  /** uint64-bits -> signed BIGINT (what Spark's LongType carries). */
  private def signed(u: String): String =
    s"""(SELECT CAST(CAST(u_ AS HUGEINT)
       |  - CASE WHEN u_ >= CAST('9223372036854775808' AS UBIGINT)
       |         THEN CAST('18446744073709551616' AS HUGEINT) ELSE 0 END AS BIGINT)
       | FROM (SELECT CAST(($u) AS UBIGINT) AS u_))""".stripMargin

  /** The full chain for metric `name` with sorted point attrs `pointKv`,
    * resource {service.name: svcExpr}, empty scope with the three dunder
    * extras, ending in HashWithName (no trailing separator after the name).
    */
  private def chainSql(svcExpr: String, pointKv: Seq[String], name: String): String =
    chainSqlRes(Seq("'service.name'", svcExpr), pointKv, s"'$name'")

  /** The chain over ARBITRARY name-sorted resource kv pairs (the firehose
    * CloudWatch resource has 5-6 attrs) and an expression-valued metric
    * name.
    */
  private def chainSqlRes(resourceKv: Seq[String], pointKv: Seq[String],
      nameExpr: String): String = {
    val resource = fnvFold(fnvBasis, fieldBytesSql(resourceKv))
    val scope = fnvFold(s"($resource)", fieldBytesSql(Seq(
      "'__scope.name__'", "''", "'__scope.schema_url__'", "''",
      "'__scope.version__'", "''")))
    val point = fnvFold(s"($scope)", fieldBytesSql(pointKv))
    val withName = fnvFold(s"($point)",
      s"list_concat(list_concat(${bytesSql("'__name__'")}, [255]), ${bytesSql(nameExpr)})")
    signed(withName)
  }

  private val svcSql = "'svc-' || CAST(user_id % 4 AS VARCHAR)"

  /** The fingerprint of an `events.value` gauge series (eventsAsGauges). */
  private val gaugeFpSql = chainSql(svcSql,
    Seq("'__temporality__'", "'Unspecified'", "'event_type'", "event_type"),
    "events.value")

  val table: Seq[Query] = Seq(

    // samples_v4: the full fingerprint chain verified bit-for-bit per series
    Query("q_metrics_samples", (s, d) => {
      val points = MetricsExporter.scalarPoints(eventsAsGauges(s, d))
      MetricsExporter.samplesV4(points)
        .groupBy(col("env"), col("temporality"), col("metric_name"), col("fingerprint"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_value"))
    },
      s"""SELECT '' AS env, 'Unspecified' AS temporality,
         |       'events.value' AS metric_name,
         |       $gaugeFpSql AS fingerprint,
         |       n, sum_value
         |FROM (
         |  SELECT event_type, user_id % 4 AS user_id, count(*) AS n,
         |         CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_value
         |  FROM events GROUP BY 1, 2)""".stripMargin),

    // time_series_v4: labels JSON + hour flooring + per-hour dedup
    Query("q_metrics_timeseries", (s, d) => {
      val points = MetricsExporter.scalarPoints(eventsAsGauges(s, d, wide = true))
      MetricsExporter.timeSeriesV4(points)
        .select(col("metric_name"), col("fingerprint"), col("unix_milli"),
          col("labels"))
    },
      s"""SELECT 'events.value' AS metric_name,
         |       $gaugeFpSql AS fingerprint,
         |       h AS unix_milli,
         |       '{"__name__":"events.value","__scope.name__":"","__scope.schema_url__":"",'
         |       || '"__scope.version__":"","__temporality__":"Unspecified",'
         |       || '"event_type":"' || event_type || '","service.name":"svc-'
         |       || CAST(user_id % 4 AS VARCHAR) || '"}' AS labels
         |FROM (
         |  SELECT DISTINCT event_type, user_id % 4 AS user_id,
         |         (CAST(epoch_ms(ts) AS BIGINT) // 3600000) * 3600000 AS h
         |  FROM events)""".stripMargin),

    // histogram flattening: derived series counts and bucket values per dp
    Query("q_metrics_hist", (s, d) => {
      MetricsExporter.histogramSeries(eventsAsHistograms(s, d))
        .select(col("event_id"), col("metric_name"),
          coalesce(element_at(col("__extras"), "le"), lit("")).as("le"),
          col("value"))
    },
      """WITH e AS (
        |  SELECT event_id,
        |         event_id % 3 AS c1, event_id % 5 AS c2, event_id % 7 AS c3,
        |         event_id % 3 + event_id % 5 + event_id % 7 + event_id % 2 AS total,
        |         floor(value) AS fv
        |  FROM events)
        |SELECT event_id, 'http.duration.count' AS metric_name, '' AS le,
        |       CAST(total AS DOUBLE) AS value FROM e
        |UNION ALL SELECT event_id, 'http.duration.sum', '', fv FROM e
        |UNION ALL SELECT event_id, 'http.duration.min', '', 0.0 FROM e
        |UNION ALL SELECT event_id, 'http.duration.max', '', fv FROM e
        |UNION ALL SELECT event_id, 'http.duration.bucket', '10',
        |       CAST(c1 AS DOUBLE) FROM e
        |UNION ALL SELECT event_id, 'http.duration.bucket', '100',
        |       CAST(c1 + c2 AS DOUBLE) FROM e
        |UNION ALL SELECT event_id, 'http.duration.bucket', '1000',
        |       CAST(c1 + c2 + c3 AS DOUBLE) FROM e
        |UNION ALL SELECT event_id, 'http.duration.bucket', '+Inf',
        |       CAST(total AS DOUBLE) FROM e""".stripMargin),

    // samples_v4_agg_5m rollup (minus the order-nondeterministic anyLast)
    Query("q_metrics_agg5m", (s, d) => {
      val samples = MetricsExporter.samplesV4(
        MetricsExporter.scalarPoints(eventsAsGauges(s, d)))
      MetricsExporter.samplesAgg5m(samples)
        .select(col("temporality"), col("metric_name"), col("fingerprint"),
          col("unix_milli"), col("min"), col("max"),
          col("sum").cast("long").as("sum_long"), col("count"))
    },
      s"""SELECT 'Unspecified' AS temporality, 'events.value' AS metric_name,
         |       $gaugeFpSql AS fingerprint,
         |       b AS unix_milli, mn AS min, mx AS max, sum_long, cnt AS count
         |FROM (
         |  SELECT event_type, user_id % 4 AS user_id,
         |         (CAST(epoch_ms(ts) AS BIGINT) // 300000) * 300000 AS b,
         |         min(floor(value)) AS mn, max(floor(value)) AS mx,
         |         CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_long,
         |         count(*) AS cnt
         |  FROM events GROUP BY 1, 2, 3)""".stripMargin),

    // reduction: reduced fingerprint collapse (drop event_type -> per-service
    // groups), catalog row per group per hour
    Query("q_metrics_reduced", (s, d) => {
      val points = MetricsExporter.withReduction(
        MetricsExporter.scalarPoints(eventsAsGauges(s, d, wide = true)),
        Seq(ReductionRule("events.value", Seq("event_type"), keep = false, 0L)))
      points.groupBy(col("metric_name"), col("reduced_fingerprint"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("fingerprint")).as("raw_series"))
    }, {
      // rule drops event_type -> reduced point attrs = {__temporality__}
      val rfp = chainSql(svcSql, Seq("'__temporality__'", "'Unspecified'"),
        "events.value")
      s"""SELECT 'events.value' AS metric_name,
         |       $rfp AS reduced_fingerprint,
         |       n, raw_series
         |FROM (
         |  SELECT user_id % 4 AS user_id, count(*) AS n,
         |         count(DISTINCT event_type) AS raw_series
         |  FROM events GROUP BY 1)""".stripMargin
    }),

    // signozclickhousemeter samples: gauge+sum-only gate, gauge identity
    // normalization, full identity columns incl. labels + fingerprint
    Query("q_metrics_meter", (s, d) => {
      val dps = eventsAsGauges(s, d)
        .unionByName(eventsAsCounters(s, d), allowMissingColumns = true)
      graft.pipeline.MeterExporter.samples(dps)
        .groupBy(col("temporality"), col("metric_name"), col("description"),
          col("unit"), col("type"), col("is_monotonic"),
          col("fingerprint"), col("labels"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_value"))
    }, {
      val cfp = chainSql(svcSql,
        Seq("'__temporality__'", "'Cumulative'", "'event_type'", "event_type"),
        "req.count")
      // single-line on purpose: this nests inside an outer .stripMargin,
      // which would eat the first '|' of a line-leading '||'
      def labels(name: String, temporality: String): String =
        s"""'{"__name__":"$name","__scope.name__":"","__scope.schema_url__":"","__scope.version__":"","__temporality__":"$temporality","event_type":"' || event_type || '","service.name":"svc-' || CAST(user_id AS VARCHAR) || '"}'"""
      s"""SELECT 'Unspecified' AS temporality, 'events.value' AS metric_name,
         |       'event gauge' AS description, '1' AS unit, 'Gauge' AS type,
         |       false AS is_monotonic, $gaugeFpSql AS fingerprint,
         |       ${labels("events.value", "Unspecified")} AS labels,
         |       n, sum_value
         |FROM (
         |  SELECT event_type, user_id % 4 AS user_id, count(*) AS n,
         |         CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_value
         |  FROM events GROUP BY 1, 2)
         |UNION ALL
         |SELECT 'Cumulative', 'req.count', '', '', 'Sum', true,
         |       $cfp,
         |       ${labels("req.count", "Cumulative")},
         |       n, sum_value
         |FROM (
         |  SELECT event_type, user_id % 4 AS user_id, count(*) AS n,
         |         CAST(SUM(event_id % 1000) AS BIGINT) AS sum_value
         |  FROM events GROUP BY 1, 2)""".stripMargin
    }),

    // metadataexporter METRICS context (exporter.go:758-856): per-datapoint
    // attr metadata rows over every family's flattened datapoint, resource
    // unfiltered, flat FNV pair (SURVEY §2.5 / round-4 missing #2)
    Query("q_metric_attr_metadata", (s, d) => {
      graft.pipeline.Metadata.metricAttributesMetadata(eventsAsGauges(s, d))
        .select(col("rounded_unix_milli"), col("data_source"),
          col("resource_fingerprint"), col("attr_fingerprint"),
          element_at(col("attrs"), "event_type").as("event_type"),
          element_at(col("resource_attrs"), "service.name").as("service_name"))
    }, {
      val attrFp = fnvSignedSql(Seq("'event_type'", "event_type"))
      val resFp = fnvSignedSql(Seq(
        "'service.name'", "'svc-' || CAST(user_id % 4 AS VARCHAR)"))
      s"""SELECT DISTINCT
         |  (epoch_ms(ts) // 21600000) * 21600000 AS rounded_unix_milli,
         |  'metrics' AS data_source,
         |  $resFp AS resource_fingerprint,
         |  $attrFp AS attr_fingerprint,
         |  event_type,
         |  'svc-' || CAST(user_id % 4 AS VARCHAR) AS service_name
         |FROM events""".stripMargin
    }),

    // firehose cwmetrics records (built deterministically from events,
    // decoded by FirehoseMetrics.fromFirehoseCwMetrics) driving samplesV4:
    // the decode -> fingerprint-chain -> samples path end-to-end, with the
    // full 6-attr CloudWatch resource + the semconv-mapped dimension
    Query("q_firehose_metrics", (s, d) => {
      // round 6: the events scan is one row group -> one task; the
      // json-encode + firehose-decode chain is compute-bound per row, so
      // widen the narrow scan (no-op on a production-wide source)
      val frames = graft.sources.FirehoseMetrics.fromFirehoseCwMetrics(
        firehoseRecordsFrom(Par.widen(read(s, d, "events"), col("event_id"))), col("record"))
      MetricsExporter.samplesV4(MetricsExporter.scalarPoints(frames))
        .groupBy(col("env"), col("temporality"), col("metric_name"),
          col("fingerprint"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_value"))
    }, {
      val awsRes = Seq(
        "'aws.cloudwatch.metric_stream_name'", "'ms'",
        "'cloud.account.id'", "acct",
        "'cloud.provider'", "'aws'",
        "'cloud.region'", "'us-east-1'",
        "'service.name'", "svc",
        "'service.namespace'", "'AWS'")
      val customRes = awsRes.dropRight(2)
      val pointKv = Seq("'__temporality__'", "'Unspecified'",
        "'service.instance.id'", "inst")
      val name = "'aws_' || svc || '_' || mname || '_' || stat"
      val fpAws = chainSqlRes(awsRes, pointKv, name)
      val fpCustom = chainSqlRes(customRes, pointKv, name)
      s"""WITH d AS (
         |  SELECT DISTINCT
         |    CAST(user_id % 3 AS VARCHAR) AS acct,
         |    'i-' || CAST(user_id % 5 AS VARCHAR) AS inst,
         |    CASE WHEN event_id % 3 = 0 THEN 'EC2'
         |         WHEN event_id % 3 = 1 THEN 'Lambda' ELSE 'Custom' END AS svc,
         |    CASE WHEN event_id % 3 = 2 THEN 0 ELSE 1 END AS is_aws,
         |    'M' || CAST(event_id % 2 AS VARCHAR) AS mname,
         |    CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
         |    floor(value) AS fv
         |  FROM events WHERE event_id % 11 <> 0),
         |s AS (
         |  SELECT d.*, st.stat,
         |    CASE st.stat WHEN 'sum' THEN fv WHEN 'count' THEN 3.0
         |                 WHEN 'min' THEN 0.0 ELSE fv + 2.0 END AS value
         |  FROM d CROSS JOIN (VALUES ('sum'), ('count'), ('min'), ('max'))
         |       AS st(stat))
         |SELECT '' AS env, 'Unspecified' AS temporality,
         |       'aws_' || svc || '_' || mname || '_' || stat AS metric_name,
         |       CASE WHEN is_aws = 1 THEN $fpAws ELSE $fpCustom END
         |         AS fingerprint,
         |       n, sum_value
         |FROM (
         |  SELECT acct, inst, svc, is_aws, mname, stat, count(*) AS n,
         |         CAST(SUM(CAST(value AS BIGINT)) AS BIGINT) AS sum_value
         |  FROM s GROUP BY 1, 2, 3, 4, 5, 6)""".stripMargin
    }),

    // signoztransformprocessor metric_statements end-to-end: a datapoint
    // set + convert_gauge_to_sum rewrite the gauge frame, the extract
    // family appends Sum rows from a summary frame (SURVEY §2.12,
    // internal/metrics/func_*.go)
    Query("q_metric_transform", (s, d) => {
      val ev = read(s, d, "events")
      val gauges = gaugesFrom(ev)
      val summaries = MetricFrames.withSummaryDefaults(ev.select(
        lit("rpc.latency").as("metric_name"),
        lit("Summary").as("metric_type"),
        lit("Unspecified").as("temporality"),
        expr("unix_micros(cast(ts as timestamp)) div 1000").as("unix_milli"),
        (col("event_id") % 7).cast("long").as("count"),
        floor(col("value") * 4).cast("double").as("sum_v"),
        map(lit("event_type"), col("event_type")).as("attrs"),
        map(lit("service.name"),
          concat(lit("svc-"), (col("user_id") % 4).cast("string"))).as("resource_attrs")))
      val frames = graft.sources.OtlpMetricFrames(
        scalars = gauges,
        histograms = MetricFrames.withHistogramDefaults(gauges.limit(0)),
        summaries = summaries,
        expHistograms = MetricFrames.withExpHistDefaults(gauges.limit(0)))
      val out = graft.pipeline.MetricTransforms.applyMetricStatements(frames, Seq(
        "datapoint" -> Seq(
          "set(metric.name, \"events.renamed\") where attributes[\"event_type\"] == \"error\"",
          "convert_gauge_to_sum(\"cumulative\", true)",
          "extract_count_metric(true)",
          "extract_sum_metric(false)")))
      out.scalars.groupBy(
        col("metric_name"), col("metric_type"), col("temporality"),
        col("is_monotonic"),
        col("attrs").getItem("event_type").as("event_type"),
        col("resource_attrs").getItem("service.name").as("service_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("long")).as("sum_value"))
    },
      s"""SELECT metric_name, metric_type, temporality, is_monotonic,
         |  event_type, service_name,
         |  count(*) AS n, CAST(sum(CAST(value AS BIGINT)) AS BIGINT) AS sum_value
         |FROM (
         |  SELECT
         |    CASE WHEN event_type = 'error' THEN 'events.renamed'
         |         ELSE 'events.value' END AS metric_name,
         |    'Sum' AS metric_type, 'Cumulative' AS temporality,
         |    true AS is_monotonic, event_type,
         |    'svc-' || CAST(user_id % 4 AS VARCHAR) AS service_name,
         |    floor(value) AS value
         |  FROM events
         |  UNION ALL
         |  -- the datapoint `set` applies to EVERY family, so the summary
         |  -- metric is renamed too before the extracts suffix it
         |  SELECT (CASE WHEN event_type = 'error' THEN 'events.renamed'
         |          ELSE 'rpc.latency' END) || '_count',
         |    'Sum', 'Cumulative', true, event_type,
         |    'svc-' || CAST(user_id % 4 AS VARCHAR),
         |    CAST(event_id % 7 AS DOUBLE)
         |  FROM events
         |  UNION ALL
         |  SELECT (CASE WHEN event_type = 'error' THEN 'events.renamed'
         |          ELSE 'rpc.latency' END) || '_sum',
         |    'Sum', 'Cumulative', false, event_type,
         |    'svc-' || CAST(user_id % 4 AS VARCHAR),
         |    floor(value * 4)
         |  FROM events
         |) GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin),

    // reduced 60s cumulative->delta with reset detection
    Query("q_metrics_reduced60", (s, d) => {
      val points = MetricsExporter.withReduction(
        MetricsExporter.scalarPoints(eventsAsCounters(s, d, wide = true)),
        Seq(ReductionRule("req.count", Seq("event_type"), keep = false, 0L)))
      MetricsExporter.reducedSum60sCumulative(MetricsExporter.samplesV4(points))
        .select(col("metric_name"), col("reduced_fingerprint"),
          col("unix_milli"), col("sum").cast("long").as("sum_long"),
          col("count_series"), col("count_samples"))
    }, {
      val rfp = chainSql(svcSql, Seq("'__temporality__'", "'Cumulative'"),
        "req.count")
      s"""WITH pts AS (
         |  SELECT event_type, user_id % 4 AS user_id,
         |         event_id * 1000 AS um,
         |         CAST(event_id % 1000 AS DOUBLE) AS value
         |  FROM events),
         |inc AS (
         |  SELECT event_type, user_id, um, value,
         |         CASE WHEN row_number() OVER w = 1 THEN NULL
         |              WHEN value < lag(value) OVER w THEN value
         |              ELSE value - lag(value) OVER w END AS increment
         |  FROM pts WINDOW w AS (PARTITION BY event_type, user_id ORDER BY um)),
         |per_series AS (
         |  SELECT event_type, user_id, (um // 60000) * 60000 AS b,
         |         SUM(increment) AS inc_sum, count(*) AS nv
         |  FROM inc WHERE increment IS NOT NULL GROUP BY 1, 2, 3)
         |SELECT 'req.count' AS metric_name,
         |       $rfp AS reduced_fingerprint,
         |       b AS unix_milli,
         |       CAST(SUM(inc_sum) AS BIGINT) AS sum_long,
         |       count(*) AS count_series,
         |       CAST(SUM(nv) AS BIGINT) AS count_samples
         |FROM per_series GROUP BY user_id, b""".stripMargin
    })
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Query.byName(table)(_.build)
}
