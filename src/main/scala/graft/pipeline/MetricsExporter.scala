package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Fingerprint, GoFormatFloat, PrefixSums, PromFingerprint,
  PromFingerprintReduced, PromHashWithName, PromLabelsJson}
import graft.model.LogSchema

/** The metrics exporter slice (`exporter/signozclickhousemetrics`): flattened
  * OTLP metric datapoint frames -> the `signoz_metrics` landing tables plus
  * the derived tables the reference builds with ClickHouse materialized
  * views, expressed as the Spark aggregations they are.
  *
  *  - the resource -> scope -> point FNV-1a fingerprint chain with dunder
  *    extras ([[graft.functions.PromFingerprint]];
  *    internal/common/fingerprint/fingerprint.go:23-51, exporter.go:1110-1125)
  *  - `samples_v4` / `time_series_v4` shaping (exporter.go:343-505; ts rows
  *    hour-floored and deduped per (fingerprint, hour) — the ttlcache
  *    becomes dropDuplicates, exporter.go:1199-1214)
  *  - histogram flattening to `.count/.sum/.min/.max/.bucket` derived series
  *    with cumulative `le` buckets + `+Inf` (exporter.go:508-722)
  *  - summary flattening to `.count/.sum/.quantile` (exporter.go:758-912)
  *  - `samples_v4_agg_5m` / `_agg_30m` pre-aggregates
  *    (metrics_migrations.go:759-801); ClickHouse `anyLast` is order-
  *    nondeterministic, our analogue is the deterministic `max_by(unix_milli)`
  *  - `metadata` rows: one per (metric identity, attribute entry), window-
  *    widened per batch (batch.go:34-84)
  *  - cardinality reduction (rules.go): per-metric label drop/keep rules
  *    gated on the DATAPOINT timestamp, reduced fingerprints re-chained over
  *    surviving labels, reduced-series catalog rows, and the refreshable
  *    60 s aggregate views incl. cumulative->delta conversion with reset
  *    detection (metrics_migrations.go:1578-1630)
  *
  * Input frames are pre-flattened datapoints (one row per point), attrs as
  * MAP<STRING,STRING> (values already `pcommon.Value.AsString`-rendered —
  * the fingerprint/labels layer only ever sees strings).
  */
object MetricsExporter {

  /** A compiled reduction rule (rules.go:28-55). `keep=false` drops the
    * listed keys, `keep=true` keeps only them (+ protected labels).
    */
  final case class ReductionRule(metricName: String, keys: Seq[String],
      keep: Boolean, effectiveFromUnixMilli: Long)

  private val emptySS = map().cast(LogSchema.mapSS)

  private def scopeExtras: Column = map(
    lit("__scope.name__"), coalesce(col("scope_name"), lit("")),
    lit("__scope.version__"), coalesce(col("scope_version"), lit("")),
    lit("__scope.schema_url__"), coalesce(col("scope_schema_url"), lit("")))

  /** env + the resource/scope fingerprint structs (exporter.go:1110-1125). */
  private def identify(dps: DataFrame): DataFrame = dps
    .withColumn("env",
      coalesce(col("resource_attrs").getItem("deployment.environment"), lit("")))
    .withColumn("__rfp", PromFingerprint(col("resource_attrs"), emptySS,
      lit(Fingerprint.offset64Public)))
    .withColumn("__sfp", PromFingerprint(col("scope_attrs"), scopeExtras,
      col("__rfp.hash")))

  /** Point fingerprint + series identity for a frame that already carries
    * `__extras` (the per-series dunder/le/quantile extras map).
    */
  private def finish(withExtras: DataFrame): DataFrame = withExtras
    .withColumn("__pfp", PromFingerprint(col("attrs"), col("__extras"), col("__sfp.hash")))
    .withColumn("fingerprint", PromHashWithName(col("__pfp.hash"), col("metric_name")))
    .withColumn("labels", PromLabelsJson(col("metric_name"),
      col("__pfp.attrs"), col("__sfp.attrs"), col("__rfp.attrs")))

  /** Gauge/Sum datapoints -> identified points (processGauge/processSum;
    * NaN values dropped, exporter.go:375,458).
    */
  def scalarPoints(dps: DataFrame): DataFrame =
    finish(identify(dps)
      .filter(!isnan(col("value")))
      .withColumn("__extras", map(lit("__temporality__"), col("temporality"))))

  /** Histogram datapoints -> the five derived series (exporter.go:508-722).
    * Input carries count/sum_v/min_v/max_v + has_* + explicit_bounds +
    * bucket_counts. A dp with NaN sum/min/max is dropped whole
    * (exporter.go:707-710).
    */
  def histogramSeries(hists: DataFrame): DataFrame = {
    val base = identify(hists)
      .filter(!isnan(coalesce(col("sum_v"), lit(0.0))) &&
        !isnan(coalesce(col("min_v"), lit(0.0))) &&
        !isnan(coalesce(col("max_v"), lit(0.0))))

    def derived(suffix: String, gate: Column, value: Column, typ: String,
        temporality: Column, monotonic: Column, unit: Column): DataFrame =
      base.filter(gate)
        .withColumn("metric_name", concat(col("metric_name"), lit(suffix)))
        .withColumn("value", value)
        .withColumn("metric_type", lit(typ))
        .withColumn("temporality", temporality)
        .withColumn("is_monotonic", monotonic)
        .withColumn("unit", unit)
        .withColumn("__extras", map(lit("__temporality__"), temporality))

    val cnt = derived(".count", lit(true), col("count").cast("double"),
      "Sum", col("temporality"), lit(true), lit("1"))
    val sum = derived(".sum", col("has_sum"), col("sum_v"),
      "Sum", col("temporality"), lit(true), col("unit"))
    // min/max have gauge semantics, not counters (exporter.go:541-551)
    val mn = derived(".min", col("has_min"), col("min_v"),
      "Gauge", lit("Unspecified"), lit(false), col("unit"))
    val mx = derived(".max", col("has_max"), col("max_v"),
      "Gauge", lit("Unspecified"), lit(false), col("unit"))

    // bucket rows: cumulative counts per bound (exporter.go:594-649), le
    // rendered with Go FormatFloat(f, 'f', -1, 64), GoFloat.fixed (SURVEY
    // row 335); +Inf carries the dp count. arrays_zip
    // pads to the longest array — the null filter reproduces the reference's
    // min(len(bounds), len(counts)) loop bound.
    val buckets = base
      .withColumn("metric_name", concat(col("metric_name"), lit(".bucket")))
      .withColumn("__z", explode(arrays_zip(
        col("explicit_bounds").as("bound"),
        PrefixSums(col("bucket_counts")).as("cum"))))
      .filter(col("__z.bound").isNotNull && col("__z.cum").isNotNull)
      .withColumn("value", col("__z.cum"))
      .withColumn("__extras", map(
        lit("le"), GoFormatFloat(col("__z.bound")),
        lit("__temporality__"), col("temporality")))
      .drop("__z")
    val inf = base
      .withColumn("metric_name", concat(col("metric_name"), lit(".bucket")))
      .withColumn("value", col("count").cast("double"))
      .withColumn("__extras", map(
        lit("le"), lit("+Inf"),
        lit("__temporality__"), col("temporality")))

    val cols = cnt.columns.map(col).toSeq
    Seq(sum, mn, mx, buckets.select(cols: _*), inf.select(cols: _*))
      .foldLeft(cnt)((a, b) => a.unionByName(b.select(cols: _*)))
      .transform(finish)
  }

  /** Summary datapoints -> `.count/.sum/.quantile` (exporter.go:758-912):
    * summaries are Cumulative/monotonic; quantile rows have gauge semantics
    * (Unspecified/non-monotonic) and a `quantile` label. Input carries
    * count/sum_v + quantiles array<struct<q,v>>. A dp with NaN sum is
    * dropped whole; NaN quantile values are dropped per-entry.
    */
  def summarySeries(summaries: DataFrame): DataFrame = {
    val base = identify(summaries)
      .filter(!isnan(coalesce(col("sum_v"), lit(0.0))))
      .withColumn("temporality", lit("Cumulative"))

    def derived(suffix: String, value: Column, typ: String, unit: Column): DataFrame =
      base
        .withColumn("metric_name", concat(col("metric_name"), lit(suffix)))
        .withColumn("value", value)
        .withColumn("metric_type", lit(typ))
        .withColumn("is_monotonic", lit(true))
        .withColumn("unit", unit)
        .withColumn("__extras", map(lit("__temporality__"), col("temporality")))

    val cnt = derived(".count", col("count").cast("double"), "Sum", lit("1"))
    val sum = derived(".sum", col("sum_v"), "Sum", col("unit"))

    val quants = base
      .withColumn("metric_name", concat(col("metric_name"), lit(".quantile")))
      .withColumn("__q", explode(col("quantiles")))
      .filter(!isnan(col("__q.v")))
      .withColumn("value", col("__q.v"))
      .withColumn("temporality", lit("Unspecified"))
      .withColumn("is_monotonic", lit(false))
      .withColumn("__extras", map(
        // FormatFloat(q, 'f', -1, 64), GoFloat.fixed (SURVEY row 335)
        lit("quantile"), GoFormatFloat(col("__q.q")),
        lit("__temporality__"), col("temporality")))
      .drop("__q")

    val cols = cnt.columns.map(col).toSeq
    Seq(sum, quants.select(cols: _*))
      .foldLeft(cnt)((a, b) => a.unionByName(b.select(cols: _*)))
      .transform(finish)
  }

  /** `samples_v4` rows from identified points (exporter.go:1263-1310);
    * points that went through [[withReduction]] keep their
    * `reduced_fingerprint` (the buffer-table shape, exporter.go:91-99).
    */
  def samplesV4(points: DataFrame): DataFrame = {
    val base = Seq(col("env"), col("temporality"), col("metric_name"),
      col("fingerprint"), col("unix_milli"), col("value"), col("flags"),
      col("is_monotonic"))
    val cols =
      if (points.columns.contains("reduced_fingerprint"))
        base :+ col("reduced_fingerprint")
      else base
    points.select(cols: _*)
  }

  /** Metric-points usage metering — the exact `collectUsageForSample` gate
    * (signozclickhousemetrics/exporter.go:1458-1468): samples whose metric
    * name starts with `signoz`/`chi`/`otelcol` are not billed, nor are
    * reduced samples (`reduced_fingerprint != 0`, when the reduction pass
    * ran). Each billed sample counts 1 with size 0
    * (`usage.AddMetric(metrics, "default", 1, 0)` at exporter.go:1313) —
    * the metrics signal is billed on POINT COUNT, not bytes. Tenant is the
    * `env` column (this model's resource-derived tenant analogue; the
    * reference keys by connection-context tenant, always "default" here).
    */
  def usage(samples: DataFrame, tenantCol: Column = col("env")): DataFrame = {
    val notReduced =
      if (samples.columns.contains("reduced_fingerprint"))
        col("reduced_fingerprint") === 0L
      else lit(true)
    samples
      .filter(notReduced &&
        !col("metric_name").startsWith("signoz") &&
        !col("metric_name").startsWith("chi") &&
        !col("metric_name").startsWith("otelcol"))
      .groupBy(tenantCol.as("tenant"))
      .agg(count(lit(1)).as("n_points"), lit(0L).as("n_bytes"))
  }

  /** `time_series_v4` rows: hour-floored, one per series per hour
    * (exporter.go:1199-1214; the ttlcache dedup == dropDuplicates).
    */
  def timeSeriesV4(points: DataFrame): DataFrame = {
    import graft.functions.{JsonTypedMaps, MapSortedJson}
    // dedup over SCALARS only: dropDuplicates carrying the three attr maps
    // plans first(map) aggregates whose var-length buffers force
    // SortAggregate (see Metadata.attributesMetadata). The fingerprint
    // determines every payload column, so distinct() over the serialized
    // form is the same row set through a codegen HashAggregate; the maps
    // re-materialize from canonical JSON on the deduped (per-series-hour)
    // rows.
    points
      .withColumn("unix_milli", expr("(unix_milli div 3600000) * 3600000"))
      .select(col("env"), col("temporality"), col("metric_name"),
        col("description"), col("unit"), col("metric_type"), col("is_monotonic"),
        col("fingerprint"), col("unix_milli"), col("labels"),
        MapSortedJson(col("__pfp.attrs")).as("__a"),
        MapSortedJson(col("__sfp.attrs")).as("__s"),
        MapSortedJson(col("__rfp.attrs")).as("__r"))
      .distinct()
      .select(col("env"), col("temporality"), col("metric_name"),
        col("description"), col("unit"), col("metric_type"), col("is_monotonic"),
        col("fingerprint"), col("unix_milli"), col("labels"),
        JsonTypedMaps.of(col("__a")).getField("strings").as("attrs"),
        JsonTypedMaps.of(col("__s")).getField("strings").as("scope_attrs"),
        JsonTypedMaps.of(col("__r")).getField("strings").as("resource_attrs"))
  }

  /** `metadata` rows (batch.go:34-84): one per (metric identity, attribute
    * entry) with the first/last-seen window widened across the batch. The
    * reference emits point + resource + scope metadata; `attrType` selects
    * which fingerprint's attributes to explode. Attr datatype is "Str" —
    * this model stringifies attribute values at ingest.
    */
  def metadata(points: DataFrame, attrType: String = "point"): DataFrame = {
    val attrs = attrType match {
      case "point" => col("__pfp.attrs")
      case "scope" => col("__sfp.attrs")
      case "resource" => col("__rfp.attrs")
    }
    points
      .select(col("metric_name"), col("temporality"), col("description"),
        col("unit"), col("metric_type"), col("is_monotonic"), col("unix_milli"),
        explode(attrs).as(Seq("attr_name", "attr_string_value")))
      .groupBy(col("metric_name"), col("temporality"), col("attr_name"),
        lit(attrType).as("attr_type"), col("attr_string_value"))
      .agg(first(col("description")).as("description"),
        first(col("unit")).as("unit"),
        first(col("metric_type")).as("metric_type"),
        first(col("is_monotonic")).as("is_monotonic"),
        min(col("unix_milli")).as("first_reported_unix_milli"),
        max(col("unix_milli")).as("last_reported_unix_milli"))
  }

  /** `samples_v4_agg_5m` (metrics_migrations.go:759-778): NO_RECORDED_VALUE
    * points (flags bit 0) excluded; `anyLast` -> deterministic max_by.
    */
  def samplesAgg5m(samples: DataFrame): DataFrame =
    samples
      .filter(col("flags").bitwiseAND(1) === 0)
      .groupBy(col("env"), col("temporality"), col("metric_name"),
        col("fingerprint"),
        expr("(unix_milli div 300000) * 300000").as("unix_milli"))
      .agg(max_by(col("value"), col("unix_milli")).as("last"),
        min(col("value")).as("min"), max(col("value")).as("max"),
        sum(col("value")).as("sum"), count(lit(1)).as("count"))

  /** `samples_v4_agg_30m` over the 5m rollup (metrics_migrations.go:780-801). */
  def samplesAgg30m(agg5m: DataFrame): DataFrame =
    agg5m
      .groupBy(col("env"), col("temporality"), col("metric_name"),
        col("fingerprint"),
        expr("(unix_milli div 1800000) * 1800000").as("unix_milli"))
      .agg(max_by(col("last"), col("unix_milli")).as("last"),
        min(col("min")).as("min"), max(col("max")).as("max"),
        sum(col("sum")).as("sum"), sum(col("count")).as("count"))

  /** Attach reduction identity (rules.go:240-263 reducer.reduce): the rule
    * is keyed by the FLATTENED metric name, applies only to datapoints at or
    * after its effective_from (datapoint time, not wall clock), and the
    * reduced fingerprint re-runs the whole chain over surviving labels.
    * Unruled / pre-epoch points get reduced_fingerprint = 0.
    */
  def withReduction(points: DataFrame, rules: Seq[ReductionRule]): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val rulesDf = rules
      .map(r => (r.metricName,
        (if (r.keep) "keep" else "drop") +: r.keys, r.effectiveFromUnixMilli))
      .toDF("metric_name", "__rule_keys", "__rule_from")

    val joined = points.join(broadcast(rulesDf), Seq("metric_name"), "left")
    val active = when(col("__rule_keys").isNotNull &&
      col("unix_milli") >= col("__rule_from"), col("__rule_keys"))

    joined
      .withColumn("__rule", active)
      .withColumn("__rrfp", PromFingerprintReduced(col("resource_attrs"), emptySS,
        lit(Fingerprint.offset64Public), col("__rule")))
      .withColumn("__rsfp", PromFingerprintReduced(col("scope_attrs"), scopeExtras,
        col("__rrfp.hash"), col("__rule")))
      .withColumn("__rpfp", PromFingerprintReduced(col("attrs"), col("__extras"),
        col("__rsfp.hash"), col("__rule")))
      .withColumn("reduced_fingerprint",
        coalesce(PromHashWithName(col("__rpfp.hash"), col("metric_name")), lit(0L)))
      .drop("__rule_keys", "__rule_from", "__rule")
  }

  /** Reduced-series catalog rows (`is_reduced = true`,
    * reducedTsFrom rules.go:267-288): the group's identity in both
    * fingerprint columns, kept labels per level, one row per group per hour.
    */
  def reducedTsRows(reducedPoints: DataFrame): DataFrame =
    reducedPoints
      .filter(col("reduced_fingerprint") =!= 0L)
      .withColumn("unix_milli", expr("(unix_milli div 3600000) * 3600000"))
      .select(col("env"), col("temporality"), col("metric_name"),
        col("description"), col("unit"), col("metric_type"), col("is_monotonic"),
        col("reduced_fingerprint").as("fingerprint"),
        col("reduced_fingerprint"),
        lit(true).as("is_reduced"),
        col("unix_milli"),
        PromLabelsJson(col("metric_name"), col("__rpfp.attrs"),
          col("__rsfp.attrs"), col("__rrfp.attrs")).as("labels"),
        col("__rpfp.attrs").as("attrs"),
        col("__rsfp.attrs").as("scope_attrs"),
        col("__rrfp.attrs").as("resource_attrs"))
      .dropDuplicates("fingerprint", "unix_milli")

  /** `samples_v4_reduced_sum_60s` cumulative branch
    * (metrics_migrations.go:1554-1630): per-point increments with reset
    * detection (a drop counts the post-reset value), a series' first point
    * yields no increment, output relabeled Delta.
    */
  def reducedSum60sCumulative(reducedSamples: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col("env"), col("temporality"), col("metric_name"), col("fingerprint"))
      .orderBy(col("unix_milli"))
    val prev = lag(col("value"), 1).over(w)
    val increments = reducedSamples
      .filter(col("reduced_fingerprint") =!= 0L &&
        col("flags").bitwiseAND(1) === 0 &&
        col("temporality") === "Cumulative" && col("is_monotonic"))
      .withColumn("__inc",
        when(prev.isNull, lit(null).cast("double"))
          .when(col("value") < prev, col("value"))
          .otherwise(col("value") - prev))
      .filter(col("__inc").isNotNull)
    increments
      .groupBy(col("env"), col("temporality"), col("metric_name"),
        col("reduced_fingerprint"), col("fingerprint"),
        expr("(unix_milli div 60000) * 60000").as("bucket_unix_milli"))
      .agg(sum(col("__inc")).as("series_increment"), count(lit(1)).as("num_values"))
      .groupBy(col("env"), lit("Delta").as("temporality"), col("metric_name"),
        col("reduced_fingerprint"), col("bucket_unix_milli").as("unix_milli"))
      .agg(sum(col("series_increment")).as("sum"),
        count(lit(1)).as("count_series"), sum(col("num_values")).as("count_samples"))
  }

  /** Exponential histograms as DD-sketch rows (processExponentialHistogram,
    * exporter.go:913-1085): delta-only, gamma = 2^(2^-scale), contiguous
    * bin counts + offset, zero count; fingerprint without le.
    */
  def expHistRows(expHists: DataFrame): DataFrame =
    identify(expHists)
      .filter(col("temporality") === "Delta")
      .filter(!isnan(coalesce(col("sum_v"), lit(0.0))) &&
        !isnan(coalesce(col("min_v"), lit(0.0))) &&
        !isnan(coalesce(col("max_v"), lit(0.0))))
      .withColumn("__extras", map(lit("__temporality__"), col("temporality")))
      .transform(finish)
      .withColumn("gamma", pow(lit(2.0), pow(lit(2.0), -col("scale"))))
      .select(col("env"), col("temporality"), col("metric_name"),
        col("fingerprint"), col("unix_milli"),
        col("gamma"),
        col("positive_offset"), col("positive_counts"),
        col("negative_offset"), col("negative_counts"),
        col("zero_count"),
        col("count").cast("double").as("count"), col("sum_v").as("sum"),
        col("min_v").as("min"), col("max_v").as("max"), col("flags"),
        col("labels"))
}
