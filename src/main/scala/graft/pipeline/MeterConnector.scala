package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{JsonTypedMaps, MapFilterKeys, MapSortedJson}

/** The `signozmeterconnector`: billing meter metrics from
  * the three signal streams (`connectors/signozmeterconnector/connector.go`).
  *
  * Reference semantics replicated exactly:
  *  - per resource, the configured dimension keys are projected from the
  *    RESOURCE attributes (`buildDimensionsMapFromResourceAttributes`,
  *    connector.go:348-359, values AsString) and key the accumulator
  *    (pdatautil.MapHash == group-by the canonical map);
  *  - logs contribute CountPerResource/SizePerResource of the v1 metering
  *    sizers (pkg/metering/v1/logs.go — the byte-exact `record_size` this
  *    engine computes at export shaping), spans likewise (traces.go
  *    SizePerSpan == spansV3 `record_size`); metric datapoints count with
  *    the `^(signoz|otelcol).*` exclusion and per-type expansion (histogram
  *    buckets + count + sum/min/max presence bits, summary quantiles + 2,
  *    exponential histograms intentionally uncounted) and SIZE 0
  *    (metrics.go:45-47,59-111);
  *  - the flush emits per dim-key delta monotonic int sums named
  *    `signoz.meter.{log,span,metric.datapoint}.{count,size}` with units
  *    "1"/"By", scope `signozmeterconnector` + `connector_id` scope attr,
  *    zero-valued families skipped (collect*MeterMetrics, connector.go:
  *    175-296); state purges on every flush (delta temporality).
  *
  * One connector, two faces sharing [[dimensionKey]] and [[meterRows]]: the
  * batch face (`fromLogs`, `fromMetricFrames`) is one flush of the whole
  * input at `flushUnixMilli`; the streaming face,
  * [[graft.streaming.StreamJobs.meterConnectorStream]], flushes each
  * micro-batch at its trigger time.
  *
  * The output frames are [[MeterExporter]]-ready (Sum + Delta passes its
  * gauge/sum gate), closing the reference pipeline
  * `logs -> signozmeterconnector -> signozclickhousemeter` end to end.
  */
object MeterConnector {

  val ScopeName = "signozmeterconnector"

  final case class Names(count: String, size: String, countDesc: String, sizeDesc: String)
  private[graft] val logNames = Names("signoz.meter.log.count", "signoz.meter.log.size",
    "The number of log records observed.", "The size of log records observed.")
  private val dpNames = Names("signoz.meter.metric.datapoint.count",
    "signoz.meter.metric.datapoint.size",
    "The number of data points observed.", "The size of data points observed.")

  /** The accumulator key: the configured dimension keys of the resource map
    * as sorted-key JSON. Absent keys are omitted and JSON quoting keeps a
    * value holding a separator from colliding with a split pair. A null map
    * is a resource without attributes: the empty key, like an absent one.
    */
  private[graft] def dimensionKey(resources: Column, dims: Seq[String]): Column =
    when(resources.isNull, lit("{}"))
      .otherwise(MapSortedJson(MapFilterKeys(resources, dims, keep = true)))

  /** One flush of a keyed `(__dims, __n, __b)` frame: per key a count and a
    * size row of one family, stamped with `flushUnixMilli`.
    */
  private[graft] def meterRows(keyed: DataFrame, names: Names, connectorId: String,
      flushUnixMilli: Column): DataFrame =
    keyed
      .select(col("__dims"), explode(array(
        struct(lit(names.count).as("metric_name"), lit(names.countDesc).as("description"),
          lit("1").as("unit"), col("__n").cast("double").as("value")),
        struct(lit(names.size).as("metric_name"), lit(names.sizeDesc).as("description"),
          lit("By").as("unit"), col("__b").cast("double").as("value")))).as("__m"))
      .select(
        col("__m.metric_name").as("metric_name"),
        col("__m.description").as("description"),
        col("__m.unit").as("unit"),
        lit("Sum").as("metric_type"),
        lit("Delta").as("temporality"),
        lit(true).as("is_monotonic"),
        flushUnixMilli.as("unix_milli"),
        col("__m.value").as("value"),
        JsonTypedMaps.of(col("__dims")).getField("strings").as("attrs"),
        lit(ScopeName).as("scope_name"),
        map(lit("connector_id"), lit(connectorId)).as("scope_attrs"))

  /** Group rows carrying (__res, __count, __size) by the dimension key and
    * flush the two meter rows per key for one family.
    */
  private def build(rows: DataFrame, dims: Seq[String], names: Names,
      connectorId: String, flushUnixMilli: Long): DataFrame =
    meterRows(rows
      .withColumn("__dims", dimensionKey(col("__res"), dims))
      .groupBy(col("__dims"))
      .agg(sum(col("__count")).as("__n"), sum(col("__size")).as("__b")),
      names, connectorId, lit(flushUnixMilli))

  /** Log records -> `signoz.meter.log.{count,size}` (count 1 + the v1 logs
    * billing size per record — `record_size` from [[Exporter.logsV2]]).
    */
  def fromLogs(logsV2: DataFrame, dims: Seq[String], connectorId: String,
      flushUnixMilli: Long): DataFrame =
    build(logsV2.select(col("resources_string").as("__res"), lit(1L).as("__count"),
      col("record_size").cast("long").as("__size")),
      dims, logNames, connectorId, flushUnixMilli)

  /** Metric datapoint frames -> `signoz.meter.metric.datapoint.{count,size}`.
    * `scalars`/`histograms`/`summaries` are MetricFrames-shaped; exponential
    * histograms are intentionally uncounted and size is always 0
    * (metrics.go:45-47,101-107).
    */
  def fromMetricFrames(dims: Seq[String], connectorId: String, flushUnixMilli: Long,
      scalars: Option[DataFrame] = None, histograms: Option[DataFrame] = None,
      summaries: Option[DataFrame] = None): DataFrame = {
    val billable = !col("metric_name").rlike("^(signoz|otelcol)")
    val parts = Seq(
      scalars.map(_.filter(billable)
        .select(col("resource_attrs").as("__res"), lit(1L).as("__count"), lit(0L).as("__size"))),
      histograms.map(_.filter(billable)
        .select(col("resource_attrs").as("__res"),
          (size(col("bucket_counts")) + lit(1) +
            col("has_sum").cast("int") + col("has_min").cast("int") +
            col("has_max").cast("int")).cast("long").as("__count"),
          lit(0L).as("__size"))),
      summaries.map(_.filter(billable)
        .select(col("resource_attrs").as("__res"),
          (coalesce(size(col("quantiles")), lit(0)) + lit(2)).cast("long").as("__count"),
          lit(0L).as("__size")))).flatten
    require(parts.nonEmpty, "at least one metric frame family required")
    build(parts.reduce(_ unionByName _), dims, dpNames, connectorId, flushUnixMilli)
  }
}
