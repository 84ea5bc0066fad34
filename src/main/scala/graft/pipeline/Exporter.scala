package graft.pipeline

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{IsRandomKey, MapDropKeyPrefix, MapSortedJson, MapToTagRows,
  ResourceFingerprint, TypedAttrsGoJson}

/** The exporter stage: one shared upstream -> five sink-shaped DataFrames,
  * replicating `exporter/clickhouselogsexporter/exporter.go` semantics
  * (SURVEY.md §2.4) with Spark primitives:
  *
  *  - time bucketing `(ts_sec / 1800) * 1800` (exporter.go:510-512)
  *  - resource fingerprint + sorted-key labels JSON (exporter.go:655-712)
  *  - per-bucket resource dedup == `dropDuplicates`; the cross-batch rfCache
  *    becomes an optional anti-join against already-written rows
  *    (exporter.go:776-791)
  *  - tag/key metadata via `explode(map_entries(...))`, keycheck-filtered,
  *    value-length capped, cardinality skip-set honored (exporter.go:887-1005)
  *  - age cutoff filter (exporter.go:515,693-696)
  *  - usage metering counts/sizes per sink/route (usage/common.go:56-63)
  *
  * Determinism deviations (required for row-set equality testing, SURVEY §7.1):
  * ids are `conv_id#turn_idx` instead of random ksuids; the tag unix_milli
  * hour comes from the record timestamp instead of wall-clock `time.Now()`.
  */
final case class ExporterConfig(
    bucketSeconds: Long = 1800L,
    maxAttributeValueLength: Int = 256, // internal/common/attribute_limits.go:5
    oldestAllowedTsNanos: Long = 0L, // deterministic age cutoff; 0 keeps all
    skipKeys: Set[String] = Set.empty, // "key:tagType:dataType" cardinality guard
    // body-JSON mode (exporter.go:840-863 processBody): JSON-object bodies
    // populate body_v2 + body_promoted; the body column is blanked unless
    // bodyJsonOldBodyEnabled (config.go BodyJSONEnabled/BodyJSONOldBodyEnabled)
    bodyJsonEnabled: Boolean = false,
    bodyJsonOldBodyEnabled: Boolean = false,
    promotedPaths: Seq[String] = Nil
)

object Exporter {

  /** Sorted-key compact JSON of a string map — what Go's `json.Marshal`
    * produces for the resource labels column (exporter.go:656-661), via a
    * codegen kernel: the previous `array_sort(<comparator>)` form was a
    * CodegenFallback higher-order function and dragged the WHOLE exporter
    * projection out of whole-stage codegen (see
    * [[graft.functions.MapSortedJsonKernel]]).
    */
  def sortedMapJson(m: Column): Column = graft.functions.MapSortedJson(m)

  /** The main logs_v2-shaped sink (v2_squashed_logs_migration.go:163-209). */
  def logsV2(pipelineOut0: DataFrame, cfg: ExporterConfig = ExporterConfig()): DataFrame = {
    // router-less pipelines still fan out: single default route
    val pipelineOut = Seq("route" -> "default", "sink" -> "").foldLeft(pipelineOut0) {
      case (df, (c, v)) => if (df.columns.contains(c)) df else df.withColumn(c, lit(v))
    }
    val ts0 = col("timestamp")
    val ots0 = col("observed_timestamp")
    // ts==0 falls back to observed ts (exporter.go:686-696); the reverse
    // fallback uses the record's own time, never the wall clock
    val ots = when(ots0 === 0L, ts0).otherwise(ots0)
    val ts = when(ts0 === 0L, ots).otherwise(ts0)

    val withCols = pipelineOut
      .withColumn("observed_timestamp", ots)
      .withColumn("timestamp", ts)
      .filter(col("timestamp") >= lit(cfg.oldestAllowedTsNanos))
      // integer `div` throughout: double division of ns-scale longs loses
      // precision above 2^53
      .withColumn("ts_bucket_start",
        expr(s"((timestamp div 1000000000) div ${cfg.bucketSeconds}) * ${cfg.bucketSeconds}"))
      .withColumn("labels", sortedMapJson(col("resources_string")))
      .withColumn("resource_fingerprint", ResourceFingerprint(col("resources_string")))
      // deterministic surrogate for the ksuid (exporter.go:698-701)
      .withColumn("id", concat(col("conv_id"), lit("#"),
        lpad(col("turn_idx").cast("string"), 6, "0")))
      // short ids are zero-padded at the plog boundary (utils.go:137-155)
      .withColumn("trace_id",
        when(col("trace_id").isNotNull && col("trace_id") =!= "", lpad(col("trace_id"), 32, "0"))
          .otherwise(lit("")))
      .withColumn("span_id",
        when(col("span_id").isNotNull && col("span_id") =!= "", lpad(col("span_id"), 16, "0"))
          .otherwise(lit("")))
      // usage metering record size, byte-exact vs the reference billing
      // sizer (exporter.go:745 + usage.go:100-114 getResourceAttributesByte):
      // body BYTES + Go-JSON of the raw typed attr map (sorted keys, Go
      // escaping, int-style rendering of integral doubles) + Go-JSON of the
      // resource attrs with `signoz.workspace.*` excluded
      // (pkg/metering/signoz_attributes.go:6). A NaN/Inf number attr makes
      // json.Marshal error -> the attr map contributes 0 bytes, replicated
      // by TypedAttrsGoJson returning null.
      .withColumn("record_size",
        coalesce(octet_length(col("body")).cast("long"), lit(0L)) +
          coalesce(octet_length(TypedAttrsGoJson(col("attributes_string"),
            col("attributes_number"), col("attributes_bool"))).cast("long"), lit(0L)) +
          coalesce(octet_length(MapSortedJson(
            MapDropKeyPrefix(col("resources_string"), "signoz.workspace"))).cast("long"), lit(2L)))

    val withBody =
      if (!cfg.bodyJsonEnabled)
        withCols
          .withColumn("body_v2", lit(null).cast("string"))
          .withColumn("body_promoted", lit(null).cast("string"))
      else {
        val bp = withCols.withColumn("__bp",
          graft.functions.BodyPromoted.of(col("body"), cfg.promotedPaths))
        bp.withColumn("body_v2", col("__bp.body_v2"))
          .withColumn("body_promoted", col("__bp.body_promoted"))
          // reference blanks the original body unless BodyJSONOldBodyEnabled
          // (exporter.go:853-856); non-object bodies keep theirs (our
          // per-record analogue of the reference's record error)
          .withColumn("body",
            if (cfg.bodyJsonOldBodyEnabled) col("body")
            else when(col("__bp").isNotNull, lit("")).otherwise(col("body")))
          .drop("__bp")
      }

    withBody.select(
      col("ts_bucket_start"), col("resource_fingerprint"),
      col("timestamp"), col("observed_timestamp"), col("id"),
      col("trace_id"), col("span_id"), col("trace_flags"),
      col("severity_text"), col("severity_number"),
      col("body"), col("body_v2"), col("body_promoted"),
      col("attributes_string"), col("attributes_number"), col("attributes_bool"),
      col("resources_string"),
      col("scope_name"), col("scope_version"), col("scope_string"),
      // provenance + fan-out + metering extras (not part of the CH schema but
      // carried for the equality/count assertions)
      col("labels"), col("record_size"),
      col("conv_id"), col("turn_idx"), col("role"), col("tool"),
      col("route"), col("sink"))
  }

  /** logs_v2_resource: one row per distinct (labels, fingerprint) per bucket
    * (v2_squashed_logs_migration.go:263-305). `existing` models the
    * cross-batch rfCache: rows already in the sink are not re-emitted.
    * Either way the columns are (labels, fingerprint,
    * seen_at_ts_bucket_start), so a resumed job appends files with the
    * first write's schema.
    */
  def resources(logsV2: DataFrame, existing: Option[DataFrame] = None): DataFrame = {
    val fresh = logsV2
      .select(col("labels"), col("resource_fingerprint").as("fingerprint"),
        col("ts_bucket_start").as("seen_at_ts_bucket_start"))
      .dropDuplicates("fingerprint", "seen_at_ts_bucket_start")
    existing.fold(fresh)(antiJoin(fresh, _, "fingerprint", "seen_at_ts_bucket_start"))
  }

  /** The rows of `fresh` whose `keys` are not in `existing` (the reference's
    * cache existence checks), in `fresh`'s column order: a join on column
    * names moves the keys first, so the order is restored.
    */
  private[pipeline] def antiJoin(fresh: DataFrame, existing: DataFrame,
      keys: String*): DataFrame =
    fresh.join(existing.select(keys.map(col): _*), keys, "left_anti")
      .select(fresh.columns.map(col): _*)

  /** One tag-metadata row: the element type [[explodeTagRows]] explodes. */
  private def tagRow(key: String, tagType: String, dataType: String,
      strVal: Column, numVal: Column): Column =
    struct(lit(key).as("tag_key"), lit(tagType).as("tag_type"),
      lit(dataType).as("tag_data_type"),
      strVal.as("string_value"), numVal.cast("double").as("number_value"))

  /** A string-typed tag row for a fixed key (a log or span field). */
  private[pipeline] def stringTag(key: String, tagType: String, value: Column): Column =
    tagRow(key, tagType, "string", value, lit(null).cast("double"))

  /** A float64-typed tag row for a fixed key (a log or span field). */
  private[pipeline] def numberTag(key: String, tagType: String, value: Column): Column =
    tagRow(key, tagType, "float64", lit(null).cast("string"), value)

  /** The tag-row explode the logs and traces exporters share
    * (exporter.go:887-1005, writer.go:311-421): (unix_milli, tag_key,
    * tag_type, tag_data_type, string_value, number_value) for every typed
    * attribute (`tag`), every resource attribute (`resource`, force-
    * stringified: exporter.go:656 forceStringValues) and the caller's
    * `extra` arrays of exporter-specific rows.
    *
    * ONE array-concat + ONE explode over a single scan of the upstream.
    * unix_milli is hour-rounded from the record ts (deterministic stand-in
    * for `(time.Now().UnixMilli()/3600000)*3600000`, exporter.go:929).
    * MapToTagRows is one codegen kernel per map (transform() is a
    * CodegenFallback HOF and would de-codegen the whole tag projection); a
    * NULL map contributes an EMPTY array, so a frame from an external
    * adapter built without LogFrames.withDefaults cannot null-propagate
    * through concat() and drop the record's other tag rows.
    */
  private[pipeline] def explodeTagRows(main: DataFrame, extra: Column*): DataFrame = {
    val all = concat(Seq(
      MapToTagRows(col("attributes_string"), "tag", "string", mode = 0),
      MapToTagRows(col("attributes_number"), "tag", "float64", mode = 1),
      MapToTagRows(col("attributes_bool"), "tag", "bool", mode = 2),
      MapToTagRows(col("resources_string"), "resource", "string", mode = 0)) ++ extra: _*)
    main.select(expr("((timestamp div 1000000) div 3600000) * 3600000").as("unix_milli"),
        explode(all).as("e"))
      .select(col("unix_milli"), col("e.tag_key"), col("e.tag_type"),
        col("e.tag_data_type"), col("e.string_value"), col("e.number_value"))
  }

  /** The `tag_attributes` tail both exporters share: deduped on the finest
    * key within the batch (like the TTL caches dedup repeats within a
    * window), value-length capped, cardinality skip-set honored.
    */
  private[pipeline] def tagAttributeRows(tagRows: DataFrame, cfg: ExporterConfig): DataFrame = {
    val rows = tagRows
      .dropDuplicates("unix_milli", "tag_key", "tag_type", "tag_data_type",
        "string_value", "number_value")
      .filter(col("string_value").isNull ||
        length(col("string_value")) <= cfg.maxAttributeValueLength)
    if (cfg.skipKeys.isEmpty) rows
    else rows.filter(!concat_ws(":", col("tag_key"), col("tag_type"), col("tag_data_type"))
      .isin(cfg.skipKeys.toSeq: _*))
  }

  /** All candidate log tag rows before filtering: the shared attribute and
    * resource rows plus scope attrs (force-stringified like resources,
    * exporter.go:667) and the severity logfields (exporter.go:741).
    */
  private def tagRows(logsV2: DataFrame): DataFrame =
    explodeTagRows(logsV2,
      MapToTagRows(col("scope_string"), "scope", "string", mode = 0),
      array(
        stringTag("severity_text", "logfield", col("severity_text")),
        numberTag("severity_number", "logfield", col("severity_number"))))

  /** tag_attributes_v2 sink rows: the shared tail over the keycheck-filtered
    * log tag rows.
    */
  def tagAttributes(logsV2: DataFrame, cfg: ExporterConfig = ExporterConfig()): DataFrame =
    tagAttributeRows(tagRows(logsV2).filter(!IsRandomKey(col("tag_key"))), cfg)

  /** The key sinks: distinct keycheck-passing (name, datatype) per tag type
    * among `tagTypes`. A key present under two of them yields one row for
    * each. Scope and logfield keys go to neither key sink
    * (exporter.go:887-919 switch).
    */
  def keys(logsV2: DataFrame, tagTypes: String*): DataFrame =
    tagRows(logsV2).filter(col("tag_type").isin(tagTypes: _*))
      .select(col("tag_type"), col("tag_key").as("name"),
        col("tag_data_type").as("datatype"))
      .dropDuplicates()
      .filter(!IsRandomKey(col("name")))
      .select("name", "datatype")

  /** logs_attribute_keys. */
  def attributeKeys(logsV2: DataFrame): DataFrame = keys(logsV2, "tag")

  /** logs_resource_keys. */
  def resourceKeys(logsV2: DataFrame): DataFrame = keys(logsV2, "resource")

  /** Usage metering: per-route record counts + byte sizes
    * (usage/common.go:56-63, flushed per tenant/exporter).
    */
  def usage(logsV2: DataFrame): DataFrame =
    logsV2.groupBy(col("route"))
      .agg(count(lit(1)).as("n_records"), sum(col("record_size")).as("n_bytes"))

  /** Severity histogram per route (spanmetrics-style bucketing,
    * signozspanmetricsprocessor/processor.go:1071-1086).
    */
  def severityHistogram(logsV2: DataFrame): DataFrame =
    logsV2.groupBy(col("route"), col("severity_text"), col("severity_number"))
      .agg(count(lit(1)).as("n"))

  /** Cardinality guard (exporter.go:359-406): find tag keys whose distinct
    * value count exceeds `maxDistinctValues` (ClickHouse `uniq` ==
    * `approx_count_distinct`); the result feeds [[ExporterConfig.skipKeys]]
    * as a broadcast skip-set for subsequent batches.
    */
  def computeSkipKeys(tagRows: DataFrame, maxDistinctValues: Long): Set[String] =
    tagRows
      .groupBy(col("tag_key"), col("tag_type"), col("tag_data_type"))
      .agg(approx_count_distinct(
        coalesce(col("string_value"), col("number_value").cast("string"))).as("n"))
      .filter(col("n") > maxDistinctValues)
      .select(concat_ws(":", col("tag_key"), col("tag_type"), col("tag_data_type")))
      .collect().map(_.getString(0)).toSet

  /** The 5-way sink fan-out (exporter.go:796-827) from an already-shaped
    * (and typically persisted) `logs_v2` frame: the reference's
    * pushLogsData sends one batch to five writers, and here every sink
    * reads the one `main`. This is the one sink list; callers add only
    * their write policy. Each sink is its own plan, so a job that writes
    * them explodes `main`'s tag rows once per tag sink. The map iterates in
    * the order listed.
    */
  def fanOutFrom(main: DataFrame, cfg: ExporterConfig = ExporterConfig(),
      existingResources: Option[DataFrame] = None): Map[String, DataFrame] =
    ListMap(
      "logs_v2" -> main,
      "logs_v2_resource" -> resources(main, existingResources),
      "tag_attributes_v2" -> tagAttributes(main, cfg),
      "logs_attribute_keys" -> attributeKeys(main),
      "logs_resource_keys" -> resourceKeys(main))
}
