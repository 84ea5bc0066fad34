package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.AttrsMeta

/** The metadataexporter analogue
  * (`exporter/metadataexporter/attribute_writer.go:38-100`,
  * `exporter.go:506-521` removeDuplicateRecords): per log record, one
  * attributes-metadata row keyed by 6-hour window:
  *
  *   (rounded_unix_milli, data_source, resource_fingerprint,
  *    attr_fingerprint, resource_attrs, attrs)
  *
  * where both fingerprints are FNV-1a over the name-sorted flattened
  * attribute sets (hash.go FingerprintHash — NOT the hierarchy-labeled
  * logs_v2 fingerprint), the stored maps keep only string-valued attributes
  * (exporter.go flattenJSONToStringMap), and rows are deduplicated on the
  * fingerprint pair like removeDuplicateRecords. The reference's rounded
  * window uses wall-clock receive time; this engine derives it from the
  * record timestamp for determinism (same policy as the tag sinks).
  *
  * Cross-batch suppression (the keyCache existence check) is the same
  * anti-join pattern as [[Exporter.resources]]: pass `existing` to skip
  * already-written (resource_fp, attr_fp) pairs.
  */
object Metadata {
  val sixHoursMs: Long = 6L * 3600 * 1000

  def attributesMetadata(
      logsV2: DataFrame,
      skipKeys: Set[String] = Set.empty,
      existing: Option[DataFrame] = None): DataFrame =
    metadataRows(
      logsV2.withColumn("__unix_milli", expr("timestamp div 1000000")),
      "logs",
      col("resources_string"),
      col("attributes_string"), col("attributes_number"), col("attributes_bool"),
      skipKeys, existing)

  /** PushTraces context (`exporter/metadataexporter/exporter.go:686-758`):
    * one row per span — span attrs with the span NAME spliced in as attr
    * `name` (`exporter.go:731`, overwriting a same-named span attr like the
    * Go map write does), skip-keys removed from BOTH attr sets
    * (`shouldSkipAttributeFromDB` runs on resource and span attrs in this
    * context), window = the span START timestamp's 6-hour floor
    * (`exporter.go:735-737` — event time, not arrival time), fingerprints =
    * the flat name-sorted FNV FingerprintHash, dedup + anti-join shared
    * with the logs context. Input: the RAW span frame
    * ([[graft.model.SpanFrames.withDefaults]] shape) — the reference
    * consumes the ptrace input in parallel with the traces exporter, not
    * the shaped index rows.
    */
  def spanAttributesMetadata(
      spans: DataFrame,
      skipKeys: Set[String] = Set.empty,
      existing: Option[DataFrame] = None): DataFrame =
    metadataRows(
      spans.withColumn("__unix_milli", expr("start_ts div 1000000")),
      "traces",
      col("resources_string"),
      map_concat(
        graft.functions.MapFilterKeys(col("attributes_string"), Seq("name"),
          keep = false),
        map(lit("name"), coalesce(col("name"), lit("")))),
      col("attributes_number"), col("attributes_bool"),
      skipKeys, existing)

  /** PushMetrics context (`exporter.go:758-856`): one row per datapoint of
    * every family (the [[graft.model.MetricFrames]] union row IS the
    * flattened datapoint — attrs are already AsString-rendered string
    * maps), resource attrs unfiltered (the reference applies no
    * shouldSkipAttributeFromDB in this context), window from the
    * datapoint's own unix_milli (the reference stamps wall-clock receive
    * time — `time.Now()` at exporter.go:833 — which a deterministic engine
    * derives from event time, same policy as the tag sinks).
    */
  def metricAttributesMetadata(
      dps: DataFrame,
      skipKeys: Set[String] = Set.empty,
      existing: Option[DataFrame] = None): DataFrame =
    metadataRows(
      dps.withColumn("__unix_milli", col("unix_milli")),
      "metrics",
      col("resource_attrs"),
      col("attrs"),
      map().cast(graft.model.LogSchema.mapSD),
      map().cast(graft.model.LogSchema.mapSB),
      skipKeys, existing)

  private def metadataRows(
      in: DataFrame,
      dataSource: String,
      resStrings: org.apache.spark.sql.Column,
      attrStrings: org.apache.spark.sql.Column,
      attrNumbers: org.apache.spark.sql.Column,
      attrBools: org.apache.spark.sql.Column,
      skipKeys: Set[String],
      existing: Option[DataFrame]): DataFrame = {
    val skip = skipKeys.toSeq.sorted
    val rows = in
      .withColumn("rounded_unix_milli",
        expr(s"(__unix_milli div $sixHoursMs) * $sixHoursMs"))
      .withColumn("__res", AttrsMeta.of(
        resStrings,
        map().cast(graft.model.LogSchema.mapSD),
        map().cast(graft.model.LogSchema.mapSB),
        if (dataSource == "metrics") Nil else skip))
      .withColumn("__att", AttrsMeta.of(
        attrStrings, attrNumbers, attrBools, skip))
      // Dedup happens over SCALAR columns only: a dropDuplicates that
      // carries map payloads plans first(map) aggregates, and any
      // var-length/complex aggregation BUFFER forces SortAggregate (sorts
      // every partition by the group key — measured the slowest projection
      // query in the suite). The fingerprints determine the maps, so
      // distinct() over (keys + canonical-JSON payloads) is the same row
      // set through a pure codegen HashAggregate; the maps re-materialize
      // from the canonical JSON on the deduped rows (codegen kernel too).
      .select(
        col("rounded_unix_milli"),
        col("__res.fprint").as("resource_fingerprint"),
        col("__att.fprint").as("attr_fingerprint"),
        graft.functions.MapSortedJson(col("__res.attrs")).as("__res_json"),
        graft.functions.MapSortedJson(col("__att.attrs")).as("__att_json"))
      .distinct()
      .select(
        col("rounded_unix_milli"),
        lit(dataSource).as("data_source"),
        col("resource_fingerprint"),
        col("attr_fingerprint"),
        graft.functions.JsonTypedMaps.of(col("__res_json"))
          .getField("strings").as("resource_attrs"),
        graft.functions.JsonTypedMaps.of(col("__att_json"))
          .getField("strings").as("attrs"))
    existing.fold(rows)(Exporter.antiJoin(rows, _,
      "rounded_unix_milli", "resource_fingerprint", "attr_fingerprint"))
  }

  /** `distributed_json_path_types` rows: the json_writer's body walk
    * (exporter/metadataexporter/json_writer.go walkNode + flushTypeSet) over
    * every JSON-object body — per-batch set union of (path, type) pairs,
    * tagged (signal='logs', field_context='body') like the flush SQL. The
    * kernel is per-row codegen; the cross-record union is one distinct().
    */
  def jsonPathTypes(logsV2: DataFrame, maxDepth: Int = 100,
      maxArrayElements: Int = 100, maxKeysAtLevel: Int = 1024): DataFrame =
    logsV2
      .select(explode(graft.functions.JsonPathTypes(
        col("body"), maxDepth, maxArrayElements, maxKeysAtLevel)).as("__pt"))
      .select(col("__pt.path").as("path"), col("__pt.dtype").as("data_type"))
      .distinct()
      .select(lit("logs").as("signal"), lit("body").as("field_context"),
        col("path"), col("data_type"))
}
