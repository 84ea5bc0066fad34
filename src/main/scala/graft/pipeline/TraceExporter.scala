package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GoJsonQuote, JsonStringArraySize, MapDropKeyPrefix, MapSortedJson,
  MapToTagRows, ResourceFingerprint, SpanEventsJson, SpanReferences, TypedAttrsGoJson}
import graft.model.LogSchema

/** The traces exporter slice: `ptrace`-shaped span frames -> the
  * `signoz_traces` sink family, replicating
  * `exporter/clickhousetracesexporter/clickhouse_exporter_v3.go` +
  * `writer.go` semantics with Spark primitives. Structurally a sibling of
  * [[Exporter]] (logs): shared 1800 s bucketing, resource fingerprint +
  * sorted-labels JSON, per-bucket resource dedup, hour-rounded tag metadata.
  *
  * Sinks produced (writer.go:152,236,291-297,518 + schema-migrator MVs):
  *  - `signoz_index_v3` — the span rows ([[spansV3]])
  *  - `traces_v3_resource` — per-bucket resource dedup ([[Exporter.resources]]
  *    over [[spansV3]]: same columns, same rfCache anti-join as logs)
  *  - `span_attributes` / `span_attributes_keys` — tag metadata
  *    ([[tagAttributes]], [[tagKeys]])
  *  - `signoz_error_index_v2` — exception events ([[errorEvents]])
  *  - `trace_summary` / `root_operations` — the two insert-time MV
  *    aggregations (traces_migrations.go:339-346,352-359), expressed as the
  *    groupBy they are ([[traceSummary]], [[rootOperations]])
  *
  * Determinism deviations (documented, same policy as [[Exporter]]):
  * `error_id` is an md5 of (trace_id, span_id, event ts) instead of a random
  * uuid (clickhouse_exporter_v3.go:158-160); tag unix_milli hours come from
  * the span start timestamp instead of wall-clock now; `record_size` is a
  * deterministic field-length formula standing in for
  * `len(json.Marshal(structuredSpan))` (clickhouse_exporter_v3.go:446-450).
  *
  * Where the reference's attribute iteration order is Go-map-nondeterministic
  * (populateCustomAttrsAndAttrs last-write-wins over `Range`), we fix a
  * precedence: the modern semconv key wins over the deprecated one
  * (`http.response.status_code` > `http.status_code`, `url.full` < `http.url`
  * per the possibleHostAttr ordering, `db.name` > `db.namespace`).
  */
object TraceExporter {

  /** `ServiceNameForResource` (clickhouse_exporter_v3.go:81-90). */
  def serviceName(resources: Column): Column =
    coalesce(resources.getItem("service.name"), lit("<nil-service-name>"))

  private def kindString(kind: Column): Column =
    when(kind === 1, "Internal")
      .when(kind === 2, "Server")
      .when(kind === 3, "Client")
      .when(kind === 4, "Producer")
      .when(kind === 5, "Consumer")
      .otherwise("Unspecified")

  private def statusString(code: Column): Column =
    when(code === 1, "Ok").when(code === 2, "Error").otherwise("Unset")

  /** `pkg/metering/v1/traces.go:44-125` SizePerSpan, evaluated over the
    * already-shaped columns this stage computes anyway (hex ids, pdata-style
    * `span_kind` string, byte-parity `events_json`/`references`). Key widths
    * are `len("\"<key>\"")` from the reference's KeySizes map; the two
    * omit rules are json.go:218-231 (`value == 0` / `value <= 2`).
    */
  private def spanBillingSize: Column = {
    def ifKey(keyLen: Int, value: Column, extra: Int): Column =
      when(value === 0L, 0L).otherwise(value + lit((keyLen + extra).toLong))
    def ifContainer(keyLen: Int, value: Column, extra: Int): Column =
      when(value <= 2L, 0L).otherwise(value + lit((keyLen + extra).toLong))
    def bytes(c: Column): Column = coalesce(octet_length(c).cast("long"), lit(0L))
    val emptyS = map().cast(LogSchema.mapSS)
    val emptyN = map().cast(LogSchema.mapSD)
    val emptyB = map().cast(LogSchema.mapSB)
    val resSize = bytes(MapSortedJson(col("billable_resources_string")))
    val strsSize = bytes(MapSortedJson(col("attributes_string")))
    val numsSize = bytes(TypedAttrsGoJson(emptyS, col("attributes_number"), emptyB,
      dropNonFinite = true))
    val boolsSize = bytes(TypedAttrsGoJson(emptyS, emptyN, col("attributes_bool")))
    val eventsSize = JsonStringArraySize(col("events_json"))
    // the stored refs string re-escapes when embedded, modeled as
    // size + count of '"' (json.go:190-201 SizeOfOtelSpanRefs)
    val refsSize = bytes(col("references")) +
      (length(col("references")) - length(replace(col("references"), lit("\""), lit("")))).cast("long")
    lit(2L) +
      ifContainer(18, resSize, 2) +                        // "resources_string"
      ifKey(19, bytes(col("timestamp").cast("string")), 2) + // "startTimeUnixNano"
      ifKey(8, bytes(col("span_id")), 4) +                 // "spanId" (hex = 16 or "")
      ifKey(9, bytes(col("trace_id")), 4) +                // "traceId" (hex = 32 or "")
      ifKey(12, bytes(col("trace_state")), 4) +            // "traceState"
      ifKey(14, bytes(col("parent_span_id")), 4) +         // "parentSpanId"
      ifKey(7, when(col("flags") === 0, 0L)
        .otherwise(bytes(col("flags").cast("string"))), 2) + // "flags"
      ifKey(6, bytes(col("name")), 4) +                    // "name"
      ifKey(6, bytes(col("kind").cast("string")), 2) +     // "kind"
      ifKey(10, bytes(col("span_kind")), 4) +              // "spanKind" (pdata String())
      ifContainer(19, strsSize, 2) +                       // "attributes_string"
      ifContainer(17, boolsSize, 2) +                      // "attributes_bool"
      ifContainer(19, numsSize, 2) +                       // "attributes_number"
      ifKey(13, bytes(GoJsonQuote(col("service_name"))), 2) + // "serviceName"
      ifContainer(7, eventsSize, 2) +                      // "event"
      ifContainer(12, refsSize, 4) -                       // "references"
      lit(1L)                                              // trailing comma
  }

  /** The reference's int-or-string status promotion
    * (clickhouse_exporter_v3.go:95-103,126-133): `Atoi(v.Str())` when it
    * parses non-zero, else `v.Int()`. With the typed-map split a string
    * value lives in attributes_string, an int in attributes_number.
    */
  private def intishStatus(key: String): Column = {
    val s = col("attributes_string").getItem(key)
    val n = col("attributes_number").getItem(key)
    val parsed = s.cast("long")
    when(s.isNotNull,
      when(parsed.isNotNull && parsed =!= 0L, parsed.cast("string")).otherwise(lit("0")))
      .otherwise(when(n.isNotNull, n.cast("long").cast("string")))
  }

  /** Go `url.Parse(u).Hostname()` for well-formed URLs; Go's parse-error
    * keep-raw path is not replicated (url.Parse errors only on control
    * characters).
    */
  private def hostOf(u: Column): Column =
    when(u.isNotNull, coalesce(parse_url(u, lit("HOST")), lit("")))

  /** possibleHostAttr (clickhouse_exporter_v3.go:28-31), first-present-wins
    * (the reference's Go-map order made ties nondeterministic; the skip-
    * override guard only protected this list against the http.url fallback).
    */
  private val hostAttrs =
    Seq("http.host", "server.address", "client.address",
      "http.request.header.host", "net.peer.name")

  /** The `signoz_index_v3`-shaped main sink (writer.go:168-205 column order,
    * newStructuredSpanV3 population). Input: a [[graft.model.SpanFrames]]
    * span frame.
    */
  def spansV3(spans: DataFrame, cfg: ExporterConfig = ExporterConfig()): DataFrame = {
    val aStr = col("attributes_string")

    val rawUrl = coalesce(aStr.getItem("http.url"), aStr.getItem("url.full"))
    val rawMethod = coalesce(aStr.getItem("http.method"), aStr.getItem("http.request.method"))
    val isClient = col("kind") === 3

    spans
      .filter(col("start_ts") >= lit(cfg.oldestAllowedTsNanos))
      .withColumn("ts_bucket_start",
        expr(s"((start_ts div 1000000000) div ${cfg.bucketSeconds}) * ${cfg.bucketSeconds}"))
      .withColumn("labels", MapSortedJson(col("resources_string")))
      .withColumn("resource_fingerprint", ResourceFingerprint(col("resources_string")))
      .withColumn("timestamp", col("start_ts"))
      .withColumn("duration_nano", col("end_ts") - col("start_ts"))
      .withColumn("span_kind", kindString(col("kind")))
      .withColumn("status_code_string", statusString(col("status_code")))
      .withColumn("has_error", col("status_code") === 2)
      // flags bit 8 = has-is-remote, bit 9 = is-remote
      // (clickhouse_exporter.go:31-32, exporter_v3.go:245-252)
      .withColumn("is_remote",
        when(col("flags").bitwiseAND(0x100) =!= 0,
          when(col("flags").bitwiseAND(0x200) =!= 0, "yes").otherwise("no"))
          .otherwise("unknown"))
      .withColumn("service_name", serviceName(col("resources_string")))
      .withColumn("response_status_code", coalesce(
        intishStatus("http.response.status_code"),
        intishStatus("http.status_code"),
        intishStatus("rpc.grpc.status_code"),
        aStr.getItem("rpc.jsonrpc.error_code"),
        lit("")))
      .withColumn("http_url", coalesce(rawUrl, lit("")))
      .withColumn("external_http_url",
        coalesce(when(isClient, hostOf(rawUrl)), lit("")))
      .withColumn("http_method", coalesce(rawMethod, lit("")))
      .withColumn("external_http_method",
        coalesce(when(isClient, rawMethod), lit("")))
      .withColumn("http_host", coalesce(
        coalesce(hostAttrs.map(aStr.getItem): _*),
        when(isClient, hostOf(rawUrl)),
        lit("")))
      .withColumn("db_name",
        coalesce(aStr.getItem("db.name"), aStr.getItem("db.namespace"), lit("")))
      .withColumn("db_operation",
        coalesce(aStr.getItem("db.operation"), aStr.getItem("db.operation.name"), lit("")))
      .withColumn("billable_resources_string",
        MapDropKeyPrefix(col("resources_string"), "signoz.workspace"))
      // InstrumentationScope marshalled in struct field order with Go value
      // escaping (schema-signoz.go:216-233; writer.go:164-167)
      .withColumn("scope_json", concat(
        lit("{\"name\":"), GoJsonQuote(col("scope_name")),
        lit(",\"version\":"), GoJsonQuote(col("scope_version")),
        lit(",\"attributes\":"),
        coalesce(MapSortedJson(col("scope_string")), lit("null")),
        lit("}")))
      .withColumn("events_json",
        coalesce(SpanEventsJson(col("events")),
          lit(Array.empty[String]).cast("array<string>")))
      .withColumn("references",
        SpanReferences(col("trace_id"), col("parent_span_id"), col("links")))
      // EXACT span billing size (pkg/metering/v1/traces.go:44-125
      // SizePerSpan + json.go sizer helpers): per-field quoted-key widths,
      // omit-if-zero / omit-if-empty-container rules, Go-JSON sizes of the
      // typed attr maps (NaN/Inf dropped — IsValidFloat), workspace-excluded
      // resource map, re-quoted event strings, references + a count of their
      // quote chars (json.go:190-201 models the stored escaped form), minus
      // the trailing comma.
      .withColumn("record_size", spanBillingSize)
      .select(
        col("ts_bucket_start"), col("resource_fingerprint"),
        col("timestamp"), col("trace_id"), col("span_id"),
        col("trace_state"), col("parent_span_id"), col("flags"),
        col("name"), col("kind"), col("span_kind"), col("duration_nano"),
        col("status_code"), col("status_message"), col("status_code_string"),
        col("attributes_string"), col("attributes_number"), col("attributes_bool"),
        col("resources_string"), col("billable_resources_string"),
        col("scope_json"), col("scope_string"),
        col("events_json"), col("references"),
        col("response_status_code"),
        col("external_http_url"), col("http_url"),
        col("external_http_method"), col("http_method"), col("http_host"),
        col("db_name"), col("db_operation"),
        col("has_error"), col("is_remote"),
        col("service_name"), col("labels"), col("record_size"),
        col("scope_name"), col("scope_version"))
  }

  /** All span tag rows (writer.go:311-421): the shared attribute and
    * resource rows ([[Exporter.explodeTagRows]]), scope tags
    * (scope.name/scope.version + scope attrs, empty values skipped —
    * schema-signoz.go:235-253), and the spanfield rows (name, kind,
    * kind_string, status_code, status_code_string). Hour-rounded
    * unix_milli from the span start ts (writer.go:312).
    */
  private def tagRows(spansV3: DataFrame): DataFrame =
    // NO functions.filter(lambda) here — HigherOrderFunction =
    // CodegenFallback; empty scope values are dropped by the plain
    // post-explode filter below instead (same rows, stays in codegen)
    Exporter.explodeTagRows(spansV3,
      concat(
        array(
          Exporter.stringTag("scope.name", "scope", col("scope_name")),
          Exporter.stringTag("scope.version", "scope", col("scope_version"))),
        MapToTagRows(col("scope_string"), "scope", "string", mode = 0)),
      array(
        Exporter.stringTag("name", "spanfield", col("name")),
        Exporter.stringTag("kind_string", "spanfield", col("span_kind")),
        Exporter.numberTag("kind", "spanfield", col("kind")),
        Exporter.stringTag("status_code_string", "spanfield", col("status_code_string")),
        Exporter.numberTag("status_code", "spanfield", col("status_code"))))
      // NaN numbers are skipped (utils.IsValidFloat gate, exporter_v3.go:189-196)
      .filter(col("number_value").isNull || !isnan(col("number_value")))
      // scope rows with empty values are skipped (schema-signoz.go:240-243)
      .filter(col("tag_type") =!= "scope" ||
        (col("string_value").isNotNull && col("string_value") =!= ""))

  /** `span_attributes` sink rows: the shared tail (writer.go:303-353
    * value/key maps). Unlike the logs tag writer there is no random-key
    * keycheck on the traces path.
    */
  def tagAttributes(spansV3: DataFrame, cfg: ExporterConfig = ExporterConfig()): DataFrame =
    Exporter.tagAttributeRows(tagRows(spansV3), cfg)

  /** `span_attributes_keys`: distinct (key, tagType, dataType, isColumn)
    * (writer.go:328-350); every shaped attribute here has isColumn=false.
    */
  def tagKeys(spansV3: DataFrame): DataFrame =
    tagRows(spansV3).filter(col("tag_type").isin("tag", "resource", "scope"))
      .select(col("tag_key"), col("tag_type"), col("tag_data_type"),
        lit(false).as("is_column"))
      .dropDuplicates()

  /** `signoz_error_index_v2` rows (populateEventsV3 + writeErrorBatchV3,
    * exporter_v3.go:142-172 + writer.go:242-264): one row per exception
    * event. Input is the RAW span frame (it still has the events structs).
    *
    * `low_cardinal_exception_grouping` drops exception.message from the
    * group hash (config `low_cardinal_exception_grouping`,
    * exporter_v3.go:160-165).
    */
  def errorEvents(spans: DataFrame, lowCardinalGrouping: Boolean = false): DataFrame = {
    val svc = serviceName(col("resources_string"))
    val e = col("e")
    val attrs = e.getField("attrs")
    val exType = coalesce(attrs.getItem("exception.type"), lit(""))
    val exMsg = coalesce(attrs.getItem("exception.message"), lit(""))
    val groupInput =
      if (lowCardinalGrouping) concat(col("service_name"), exType)
      else concat(col("service_name"), exType, exMsg)
    spans
      .select(col("trace_id"), col("span_id"), col("resources_string"),
        svc.as("service_name"), explode(col("events")).as("e"))
      .filter(col("e.name") === "exception" || col("e.name").endsWith(".exception"))
      .select(
        col("e.ts_ns").as("timestamp"),
        // deterministic surrogate for uuid.New (exporter_v3.go:157-159)
        md5(concat(col("trace_id"), lit("#"), col("span_id"), lit("#"),
          col("e.ts_ns").cast("string"))).as("error_id"),
        md5(groupInput).as("error_group_id"),
        col("trace_id"), col("span_id"), col("service_name"),
        exType.as("exception_type"),
        exMsg.as("exception_message"),
        coalesce(attrs.getItem("exception.stacktrace"), lit("")).as("exception_stacktrace"),
        (attrs.getItem("exception.escaped") === "true").as("exception_escaped"),
        col("resources_string"))
  }

  /** `trace_summary` (traces_migrations.go:339-346): per-trace min/max span
    * START timestamp + span count — the insert-time MV as the aggregation
    * it is. At 100 TB this is the canonical partial-agg shuffle on trace_id.
    */
  def traceSummary(spansV3: DataFrame): DataFrame =
    spansV3.groupBy(col("trace_id"))
      .agg(min(col("timestamp")).as("start"), max(col("timestamp")).as("end"),
        count(lit(1)).as("num_spans"))

  /** `root_operations` (traces_migrations.go:352-359): DISTINCT
    * (name, serviceName) over root spans.
    */
  def rootOperations(spansV3: DataFrame): DataFrame =
    spansV3.filter(col("parent_span_id") === "")
      .select(col("name"), col("service_name").as("serviceName"))
      .dropDuplicates()

  /** `sub_root_operations` MV (squashed_traces_migrations.go:840-853,
    * dest table `top_level_operations` — shared with [[rootOperations]]):
    * DISTINCT (name, serviceName) over spans whose PARENT span belongs to a
    * different service — the "entry operations" of each service that are not
    * trace roots.
    *
    * The reference MV self-joins on span id alone
    * (`A.parentSpanID = B.spanID AND A.serviceName != B.serviceName`); a
    * parent span is by OTel definition in the same trace, so — exactly like
    * [[dependencyGraph]]'s service edges — this join leads with trace_id and
    * SHUFFLE_HASH so both sides co-partition on one narrow shuffle each
    * instead of hashing 100 TB of spans on a random span_id.
    */
  def subRootOperations(spansV3: DataFrame): DataFrame = {
    val parents = spansV3.select(col("trace_id"),
      col("span_id").as("parent_span_id"),
      col("service_name").as("parent_service"))
    spansV3.filter(col("parent_span_id") =!= "")
      .select(col("trace_id"), col("parent_span_id"),
        col("name"), col("service_name"))
      .join(parents.hint("SHUFFLE_HASH"), Seq("trace_id", "parent_span_id"))
      .filter(col("parent_service") =!= col("service_name"))
      .select(col("name"), col("service_name").as("serviceName"))
      .dropDuplicates()
  }

  /** `usage_explorer_mv` (squashed_traces_migrations.go:707-724): span count
    * per service per hour — `toStartOfHour(timestamp)` over the span start.
    * Emitted as epoch-second hour starts (the DateTime64 rendering is the
    * sink's concern). A two-key partial-agg groupBy: the canonical map-side
    * combine shape at any scale.
    */
  def usageExplorer(spansV3: DataFrame): DataFrame =
    spansV3.groupBy(
        expr("(timestamp div 3600000000000) * 3600").as("timestamp"),
        col("service_name"))
      .agg(count(lit(1)).as("count"))

  /** `durationSort` projection (squashed_traces_migrations.go:150-287:
    * durationSortMV selects the index columns verbatim into a table with
    * `ORDER BY (durationNano, timestamp)`). The v2 MV's materialized
    * attribute columns (httpRoute, rpc*) come from the span attr map; the
    * tag maps are the typed attribute maps under their v2 names.
    *
    * The ClickHouse table exists purely as a second physical sort order so
    * duration-threshold queries scan a contiguous range. The Spark analogue
    * is writing this projection `repartitionByRange(durationNano)` +
    * `sortWithinPartitions(durationNano, timestamp)`: parquet min/max stats
    * per file/row-group then give duration-range queries the same
    * partition-pruned scan ([[graft.sinks.GraftTable]] write path).
    */
  def durationSort(spansV3: DataFrame): DataFrame = {
    def attr(k: String): Column =
      coalesce(col("attributes_string").getItem(k), lit(""))
    spansV3.select(
      col("timestamp"),
      col("trace_id").as("traceID"),
      col("span_id").as("spanID"),
      col("parent_span_id").as("parentSpanID"),
      col("service_name").as("serviceName"),
      col("name"),
      col("kind"),
      col("duration_nano").as("durationNano"),
      col("status_code").as("statusCode"),
      col("http_method").as("httpMethod"),
      col("http_url").as("httpUrl"),
      attr("http.route").as("httpRoute"),
      col("http_host").as("httpHost"),
      col("has_error").as("hasError"),
      attr("rpc.system").as("rpcSystem"),
      attr("rpc.service").as("rpcService"),
      attr("rpc.method").as("rpcMethod"),
      col("response_status_code").as("responseStatusCode"),
      col("attributes_string").as("stringTagMap"),
      col("attributes_number").as("numberTagMap"),
      col("attributes_bool").as("boolTagMap"),
      col("is_remote").as("isRemote"),
      col("status_message").as("statusMessage"),
      col("status_code_string").as("statusCodeString"),
      col("span_kind").as("spanKind"))
  }

  /** `dependency_graph_minutes_v2` MV family (squashed_traces_migrations.go:
    * 477-634): per-minute (src, dest, resource-env) call edges with exact
    * duration quantiles (0.5/0.75/0.9/0.95/0.99 — the batch equivalent of
    * the ClickHouse `quantilesState` the MVs accumulate), error count
    * (statusCode=2) and total count, unioned from three edge sources:
    *
    *  - db calls     (mig 11): src=serviceName, dest=`db.system` attr,
    *    `dest != '' AND kind != 2`
    *  - messaging    (mig 12): same with dest=`messaging.system`
    *  - service calls (mig 13): spans self-join `A.spanID = B.parentSpanID`
    *    with `A.serviceName != B.serviceName`; quantile/count metrics and
    *    resource tags come from the CHILD (B) side
    *
    * Spark-first scale shape: the reference MV joins on span id alone
    * (relying on 8-byte-id uniqueness); a parent span is by OTel definition
    * in the SAME trace, so this join adds trace_id as the leading key —
    * both sides co-partition on one (trace_id, span_id) shuffle each
    * (SortMergeJoin), instead of shuffling 100 TB of spans on a
    * high-cardinality random span_id with no locality. Root spans
    * (parent_span_id = '') are filtered before the shuffle.
    */
  def dependencyGraph(spansV3: DataFrame,
      approxQuantiles: Boolean = true): DataFrame = {
    def resTag(k: String): Column =
      coalesce(col("resources_string").getItem(k), lit(""))
    val base = spansV3.select(
      col("trace_id"), col("span_id"), col("parent_span_id"),
      col("service_name"), col("kind"), col("status_code"),
      col("duration_nano"), col("timestamp"),
      col("attributes_string").getItem("db.system").as("db_system"),
      col("attributes_string").getItem("messaging.system").as("msg_system"),
      resTag("deployment.environment").as("deployment_environment"),
      resTag("k8s.cluster.name").as("k8s_cluster_name"),
      resTag("k8s.namespace.name").as("k8s_namespace_name"))

    val edgeCols = Seq(
      expr("(timestamp div 60000000000) * 60").as("timestamp"),
      col("deployment_environment"), col("k8s_cluster_name"),
      col("k8s_namespace_name"), col("status_code"), col("duration_nano"))

    // db + messaging edges in ONE pass: explode over both candidate dests,
    // then a codegen filter — the per-dest union form scanned the span
    // source twice (at 100 TB an extra full pass over spans). explode keeps
    // whole-stage codegen where an `array_compact`/`filter` HOF would not.
    val attrEdges = base
      .filter(col("kind") =!= 2)
      .select(col("service_name").as("src") +:
        explode(array(col("db_system"), col("msg_system"))).as("dest") +:
        edgeCols: _*)
      .filter(col("dest").isNotNull && col("dest") =!= "")

    // SHUFFLE_HASH on the parents side skips both SMJ sorts (measured 4.5 s
    // -> 3.1 s warm, 8.2 s -> 3.8 s cold at 10 M spans). Build state is the
    // narrow (trace_id, span_id, service) projection hashed per partition —
    // bounded by shuffle-partition sizing, the same invariant every hash
    // aggregate in the pipeline already relies on; a single-scan
    // window-over-tagged-union variant measured equal locally and was
    // rejected for the complexity.
    val parents = base.select(col("trace_id"),
      col("span_id").as("parent_span_id"), col("service_name").as("src"))
    val svcEdges = base.filter(col("parent_span_id") =!= "")
      .join(parents.hint("SHUFFLE_HASH"), Seq("trace_id", "parent_span_id"))
      .filter(col("src") =!= col("service_name"))
      .select(col("src") +: col("service_name").as("dest") +: edgeCols: _*)

    attrEdges
      .unionByName(svcEdges)
      .groupBy(col("timestamp"), col("src"), col("dest"),
        col("deployment_environment"), col("k8s_cluster_name"),
        col("k8s_namespace_name"))
      .agg(
        // the reference's own MV is sampling-based-approximate
        // (`quantilesState(0.5, 0.75, 0.9, 0.95, 0.99)`,
        // squashed_traces_migrations.go:527), so approx is the PARITY
        // default and the scale-safe plan: approx_percentile's KLL-style
        // sketch buffer is bounded by the accuracy parameter, where exact
        // `percentile` buffers every distinct value of a group — one hot
        // service edge in one minute at 100x is an unbounded aggregation
        // buffer. Exact mode stays for the DuckDB oracle row
        // (quantile_cont has no sketch-identical analogue to compare
        // against).
        (if (approxQuantiles)
          expr("cast(approx_percentile(cast(duration_nano as double), " +
            "array(0.5D, 0.75D, 0.9D, 0.95D, 0.99D), 10000) as array<double>)")
        else
          expr("percentile(cast(duration_nano as double), " +
            "array(0.5D, 0.75D, 0.9D, 0.95D, 0.99D))")).as("duration_quantiles"),
        sum(when(col("status_code") === 2, 1L).otherwise(0L)).as("error_count"),
        count(lit(1)).as("total_count"))
  }

  /** Usage metering per service (usage.go; count + deterministic size). */
  def usage(spansV3: DataFrame): DataFrame =
    spansV3.groupBy(col("service_name"))
      .agg(count(lit(1)).as("n_spans"), sum(col("record_size")).as("n_bytes"))
}
