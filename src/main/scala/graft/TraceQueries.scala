package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql.fnvSignedSql
import graft.Query.read
import graft.model.SpanFrames
import graft.pipeline.{LlmPricing, TraceExporter}

/** Driver-checked queries for the traces exporter slice: the `events` table
  * lifted into deterministic span frames, shaped by [[TraceExporter]], with
  * every output replicated in DuckDB SQL beside it.
  *
  * Span derivation (pure column arithmetic so the oracle can reconstruct
  * every field): one span per event; `user_id` groups events into traces;
  * ids are zero-padded lowercase hex; kind/flags/status cycle through the
  * interesting cases (client spans for the url-hostname path, remote-flag
  * combinations, error statuses with exception events).
  */
object TraceQueries {

  // round 6: the single-row-group events scan plans as one task; queries
  // whose per-row lift outweighs a ~0.1 s repartition opt in with
  // wide=true (measured per query; no-op at production width — Par.scala)
  private[graft] def eventsAsSpans(spark: SparkSession, dir: String,
      wide: Boolean = false): DataFrame = {
    val ev = read(spark, dir, "events")
    spansFrom(if (wide) graft.ops.Par.widen(ev, col("event_id")) else ev)
  }

  /** The span lift as a pure DataFrame->DataFrame so the scale-up bench can
    * apply it to a synthetic events table of the same shape.
    */
  private[graft] def spansFrom(ev: DataFrame): DataFrame = {
    SpanFrames.withDefaults(ev.select(
      col("event_id"),
      lpad(graft.functions.FastLower(hex(col("user_id"))), 32, "0").as("trace_id"),
      lpad(graft.functions.FastLower(hex(col("event_id"))), 16, "0").as("span_id"),
      when(col("event_id") % 5 === 0, "")
        .otherwise(lpad(graft.functions.FastLower(hex(col("user_id") * 7 + 3)), 16, "0"))
        .as("parent_span_id"),
      (unix_micros(col("ts").cast("timestamp")) * 1000L).as("start_ts"),
      (unix_micros(col("ts").cast("timestamp")) * 1000L +
        floor(col("value") * 1000000L).cast("long")).as("end_ts"),
      (col("event_id") % 6).cast("int").as("kind"),
      ((col("event_id") % 4) * 256).cast("int").as("flags"),
      when(col("event_type") === "error", 2)
        .when(col("event_id") % 7 === 0, 1).otherwise(0).cast("int").as("status_code"),
      when(col("event_type") === "error", "boom").otherwise("").as("status_message"),
      col("event_type").as("name"),
      map(
        lit("event_type"), col("event_type"),
        lit("http.url"),
        concat(lit("https://api.example.com:8443/v"), (col("event_id") % 10).cast("string")))
        .as("attributes_string"),
      map(
        lit("http.status_code"), (lit(200) + (col("event_id") % 4) * 100).cast("double"),
        lit("value"), col("value")).as("attributes_number"),
      map(lit("service.name"),
        concat(lit("svc-"), (col("user_id") % 4).cast("string"))).as("resources_string"),
      when(col("event_type") === "error", array(struct(
        lit("exception").as("name"),
        (unix_micros(col("ts").cast("timestamp")) * 1000L + 1000000L).as("ts_ns"),
        map(
          lit("exception.type"), concat(lit("E"), (col("event_id") % 3).cast("string")),
          lit("exception.message"), concat(lit("m"), (col("user_id") % 5).cast("string")))
          .as("attrs"))))
        .otherwise(lit(null)).cast(graft.model.SpanSchema.eventType).as("events")))
  }

  /** q_dep_graph's span enrichment: `db.system` / `messaging.system` attrs
    * on every 11th / 13th event (the attribute edges) and a `service.name`
    * per event rather than per user, so the trace-co-partitioned self-join
    * finds cross-service edges. ScaleUp's dep_graph row runs the same.
    */
  private[graft] def depGraphSpans(spans: DataFrame): DataFrame = {
    val emptyMap = map().cast("map<string,string>")
    spans
      .withColumn("attributes_string", map_concat(
        col("attributes_string"),
        when(col("event_id") % 11 === 0,
          map(lit("db.system"), lit("postgres"))).otherwise(emptyMap),
        when(col("event_id") % 13 === 0,
          map(lit("messaging.system"), lit("kafka"))).otherwise(emptyMap)))
      .withColumn("resources_string", map(lit("service.name"),
        concat(lit("svc-"), (col("event_id") % 4).cast("string"))))
  }

  /** Deterministic LLM-usage span attrs over `events`: model cycles through
    * a subtract-mode match / additive-mode match / no-match / absent, token
    * counts are modular arithmetic on event_id (with an explicit all-zero
    * stripe), so the DuckDB oracle can replicate the full cost computation.
    */
  private[graft] def llmSpans(ev: DataFrame): DataFrame = {
    val zero = col("event_id") % 11 === 0
    val model = when(col("event_id") % 4 === 0, lit("gpt-4o-mini"))
      .when(col("event_id") % 4 === 1, lit("claude-3-5-sonnet"))
      .when(col("event_id") % 4 === 2, lit("unknown-model"))
    ev.select(
      col("event_id"),
      when(model.isNotNull, map(lit("gen_ai.request.model"), model))
        .otherwise(map().cast(graft.model.LogSchema.mapSS)).as("attributes_string"),
      map(
        lit("gen_ai.usage.input_tokens"),
        when(zero, 0.0).otherwise((col("event_id") % 997).cast("double")),
        lit("gen_ai.usage.output_tokens"),
        when(zero, 0.0).otherwise((col("event_id") % 503).cast("double")),
        lit("gen_ai.usage.cache_read_tokens"),
        when(zero || col("event_id") % 3 =!= 0, 0.0)
          .otherwise((col("event_id") % 251).cast("double")),
        lit("gen_ai.usage.cache_write_tokens"),
        when(zero || col("event_id") % 5 =!= 0, 0.0)
          .otherwise((col("event_id") % 127).cast("double"))).as("attributes_number"))
  }

  /** The reference processor_test.go pricing table: gpt-4o subtract-mode,
    * claude additive-mode, first-match-wins.
    */
  private[graft] val llmCfg = LlmPricing.Config(
    attrs = LlmPricing.AttrMapping(
      model = "gen_ai.request.model",
      in = "gen_ai.usage.input_tokens",
      out = "gen_ai.usage.output_tokens",
      cacheRead = "gen_ai.usage.cache_read_tokens",
      cacheWrite = "gen_ai.usage.cache_write_tokens"),
    rules = Seq(
      LlmPricing.Rule("gpt-4o", Seq("gpt-4o*"),
        LlmPricing.CacheCfg(LlmPricing.CacheModeSubtract, read = 2.5), in = 5.0, out = 15.0),
      LlmPricing.Rule("claude", Seq("claude-*"),
        LlmPricing.CacheCfg(LlmPricing.CacheModeAdditive, read = 0.30, write = 3.75),
        in = 3.0, out = 15.0)),
    outputAttrs = LlmPricing.OutputMapping(
      in = "_signoz.gen_ai.cost_input",
      out = "_signoz.gen_ai.cost_output",
      cacheRead = "_signoz.gen_ai.cost_cache_read",
      cacheWrite = "_signoz.gen_ai.cost_cache_write",
      total = "_signoz.gen_ai.total_cost"))
  // is_remote by event_id % 4: 0 -> 0x000 unknown, 1 -> 0x100 no,
  // 2 -> 0x200 unknown (has-bit unset), 3 -> 0x300 yes
  private val isRemoteCase =
    """CASE event_id % 4 WHEN 1 THEN 'no' WHEN 3 THEN 'yes' ELSE 'unknown' END"""

  private val kindCase =
    """CASE event_id % 6 WHEN 1 THEN 'Internal' WHEN 2 THEN 'Server'
      |     WHEN 3 THEN 'Client' WHEN 4 THEN 'Producer' WHEN 5 THEN 'Consumer'
      |     ELSE 'Unspecified' END""".stripMargin

  private val traceIdSql = "lpad(lower(hex(user_id)), 32, '0')"
  private val spanIdSql = "lpad(lower(hex(event_id)), 16, '0')"
  private val parentSql =
    "CASE WHEN event_id % 5 = 0 THEN '' ELSE lpad(lower(hex(user_id * 7 + 3)), 16, '0') END"
  private val serviceSql = "'svc-' || CAST(user_id % 4 AS VARCHAR)"

  private val kindEnumCase =
    """CASE event_id % 6 WHEN 1 THEN 'SPAN_KIND_INTERNAL'
      |     WHEN 2 THEN 'SPAN_KIND_SERVER' WHEN 3 THEN 'SPAN_KIND_CLIENT'
      |     WHEN 4 THEN 'SPAN_KIND_PRODUCER' WHEN 5 THEN 'SPAN_KIND_CONSUMER'
      |     ELSE 'SPAN_KIND_UNSPECIFIED' END""".stripMargin

  private val statusEnumCase =
    """CASE WHEN event_type = 'error' THEN 'STATUS_CODE_ERROR'
      |     WHEN event_id % 7 = 0 THEN 'STATUS_CODE_OK'
      |     ELSE 'STATUS_CODE_UNSET' END""".stripMargin


  val table: Seq[Query] = Seq(

    // signozllmpricingprocessor: glob-matched pricing rules, subtract vs
    // additive cache billing, skip semantics (SURVEY §2.11)
    Query("q_llm_costs", (s, d) => {
      val priced = LlmPricing(llmSpans(read(s, d, "events")), llmCfg)
      priced.select(
        col("event_id"),
        element_at(col("attributes_string"), "gen_ai.request.model").as("model"),
        element_at(col("attributes_number"), "_signoz.gen_ai.cost_input").as("cost_input"),
        element_at(col("attributes_number"), "_signoz.gen_ai.cost_output").as("cost_output"),
        element_at(col("attributes_number"), "_signoz.gen_ai.cost_cache_read").as("cost_cache_read"),
        element_at(col("attributes_number"), "_signoz.gen_ai.cost_cache_write").as("cost_cache_write"),
        element_at(col("attributes_number"), "_signoz.gen_ai.total_cost").as("total_cost"))
    },
      // replicate the full pricing computation: glob match (LIKE), subtract vs
      // additive billing, skip semantics (no model / no rule / all-zero counts)
      """WITH base AS (
        |  SELECT event_id,
        |    CASE event_id % 4 WHEN 0 THEN 'gpt-4o-mini'
        |         WHEN 1 THEN 'claude-3-5-sonnet'
        |         WHEN 2 THEN 'unknown-model' END AS model,
        |    CASE WHEN event_id % 11 = 0 THEN 0.0
        |         ELSE CAST(event_id % 997 AS DOUBLE) END AS tin,
        |    CASE WHEN event_id % 11 = 0 THEN 0.0
        |         ELSE CAST(event_id % 503 AS DOUBLE) END AS tout,
        |    CASE WHEN event_id % 11 = 0 OR event_id % 3 <> 0 THEN 0.0
        |         ELSE CAST(event_id % 251 AS DOUBLE) END AS cr,
        |    CASE WHEN event_id % 11 = 0 OR event_id % 5 <> 0 THEN 0.0
        |         ELSE CAST(event_id % 127 AS DOUBLE) END AS cw
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    CASE WHEN model LIKE 'gpt-4o%' THEN 0
        |         WHEN model LIKE 'claude-%' THEN 1 ELSE -1 END AS rule
        |  FROM base),
        |c AS (
        |  SELECT *,
        |    (model IS NOT NULL AND rule >= 0
        |     AND NOT (tin = 0 AND tout = 0 AND cr = 0 AND cw = 0)) AS processed,
        |    CASE WHEN rule = 0 THEN greatest(tin - cr, 0.0) * 5.0 / 1000000.0
        |         ELSE tin * 3.0 / 1000000.0 END AS ci,
        |    tout * 15.0 / 1000000.0 AS co,
        |    CASE WHEN rule = 0 THEN cr * 2.5 / 1000000.0
        |         ELSE cr * 0.3 / 1000000.0 END AS crd,
        |    CASE WHEN rule = 0 THEN 0.0 ELSE cw * 3.75 / 1000000.0 END AS cwr
        |  FROM r)
        |SELECT event_id, model,
        |  CASE WHEN processed THEN ci END AS cost_input,
        |  CASE WHEN processed THEN co END AS cost_output,
        |  CASE WHEN processed THEN crd END AS cost_cache_read,
        |  CASE WHEN processed THEN cwr END AS cost_cache_write,
        |  CASE WHEN processed THEN ci + crd + cwr + co END AS total_cost
        |FROM c""".stripMargin),

    // signoz_index_v3 shaping: kind/status strings, flag decode, custom-attr
    // promotion, bucketing, references JSON (SURVEY §2.11)
    Query("q_spans_v3", (s, d) => {
      TraceExporter.spansV3(eventsAsSpans(s, d)).select(
        col("span_id"), col("trace_id"), col("parent_span_id"),
        col("ts_bucket_start"), col("duration_nano"),
        col("kind"), col("span_kind"),
        col("status_code"), col("status_code_string"), col("has_error"),
        col("is_remote"), col("response_status_code"),
        col("http_url"), col("external_http_url"), col("http_host"),
        col("service_name"), col("references"))
    },
      s"""SELECT
         |  $spanIdSql AS span_id,
         |  $traceIdSql AS trace_id,
         |  $parentSql AS parent_span_id,
         |  CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS ts_bucket_start,
         |  CAST(floor(value * 1000000) AS BIGINT) AS duration_nano,
         |  CAST(event_id % 6 AS INT) AS kind,
         |  $kindCase AS span_kind,
         |  CAST(CASE WHEN event_type = 'error' THEN 2
         |            WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS INT) AS status_code,
         |  CASE WHEN event_type = 'error' THEN 'Error'
         |       WHEN event_id % 7 = 0 THEN 'Ok' ELSE 'Unset' END AS status_code_string,
         |  event_type = 'error' AS has_error,
         |  $isRemoteCase AS is_remote,
         |  CAST(200 + (event_id % 4) * 100 AS VARCHAR) AS response_status_code,
         |  'https://api.example.com:8443/v' || CAST(event_id % 10 AS VARCHAR) AS http_url,
         |  CASE WHEN event_id % 6 = 3 THEN 'api.example.com' ELSE '' END AS external_http_url,
         |  CASE WHEN event_id % 6 = 3 THEN 'api.example.com' ELSE '' END AS http_host,
         |  $serviceSql AS service_name,
         |  CASE WHEN event_id % 5 = 0
         |       THEN '[{"traceId":"' || $traceIdSql || '","refType":"CHILD_OF"}]'
         |       ELSE '[{"traceId":"' || $traceIdSql || '","spanId":"' || $parentSql
         |            || '","refType":"CHILD_OF"}]' END AS references
         |FROM events""".stripMargin),

    // trace_summary MV as the per-trace aggregation it is
    Query("q_trace_summary", (s, d) => {
      TraceExporter.traceSummary(TraceExporter.spansV3(eventsAsSpans(s, d)))
    },
      // per-trace min/max span START ts + span count (trace_summary_mv)
      s"""SELECT $traceIdSql AS trace_id,
         |       min(CAST(epoch_us(ts) AS BIGINT) * 1000) AS start,
         |       max(CAST(epoch_us(ts) AS BIGINT) * 1000) AS "end",
         |       count(*) AS num_spans
         |FROM events GROUP BY 1""".stripMargin),

    // signoz_error_index_v2: exception events with md5 grouping
    Query("q_span_errors", (s, d) => {
      TraceExporter.errorEvents(eventsAsSpans(s, d, wide = true)).select(
        col("timestamp"), col("error_id"), col("error_group_id"),
        col("trace_id"), col("span_id"), col("service_name"),
        col("exception_type"), col("exception_message"))
    },
      s"""SELECT
         |  CAST(epoch_us(ts) AS BIGINT) * 1000 + 1000000 AS timestamp,
         |  md5($traceIdSql || '#' || $spanIdSql || '#'
         |      || CAST(CAST(epoch_us(ts) AS BIGINT) * 1000 + 1000000 AS VARCHAR)) AS error_id,
         |  md5($serviceSql || 'E' || CAST(event_id % 3 AS VARCHAR)
         |      || 'm' || CAST(user_id % 5 AS VARCHAR)) AS error_group_id,
         |  $traceIdSql AS trace_id,
         |  $spanIdSql AS span_id,
         |  $serviceSql AS service_name,
         |  'E' || CAST(event_id % 3 AS VARCHAR) AS exception_type,
         |  'm' || CAST(user_id % 5 AS VARCHAR) AS exception_message
         |FROM events WHERE event_type = 'error'""".stripMargin),

    // traces usage metering: span count + EXACT billing bytes per service
    // (pkg/metering/v1/traces.go SizePerSpan — the oracle recomputes the
    // field-by-field byte math over the deterministic span shaping)
    Query("q_trace_usage", (s, d) => {
      TraceExporter.usage(TraceExporter.spansV3(eventsAsSpans(s, d)))
    },
      // SizePerSpan recomputed field-by-field: constant part 331 = braces(2) +
      // resources(44: {"service.name":"svc-K"}=24 +18+2) + start key(21) +
      // spanId(28) + traceId(45) + name key(10) + kind(9) + spanKind key(14) +
      // attrs_string(83 + 2 digit-lens) + attrs_number(54 + value len) +
      // serviceName(22) - 1; variable: ts digits, event_type len (name AND the
      // attrs_string map), pdata kind-string len, Go-rendered value len,
      // parent(34|0), flags(12|0), exception event (146 + event-ts digits | 0),
      // references(125|44).
      s"""SELECT $serviceSql AS service_name, count(*) AS n_spans,
         |  CAST(SUM(
         |    331
         |    + strlen(CAST(epoch_ns(ts) AS VARCHAR))
         |    + 2 * strlen(event_type)
         |    + CASE CAST(event_id % 6 AS INT) WHEN 0 THEN 11 WHEN 1 THEN 8
         |        WHEN 2 THEN 6 WHEN 3 THEN 6 ELSE 8 END
         |    + strlen(CASE WHEN value = floor(value)
         |        THEN CAST(CAST(value AS BIGINT) AS VARCHAR)
         |        ELSE CAST(value AS VARCHAR) END)
         |    + CASE WHEN event_id % 5 = 0 THEN 0 ELSE 34 END
         |    + CASE WHEN event_id % 4 = 0 THEN 0 ELSE 12 END
         |    + CASE WHEN event_type = 'error'
         |        THEN 146 + strlen(CAST(epoch_ns(ts) + 1000000 AS VARCHAR))
         |        ELSE 0 END
         |    -- refs: parent ref is unconditional (len([8]byte) guard bug);
         |    -- orphans keep the non-empty traceId, spanId omitempty-drops
         |    + CASE WHEN event_id % 5 = 0 THEN 93 ELSE 125 END
         |  ) AS BIGINT) AS n_bytes
         |FROM events GROUP BY 1""".stripMargin),

    // root_operations MV: DISTINCT (name, serviceName) over root spans
    Query("q_root_ops", (s, d) => {
      TraceExporter.rootOperations(TraceExporter.spansV3(eventsAsSpans(s, d)))
    },
      s"""SELECT DISTINCT event_type AS name, $serviceSql AS serviceName
         |FROM events WHERE event_id % 5 = 0""".stripMargin),

    // sub_root_operations MV: DISTINCT (name, serviceName) of spans whose
    // parent belongs to a DIFFERENT service (trace-co-partitioned self-join,
    // same scale shape as dependencyGraph). Resources keyed off event_id so
    // traces actually cross services (the default lift keys them by trace).
    Query("q_sub_root_ops", (s, d) => {
      val spans = eventsAsSpans(s, d)
        .withColumn("resources_string", map(lit("service.name"),
          concat(lit("svc-"), (col("event_id") % 4).cast("string"))))
      TraceExporter.subRootOperations(TraceExporter.spansV3(spans))
    },
      // child ops whose (same-trace) parent is another service
      s"""WITH spans AS (
         |  SELECT event_type AS name,
         |    'svc-' || CAST(event_id % 4 AS VARCHAR) AS service_name,
         |    $traceIdSql AS trace_id,
         |    $spanIdSql AS span_id,
         |    $parentSql AS parent_span_id
         |  FROM events
         |)
         |SELECT DISTINCT c.name, c.service_name AS serviceName
         |FROM spans c JOIN spans p
         |  ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
         |WHERE c.parent_span_id != '' AND p.service_name != c.service_name""".stripMargin),

    // usage_explorer MV: span count per service per hour
    Query("q_usage_explorer", (s, d) => {
      TraceExporter.usageExplorer(TraceExporter.spansV3(eventsAsSpans(s, d)))
    },
      s"""SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS timestamp,
         |       $serviceSql AS service_name, count(*) AS count
         |FROM events GROUP BY 1, 2""".stripMargin),

    // durationSort projection: the duration-ordered second index — the
    // slowest 1000 spans via TakeOrderedAndProject (no full sort/shuffle)
    Query("q_duration_sort", (s, d) => {
      TraceExporter.durationSort(TraceExporter.spansV3(eventsAsSpans(s, d, wide = true)))
        .select(col("timestamp"), col("traceID"), col("spanID"),
          col("parentSpanID"), col("serviceName"), col("name"), col("kind"),
          col("durationNano"), col("statusCode"), col("httpMethod"),
          col("httpUrl"), col("httpRoute"), col("httpHost"), col("hasError"),
          col("rpcSystem"), col("responseStatusCode"), col("isRemote"),
          col("statusCodeString"), col("spanKind"))
        .orderBy(col("durationNano").desc, col("timestamp"), col("spanID"))
        .limit(1000)
    },
      // duration-ordered index projection: slowest 1000 spans, tie-broken on
      // (timestamp, spanID) so the LIMIT is deterministic cross-engine
      s"""SELECT
         |  CAST(epoch_us(ts) AS BIGINT) * 1000 AS timestamp,
         |  $traceIdSql AS traceID,
         |  $spanIdSql AS spanID,
         |  $parentSql AS parentSpanID,
         |  $serviceSql AS serviceName,
         |  event_type AS name,
         |  CAST(event_id % 6 AS INT) AS kind,
         |  CAST(floor(value * 1000000) AS BIGINT) AS durationNano,
         |  CAST(CASE WHEN event_type = 'error' THEN 2
         |            WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS INT) AS statusCode,
         |  '' AS httpMethod,
         |  'https://api.example.com:8443/v' || CAST(event_id % 10 AS VARCHAR) AS httpUrl,
         |  '' AS httpRoute,
         |  CASE WHEN event_id % 6 = 3 THEN 'api.example.com' ELSE '' END AS httpHost,
         |  event_type = 'error' AS hasError,
         |  '' AS rpcSystem,
         |  CAST(200 + (event_id % 4) * 100 AS VARCHAR) AS responseStatusCode,
         |  $isRemoteCase AS isRemote,
         |  CASE WHEN event_type = 'error' THEN 'Error'
         |       WHEN event_id % 7 = 0 THEN 'Ok' ELSE 'Unset' END AS statusCodeString,
         |  $kindCase AS spanKind
         |FROM events
         |ORDER BY durationNano DESC, timestamp, spanID
         |LIMIT 1000""".stripMargin),

    // span tag metadata rows grouped per key (span_attributes sink)
    Query("q_span_attrs", (s, d) => {
      TraceExporter.tagAttributes(TraceExporter.spansV3(eventsAsSpans(s, d, wide = true)))
        .groupBy(col("tag_key"), col("tag_type"), col("tag_data_type"))
        .agg(count(lit(1)).as("n"))
    },
      s"""WITH hours AS (
         |  SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600000 AS h,
         |         event_id, user_id, event_type, value, ts FROM events
         |), rows_ AS (
         |  SELECT DISTINCT h, 'event_type' AS tag_key, 'tag' AS tag_type,
         |         'string' AS dt, event_type AS sv, NULL AS nv FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'http.url', 'tag', 'string',
         |         'https://api.example.com:8443/v' || CAST(event_id % 10 AS VARCHAR), NULL
         |  FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'http.status_code', 'tag', 'float64', NULL,
         |         CAST(200 + (event_id % 4) * 100 AS DOUBLE) FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'value', 'tag', 'float64', NULL, value FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'service.name', 'resource', 'string',
         |         'svc-' || CAST(user_id % 4 AS VARCHAR), NULL FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'name', 'spanfield', 'string', event_type, NULL FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'kind_string', 'spanfield', 'string', $kindCase, NULL FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'kind', 'spanfield', 'float64', NULL,
         |         CAST(event_id % 6 AS DOUBLE) FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'status_code_string', 'spanfield', 'string',
         |         CASE WHEN event_type = 'error' THEN 'Error'
         |              WHEN event_id % 7 = 0 THEN 'Ok' ELSE 'Unset' END, NULL FROM hours
         |  UNION ALL
         |  SELECT DISTINCT h, 'status_code', 'spanfield', 'float64', NULL,
         |         CAST(CASE WHEN event_type = 'error' THEN 2
         |                   WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS DOUBLE) FROM hours
         |)
         |SELECT tag_key, tag_type, dt AS tag_data_type, count(*) AS n
         |FROM rows_ GROUP BY 1, 2, 3""".stripMargin),

    // dependency_graph_minutes_v2: db/messaging attr edges + the service
    // self-join (trace-co-partitioned), exact quantiles rounded to micros
    // so the double-arithmetic compare is ulp-safe cross-engine
    Query("q_dep_graph", (s, d) => {
      val spans = depGraphSpans(eventsAsSpans(s, d))
      val q = (i: Int, name: String) =>
        round(element_at(col("duration_quantiles"), i) / 1000.0)
          .cast("long").as(name)
      TraceExporter.dependencyGraph(TraceExporter.spansV3(spans),
          approxQuantiles = false)
        .select(col("timestamp"), col("src"), col("dest"),
          col("deployment_environment"), col("k8s_cluster_name"),
          col("k8s_namespace_name"),
          q(1, "p50_us"), q(2, "p75_us"), q(3, "p90_us"),
          q(4, "p95_us"), q(5, "p99_us"),
          col("error_count"), col("total_count"))
    },
      s"""WITH spans AS (
         |  SELECT event_id, user_id,
         |    CAST(epoch_us(ts) AS BIGINT) * 1000 AS ts_ns,
         |    CAST(floor(value * 1000000) AS BIGINT) AS dur,
         |    CAST(event_id % 6 AS INT) AS kind,
         |    CASE WHEN event_type = 'error' THEN 2
         |         WHEN event_id % 7 = 0 THEN 1 ELSE 0 END AS status_code,
         |    'svc-' || CAST(event_id % 4 AS VARCHAR) AS service_name,
         |    $traceIdSql AS trace_id,
         |    $spanIdSql AS span_id,
         |    $parentSql AS parent_span_id,
         |    CASE WHEN event_id % 11 = 0 THEN 'postgres' END AS db_system,
         |    CASE WHEN event_id % 13 = 0 THEN 'kafka' END AS msg_system
         |  FROM events
         |), edges AS (
         |  SELECT service_name AS src, db_system AS dest,
         |         (ts_ns // 60000000000) * 60 AS minute, status_code, dur
         |  FROM spans WHERE db_system IS NOT NULL AND kind != 2
         |  UNION ALL
         |  SELECT service_name, msg_system,
         |         (ts_ns // 60000000000) * 60, status_code, dur
         |  FROM spans WHERE msg_system IS NOT NULL AND kind != 2
         |  UNION ALL
         |  SELECT p.service_name, c.service_name,
         |         (c.ts_ns // 60000000000) * 60, c.status_code, c.dur
         |  FROM spans c JOIN spans p
         |    ON c.trace_id = p.trace_id AND c.parent_span_id = p.span_id
         |  WHERE c.parent_span_id != '' AND p.service_name != c.service_name
         |)
         |SELECT minute AS timestamp, src, dest,
         |  '' AS deployment_environment, '' AS k8s_cluster_name,
         |  '' AS k8s_namespace_name,
         |  CAST(round(quantile_cont(dur, 0.50) / 1000.0) AS BIGINT) AS p50_us,
         |  CAST(round(quantile_cont(dur, 0.75) / 1000.0) AS BIGINT) AS p75_us,
         |  CAST(round(quantile_cont(dur, 0.90) / 1000.0) AS BIGINT) AS p90_us,
         |  CAST(round(quantile_cont(dur, 0.95) / 1000.0) AS BIGINT) AS p95_us,
         |  CAST(round(quantile_cont(dur, 0.99) / 1000.0) AS BIGINT) AS p99_us,
         |  CAST(SUM(CASE WHEN status_code = 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS error_count,
         |  COUNT(*) AS total_count
         |FROM edges GROUP BY 1, 2, 3""".stripMargin),

    // metadataexporter TRACES context (exporter.go:686-758): per-span attr
    // metadata rows — span attrs + the spliced `name` attr, span-start 6h
    // window, flat FNV FingerprintHash pair (SURVEY §2.5 / round-4 missing #2)
    Query("q_span_attr_metadata", (s, d) => {
      graft.pipeline.Metadata.spanAttributesMetadata(eventsAsSpans(s, d, wide = true))
        .select(col("rounded_unix_milli"), col("data_source"),
          col("resource_fingerprint"), col("attr_fingerprint"),
          element_at(col("attrs"), "name").as("span_name"),
          element_at(col("resource_attrs"), "service.name").as("service_name"))
    }, {
      // the flat FNV pair over the span-lift attrs (sorted keys: event_type,
      // http.status_code, http.url, name, value) + {service.name} resource;
      // doubles render integral-as-int like AttrsMeta
      val vstr = "CASE WHEN value = trunc(value) " +
        "THEN CAST(CAST(value AS BIGINT) AS VARCHAR) ELSE CAST(value AS VARCHAR) END"
      val attrFp = fnvSignedSql(Seq(
        "'event_type'", "event_type",
        "'http.status_code'", "CAST(200 + (event_id % 4) * 100 AS VARCHAR)",
        "'http.url'", "'https://api.example.com:8443/v' || CAST(event_id % 10 AS VARCHAR)",
        "'name'", "event_type",
        "'value'", vstr))
      val resFp = fnvSignedSql(Seq(
        "'service.name'", "'svc-' || CAST(user_id % 4 AS VARCHAR)"))
      s"""SELECT DISTINCT
         |  (epoch_ms(ts) // 21600000) * 21600000 AS rounded_unix_milli,
         |  'traces' AS data_source,
         |  $resFp AS resource_fingerprint,
         |  $attrFp AS attr_fingerprint,
         |  event_type AS span_name,
         |  'svc-' || CAST(user_id % 4 AS VARCHAR) AS service_name
         |FROM events""".stripMargin
    }),

    // signoz_calls_total (spanmetrics processor): minute-bucketed key with
    // the always-prepended http.status_code dim (resolved from the NUMBER
    // attr map via Go FormatFloat) + a configured dimension
    Query("q_span_metrics", (s, d) => {
      graft.pipeline.SpanMetrics.callsTotal(eventsAsSpans(s, d),
        graft.pipeline.SpanMetrics.Config(dimensions =
          Seq(graft.pipeline.SpanMetrics.Dimension("event_type"))))
    },
      s"""SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) * 60 AS bucket_start,
         |  $serviceSql AS service_name,
         |  event_type AS operation,
         |  $kindEnumCase AS span_kind,
         |  $statusEnumCase AS status_code,
         |  CAST(200 + (event_id % 4) * 100 AS VARCHAR) AS "http.status_code",
         |  event_type AS event_type,
         |  COUNT(*) AS call_count
         |FROM events GROUP BY 1, 2, 3, 4, 5, 6, 7""".stripMargin),

    // signoz_external_call_latency_*: CLIENT spans, remote address from the
    // http.url host[:port] tier of the getRemoteAddress chain
    Query("q_span_external", (s, d) => {
      graft.pipeline.SpanMetrics.externalCallLatency(eventsAsSpans(s, d))
        .select(col("bucket_start"), col("service_name"), col("status_code"),
          col("address"), col("`http.status_code`"),
          round(col("latency_sum_ms") * 1000.0).cast("long").as("latency_sum_us"),
          col("latency_count"))
    },
      s"""SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) * 60 AS bucket_start,
         |  $serviceSql AS service_name,
         |  $statusEnumCase AS status_code,
         |  'api.example.com:8443' AS address,
         |  CAST(200 + (event_id % 4) * 100 AS VARCHAR) AS "http.status_code",
         |  CAST(round(SUM(floor(value * 1000000) / 1000000.0) * 1000.0)
         |       AS BIGINT) AS latency_sum_us,
         |  COUNT(*) AS latency_count
         |FROM events WHERE event_id % 6 = 3
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin),

    // signoz_latency exemplars: bounded top-k-by-duration per metric key
    // (TopKExemplars ObjectHashAggregate — map-side partial top-k), ranks
    // replicated in the oracle via row_number over the identical total
    // order. Daily buckets so hundreds of groups EXCEED k and the oracle
    // exercises the eviction path, not just pass-through
    Query("q_span_exemplars", (s, d) => {
      graft.pipeline.SpanMetrics.latencyExemplars(eventsAsSpans(s, d),
        graft.pipeline.SpanMetrics.Config(bucketSeconds = 86400L), k = 3)
    },
      // top-3 exemplars per spanmetrics key: row_number over the SAME total
      // order the aggregate keeps (value_ns, trace_id, span_id — all DESC;
      // ids are ASCII hex so binary and collation order agree)
      s"""SELECT bucket_start, service_name, operation, span_kind,
         |  status_code, CAST(rnk AS INT) AS rank, trace_id, span_id, value_ns
         |FROM (
         |  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS bucket_start,
         |    $serviceSql AS service_name,
         |    event_type AS operation,
         |    $kindEnumCase AS span_kind,
         |    $statusEnumCase AS status_code,
         |    $traceIdSql AS trace_id,
         |    $spanIdSql AS span_id,
         |    CAST(floor(value * 1000000) AS BIGINT) AS value_ns,
         |    row_number() OVER (
         |      PARTITION BY CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400,
         |        $serviceSql, event_type, $kindEnumCase, $statusEnumCase
         |      ORDER BY CAST(floor(value * 1000000) AS BIGINT) DESC,
         |        $traceIdSql DESC, $spanIdSql DESC) AS rnk
         |  FROM events
         |) WHERE rnk <= 3""".stripMargin),

    // spanmapper processor: exists_any-gated source-priority copy/move
    // normalization (signozspanmapperprocessor). 1-in-3 rows get an
    // "llm.model" attr so the oracle exercises both the gated and the
    // skipped path; the rules cover source fallback + move, a resource.-
    // prefixed source, and a number attr written to resource context
    // (AsString / Go FormatFloat rendering)
    Query("q_span_mapper", (s, d) => {
      import graft.pipeline.SpanMapper
      val spans = eventsAsSpans(s, d)
        .withColumn("attributes_string",
          when(col("event_id") % 3 === 0,
            map_concat(col("attributes_string"),
              map(lit("llm.model"),
                concat(lit("m"), (col("event_id") % 5).cast("string")))))
            .otherwise(col("attributes_string")))
      val groups = Seq(SpanMapper.Group("llm",
        attrPatterns = Seq("llm"), resPatterns = Nil,
        rules = Seq(
          SpanMapper.Rule("gen_ai.request.model",
            Seq(SpanMapper.Source("gen_ai.llm.model"),
              SpanMapper.Source("llm.model", move = true))),
          SpanMapper.Rule("gen_ai.service",
            Seq(SpanMapper.Source("resource.service.name"))),
          SpanMapper.Rule("gen_ai.response.status",
            Seq(SpanMapper.Source("http.status_code")), toResource = true))))
      SpanMapper(spans, groups).select(
        col("event_id"),
        col("attributes_string").getItem("gen_ai.request.model").as("model"),
        map_contains_key(col("attributes_string"), "llm.model").as("has_src"),
        col("attributes_string").getItem("gen_ai.service").as("svc"),
        col("resources_string").getItem("gen_ai.response.status").as("res_status"))
    },
      s"""SELECT event_id,
         |  CASE WHEN event_id % 3 = 0
         |       THEN 'm' || CAST(event_id % 5 AS VARCHAR) END AS model,
         |  false AS has_src,
         |  CASE WHEN event_id % 3 = 0 THEN $serviceSql END AS svc,
         |  CASE WHEN event_id % 3 = 0
         |       THEN CAST(200 + (event_id % 4) * 100 AS VARCHAR) END AS res_status
         |FROM events""".stripMargin)
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Query.byName(table)(_.build)
}
