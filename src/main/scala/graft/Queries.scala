package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql.{fnvPlainSql, fnvSignedSql}
import graft.Query.read
import graft.model.LogFrames
import graft.operators._
import graft.ops.Par
import graft.pipeline.{Exporter, Pipeline, PipelineSpec}

/** The logs-pipeline queries: each exercises one engine operator (SURVEY.md
  * §2) over the shared testdata tables, beside its DuckDB-equivalent
  * oracle. Column names are aligned between both sides; results are
  * deterministic sets.
  */
object Queries {

  // round 6: the single-row-group events file plans as ONE scan task, so a
  // compute-heavy downstream lift serializes on one core. Opt-in per query:
  // the repartition costs ~0.1 s at sf0.1, so only queries whose per-row
  // work is heavier than that widen the read (measured per query; widen
  // itself is a no-op once the source is production-wide — ops/Par.scala).
  /** events table lifted into LogRow shape: props string is the body,
    * event_type/value become typed attributes, user_id a resource label.
    */
  private def eventsAsLogs(spark: SparkSession, dir: String,
      wide: Boolean = false): DataFrame = {
    val ev0 = read(spark, dir, "events")
    val ev = if (wide) Par.widen(ev0, col("event_id")) else ev0
    LogFrames.withDefaults(
      ev.select(
        col("event_id"),
        col("props").as("body"),
        // testdata parquet stores TIMESTAMP_NTZ; session TZ is UTC so the
        // cast is a pure reinterpretation
        (unix_micros(col("ts").cast("timestamp")) * 1000L).as("timestamp"),
        map(lit("event_type"), col("event_type")).as("attributes_string"),
        map(lit("value"), col("value")).as("attributes_number"),
        map(lit("user_id"), col("user_id").cast("string")).as("resources_string")))
  }

  private val routerSpec = PipelineSpec(Seq(
    RouterOp(Common("router"), Seq(
      Route("attributes.event_type == \"error\"", Seq("errors")),
      Route("attributes.value > 100", Seq("high_value"))
    ), default = Seq("noop")),
    NoopOp(Common("errors")),
    NoopOp(Common("high_value")),
    NoopOp(Common("noop"))
  ))

  private val routeCase =
    """CASE WHEN event_type = 'error' THEN 'errors'
      |     WHEN value > 100 THEN 'high_value'
      |     ELSE 'noop' END""".stripMargin

  /** The sum of each event's record_size, replicating the reference billing
    * sizer byte-for-byte: body bytes + Go-JSON of
    * {"event_type":...,"value":...} (26 = braces, sorted quoted keys,
    * colons, comma, value quotes) + Go-JSON of {"user_id":...} (14). Go
    * renders integral doubles without a fraction, hence the floor() CASE.
    */
  private val recordSizeSumSql: String =
    """SUM(strlen(props) + 26 + strlen(event_type)
      |           + strlen(CASE WHEN value = floor(value)
      |                 THEN CAST(CAST(value AS BIGINT) AS VARCHAR)
      |                 ELSE CAST(value AS VARCHAR) END)
      |           + 14 + strlen(CAST(user_id AS VARCHAR)))""".stripMargin

  val table: Seq[Query] = Seq(

    // router: ordered first-match-wins routing (SURVEY §2.1 #8)
    Query("q_router", (s, d) => {
      Pipeline.compile(routerSpec)(eventsAsLogs(s, d))
        .groupBy(col("route")).agg(count(lit(1)).as("n"))
    },
      s"""SELECT $routeCase AS route, count(*) AS n FROM events GROUP BY 1"""),

    // regex_parser: named-group extraction (SURVEY §2.1 #1)
    Query("q_regex_parser", (s, d) => {
      val spec = PipelineSpec(Seq(
        RegexParserOp(Common("re"), "\"k\": (?P<kval>[0-9]+)"),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"), col("attributes_string").getItem("kval").as("kval"))
    },
      """SELECT event_id, regexp_extract(props, '"k": ([0-9]+)', 1) AS kval FROM events"""),

    // grok_parser: dictionary expansion + typed capture (SURVEY §2.1 #2)
    Query("q_grok_parser", (s, d) => {
      val spec = PipelineSpec(Seq(
        GrokParserOp(Common("grok"), "\"k\": %{INT:kval:int}"),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"), col("attributes_number").getItem("kval").cast("long").as("kval"))
    },
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS kval
        |FROM events""".stripMargin),

    // grok_parser with the full base dictionary: %{COMBINEDAPACHELOG} over a
    // deterministically constructed access-log body — exercises the
    // composite pattern path (IPORHOST/HTTPDUSER/HTTPDATE/QS expansion)
    // rather than a single-token pattern
    Query("q_grok_apache", (s, d) => {
      val ev = read(s, d, "events")
      val logs = LogFrames.withDefaults(ev.select(
        col("event_id"),
        concat(
          lit("10.0."), (col("event_id") % 256).cast("string"), lit("."),
          (col("user_id") % 200 + 1).cast("string"),
          lit(" - user"), col("user_id").cast("string"),
          lit(" [10/Oct/2000:13:55:36 -0700] \"GET /item/"),
          col("event_id").cast("string"),
          lit(" HTTP/1.1\" "),
          (lit(200) + (col("event_id") % 4) * 100).cast("string"),
          lit(" "), (col("event_id") % 10000).cast("string"),
          lit(" \"http://ref.example/start.html\" \"agent/1.0 (test)\"")).as("body")))
      val spec = PipelineSpec(Seq(
        GrokParserOp(Common("apache"), "%{COMBINEDAPACHELOG}"),
        NoopOp(Common("noop"))))
      val a = col("attributes_string")
      Pipeline.compile(spec)(logs).select(
        col("event_id"),
        a.getItem("clientip").as("clientip"),
        a.getItem("auth").as("auth"),
        a.getItem("timestamp").as("ts_raw"),
        a.getItem("verb").as("verb"),
        a.getItem("request").as("request"),
        a.getItem("httpversion").as("httpversion"),
        a.getItem("response").as("response"),
        a.getItem("bytes").as("bytes"),
        a.getItem("referrer").as("referrer"),
        a.getItem("agent").as("agent"))
    },
      // the constructed access-log line has a known shape, so the oracle
      // reconstructs each captured field directly from the source columns
      """SELECT event_id,
        |  '10.0.' || CAST(event_id % 256 AS VARCHAR) || '.'
        |          || CAST(user_id % 200 + 1 AS VARCHAR) AS clientip,
        |  'user' || CAST(user_id AS VARCHAR) AS auth,
        |  '10/Oct/2000:13:55:36 -0700' AS ts_raw,
        |  'GET' AS verb,
        |  '/item/' || CAST(event_id AS VARCHAR) AS request,
        |  '1.1' AS httpversion,
        |  CAST(200 + (event_id % 4) * 100 AS VARCHAR) AS response,
        |  CAST(event_id % 10000 AS VARCHAR) AS bytes,
        |  '"http://ref.example/start.html"' AS referrer,
        |  '"agent/1.0 (test)"' AS agent
        |FROM events""".stripMargin),

    // json_parser: body JSON -> typed attributes (SURVEY §2.1 #3)
    Query("q_json_parser", (s, d) => {
      val spec = PipelineSpec(Seq(JsonParserOp(Common("json")), NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"), col("attributes_number").getItem("k").cast("long").as("kval"))
    },
      """SELECT event_id, CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS kval
        |FROM events""".stripMargin),

    // add/copy/move/remove chained (SURVEY §2.1 #4-#7)
    Query("q_field_ops", (s, d) => {
      val spec = PipelineSpec(Seq(
        AddOp(Common("add"), FieldRef.Attr(Seq("a1")), "EXPR(attributes.event_type)"),
        CopyOp(Common("copy"), FieldRef.Attr(Seq("a1")), FieldRef.Attr(Seq("a2"))),
        MoveOp(Common("move"), FieldRef.Attr(Seq("a2")), FieldRef.Attr(Seq("a3"))),
        RemoveOp(Common("remove"), FieldRef.Attr(Seq("a1"))),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"),
          col("attributes_string").getItem("a3").as("a3"),
          map_contains_key(col("attributes_string"), "a1").as("has_a1"),
          map_contains_key(col("attributes_string"), "a2").as("has_a2"))
    },
      """SELECT event_id, event_type AS a3, false AS has_a1, false AS has_a2 FROM events"""),

    // OTTL standard-library editors + converters end-to-end (upstream
    // ottlfuncs the transform processor registers wholesale; SURVEY §2.12):
    // converter set, key-regex rename, truncate, regex delete, resource copy
    Query("q_ottl_transform", (s, d) => {
      val stmts = Seq(
        "log" -> Seq(
          """set(attributes["tag"], Concat([attributes["event_type"], "evt"], "-"))""",
          """set(attributes["is_err"], IsMatch(attributes["event_type"], "^err"))""",
          """replace_all_patterns(attributes, "key", "^event_", "e_")""",
          """truncate_all(attributes, 6)""",
          """delete_matching_keys(attributes, "^value$")"""),
        "resource" -> Seq("""set(attributes["copy"], attributes["user_id"])"""))
      graft.operators.OttlStatements.applyAll(eventsAsLogs(s, d), stmts)
        .select(col("event_id"),
          col("attributes_string").getItem("e_type").as("e_type"),
          col("attributes_string").getItem("tag").as("tag"),
          col("attributes_bool").getItem("is_err").as("is_err"),
          map_contains_key(col("attributes_number"), "value").as("has_value"),
          col("resources_string").getItem("copy").as("r_copy"))
    },
      """SELECT event_id,
        |  substr(event_type, 1, 6) AS e_type,
        |  substr(event_type || '-evt', 1, 6) AS tag,
        |  regexp_matches(event_type, '^err') AS is_err,
        |  false AS has_value,
        |  CAST(user_id AS VARCHAR) AS r_copy
        |FROM events""".stripMargin),

    // widened OTTL converter set end-to-end (upstream ottlfuncs
    // StandardFuncs, SURVEY §2.12 round-5 addendum): hash/string/format
    // converters, the strptime Time chain with Unix* extractors and
    // Go-anchored TruncateTime, Duration literals, merge_maps+ParseJSON,
    // type predicates — every column DuckDB-replicable
    Query("q_ottl_converters", (s, d) => {
      val logs = eventsAsLogs(s, d).withColumn("attributes_string",
        map_concat(col("attributes_string"), map(lit("ets"),
          date_format(timestamp_micros(expr("timestamp div 1000")),
            "yyyy-MM-dd HH:mm:ss"))))
      val stmts = Seq("log" -> Seq(
        """set(attributes["md5"], MD5(attributes["event_type"]))""",
        """set(attributes["camel"], ConvertCase(attributes["event_type"], "camel"))""",
        """set(attributes["fmt"], Format("%s=%.2f", [attributes["event_type"], attributes["value"]]))""",
        """set(attributes["ms"], UnixMilli(Time(attributes["ets"], "%Y-%m-%d %H:%M:%S")))""",
        """set(attributes["trunc_ms"], UnixMilli(TruncateTime(Time(attributes["ets"], "%Y-%m-%d %H:%M:%S"), "1h")))""",
        """set(attributes["hr"], Hour(Time(attributes["ets"], "%Y-%m-%d %H:%M:%S")))""",
        """set(attributes["dmin"], Minutes(Duration("90s")))""",
        """set(attributes["fnv"], FNV(attributes["event_type"]))""",
        """set(attributes["is_str"], IsString(attributes["event_type"]))""",
        """merge_maps(attributes, ParseJSON(body), "upsert")"""))
      val a = col("attributes_string")
      val n = col("attributes_number")
      graft.operators.OttlStatements.applyAll(logs, stmts).select(
        col("event_id"),
        a.getItem("md5").as("md5"),
        a.getItem("camel").as("camel"),
        a.getItem("fmt").as("fmt"),
        n.getItem("ms").cast("long").as("ms"),
        n.getItem("trunc_ms").cast("long").as("trunc_ms"),
        n.getItem("hr").cast("long").as("hr"),
        n.getItem("dmin").as("dmin"),
        n.getItem("fnv").as("fnv"),
        n.getItem("k").as("k"),
        col("attributes_bool").getItem("is_str").as("is_str"))
    },
      s"""SELECT event_id,
         |  md5(event_type) AS md5,
         |  upper(substr(event_type, 1, 1)) || substr(event_type, 2) AS camel,
         |  event_type || '=' || printf('%.2f', value) AS fmt,
         |  epoch_ms(date_trunc('second', ts)) AS ms,
         |  epoch_ms(date_trunc('hour', ts)) AS trunc_ms,
         |  CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(1.5 AS DOUBLE) AS dmin,
         |  CAST(${fnvPlainSql("event_type")} AS DOUBLE) AS fnv,
         |  CAST(json_extract(props, '$$.k') AS DOUBLE) AS k,
         |  true AS is_str
         |FROM events""".stripMargin),

    // clickhousesystemtables metrics slice: view_refreshes-shaped rows (here
    // synthesized per event_type) expanded to the 5 OTel gauges with the
    // never-succeeded age skip (system_metrics.go scrape + collect)
    Query("q_view_refresh", (s, d) => {
      val rows = read(s, d, "events").groupBy(col("event_type")).agg(
        count(lit(1)).as("retry"),
        avg(col("value")).as("last_duration"),
        (max(col("value")) > 150).cast("int").as("exception"))
        .select(
          concat(lit("host-"), substring(col("event_type"), 1, 1)).as("hostname"),
          lit("signoz_metrics").as("database"),
          col("event_type").as("view"),
          when(col("event_type").isin("error", "click"), lit(-1L))
            .otherwise(col("last_duration").cast("long")).as("last_success_age"),
          col("last_duration"), col("exception"), col("retry"),
          lit(0.5).as("progress"))
      graft.sources.SystemTables.viewRefreshMetrics(rows, lit(1700000000000L))
        .select(col("metric_name"), col("unit"), col("value"),
          col("attrs").getItem("view").as("view"),
          col("resource_attrs").getItem("clickhouse.hostname").as("host"),
          col("unix_milli"))
    },
      """WITH vr AS (
        |  SELECT 'host-' || substr(event_type, 1, 1) AS host,
        |    event_type AS view,
        |    CASE WHEN event_type IN ('error', 'click') THEN -1
        |         ELSE CAST(avg(value) AS BIGINT) END AS last_success_age,
        |    avg(value) AS last_duration,
        |    CASE WHEN max(value) > 150 THEN 1 ELSE 0 END AS exception,
        |    count(*) AS retry
        |  FROM events GROUP BY event_type
        |), m AS (
        |  SELECT 'clickhouse.view_refresh.last_success_age' AS metric_name, 's' AS unit,
        |    CAST(last_success_age AS DOUBLE) AS value, view, host FROM vr
        |  WHERE last_success_age >= 0
        |  UNION ALL SELECT 'clickhouse.view_refresh.last_duration', 's',
        |    last_duration, view, host FROM vr
        |  UNION ALL SELECT 'clickhouse.view_refresh.exception', '1',
        |    CAST(exception AS DOUBLE), view, host FROM vr
        |  UNION ALL SELECT 'clickhouse.view_refresh.retry', '{retries}',
        |    CAST(retry AS DOUBLE), view, host FROM vr
        |  UNION ALL SELECT 'clickhouse.view_refresh.progress', '1',
        |    0.5, view, host FROM vr
        |)
        |SELECT metric_name, unit, value, view, host,
        |  CAST(1700000000000 AS BIGINT) AS unix_milli FROM m""".stripMargin),

    // contrib attributes-processor analogue end-to-end (the processor the
    // reference's collectorsimulator test drives): regexp include + strict
    // exclude gating, insert/upsert/from_attribute, SHA-256 hash, convert
    // to int, named-group extract, delete — every action DuckDB-replicable
    Query("q_attributes_processor", (s, d) => {
      val logs = eventsAsLogs(s, d).withColumn("attributes_string",
        map_concat(col("attributes_string"), map(
          lit("req"), concat_ws(" ", col("attributes_string").getItem("event_type"),
            concat(lit("/u/"), col("resources_string").getItem("user_id"))),
          lit("k_s"), get_json_object(col("body"), "$.k"))))
      val cfg = """{
        "include": {"match_type": "regexp",
          "attributes": [{"key": "event_type", "value": "^(error|purchase|click)"}]},
        "exclude": {"match_type": "strict",
          "attributes": [{"key": "event_type", "value": "click"}]},
        "actions": [
          {"key": "flagged", "value": true, "action": "insert"},
          {"key": "etype_copy", "from_attribute": "event_type", "action": "upsert"},
          {"key": "etype_copy", "action": "hash"},
          {"key": "k_s", "action": "convert", "converted_type": "int"},
          {"key": "req", "pattern": "^(?P<verb>[a-z]+) (?P<path>\\S+)$", "action": "extract"},
          {"key": "req", "action": "delete"}
        ]}"""
      graft.pipeline.AttributesProcessor.compile(cfg)(logs).select(
        col("event_id"),
        map_contains_key(col("attributes_bool"), "flagged").as("flagged"),
        col("attributes_string").getItem("etype_copy").as("etype_hash"),
        col("attributes_number").getItem("k_s").as("k_i"),
        col("attributes_string").getItem("verb").as("verb"),
        col("attributes_string").getItem("path").as("path"),
        map_contains_key(col("attributes_string"), "req").as("has_req"),
        col("attributes_string").getItem("k_s").as("k_s_str"))
    },
      """SELECT event_id,
        |  matched AS flagged,
        |  CASE WHEN matched THEN sha256(event_type) END AS etype_hash,
        |  CASE WHEN matched
        |    THEN CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) AS DOUBLE)
        |  END AS k_i,
        |  CASE WHEN matched THEN event_type END AS verb,
        |  CASE WHEN matched THEN '/u/' || user_id END AS path,
        |  NOT matched AS has_req,
        |  CASE WHEN NOT matched THEN json_extract_string(props, '$.k') END AS k_s_str
        |FROM (SELECT *, event_type IN ('error', 'purchase') AS matched FROM events)""".stripMargin),

    // body-path writes (stanza BodyField.Set/Delete/Merge through the JSON
    // body, SURVEY §2.10): in-body move with nested-path create, EXPR add
    // into a body path, body-subtree copy into an attribute
    Query("q_body_edit", (s, d) => {
      val spec = PipelineSpec(Seq(
        MoveOp(Common("mv"), FieldRef.parse("body.k"), FieldRef.parse("body.metrics.k")),
        CopyOp(Common("cp"), FieldRef.parse("body.metrics"),
          FieldRef.Attr(Seq("metrics_json"))),
        AddOp(Common("add"), FieldRef.parse("body.route_tag"),
          "EXPR(attributes.event_type)"),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"), col("body"),
          col("attributes_string").getItem("metrics_json").as("metrics_json"))
    },
      // body re-renders canonical sorted-key JSON after the in-body move;
      // metrics_json is the compact subtree at copy time (after the move,
      // before the add)
      """SELECT event_id,
        |  '{"metrics":{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR)
        |    || '},"route_tag":"' || event_type || '"}' AS body,
        |  '{"k":' || CAST(json_extract(props, '$.k') AS VARCHAR) || '}' AS metrics_json
        |FROM events""".stripMargin),

    // severity_parser: alias mapping + canonical text (SURVEY §2.1 #9)
    Query("q_severity_parser", (s, d) => {
      val spec = PipelineSpec(Seq(
        SeverityParserOp(Common("sev"), SeveritySpec(
          FieldRef.Attr(Seq("event_type")), overwriteText = true,
          mapping = Seq(
            "error" -> Seq(graft.functions.Severity.Str("error")),
            "info" -> Seq(graft.functions.Severity.Str("signup"),
              graft.functions.Severity.Str("purchase")),
            "debug" -> Seq(graft.functions.Severity.Str("click"),
              graft.functions.Severity.Str("view"))))),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .groupBy(col("severity_text"), col("severity_number"))
        .agg(count(lit(1)).as("n"))
    },
      """SELECT CASE event_type WHEN 'error' THEN 'ERROR'
        |                       WHEN 'signup' THEN 'INFO' WHEN 'purchase' THEN 'INFO'
        |                       ELSE 'DEBUG' END AS severity_text,
        |       CASE event_type WHEN 'error' THEN 17
        |                       WHEN 'signup' THEN 9 WHEN 'purchase' THEN 9
        |                       ELSE 5 END AS severity_number,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),

    // time_parser: epoch seconds layout (SURVEY §2.1 #10)
    Query("q_time_parser", (s, d) => {
      val logs = eventsAsLogs(s, d)
        .withColumn("attributes_string",
          map(lit("ets"), expr("timestamp div 1000000000").cast("string")))
      val spec = PipelineSpec(Seq(
        TimeParserOp(Common("time"), TimeParserSpec(FieldRef.Attr(Seq("ets")), "epoch", "s")),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(logs).select(col("event_id"), col("timestamp"))
    },
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS timestamp
        |FROM events""".stripMargin),

    // gotime text-month layout through the java.time kernel (SURVEY §2.10):
    // UPPER-cased month names exercise Go's case-insensitive name matching
    // (Spark's native parser rejects both the case and the EEE-free subset)
    Query("q_time_gotime", (s, d) => {
      val logs = eventsAsLogs(s, d)
        .withColumn("attributes_string",
          map(lit("t"), upper(date_format((col("timestamp") / 1e9).cast("timestamp"),
            "dd-MMM-yyyy HH:mm:ss"))))
        .withColumn("timestamp", lit(0L))
      val spec = PipelineSpec(Seq(
        TimeParserOp(Common("time"), TimeParserSpec(FieldRef.Attr(Seq("t")),
          "gotime", "02-Jan-2006 15:04:05")),
        NoopOp(Common("noop"))))
      Pipeline.compile(spec)(logs).select(col("event_id"), col("timestamp"))
    },
      // second-truncated round trip: the rendered text drops sub-seconds
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS timestamp
        |FROM events""".stripMargin),

    // trace_parser: hex validate/decode + sink-side zero padding (SURVEY §2.1 #11)
    Query("q_trace_parser", (s, d) => {
      val logs = eventsAsLogs(s, d)
        .withColumn("conv_id", col("event_id").cast("string"))
        .withColumn("attributes_string", map(lit("traceId"), lower(hex(col("event_id")))))
      val spec = PipelineSpec(Seq(
        TraceParserOp(Common("trace"), TraceSpec(
          traceId = Some(FieldRef.Attr(Seq("traceId"))))),
        NoopOp(Common("noop"))))
      Exporter.logsV2(Pipeline.compile(spec)(logs))
        .select(col("conv_id").cast("long").as("event_id"), col("trace_id"))
    },
      """SELECT event_id,
        |       CASE WHEN length(hex(event_id)) % 2 = 0
        |            THEN lpad(lower(hex(event_id)), 32, '0') ELSE '' END AS trace_id
        |FROM events""".stripMargin),

    // normalize: body canonicalization (SURVEY §2.1 #13)
    Query("q_normalize", (s, d) => {
      val spec = PipelineSpec(Seq(NormalizeOp(Common("norm")), NoopOp(Common("noop"))))
      Pipeline.compile(spec)(eventsAsLogs(s, d))
        .select(col("event_id"), col("body"))
    },
      """SELECT event_id,
        |       '{"k":' || regexp_extract(props, '"k": ([0-9]+)', 1) || '}' AS body
        |FROM events""".stripMargin),

    // exporter: 30-min time bucketing (SURVEY §2.4)
    Query("q_ts_bucket", (s, d) => {
      Exporter.logsV2(eventsAsLogs(s, d))
        .groupBy(col("ts_bucket_start")).agg(count(lit(1)).as("n"))
    },
      """SELECT CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT) AS ts_bucket_start,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin),

    // exporter: body-JSON mode — body_v2 + promoted-path extraction with
    // literal-key preference (exporter.go:840-863, promoted.go:22-83); the
    // body is constructed deterministically so the oracle can assert the
    // exact canonical strings, covering literal-vs-nested ambiguity and a
    // missing path
    Query("q_body_promoted", (s, d) => {
      val ev = read(s, d, "events")
      val body = concat(
        lit("{\"message\":\"m"), col("event_id"),
        lit("\",\"a.b.c\":\"lit"), col("event_id"),
        lit("\",\"a\":{\"b\":{\"c\":\"nested\"}},\"user\":{\"id\":\""), col("user_id"),
        lit("\",\"name\":\"n"), col("user_id"),
        lit("\"},\"k\":"), col("event_id") % 100, lit("}"))
      ev.select(col("event_id"), graft.functions.BodyPromoted.of(body,
          Seq("user.id", "user.name", "a.b.c", "missing.path")).as("bp"))
        .select(col("event_id"),
          col("bp.body_v2").as("body_v2"),
          col("bp.body_promoted").as("body_promoted"))
    },
      // the constructed body has a known shape, so the oracle asserts the
      // exact canonical (sorted-key) strings: literal "a.b.c" beats nested
      // a->b->c; "missing.path" extracts nothing
      """SELECT event_id,
        |  '{"a":{"b":{"c":"nested"}},"a.b.c":"lit' || CAST(event_id AS VARCHAR)
        |    || '","k":' || CAST(event_id % 100 AS VARCHAR)
        |    || ',"message":"m' || CAST(event_id AS VARCHAR)
        |    || '","user":{"id":"' || CAST(user_id AS VARCHAR)
        |    || '","name":"n' || CAST(user_id AS VARCHAR) || '"}}' AS body_v2,
        |  '{"a.b.c":"lit' || CAST(event_id AS VARCHAR)
        |    || '","user.id":"' || CAST(user_id AS VARCHAR)
        |    || '","user.name":"n' || CAST(user_id AS VARCHAR) || '"}' AS body_promoted
        |FROM events""".stripMargin),

    // exporter: usage metering per route (SURVEY §2.4)
    Query("q_usage", (s, d) => {
      val main = Exporter.logsV2(Pipeline.compile(routerSpec)(eventsAsLogs(s, d)))
      Exporter.usage(main).withColumnRenamed("route", "route")
    },
      s"""SELECT $routeCase AS route, count(*) AS n_records,
         |       CAST($recordSizeSumSql AS BIGINT) AS n_bytes
         |FROM events GROUP BY 1""".stripMargin),

    // metadataexporter json walker: body path/type metadata sink
    // (json_writer.go walkNode; types unioned across records)
    Query("q_json_path_types", (s, d) => {
      val ev = Par.widen(read(s, d, "events"), col("event_id"))
      val logs = LogFrames.withDefaults(ev.select(
        col("event_id"),
        concat(lit("{\"k\":"),
          when(col("event_id") % 2 === 0,
            (col("event_id") % 100).cast("long").cast("string"))
            .otherwise(col("value").cast("string")),
          lit(",\"tags\":[\"t\"],\"meta\":{\"user\":\"u"),
          (col("user_id") % 3).cast("string"),
          lit("\"},\"message\":{\"x\":1}}")).as("body")))
      graft.pipeline.Metadata.jsonPathTypes(logs)
    },
      // the walker output over the constructed bodies is a fixed path/type
      // set: k is int64 on even event_ids and float64 on odd ones (both
      // parities exist), tags is a single-string array, message is the
      // type-hint field recorded as string without descending
      """SELECT * FROM (VALUES
        |  ('logs','body','k','int64'),
        |  ('logs','body','k','float64'),
        |  ('logs','body','tags','[]string'),
        |  ('logs','body','meta.user','string'),
        |  ('logs','body','message','string'))
        |AS t(signal, field_context, path, data_type)""".stripMargin),

    // signozmeterconnector: per-resource-dim billing meter deltas
    // (connector.go aggregateMeterMetricsFromLogs + collectLogMeterMetrics)
    Query("q_meter_connector", (s, d) => {
      val main = Exporter.logsV2(Pipeline.compile(routerSpec)(eventsAsLogs(s, d)))
      graft.pipeline.MeterConnector.fromLogs(main, Seq("user_id"), "cid", 0L)
        .select(col("metric_name"),
          element_at(col("attrs"), "user_id").as("user_id"), col("value"))
    },
      s"""SELECT 'signoz.meter.log.count' AS metric_name,
         |       CAST(user_id AS VARCHAR) AS user_id,
         |       CAST(count(*) AS DOUBLE) AS value
         |FROM events GROUP BY 2
         |UNION ALL
         |SELECT 'signoz.meter.log.size',
         |       CAST(user_id AS VARCHAR),
         |       CAST($recordSizeSumSql AS DOUBLE)
         |FROM events GROUP BY 2""".stripMargin),

    // exporter + spanmetrics-style severity histogram per route (SURVEY §2.5)
    Query("q_severity_hist", (s, d) => {
      val spec = PipelineSpec(Seq(
        RouterOp(Common("router"), Seq(
          Route("attributes.event_type == \"error\"", Seq("errors")),
          Route("attributes.value > 100", Seq("high_value"))
        ), default = Seq("noop")),
        SeverityParserOp(Common("errors", output = Seq("__done1")), SeveritySpec(
          FieldRef.Attr(Seq("event_type")), overwriteText = true,
          mapping = Seq("error" -> Seq(graft.functions.Severity.Str("error"))))),
        SeverityParserOp(Common("high_value", output = Seq("__done2")), SeveritySpec(
          FieldRef.Attr(Seq("event_type")), overwriteText = true,
          mapping = Seq("warn" -> Seq(
            graft.functions.Severity.Str("signup"), graft.functions.Severity.Str("purchase"),
            graft.functions.Severity.Str("click"), graft.functions.Severity.Str("view"))))),
        SeverityParserOp(Common("noop", output = Seq("__done3")), SeveritySpec(
          FieldRef.Attr(Seq("event_type")), overwriteText = true,
          mapping = Seq("info" -> Seq(
            graft.functions.Severity.Str("signup"), graft.functions.Severity.Str("purchase"),
            graft.functions.Severity.Str("click"), graft.functions.Severity.Str("view"))))),
        NoopOp(Common("__done1")), NoopOp(Common("__done2")), NoopOp(Common("__done3"))))
      Exporter.severityHistogram(Exporter.logsV2(
        Pipeline.compile(spec)(eventsAsLogs(s, d, wide = true))))
    },
      s"""SELECT $routeCase AS route,
         |       CASE WHEN event_type = 'error' THEN 'ERROR'
         |            WHEN value > 100 THEN 'WARN' ELSE 'INFO' END AS severity_text,
         |       CASE WHEN event_type = 'error' THEN 17
         |            WHEN value > 100 THEN 13 ELSE 9 END AS severity_number,
         |       count(*) AS n
         |FROM events GROUP BY 1, 2, 3""".stripMargin),

    // exporter: per-bucket resource dedup (SURVEY §2.4)
    Query("q_resource_dedup", (s, d) => {
      val main = Exporter.logsV2(eventsAsLogs(s, d))
      Exporter.resources(main).agg(count(lit(1)).as("n"))
    },
      """SELECT count(*) AS n FROM (
        |  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
        |  FROM events)""".stripMargin),

    // exporter: tag attribute metadata rows (SURVEY §2.4)
    Query("q_tag_attributes", (s, d) => {
      val main = Exporter.logsV2(eventsAsLogs(s, d))
      Exporter.tagAttributes(main)
        .groupBy(col("tag_key"), col("tag_type"), col("tag_data_type"))
        .agg(count(lit(1)).as("n"))
    },
      """WITH hours AS (
        |  SELECT DISTINCT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600000 AS h,
        |         event_type, value, user_id, ts FROM events
        |)
        |SELECT tag_key, tag_type, tag_data_type, count(*) AS n FROM (
        |  SELECT DISTINCT h, 'event_type' AS tag_key, 'tag' AS tag_type,
        |         'string' AS tag_data_type, event_type AS sv, NULL AS nv FROM hours
        |  UNION ALL
        |  SELECT DISTINCT h, 'value', 'tag', 'float64', NULL, value FROM hours
        |  UNION ALL
        |  SELECT DISTINCT h, 'user_id', 'resource', 'string',
        |         CAST(user_id AS VARCHAR), NULL FROM hours
        |  UNION ALL
        |  SELECT DISTINCT h, 'severity_text', 'logfield', 'string', '', NULL FROM hours
        |  UNION ALL
        |  SELECT DISTINCT h, 'severity_number', 'logfield', 'float64', NULL, 0.0 FROM hours
        |) GROUP BY 1, 2, 3""".stripMargin),

    // exporter: attribute/resource key metadata (SURVEY §2.4); both key
    // sinks' rows from one tag-row scan
    Query("q_attribute_keys", (s, d) =>
      Exporter.keys(Exporter.logsV2(eventsAsLogs(s, d)), "tag", "resource"),
      """SELECT 'event_type' AS name, 'string' AS datatype
        |UNION ALL SELECT 'value', 'float64'
        |UNION ALL SELECT 'user_id', 'string'""".stripMargin),

    // metadataexporter analogue: 6-hour-window (resource fp, attr fp,
    // string-valued attrs) rows (SURVEY §2.5; attribute_writer.go:38-100)
    Query("q_attr_metadata", (s, d) => {
      val main = Exporter.logsV2(eventsAsLogs(s, d))
      graft.pipeline.Metadata.attributesMetadata(main)
        .select(col("rounded_unix_milli"),
          col("resource_fingerprint"), col("attr_fingerprint"),
          element_at(col("attrs"), "event_type").as("event_type"),
          element_at(col("resource_attrs"), "user_id").as("user_id"))
    }, {
      val vstr = "CASE WHEN value = trunc(value) " +
        "THEN CAST(CAST(value AS BIGINT) AS VARCHAR) ELSE CAST(value AS VARCHAR) END"
      val attrFp = fnvSignedSql(Seq("'event_type'", "event_type", "'value'", vstr))
      val resFp = fnvSignedSql(Seq("'user_id'", "CAST(user_id AS VARCHAR)"))
      s"""SELECT DISTINCT
         |  (epoch_ms(ts) // 21600000) * 21600000 AS rounded_unix_milli,
         |  $resFp AS resource_fingerprint,
         |  $attrFp AS attr_fingerprint,
         |  event_type, CAST(user_id AS VARCHAR) AS user_id
         |FROM events""".stripMargin
    })
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = Query.byName(table)(_.build)
}
