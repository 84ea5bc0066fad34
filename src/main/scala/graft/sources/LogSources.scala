package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.{LogFrames, LogSchema}

/** Ingestion adapters mirroring the reference's httplogreceiver body parsers
  * (`receiver/httplogreceiver/bodyparser/json.go:18-48`, `default.go:14-31`):
  * each turns raw payloads into LogRow frames the pipeline consumes.
  */
object LogSources {

  /** `json` body parser: a column holding a JSON array of
    * `{timestamp, trace_id, span_id, trace_flags, severity_text,
    *   severity_number, attributes, resources, body}` objects -> one LogRow
    * per element. Timestamps are nanosecond epochs; severity defaults
    * applied like the reference. Attribute values are split into the typed
    * maps by JSON type (the exporter's own rule).
    */
  def fromJsonBody(df: DataFrame, jsonCol: Column): DataFrame = {
    val exploded = df.select(
      explode(from_json(jsonCol,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType))).as("__obj"))
    val o = col("__obj")
    val attrs = graft.functions.JsonTypedMaps.of(get_json_object(o, "$.attributes"))
    val res = graft.functions.JsonTypedMaps.of(get_json_object(o, "$.resources"))
    LogFrames.withDefaults(exploded.select(
      coalesce(get_json_object(o, "$.timestamp").cast("long"), lit(0L)).as("timestamp"),
      coalesce(get_json_object(o, "$.trace_id"), lit("")).as("trace_id"),
      coalesce(get_json_object(o, "$.span_id"), lit("")).as("span_id"),
      coalesce(get_json_object(o, "$.trace_flags").cast("int"), lit(0)).as("trace_flags"),
      coalesce(get_json_object(o, "$.severity_text"), lit("")).as("severity_text"),
      coalesce(get_json_object(o, "$.severity_number").cast("int"), lit(0)).as("severity_number"),
      coalesce(get_json_object(o, "$.body"), lit("")).as("body"),
      coalesce(attrs.getField("strings"), map().cast(LogSchema.mapSS)).as("attributes_string"),
      coalesce(attrs.getField("numbers"), map().cast(LogSchema.mapSD)).as("attributes_number"),
      coalesce(attrs.getField("bools"), map().cast(LogSchema.mapSB)).as("attributes_bool"),
      // resource attrs are force-stringified at the sink; stringify here too
      coalesce(stringifyAll(res), map().cast(LogSchema.mapSS)).as("resources_string")))
  }

  // one codegen pass (AsString number formatting, true/false bools) replacing
  // map_concat over two `transform_values` — CodegenFallback HOFs that
  // de-codegen'd the whole json-body ingest projection
  private def stringifyAll(typedStruct: Column): Column =
    graft.functions.StringifyTypedMaps(
      typedStruct.getField("strings"),
      typedStruct.getField("numbers"),
      typedStruct.getField("bools"))

  /** `default` body parser: newline-split text -> one LogRow per line. */
  def fromTextLines(df: DataFrame, textCol: Column): DataFrame =
    LogFrames.withDefaults(
      df.select(explode(split(textCol, "\n")).as("body")))

  /** Heroku logplex syslog regex (`bodyparser/heroku.go:18`), verbatim
    * (RE2 named groups are rewritten to Java syntax by the extractor).
    */
  val herokuRegex: String =
    "^<(?P<priority>\\d|\\d{2}|1[1-8]\\d|19[01])>(?P<version>\\d{1,2})\\s" +
      "(?P<timestamp>-|[^\\s]+)\\s(?P<hostname>[\\S]{1,255})\\s" +
      "(?P<appname>[\\S]{1,48})\\s(?P<procid>[\\S]{1,128})\\s" +
      "(?P<msgid>[\\S]{1,32})(?:\\s(?P<msg>.+))?$"

  /** `heroku` body parser (`bodyparser/heroku.go:44-106`): octet-counting
    * frame split, then the syslog regex per frame. Matched frames put
    * {priority, version, hostname, appname, procid} into resource attrs and
    * {timestamp (raw, unparsed — like the reference), msgid} into
    * attributes, body = msg; unmatched frames keep the whole line as body
    * with empty attrs (heroku.go:54-58).
    */
  def fromHeroku(df: DataFrame, payloadCol: Column): DataFrame = {
    val lines = df.select(
      explode(graft.functions.OctetSplit(payloadCol)).as("__line"))
    val parsed = graft.functions.RegexExtractNamedGroups(col("__line"), herokuRegex)
    val p = col("__p")
    LogFrames.withDefaults(lines
      .withColumn("__p", parsed)
      .select(
        when(p.isNotNull, coalesce(p.getItem("msg"), lit("")))
          .otherwise(col("__line")).as("body"),
        when(p.isNotNull, map(
          lit("timestamp"), coalesce(p.getItem("timestamp"), lit("")),
          lit("msgid"), coalesce(p.getItem("msgid"), lit(""))))
          .otherwise(map().cast(LogSchema.mapSS)).as("attributes_string"),
        when(p.isNotNull, map(
          lit("priority"), p.getItem("priority"),
          lit("version"), p.getItem("version"),
          lit("hostname"), p.getItem("hostname"),
          lit("appname"), p.getItem("appname"),
          lit("procid"), p.getItem("procid")))
          .otherwise(map().cast(LogSchema.mapSS)).as("resources_string")))
  }

  /** `google` body parser: the reference's GCloud parser is an explicit
    * no-op returning empty logs (`bodyparser/google.go:8-10`) — mirrored
    * here as an empty LogRow frame.
    */
  def fromGoogle(df: DataFrame, payloadCol: Column): DataFrame =
    LogFrames.withDefaults(
      df.select(payloadCol.cast("string").as("body")).limit(0))

  /** Kafka receiver adapter (`receiver/signozkafkareceiver`): maps a frame
    * with the Spark Kafka source schema (`value` binary, `timestamp`
    * timestamp, plus key/topic/partition/offset) into LogRow frames under
    * the reference's per-encoding log unmarshalers:
    *
    *  - `raw` (`raw_unmarshaler.go:17-21`): one record per message, body =
    *    the value bytes verbatim;
    *  - `text` (`text_unmarshaler.go:23-37`): one record per message, body =
    *    the UTF-8 decoded value (non-UTF-8 encodings are out of scope here),
    *    observed timestamp set at receive — deterministically the Kafka
    *    message timestamp instead of `time.Now()`;
    *  - `json` / `default` / `heroku`: the httplogreceiver body parsers
    *    applied to the value payload (the reference routes HTTP bodies
    *    through the same parsers; a Kafka topic carrying those payloads is
    *    the same mapping over a different transport).
    *
    * Works identically on a batch frame and a `readStream` Kafka source —
    * the plan is stateless per row.
    */
  def fromKafka(df: DataFrame, encoding: String = "raw"): DataFrame = {
    val value = col("value").cast("string")
    val otsNanos =
      if (df.columns.contains("timestamp"))
        unix_micros(col("timestamp").cast("timestamp")) * 1000L
      else lit(0L)
    encoding match {
      case "raw" | "text" =>
        LogFrames.withDefaults(df.select(
          value.as("body"), otsNanos.as("observed_timestamp")))
      // `text_<charset>` (kafka_receiver.go:357-371 getLogsUnmarshaler split
      // + textutils lookupEncoding): the suffix resolves via the override
      // table (utf-16 = LE ignore-BOM, ascii = utf-8, nop = raw bytes) then
      // the IANA registry
      case t if t.startsWith("text_") =>
        LogFrames.withDefaults(df.select(
          graft.functions.CharsetDecode(col("value"), t.substring(5)).as("body"),
          otsNanos.as("observed_timestamp")))
      case "json" => fromJsonBody(df, value)
      case "default" => fromTextLines(df, value)
      case "heroku" => fromHeroku(df, value)
      // the reference's DEFAULT logs encoding (`unmarshaler.go:75-84`):
      // OTLP-protobuf LogsData bytes -> full 3-level unpack (OtlpProto)
      case "otlp_proto" => OtlpProto.fromKafka(df)
      case other =>
        throw new IllegalArgumentException(s"unsupported kafka log encoding: $other")
    }
  }

  private val cwLogSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("messageType",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("owner",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("logGroup",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("logStream",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("subscriptionFilters",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("logEvents",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("timestamp",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("message",
          org.apache.spark.sql.types.StringType)))))))

  /** `toEpochNano` replication (cwlog/logsbuilder.go:57-69): an epoch of any
    * digit count scales to 19 digits by multiplying with 10^(19-digits) —
    * done with an exact long-multiplier lookup, not floating-point pow.
    */
  private def cwEpochNanos(epoch: Column): Column = {
    val mult = typedlit((1 to 19).map(c => math.pow(10, 19 - c).toLong).toArray)
    val digits = when(epoch === 0L, 1).otherwise(length(epoch.cast("string")))
    epoch * element_at(mult, digits.cast("int"))
  }

  /** ClickHouse system-tables receiver adapter
    * (`receiver/clickhousesystemtablesreceiver/query_log.go:309-370`
    * `toLogRecord`): one LogRow per scraped `system.query_log` row —
    *
    *  - timestamp = `event_time_microseconds` (nanos);
    *  - body = `query`;
    *  - severity: event `type` starting with "Exception" -> ERROR/17,
    *    else INFO/9;
    *  - EVERY input column becomes an attribute prefixed
    *    `clickhouse.query_log.<col>` — numerics to the number map, booleans
    *    to the bool map, timestamps as RFC3339 strings, arrays joined with
    *    commas (the reference's slice rule), everything else stringified;
    *  - `log_comment` holding a JSON object is flattened to typed
    *    `clickhouse.query_log.log_comment.<key>` attributes (non-JSON
    *    comments stay one string attribute);
    *  - plus the literal `source = clickhouse` attribute.
    *
    * The input is any DataFrame with query_log-shaped columns (a JDBC scrape
    * or an exported parquet); the scrape-window bookkeeping the reference
    * does (min/max event ts per poll) is a plain
    * `filter($"event_time" > lastScrapedTs)` on the caller's side.
    */
  def fromClickhouseQueryLog(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val pre = "clickhouse.query_log."
    val strKV = scala.collection.mutable.ArrayBuffer.empty[Column]
    val numKV = scala.collection.mutable.ArrayBuffer.empty[Column]
    val boolKV = scala.collection.mutable.ArrayBuffer.empty[Column]
    df.schema.fields.filter(_.name != "log_comment").foreach { f =>
      val k = lit(pre + f.name)
      val c = col(f.name)
      f.dataType match {
        case _: NumericType => numKV += k += c.cast("double")
        case BooleanType => boolKV += k += c
        case TimestampType | TimestampNTZType =>
          // Go's time.RFC3339 ("Z" at zero offset); session TZ is UTC
          strKV += k += date_format(c.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ssXXX")
        case ArrayType(_, _) =>
          strKV += k += concat_ws(",", c.cast("array<string>"))
        case StringType => strKV += k += coalesce(c, lit(""))
        case _ => strKV += k += c.cast("string")
      }
    }
    strKV += lit("source") += lit("clickhouse")

    val hasComment = df.columns.contains("log_comment")
    val commentTyped =
      if (hasComment)
        graft.functions.JsonTypedMaps.of(col("log_comment"),
          flatten = true, maxDepth = 10, enablePaths = true,
          pathPrefix = s"${pre}log_comment")
      else lit(null)
    val strBase = map(strKV.toSeq: _*)
    val numBase =
      if (numKV.isEmpty) map().cast(LogSchema.mapSD) else map(numKV.toSeq: _*)
    val boolBase =
      if (boolKV.isEmpty) map().cast(LogSchema.mapSB) else map(boolKV.toSeq: _*)
    val (attrsStr, attrsNum, attrsBool) =
      if (!hasComment) (strBase, numBase, boolBase)
      else {
        // JSON-object comment -> typed flattened attrs; otherwise the raw
        // comment string under its plain column attribute
        val parsed = commentTyped
        val fallback = map(lit(pre + "log_comment"),
          coalesce(col("log_comment"), lit("")))
        (when(parsed.isNotNull,
          map_concat(strBase, parsed.getField("strings")))
          .otherwise(map_concat(strBase, fallback)),
          when(parsed.isNotNull, map_concat(numBase, parsed.getField("numbers")))
            .otherwise(numBase),
          when(parsed.isNotNull, map_concat(boolBase, parsed.getField("bools")))
            .otherwise(boolBase))
      }

    val isException = col("type").startsWith("Exception")
    LogFrames.withDefaults(df.select(
      coalesce(col("query"), lit("")).as("body"),
      (unix_micros(col("event_time_microseconds").cast("timestamp")) * 1000L)
        .as("timestamp"),
      when(isException, lit(17)).otherwise(lit(9)).as("severity_number"),
      when(isException, lit("ERROR")).otherwise(lit("INFO")).as("severity_text"),
      attrsStr.as("attributes_string"),
      attrsNum.as("attributes_number"),
      attrsBool.as("attributes_bool")))
  }

  /** AWS Firehose cwlogs receiver adapter
    * (`receiver/signozawsfirehosereceiver/internal/unmarshaler/cwlog/
    * unmarshaler.go:41-95` + `logsbuilder.go`): each delivered record is
    * gunzipped, split on newlines, each datum parsed as a CloudWatch
    * subscription JSON envelope; invalid datums (unparseable, or missing
    * owner/logGroup/logStream) are skipped. Each log event becomes one
    * LogRow: body = message, timestamp = toEpochNano(event ts), resource
    * attrs {cloud.account.id, aws.cloudwatch.log_group_name,
    * aws.cloudwatch.log_stream_name}.
    */
  def fromFirehoseCwLogs(df: DataFrame, recordCol: Column,
      gzipped: Boolean = true): DataFrame = {
    val raw = if (gzipped) graft.functions.Gunzip(recordCol) else recordCol
    val datums = df
      .select(explode(split(raw.cast("string"), "\n")).as("__datum"))
      .filter(length(col("__datum")) > 0)
      .select(from_json(col("__datum"), cwLogSchema).as("__cw"))
    val cw = col("__cw")
    val valid = datums.filter(
      cw.isNotNull &&
        coalesce(cw.getField("owner"), lit("")) =!= "" &&
        coalesce(cw.getField("logGroup"), lit("")) =!= "" &&
        coalesce(cw.getField("logStream"), lit("")) =!= "")
    val events = valid.select(
      cw.getField("owner").as("__owner"),
      cw.getField("logGroup").as("__group"),
      cw.getField("logStream").as("__stream"),
      explode(cw.getField("logEvents")).as("__e"))
    LogFrames.withDefaults(events.select(
      coalesce(col("__e.message"), lit("")).as("body"),
      cwEpochNanos(coalesce(col("__e.timestamp"), lit(0L))).as("timestamp"),
      map(
        lit("cloud.account.id"), col("__owner"),
        lit("aws.cloudwatch.log_group_name"), col("__group"),
        lit("aws.cloudwatch.log_stream_name"), col("__stream"))
        .as("resources_string")))
  }
}
