package graft.sinks

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.{GoFloat, JsonCanon}
import graft.sources.{Jaeger, OtlpJson, OtlpProtoEncode}
import graft.sources.OtlpProto.{OtlpMetricRow, OtlpRow, OtlpSpanRow}

/** One producer record, shaped for Spark's Kafka sink (`topic`/`value`/
  * `key` columns; `df.write.format("kafka")` picks them up by name —
  * a null key means unkeyed, the default for every encoding except the
  * Jaeger ones, which key by trace id for Jaeger-ingester partitioning).
  */
final case class KafkaMessage(topic: String, value: Array[Byte],
    key: Array[Byte] = null)

/** Kafka exporter analogue (`exporter/signozkafkaexporter`): serialize log /
  * span / metric frames back into Kafka producer messages.
  *
  *  - Encodings (`marshaler.go:41-76`): logs `otlp_proto` (default) /
  *    `otlp_json` / `raw`; traces + metrics `otlp_proto` / `otlp_json`
  *    ([[graft.sources.OtlpJson]] — the exporter's experimental pdata
  *    JSONMarshaler encoding, `factory.go:132-193`). The Jaeger trace
  *    encodings live in [[JaegerMarshal]].
  *  - Topic routing (`utils.go:12-20`, `kafka_exporter.go:43/77/110`): the
  *    tenant id (the reference reads it from grpc client metadata
  *    `signoz_tenant_id`; here a job parameter) prefixes the signal topic:
  *    `{tenant|default}_logs` / `_traces` / `_metrics`.
  *  - normalizeLogData (`kafka_exporter.go:131-157`): every log body is
  *    forced to a string before marshaling. The engine's frames hold `body`
  *    as a string column already, so the invariant is structural here.
  *  - Batching: the reference marshals one pdata batch per producer push,
  *    bounded by `Producer.MaxMessageBytes` (default 1000000, `config.go`).
  *    Here each Spark partition emits a sequence of messages, cutting a new
  *    one when the estimated payload reaches `maxMessageBytes` — the
  *    partition IS the push stream, so the export stays embarrassingly
  *    parallel (no shuffle; Kafka's producer partitioner spreads from
  *    there).
  */
object KafkaExport {

  val DefaultTopicPrefix = "default" // utils.go:8 DefaultKafkaTopicPrefix
  val DefaultMaxMessageBytes = 1000000 // sarama MaxMessageBytes default

  def topicPrefix(tenant: String): String =
    if (tenant == null || tenant.isEmpty) DefaultTopicPrefix else tenant
  def logsTopic(tenant: String = null): String = topicPrefix(tenant) + "_logs"
  def tracesTopic(tenant: String = null): String = topicPrefix(tenant) + "_traces"
  def metricsTopic(tenant: String = null): String = topicPrefix(tenant) + "_metrics"

  private def unrecognized(encoding: String): Nothing =
    throw new IllegalArgumentException(s"unrecognized encoding: $encoding")

  // ---- raw marshaler (logs) ------------------------------------------------

  /** The raw marshaler's body-typed serialization (`raw_marshaler.go:52-75`
    * `logBodyAsBytes`): bytes pass through raw, empty bodies drop the
    * message, everything else is Go `json.Marshal` output (strings quoted
    * WITH Go's HTML escaping — [[JsonCanon.quote]] parity).
    */
  sealed trait RawBody
  object RawBody {
    final case class Str(s: String) extends RawBody
    final case class Bytes(b: Array[Byte]) extends RawBody
    final case class Bool(b: Boolean) extends RawBody
    final case class Int64(l: Long) extends RawBody
    final case class Dbl(d: Double) extends RawBody
    case object Empty extends RawBody
  }

  /** None = skip the message: an empty payload (`raw_marshaler.go:37-39`),
    * or a NaN/±Inf double body, for which `json.Marshal` returns an error
    * and no payload exists. A double prints as `json.Marshal` prints it,
    * [[GoFloat.json]]; no SURVEY row maps the raw marshaler.
    */
  def rawBodyBytes(b: RawBody): Option[Array[Byte]] = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    b match {
      case RawBody.Bytes(bs) => if (bs.isEmpty) None else Some(bs)
      case RawBody.Empty => None
      case RawBody.Str(s) => Some(JsonCanon.quote(s).getBytes(utf8))
      case RawBody.Bool(x) => Some((if (x) "true" else "false").getBytes(utf8))
      case RawBody.Int64(l) => Some(java.lang.Long.toString(l).getBytes(utf8))
      case RawBody.Dbl(d) => Option(GoFloat.json(d)).map(_.getBytes(utf8))
    }
  }

  // ---- size-bounded message batching ---------------------------------------

  /** Lazily cut one message per ~`maxBytes` of estimated payload. The
    * estimate is the cheap per-row field-length sum — exact enough to keep
    * messages near the producer bound without encoding twice.
    */
  private def batched[R](it: Iterator[R], topic: String, maxBytes: Int,
      sizeOf: R => Int, encode: Seq[R] => Array[Byte]): Iterator[KafkaMessage] =
    new Iterator[KafkaMessage] {
      override def hasNext: Boolean = it.hasNext
      override def next(): KafkaMessage = {
        val buf = scala.collection.mutable.ArrayBuffer.empty[R]
        var sz = 0
        while (it.hasNext && (buf.isEmpty || sz < maxBytes)) {
          val r = it.next()
          buf += r
          sz += sizeOf(r)
        }
        KafkaMessage(topic, encode(buf.toSeq))
      }
    }

  private def mapLen(m: Map[String, String]): Int =
    if (m == null) 0 else m.foldLeft(0) { case (a, (k, v)) => a + k.length + v.length + 8 }

  // ---- logs ----------------------------------------------------------------

  private val logCols = Seq("timestamp", "observed_timestamp",
    "severity_number", "severity_text", "body", "attributes_string",
    "attributes_number", "attributes_bool", "resources_string", "trace_id",
    "span_id", "trace_flags", "scope_name", "scope_version", "scope_string")

  private def logRowSize(r: OtlpRow): Int =
    (if (r.body == null) 0 else r.body.length) + mapLen(r.attributes_string) +
      mapLen(r.resources_string) + mapLen(r.scope_string) +
      (if (r.attributes_number == null) 0 else r.attributes_number.size * 24) +
      (if (r.attributes_bool == null) 0 else r.attributes_bool.size * 16) + 96

  /** LogRow frame -> producer messages on `{tenant|default}_logs`. */
  def logsToKafka(df: DataFrame, encoding: String = "otlp_proto",
      tenant: String = null,
      maxMessageBytes: Int = DefaultMaxMessageBytes): Dataset[KafkaMessage] = {
    val spark = df.sparkSession
    import spark.implicits._
    val topic = logsTopic(tenant)
    val typed = graft.model.LogFrames.withDefaults(df)
      .select(logCols.map(col): _*).as[OtlpRow]
    encoding match {
      case "otlp_proto" =>
        typed.mapPartitions(
          batched(_, topic, maxMessageBytes, logRowSize, OtlpProtoEncode.encodeLogsData))
      case "otlp_json" =>
        typed.mapPartitions(
          batched(_, topic, maxMessageBytes, logRowSize, OtlpJson.encodeLogsJson))
      case "raw" =>
        // one message per record; post-normalize bodies are strings, so the
        // payload is the Go-JSON-quoted body (Str("") marshals to `""` and
        // IS emitted — only genuinely empty payloads drop)
        typed.flatMap { r =>
          rawBodyBytes(RawBody.Str(if (r.body == null) "" else r.body))
            .map(KafkaMessage(topic, _))
        }
      case other => unrecognized(other)
    }
  }

  // ---- traces --------------------------------------------------------------

  private val spanCols = Seq("start_ts", "end_ts", "trace_id", "span_id",
    "parent_span_id", "trace_state", "flags", "name", "kind", "status_code",
    "status_message", "attributes_string", "attributes_number",
    "attributes_bool", "resources_string", "scope_name", "scope_version",
    "scope_string", "events", "links")

  private def spanRowSize(r: OtlpSpanRow): Int =
    r.name.length + mapLen(r.attributes_string) + mapLen(r.resources_string) +
      mapLen(r.scope_string) +
      (if (r.events == null) 0
       else r.events.foldLeft(0)((a, e) => a + e.name.length + mapLen(e.attrs) + 16)) +
      (if (r.links == null) 0 else r.links.size * 56) + 128

  /** Span frame -> producer messages on `{tenant|default}_traces`. */
  def tracesToKafka(df: DataFrame, encoding: String = "otlp_proto",
      tenant: String = null,
      maxMessageBytes: Int = DefaultMaxMessageBytes): Dataset[KafkaMessage] = {
    val spark = df.sparkSession
    import spark.implicits._
    val topic = tracesTopic(tenant)
    val typed = graft.model.SpanFrames.withDefaults(df)
      .select(spanCols.map(col): _*).as[OtlpSpanRow]
    encoding match {
      case "otlp_proto" =>
        typed.mapPartitions(batched(_, topic, maxMessageBytes, spanRowSize,
          OtlpProtoEncode.encodeTracesData))
      case "otlp_json" =>
        typed.mapPartitions(batched(_, topic, maxMessageBytes, spanRowSize,
          OtlpJson.encodeTracesJson))
      case "jaeger_proto" | "jaeger_json" =>
        // jaeger_marshaler.go: ONE message per span, Process spliced in,
        // message key = span.TraceID.String()
        val json = encoding == "jaeger_json"
        typed.map { r =>
          val s = Jaeger.fromSpanRow(r)
          val bytes = if (json) Jaeger.encodeSpanJson(s) else Jaeger.encodeSpanProto(s)
          KafkaMessage(topic, bytes, jaegerTraceIdKey(s.traceId))
        }
      case other => unrecognized(other)
    }
  }

  /** `model.TraceID.String()`: `%016x` of the low half alone when the high
    * half is zero, the full 32 hex chars otherwise.
    */
  private def jaegerTraceIdKey(hex: String): Array[Byte] = {
    val full = if (hex.isEmpty) "0" * 32 else hex
    val s = if (full.length == 32 && full.startsWith("0" * 16)) full.substring(16) else full
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---- metrics -------------------------------------------------------------

  private def metricRowSize(r: OtlpMetricRow): Int =
    r.metric_name.length + mapLen(r.attrs) + mapLen(r.resource_attrs) +
      mapLen(r.scope_attrs) +
      (if (r.bucket_counts == null) 0 else r.bucket_counts.size * 9) +
      (if (r.explicit_bounds == null) 0 else r.explicit_bounds.size * 9) +
      (if (r.quantiles == null) 0 else r.quantiles.size * 20) +
      (if (r.positive_counts == null) 0 else r.positive_counts.size * 3) +
      (if (r.negative_counts == null) 0 else r.negative_counts.size * 3) + 128

  /** Union-shaped metric frame (the [[OtlpMetricRow]] columns;
    * `metric_type` selects the Metric data field and its datapoint
    * encoding) -> producer messages on `{tenant|default}_metrics`.
    * Family-specific columns missing from the input gain frame defaults
    * first, so any one family's frame exports as-is.
    */
  def metricsToKafka(df: DataFrame, encoding: String = "otlp_proto",
      tenant: String = null,
      maxMessageBytes: Int = DefaultMaxMessageBytes): Dataset[KafkaMessage] = {
    val spark = df.sparkSession
    import spark.implicits._
    val topic = metricsTopic(tenant)
    val encodeBatch: Seq[OtlpMetricRow] => Array[Byte] = encoding match {
      case "otlp_proto" => OtlpProtoEncode.encodeMetricsData
      case "otlp_json" => OtlpJson.encodeMetricsJson
      case other => unrecognized(other)
    }
    val withAll = withMetricUnionDefaults(df)
    val cols = implicitly[org.apache.spark.sql.Encoder[OtlpMetricRow]]
      .schema.fieldNames.toSeq
    withAll.select(cols.map(col): _*).as[OtlpMetricRow]
      .mapPartitions(
        batched(_, topic, maxMessageBytes, metricRowSize, encodeBatch))
  }

  /** Lift any one MetricFrames family to the full union column set. */
  private def withMetricUnionDefaults(df: DataFrame): DataFrame = {
    val base = graft.model.MetricFrames.withExpHistDefaults(
      graft.model.MetricFrames.withHistogramDefaults(
        graft.model.MetricFrames.withSummaryDefaults(df)))
    val extras: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "shape" -> lit("scalar"), // the decoder's family tag; encoding reads metric_type
      "value" -> lit(0.0),
      "has_sum" -> lit(false),
      "has_min" -> lit(false),
      "has_max" -> lit(false))
    extras.foldLeft(base) { case (d, (c, v)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, v)
    }
  }

  /** Decoded metric frames ([[graft.sources.OtlpMetricFrames]]) back to one
    * message stream: the per-family frames re-unite on the union columns.
    */
  def metricFramesToKafka(frames: graft.sources.OtlpMetricFrames,
      tenant: String = null,
      maxMessageBytes: Int = DefaultMaxMessageBytes): Dataset[KafkaMessage] = {
    val lifted = Seq(frames.scalars, frames.histograms, frames.summaries,
      frames.expHistograms).map(withMetricUnionDefaults)
    val cols = lifted.head.columns.sorted.toSeq
    val unioned = lifted.map(_.select(cols.map(col): _*)).reduce(_ unionByName _)
    metricsToKafka(unioned, "otlp_proto", tenant, maxMessageBytes)
  }
}
