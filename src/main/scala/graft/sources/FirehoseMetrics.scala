package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.MetricFrames

/** AWS Firehose metric-stream adapters — the two metrics record formats the
  * reference's firehose receiver unmarshals
  * (`receiver/signozawsfirehosereceiver/factory.go:31-34`: `cwmetrics`,
  * `otlp_v1`), completing the firehose surface next to the existing
  * `cwlogs` adapter ([[LogSources.fromFirehoseCwLogs]]).
  *
  *  - `cwmetrics` — CloudWatch Metric Stream JSON
  *    (`internal/unmarshaler/cwmetricstream/unmarshaler.go:44-91` +
  *    `metricsbuilder.go`): newline-delimited JSON datums per record, each
  *    expanded into 4 gauges (one per min/max/sum/count stat), grouped by
  *    the (stream, account, region, namespace) resource.
  *  - `otlp_v1` — CloudWatch Metric Stream OTLP 1.0
  *    (`internal/unmarshaler/otlpmetricstream/unmarshaler.go:40-67`):
  *    varint-length-delimited `ExportMetricsServiceRequest` protos per
  *    record, decoded by the existing hand-rolled OTLP wire walk
  *    ([[OtlpProto.parseMetricsData]] — an ExportRequest and a MetricsData
  *    share the same wire layout, `resource_metrics = 1`).
  *
  * Both emit [[MetricFrames]]-shaped rows, so the decoded stream feeds
  * [[graft.pipeline.MetricsExporter]] / [[graft.pipeline.MeterExporter]]
  * unchanged.
  */
object FirehoseMetrics {

  /** The cWMetric record schema (`cwmetricstream/cwmetric.go:10-47`). */
  val cwMetricSchema: StructType = StructType(Seq(
    StructField("metric_stream_name", StringType),
    StructField("account_id", StringType),
    StructField("region", StringType),
    StructField("namespace", StringType),
    StructField("metric_name", StringType),
    StructField("dimensions", MapType(StringType, StringType)),
    StructField("timestamp", LongType),
    StructField("value", StructType(Seq(
      StructField("max", DoubleType), StructField("min", DoubleType),
      StructField("sum", DoubleType), StructField("count", DoubleType)))),
    StructField("unit", StringType)))

  /** CloudWatch Metric Stream JSON records -> scalar gauge frame.
    *
    * Reference semantics replicated
    * (`cwmetricstream/unmarshaler.go` + `metricsbuilder.go`):
    *  - records split on `\n`, empty datums skipped, unparseable datums
    *    skipped (`unmarshaler.go:49-68`);
    *  - validity gate `metric_name/namespace/unit non-empty && value
    *    present` (`unmarshaler.go:93-95`);
    *  - duplicate datums dropped — the reference keys its `seen` set by
    *    (timestamp, key-sorted dimensions print) per (resource, metric)
    *    builder (`metricsbuilder.go:96-141`); here the dedup key is the
    *    full datum including its stat values (`distinct()` over scalar
    *    columns, a codegen HashAggregate). Divergence, documented: for
    *    the pathological case of two same-key datums with DIFFERENT
    *    values the reference keeps whichever arrived first, an
    *    input-order effect a set-semantics engine cannot define; both
    *    rows survive here.
    *  - each datum -> 4 gauge datapoints named
    *    `aws_<ns-parts-minus-aws>_<metric>_<stat>`
    *    (`metricsbuilder.go:176-198` otlpMetricName), unit preserved,
    *    timestamp = the record's epoch millis;
    *  - datapoint attrs = dimensions with spaces stripped from keys
    *    (`normaliseAttributeName`) and `InstanceId` mapped to
    *    `service.instance.id` (`ToSemConvAttributeKey`);
    *  - resource attrs `cloud.provider=aws`, `cloud.account.id`,
    *    `cloud.region`, `aws.cloudwatch.metric_stream_name`, plus
    *    `service.namespace`/`service.name` from the `AWS/`-split namespace
    *    (`metricsbuilder.go:68-91`).
    */
  def fromFirehoseCwMetrics(df: DataFrame, recordCol: Column): DataFrame = {
    // OptimizerFence on the parsed struct: without it Catalyst pushes the
    // validity filter through this projection and re-substitutes the
    // `from_json` call per field reference — measured ~6 JSON parses of
    // every datum in the Filter alone (plus more per downstream field
    // extraction). The fence pins ONE parse per datum.
    val datums = df
      .select(explode(split(recordCol.cast("string"), "\n")).as("__datum"))
      .filter(length(col("__datum")) > 0)
      .select(graft.functions.OptimizerFence(
        from_json(col("__datum"), cwMetricSchema)).as("__m"))
    val m = col("__m")
    def nn(c: Column): Column = coalesce(c, lit(""))
    val valid = datums.filter(
      m.isNotNull &&
        nn(m.getField("metric_name")) =!= "" &&
        nn(m.getField("namespace")) =!= "" &&
        nn(m.getField("unit")) =!= "" &&
        m.getField("value").isNotNull)

    // normalized dimension attrs: strip spaces (AWS PascalCase standard),
    // then the semconv InstanceId mapping; duplicate post-normalization
    // keys follow the session's map-key dedup policy (the reference's
    // PutStr loop is last-wins over random Go map order — not an order any
    // engine should promise)
    val attrs = graft.functions.MapRenameKeys(
      coalesce(m.getField("dimensions"), map().cast(graft.model.LogSchema.mapSS)),
      Seq("InstanceId" -> "service.instance.id"))

    // AWS/EC2 -> (service.namespace=AWS, service.name=EC2); Custom -> name
    val ns = m.getField("namespace")
    val slash = instr(ns, "/")
    val isAws = slash > 0 && lower(substring_index(ns, "/", 1)) === "aws"
    val resource = map_concat(
      map(
        lit("cloud.provider"), lit("aws"),
        lit("cloud.account.id"), nn(m.getField("account_id")),
        lit("cloud.region"), nn(m.getField("region")),
        lit("service.name"),
        when(isAws, expr("substring(__m.namespace, instr(__m.namespace, '/') + 1)"))
          .otherwise(ns),
        lit("aws.cloudwatch.metric_stream_name"),
        nn(m.getField("metric_stream_name"))),
      when(isAws, map(lit("service.namespace"), substring_index(ns, "/", 1)))
        .otherwise(map().cast(graft.model.LogSchema.mapSS)))

    // otlpMetricName prefix: "aws" + namespace parts (split on "/", parts
    // equal to "aws" case-insensitively and empties dropped, original case
    // kept) + metric name; the stat suffix joins after the explode.
    // Expressed as a regex chain instead of `array_join(filter(split(...)))`
    // — `filter` is a CodegenFallback HOF that de-codegens the whole
    // enclosing projection: drop "/"-delimited aws segments, trim the
    // leftover boundary slashes, collapse the rest (incl. empty segments)
    // to "_". Equivalence with the HOF form is golden-tested.
    val nsParts = regexp_replace(regexp_replace(regexp_replace(ns,
      "(?i)(?<=^|/)aws(?=/|$)", ""), "^/+|/+$", ""), "/+", "_")
    val namePrefix = concat_ws("_", lit("aws"), nsParts, m.getField("metric_name"))

    val v = m.getField("value")
    val rows = valid.select(
      namePrefix.as("__prefix"),
      nn(m.getField("unit")).as("unit"),
      coalesce(m.getField("timestamp"), lit(0L)).as("unix_milli"),
      // full-datum dedup (maps canonicalized key-sorted, like the
      // reference's fmt.Sprint key); the 4 stats ride as plain double
      // columns so the distinct stays a pure-scalar codegen HashAggregate
      // (an array<struct> group key forces the object hash path)
      graft.functions.MapSortedJson(attrs).as("__attrs_json"),
      graft.functions.MapSortedJson(resource).as("__res_json"),
      coalesce(v.getField("sum"), lit(0.0)).as("__sum"),
      coalesce(v.getField("count"), lit(0.0)).as("__count"),
      coalesce(v.getField("min"), lit(0.0)).as("__min"),
      coalesce(v.getField("max"), lit(0.0)).as("__max"))
      .distinct()

    val stats = array(
      struct(lit("sum").as("stat"), col("__sum").as("sv")),
      struct(lit("count").as("stat"), col("__count").as("sv")),
      struct(lit("min").as("stat"), col("__min").as("sv")),
      struct(lit("max").as("stat"), col("__max").as("sv")))
    MetricFrames.withDefaults(rows
      // maps materialize BELOW the explode: expressions in the same select
      // list as a generator land in the Project ABOVE the Generate and are
      // re-evaluated per EXPLODED row — measured as 2 JSON parses x 4 stats
      // per datum (+20 s at 10 M datums) before this split
      .select(col("__prefix"), col("unit"), col("unix_milli"),
        graft.functions.JsonTypedMaps.of(col("__attrs_json"))
          .getField("strings").as("attrs"),
        graft.functions.JsonTypedMaps.of(col("__res_json"))
          .getField("strings").as("resource_attrs"),
        col("__sum"), col("__count"), col("__min"), col("__max"))
      .select(col("__prefix"), col("unit"), col("unix_milli"),
        col("attrs"), col("resource_attrs"),
        explode(stats).as("__s"))
      .select(
        concat(col("__prefix"), lit("_"), col("__s.stat")).as("metric_name"),
        col("unit"), col("unix_milli"), col("attrs"), col("resource_attrs"),
        col("__s.sv").as("value"))
      .withColumn("metric_type", lit("Gauge"))
      .withColumn("temporality", lit("Unspecified"))
      .withColumn("is_monotonic", lit(false)))
  }

  /** One varint-length-delimited metric-stream record -> datapoint rows.
    * Mirrors `otlpmetricstream/unmarshaler.go:43-66`: a zero-length varint
    * read fails the record; an unparseable request is skipped and the walk
    * continues at the next length frame. (The reference re-reads the
    * varint from the record START each iteration — a latent bug that only
    * round-trips when every request in a record has the same length;
    * framing here advances correctly, which is byte-identical for the
    * single-request records AWS delivers and for the reference's own
    * fixtures.)
    */
  def parseMetricStreamRecord(bytes: Array[Byte]): Seq[OtlpProto.OtlpMetricRow] = {
    if (bytes == null || bytes.isEmpty) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[OtlpProto.OtlpMetricRow]
    val r = new ProtoWire.Reader(bytes, 0, bytes.length)
    while (r.hasMore) {
      val request =
        try r.readBytes()
        catch { case _: IllegalArgumentException => return out.toSeq } // malformed tail
      try out ++= OtlpProto.parseMetricsData(request)
      catch { case _: RuntimeException => () }
    }
    out.toSeq
  }

  /** CloudWatch Metric Stream OTLP 1.0 records -> the four MetricFrames
    * families (same fan-out as [[OtlpProto.fromOtlpProtoMetrics]], with the
    * length-delimited framing in front).
    */
  def fromFirehoseOtlpMetrics(df: DataFrame, recordCol: Column): OtlpMetricFrames =
    OtlpProto.metricFramesFrom(df, recordCol, parseMetricStreamRecord)
}
