package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{GoFloat, GoFormatFloat, Histogram}

/** The spanmetrics processor's five metric families
  * (`processor/signozspanmetricsprocessor/processor.go`), Spark-first: the
  * reference accumulates per-key histogram maps in processor memory and
  * flushes per tick; here each family is a declarative groupBy over the
  * span frame — partial aggregation map-side, one shuffle per family, no
  * bounded-cardinality overflow guards (`overflow_service`/
  * `overflow_operation`, `processor.go:1261-1272`) because a groupBy has no
  * resident per-key map to protect.
  *
  * Key semantics (`buildKey`, processor.go:1259-1289): service, operation
  * (span name), SPAN_KIND_* / STATUS_CODE_* enum strings, then configured
  * dimensions resolved span-attr-first, `http.status_code` falling back to
  * the stable `http.response.status_code` name, then resource attrs, then
  * the configured default (`getDimensionValue`, processor.go:1321-1338).
  * Delta temporality prepends the minute bucket (`AddTimeToKeyBuf`,
  * processor.go:92-98) — always on here, a batch engine has no "processor
  * start time" cumulative anchor.
  */
object SpanMetrics {

  final case class Dimension(name: String, default: Option[String] = None)

  /** `exclude_patterns` config: key -> RE2 pattern. Special keys
    * service.name / operation / span.kind / status.code match the key
    * fields; any other key matches that span attribute OR resource
    * attribute value (`shouldSkip`, processor.go:405-437).
    */
  final case class Config(
      latencyBoundsMs: Seq[Double] = Histogram.defaultLatencyBoundsMs,
      dimensions: Seq[Dimension] = Nil,
      excludePatterns: Map[String, String] = Map.empty,
      bucketSeconds: Long = 60L)

  /** SPAN_KIND_* enum string (processor.go:1476-1492; note this is the
    * proto enum form, NOT the Jaeger-style `Server` strings the traces
    * exporter writes).
    */
  def kindEnumString(kind: Column): Column =
    when(kind === 1, "SPAN_KIND_INTERNAL")
      .when(kind === 2, "SPAN_KIND_SERVER")
      .when(kind === 3, "SPAN_KIND_CLIENT")
      .when(kind === 4, "SPAN_KIND_PRODUCER")
      .when(kind === 5, "SPAN_KIND_CONSUMER")
      .otherwise("SPAN_KIND_UNSPECIFIED")

  /** STATUS_CODE_* enum string (processor.go:1494-1505). */
  def statusEnumString(code: Column): Column =
    when(code === 1, "STATUS_CODE_OK")
      .when(code === 2, "STATUS_CODE_ERROR")
      .otherwise("STATUS_CODE_UNSET")

  /** `getRemoteAddress` (processor.go:846-966) as one column expression.
    * Priority: RPC service/method when `rpc.system` is set (falling back
    * to the peer chain when both are absent); then `http.host`; then the
    * peer-address chain `net.peer.name` -> `server.address` ->
    * `net.peer.ip` -> `net.sock.peer.addr` -> `network.peer.address`, each
    * concatenating its port attr when present; then the host[:port] of
    * `http.url`/`url.full` (scheme-prefixed with `http://` when missing,
    * authority minus userinfo — Go's `url.Parse(...).Host`); then
    * `peer.service`. NULL when nothing matches (externalCallPresent =
    * false). The reference's unix/pipe transport exclusion is dead code
    * (`transport == "unix" && transport == "pipe"` can't be true,
    * processor.go:934-937) — behavior, not the comment, is replicated.
    */
  def remoteAddress(aStr: Column): Column = {
    def get(k: String) = aStr.getItem(k)
    def withPort(host: String, port: String): Column =
      when(get(host).isNotNull,
        when(get(port).isNotNull, concat(get(host), lit(":"), get(port)))
          .otherwise(get(host)))
    val peer = coalesce(
      withPort("net.peer.name", "net.peer.port"),
      withPort("server.address", "server.port"),
      withPort("net.peer.ip", "net.peer.port"),
      withPort("net.sock.peer.addr", "net.sock.peer.port"),
      withPort("network.peer.address", "network.peer.port"))
    val rpcAddr = concat(
      coalesce(get("rpc.service"), lit("")),
      when(get("rpc.method").isNotNull, concat(lit("/"), get("rpc.method")))
        .otherwise(lit("")))
    val rawUrl = coalesce(get("http.url"), get("url.full"))
    val prefixed = when(rawUrl.startsWith("http://") || rawUrl.startsWith("https://"),
      rawUrl).otherwise(concat(lit("http://"), rawUrl))
    val urlHost = when(rawUrl.isNotNull,
      regexp_extract(prefixed, "^[^:/?#]+://(?:[^@/?#]*@)?([^/?#]*)", 1))
    when(get("rpc.system").isNotNull,
      when(rpcAddr =!= "", rpcAddr).otherwise(peer))
      .otherwise(coalesce(get("http.host"), peer, urlHost, get("peer.service")))
  }

  /** Dimension value with the span-attr-first / stable-name / resource /
    * default chain. Numeric span attrs stringify the Go way
    * (`pcommon.Value.AsString` -> `strconv.FormatFloat(f, 'f', -1, 64)`,
    * [[GoFloat.fixed]] via [[GoFormatFloat]]; SURVEY row 350).
    */
  private def dimValue(d: Dimension): Column = {
    def s(k: String) = col("attributes_string").getItem(k)
    def n(k: String) =
      when(col("attributes_number").getItem(k).isNotNull,
        GoFormatFloat(col("attributes_number").getItem(k)))
    val stable =
      if (d.name == "http.status_code")
        coalesce(s("http.response.status_code"), n("http.response.status_code"))
      else lit(null).cast("string")
    coalesce(s(d.name), n(d.name), stable,
      col("resources_string").getItem(d.name),
      d.default.map(lit(_)).getOrElse(lit(null)).cast("string"))
  }

  /** exclude_patterns filter (keep = matched nothing). */
  private def keepFilter(cfg: Config): Column =
    cfg.excludePatterns.foldLeft(lit(true)) { case (acc, (key, pattern)) =>
      val hit = key match {
        case "service.name" => col("service_name").rlike(pattern)
        case "operation" => col("name").rlike(pattern)
        case "span.kind" => kindEnumString(col("kind")).rlike(pattern)
        case "status.code" => statusEnumString(col("status_code")).rlike(pattern)
        case k =>
          coalesce(col("attributes_string").getItem(k).rlike(pattern), lit(false)) ||
            coalesce(col("resources_string").getItem(k).rlike(pattern), lit(false))
      }
      acc && !hit
    }

  /** Shared shaping: service from resources, latency ms (0 when end <=
    * start, processor.go:987-993), minute bucket, exclude filter.
    */
  private def prepared(spans: DataFrame, cfg: Config): DataFrame =
    spans
      .withColumn("service_name",
        col("resources_string").getItem("service.name"))
      .filter(col("service_name").isNotNull)
      .filter(keepFilter(cfg))
      .withColumn("latency_ms",
        when(col("end_ts") > col("start_ts"),
          (col("end_ts") - col("start_ts")) / lit(1000000.0)).otherwise(0.0))
      .withColumn("bucket_start",
        expr(s"((start_ts div 1000000000) div ${cfg.bucketSeconds}) * ${cfg.bucketSeconds}"))

  private def keyCols(cfg: Config, dims: Seq[Dimension]): Seq[Column] =
    Seq(col("bucket_start"), col("service_name"), col("name").as("operation"),
      kindEnumString(col("kind")).as("span_kind"),
      statusEnumString(col("status_code")).as("status_code")) ++
      dims.map(d => dimValue(d).as(d.name))

  /** `signoz_latency`: per-key explicit-bounds histogram rows — one row
    * per (key, le) with the CUMULATIVE count (what the metrics exporter
    * writes downstream), plus total count and sum.
    */
  def latency(spans: DataFrame, cfg: Config = Config()): DataFrame = {
    val p = prepared(spans, cfg)
    val keys = keyCols(cfg, cfg.dimensions)
    val bounds = cfg.latencyBoundsMs
    val bucketAggs = bounds.zipWithIndex.map { case (b, i) =>
      sum(when(col("latency_ms") <= b, 1L).otherwise(0L)).as(s"bucket_$i")
    }
    // `le` labels: FormatFloat(bound, 'f', -1, 64), GoFloat.fixed (SURVEY row 350)
    val leNames = bounds.map(GoFloat.fixed) :+ "+Inf"
    val aggs = count(lit(1)).as("call_count") +:
      sum(col("latency_ms")).as("sum_ms") +: bucketAggs
    val grouped = p.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val leMap = leNames.zipWithIndex.map(_.swap).toMap
    val buckets = leNames.indices.map { i =>
      struct(lit(leMap(i)).as("le"),
        (if (i < bounds.length) col(s"bucket_$i") else col("call_count"))
          .as("cumulative_count"))
    }
    grouped.select(
      col("bucket_start") +: col("service_name") +: col("operation") +:
        col("span_kind") +: col("status_code") +:
        cfg.dimensions.map(d => col(d.name)) :+
        col("call_count") :+ col("sum_ms") :+
        explode(array(buckets: _*)).as("bucket"): _*)
      .select(col("*"), col("bucket.le").as("le"),
        col("bucket.cumulative_count").as("cumulative_count"))
      .drop("bucket")
  }

  /** `signoz_latency` exponential-histogram variant (enable_exp_histogram,
    * processor.go:1012-1016 feeding the OTel `structure.Histogram`): per-key
    * base-2 buckets via [[Histogram.exponential]] (auto-scaled, 160-bucket
    * default) over the same latency/key shaping as [[latency]].
    */
  def latencyExpHistogram(spans: DataFrame, cfg: Config = Config(),
      maxSize: Int = 160): DataFrame = {
    val p = prepared(spans, cfg)
      .select(keyCols(cfg, cfg.dimensions) :+ col("latency_ms"): _*)
    Histogram.exponential(p, col("latency_ms"),
      Seq("bucket_start", "service_name", "operation", "span_kind",
        "status_code") ++ cfg.dimensions.map(_.name), maxSize = maxSize)
  }

  /** `signoz_latency` exemplars (processor.go:1084 append +
    * setExemplars:1452-1474 flush, empty-trace-id skip): per key, the k
    * highest-latency (trace_id, span_id, value) tuples — flattened to one
    * row per exemplar with a 1-based `rank`. The reference keeps EVERY span
    * in its seconds-long flush window; a batch bucket can hold millions of
    * spans, so the batch form caps deterministically at the k slowest
    * (ties broken by trace_id then span_id, descending). `value` is the
    * span duration in nanoseconds (exact integer — rank order is
    * float-rounding-free).
    *
    * Scale: [[graft.functions.TopKExemplars]] is a bounded-buffer
    * ObjectHashAggregate — map-side partial top-k ships at most k entries
    * per key per partition, where a window-rank plan would shuffle and
    * sort every span row.
    */
  def latencyExemplars(spans: DataFrame, cfg: Config = Config(),
      k: Int = 3): DataFrame = {
    val p = prepared(spans, cfg)
      .withColumn("duration_nano",
        when(col("end_ts") > col("start_ts"), col("end_ts") - col("start_ts"))
          .otherwise(0L))
    val keys = keyCols(cfg, cfg.dimensions)
    val keyNames = Seq("bucket_start", "service_name", "operation",
      "span_kind", "status_code") ++ cfg.dimensions.map(_.name)
    p.groupBy(keys: _*)
      .agg(graft.functions.TopKExemplars(col("duration_nano").cast("double"),
        col("trace_id"), col("span_id"), k).as("exemplars"))
      .select(keyNames.map(col) :+
        posexplode(col("exemplars")).as(Seq("__pos", "ex")): _*)
      .select(keyNames.map(col) :+
        (col("__pos") + 1).cast("int").as("rank") :+
        col("ex.trace_id").as("trace_id") :+
        col("ex.span_id").as("span_id") :+
        col("ex.value").cast("long").as("value_ns"): _*)
  }

  /** `signoz_calls_total`: count per key + the http.status_code dimension
    * the processor always prepends (processor.go:278-281).
    */
  def callsTotal(spans: DataFrame, cfg: Config = Config()): DataFrame = {
    val p = prepared(spans, cfg)
    val dims = Dimension("http.status_code") +: cfg.dimensions
    p.groupBy(keyCols(cfg, dims): _*).agg(count(lit(1)).as("call_count"))
  }

  /** `signoz_db_latency_sum/count`: spans with `db.system` set and kind !=
    * SERVER (processor.go:1040-1045); custom key = (service, status_code,
    * db.system, db.name, dims) — no operation/kind (`buildCustomKey`).
    */
  def dbCallLatency(spans: DataFrame, cfg: Config = Config()): DataFrame = {
    val p = prepared(spans, cfg)
      .filter(col("attributes_string").getItem("db.system").isNotNull &&
        col("kind") =!= 2)
    val dims = Seq(Dimension("db.system"), Dimension("db.name")) ++ cfg.dimensions
    p.groupBy(Seq(col("bucket_start"), col("service_name"),
      statusEnumString(col("status_code")).as("status_code")) ++
      dims.map(d => dimValue(d).as(d.name)): _*)
      .agg(sum(col("latency_ms")).as("latency_sum_ms"),
        count(lit(1)).as("latency_count"))
  }

  /** `signoz_external_call_latency_sum/count`: CLIENT spans with a remote
    * address (processor.go:1027-1038); extra `address` dimension.
    */
  def externalCallLatency(spans: DataFrame, cfg: Config = Config()): DataFrame = {
    val p = prepared(spans, cfg)
      .withColumn("address", remoteAddress(col("attributes_string")))
      .filter(col("kind") === 3 && col("address").isNotNull)
    val dims = Dimension("http.status_code") +: cfg.dimensions
    p.groupBy(Seq(col("bucket_start"), col("service_name"),
      statusEnumString(col("status_code")).as("status_code"), col("address")) ++
      dims.map(d => dimValue(d).as(d.name)): _*)
      .agg(sum(col("latency_ms")).as("latency_sum_ms"),
        count(lit(1)).as("latency_count"))
  }
}
