package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.pipeline.{Pipeline, PipelineSpec}
import graft.sources.Transcripts

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Local-mode session builder for the non-benchmark mains and the test
    * suite: `cores` task slots and shuffle partitions, UTC, non-ANSI casts,
    * no UI. Callers add their own settings before `getOrCreate()`.
    */
  def sessionBuilder(cores: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Session settings every entry point needs:
    * - ANSI off: invalid parses yield NULL (the operators' on_error path)
    *   instead of runtime errors, matching the reference's per-entry error
    *   handling;
    * - UTC so time parsing is oracle-comparable.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // Round 6: AQE's partition coalescing is parallelism-first but floors
    // partitions at 1 MB (`minPartitionSize`), so a kernel-heavy stage fed
    // by a small shuffle (e.g. the minhash signature pass after the
    // exact-dup collapse: ~1.5 MB of distinct texts at sf0.1) collapses to
    // ONE task and serializes md5-bound compute on one core. A 64 KB floor
    // lets the coalescer actually target the session's parallelism for
    // sub-MB shuffles; production-sized shuffles (>= parallelism x 1 MB)
    // are untouched, so this is scale-neutral by construction.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    spark
  }

  /** Reference fixture pattern (`processor_test.go:268`) — kept verbatim for
    * the golden tests.
    */
  val hotrodRegex: String =
    "^(?P<ts>.*)\\t(?P<log_level>.*)\\t(?P<location>.*)\\t(?P<msg>.*)\\t(?P<data_json>.*)$"

  /** Equivalent extraction with negated-class groups: zero regex
    * backtracking (the `(.*)` fixture form backtracks per group). Same
    * captures on 4-tab lines.
    */
  val hotrodRegexFast: String =
    "^(?P<ts>[^\\t]*)\\t(?P<log_level>[^\\t]*)\\t(?P<location>[^\\t]*)\\t(?P<msg>[^\\t]*)\\t(?P<data_json>[^\\t]*)$"

  /** The flagship transcript pipeline: parse -> enrich -> route -> aggregate
    * over the synthetic transcript table, covering the reference's hotrod
    * end-to-end fixture semantics (`processor_test.go:258-345`) across the
    * four generated payload shapes. Perf notes (profiled): route predicates
    * are cheap single-scan regexes; the expensive extractions run exactly
    * once per routed row (no duplicated `matches` in `if:` guards — a failed
    * parse takes the on_error=send path, which is the same pass-through the
    * guard would produce).
    */
  def transcriptPipeline: PipelineSpec = PipelineSpec(Seq(
    RouterOp(Common("router"), Seq(
      Route("body matches \"\\t\"", Seq("parse_hotrod")),
      Route("body matches \"^\\\\s*\\\\{\"", Seq("parse_json")),
      Route("body matches \"^status: \"", Seq("parse_status")),
      Route("body matches \"^a=\"", Seq("parse_kv"))
    ), default = Seq("noop")),

    // hotrod chain: regex -> json tail -> severity -> time -> trace -> cleanup
    RegexParserOp(Common("parse_hotrod", onError = OnError.Send, output = Seq("parse_hotrod_json")),
      hotrodRegexFast),
    JsonParserOp(Common("parse_hotrod_json",
      ifExpr = Some("attributes?.data_json != nil"),
      onError = OnError.Send, output = Seq("hotrod_severity")),
      parseFrom = FieldRef.Attr(Seq("data_json"))),
    SeverityParserOp(Common("hotrod_severity",
      ifExpr = Some("attributes?.log_level != nil"),
      onError = OnError.Send, output = Seq("hotrod_time")),
      SeveritySpec(FieldRef.Attr(Seq("log_level")), overwriteText = true)),
    TimeParserOp(Common("hotrod_time",
      ifExpr = Some("attributes?.ts != nil"),
      onError = OnError.Send, output = Seq("hotrod_trace")),
      TimeParserSpec(FieldRef.Attr(Seq("ts")), "strptime", "%Y-%m-%dT%H:%M:%S.%L%z")),
    TraceParserOp(Common("hotrod_trace",
      ifExpr = Some("attributes?.trace_id != nil"),
      onError = OnError.Send, output = Seq("remove_data_json")),
      TraceSpec(
        traceId = Some(FieldRef.Attr(Seq("trace_id"))),
        spanId = Some(FieldRef.Attr(Seq("span_id"))))),
    RemoveOp(Common("remove_data_json",
      ifExpr = Some("attributes?.data_json != nil"), output = Seq("noop")),
      FieldRef.Attr(Seq("data_json"))),

    // JSON body chain
    JsonParserOp(Common("parse_json", onError = OnError.Send, output = Seq("json_severity"))),
    SeverityParserOp(Common("json_severity",
      ifExpr = Some("attributes?.status != nil"),
      onError = OnError.Send, output = Seq("noop")),
      SeveritySpec(FieldRef.Attr(Seq("status")), overwriteText = true,
        mapping = Seq(
          "info" -> Seq(Severity2xx), "info2" -> Seq(Severity3xx),
          "warn" -> Seq(Severity4xx), "error" -> Seq(Severity5xx)))),

    // grok status chain
    GrokParserOp(Common("parse_status", onError = OnError.Send, output = Seq("status_severity")),
      pattern = "status: %{INT:status_code:int}"),
    SeverityParserOp(Common("status_severity",
      ifExpr = Some("attributes?.status_code != nil"),
      onError = OnError.Send, output = Seq("noop")),
      SeveritySpec(FieldRef.Attr(Seq("status_code")), overwriteText = true,
        mapping = Seq(
          "info" -> Seq(Severity2xx), "info2" -> Seq(Severity3xx),
          "warn" -> Seq(Severity4xx), "error" -> Seq(Severity5xx)))),

    // kv chain
    RegexParserOp(Common("parse_kv", onError = OnError.Send, output = Seq("noop")),
      "^a=(?P<a>.+);b=(?P<b>.+)$"),

    NoopOp(Common("noop"))
  ))

  private def Severity2xx = graft.functions.Severity.Str("2xx")
  private def Severity3xx = graft.functions.Severity.Str("3xx")
  private def Severity4xx = graft.functions.Severity.Str("4xx")
  private def Severity5xx = graft.functions.Severity.Str("5xx")

  /** Flagship query on synthetic transcripts; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    configure(spark)
    val transcripts = Transcripts.generate(spark, nConvs = 2000, seed = 42L)
    val logs = Transcripts.toLogFrame(transcripts)
    val routed = Pipeline.compile(transcriptPipeline)(logs)
    val enriched = graft.pipeline.Enrich.roleToolEnrich(routed)
    val main = graft.pipeline.Exporter.logsV2(enriched)
    main.groupBy(col("route"), col("severity_text"),
      col("attributes_string").getItem("actor_kind").as("actor_kind"))
      .count()
      .orderBy(col("route"), col("severity_text"), col("actor_kind"))
  }

  /** Every oracle-checked query, each declared once beside its oracle: one
    * per implemented operator from SURVEY.md §2 plus the training-data ops
    * (dedup/ANN/text/multimodal).
    */
  private lazy val table: Seq[Query] =
    Queries.table ++ DataQueries.table ++ TraceQueries.table ++ MetricQueries.table

  /** Each query's builder; the session is configured before every build. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Query.byName(table)(q => (spark, dir) => q.build(configure(spark), dir))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables.
    */
  lazy val oracleSql: Map[String, String] = Query.byName(table)(_.oracle)
}
