package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.pipeline.{Exporter, ExporterConfig, Pipeline, PipelineSpec}
import graft.sources.Transcripts

/** One flushed meter delta: the per-dimension count/size accumulated since
  * the previous flush, plus the running totals carried in state (lets a test
  * assert delta temporality: the deltas per key sum to the cumulative).
  */
final case class MeterDelta(dimensions: String, log_count: Long, log_size: Long,
    cumulative_count: Long, cumulative_size: Long)

/** Structured Streaming variants of the pipeline stages.
  *
  * The reference is a push-based streaming collector; this engine's batch
  * plan is stateless per row end-to-end, so the SAME compiled pipeline
  * applies unchanged to a `readStream` DataFrame (parse -> enrich -> route
  * -> export are all projections). Only the aggregating pieces need
  * streaming-specific state handling:
  *
  *  - meter connector (`connectors/signozmeterconnector/connector.go:128-221`):
  *    group-by-dimensions count+bytes, flushed periodically as deltas ->
  *    tumbling event-time window + watermark, `update` output mode;
  *  - resource-sink dedup (rfCache, TTL 1800 s) ->
  *    `dropDuplicatesWithinWatermark` keyed (fingerprint, bucket);
  *  - late data: the reference drops rows older than an age cutoff rather
  *    than using watermarks (`exporter.go:515`) — the watermark is the
  *    Spark-native expression of the same bound.
  */
object StreamJobs {

  /** Default state TTL for the delta-flush jobs: eviction ON. The reference
    * purges its accumulator at every flush tick
    * (`connectors/signozmeterconnector/connector.go:165-221` resetState), so
    * a bounded state lifetime is the parity default; unbounded retention
    * (`stateTtl = None`) is the explicit opt-in for bounded-cardinality jobs
    * that want exact cross-run cumulative totals.
    */
  val DefaultStateTtl: Option[String] = Some("30 minutes")

  /** Apply the full parse->route->export chain to a streaming transcript
    * source. Stateless: works under any output mode / trigger.
    */
  def pipelineStream(transcripts: DataFrame, spec: PipelineSpec,
      cfg: ExporterConfig = ExporterConfig()): DataFrame =
    Exporter.logsV2(Pipeline.compile(spec)(Transcripts.toLogFrame(transcripts)), cfg)

  /** Streaming sessionization of transcript turns: Spark's native
    * `session_window` (dynamic event-time windows that extend while turns
    * keep arriving within `gap`) keyed by conv_id — the Structured
    * Streaming analogue of ops/TranscriptOps.sessionStats. The watermark
    * bounds session state: a session finalizes (and emits, append mode)
    * once the watermark passes its end, and late turns merge into their
    * session until then. Boundary semantics differ from the batch op by
    * design: the batch rule keeps a turn at EXACTLY `gap` in-session
    * (strict >), while session_window's half-open [start, last+gap) ends
    * a session there — same convention as the reference's age cutoff
    * (closed lower bound).
    */
  def sessionStream(turns: DataFrame, gap: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    turns
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("conv_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_turns"),
        min(col("turn_idx")).as("first_turn"),
        max(col("turn_idx")).as("last_turn"),
        min(unix_micros(col("ts"))).as("start_epoch_us"),
        max(unix_micros(col("ts"))).as("end_epoch_us"))
      .select(col("conv_id"), col("n_turns"), col("first_turn"),
        col("last_turn"), col("start_epoch_us"), col("end_epoch_us"),
        (col("end_epoch_us") - col("start_epoch_us")).as("duration_us"))

  /** Meter connector: per-dimension (route, role) record counts and byte
    * sizes over tumbling windows — the delta-sum flush of the reference's
    * in-memory accumulation maps.
    */
  def meter(logsV2: DataFrame, windowLen: String = "30 minutes",
      watermarkDelay: String = "30 minutes"): DataFrame =
    logsV2
      .withColumn("event_time", timestamp_micros(expr("timestamp div 1000")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowLen), col("route"), col("role"))
      .agg(count(lit(1)).as("n_records"), sum(col("record_size")).as("n_bytes"))

  /** EXACT meter-connector delta-flush semantics
    * (`connectors/signozmeterconnector/connector.go:137-163` exportMetrics +
    * resetState + `UpdateLogMeterMetrics`): the reference accumulates
    * per-dimension count/size sums in memory and a wall-clock ticker flushes
    * them as DELTA monotonic sums, then purges the state. Here every
    * micro-batch trigger is the flush tick: `flatMapGroupsWithState` keyed
    * by the dimension tuple accumulates the batch's count/size, emits one
    * delta row per key that saw data, and keeps only the running totals in
    * state — exactly the timer-flushed delta, with the trigger interval
    * playing the ticker's role. (The windowed [[meter]] remains the
    * event-time approximation for watermarked pipelines.)
    */
  def meterDeltas(logsV2: DataFrame, dimCols: Seq[String] = Seq("route"),
      stateTtl: Option[String] = DefaultStateTtl): Dataset[MeterDelta] = {
    val spark = logsV2.sparkSession
    import spark.implicits._
    // STRUCT key (the dimension values as a list), not a separator-joined
    // string: a dimension value containing the separator byte would collide
    val keyed = logsV2.select(
      array(dimCols.map(c => coalesce(col(c).cast("string"), lit(""))): _*).as("_1"),
      col("record_size").cast("long").as("_2")).as[(Seq[String], Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), MeterDelta](
        OutputMode.Append, timeoutConf)(meterDeltaFn(stateTtl))
  }

  /** Streaming form of the full connector output
    * ([[graft.pipeline.MeterConnector]] shape): dimension keys projected
    * from RESOURCE attributes (absent keys omitted from the emitted attrs,
    * like `buildDimensionsMapFromResourceAttributes` — connector.go:348-359),
    * each micro-batch flush emitting the `signoz.meter.log.{count,size}`
    * delta monotonic sums per dim key, [[MeterExporter]]-ready after
    * `MetricFrames.withDefaults`.
    */
  def meterConnectorStream(logsV2: DataFrame, dims: Seq[String],
      connectorId: String, stateTtl: Option[String] = DefaultStateTtl): DataFrame = {
    val spark = logsV2.sparkSession
    import spark.implicits._
    val keyed = logsV2.select(
      array(dims.map(k => element_at(col("resources_string"), k)): _*).as("_1"),
      col("record_size").cast("long").as("_2")).as[(Seq[String], Long)]
    val timeoutConf =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    val flushed = keyed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Seq[String], Long, Long)](
        OutputMode.Append, timeoutConf) { (key, rows, state) =>
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          var c = 0L; var s = 0L
          rows.foreach { r => c += 1; s += r._2 }
          val (pc, ps) = state.getOption.getOrElse((0L, 0L))
          state.update((pc + c, ps + s))
          stateTtl.foreach(state.setTimeoutDuration)
          if (c == 0) Iterator.empty else Iterator((key, c, s))
        }
      }
    val dimNames = dims
    flushed.flatMap { case (key, c, s) =>
      val attrs = dimNames.zip(key).collect { case (k, v) if v != null => k -> v }.toMap
      Seq(
        ("signoz.meter.log.count", "The number of log records observed.", "1", c.toDouble, attrs),
        ("signoz.meter.log.size", "The size of log records observed.", "By", s.toDouble, attrs))
    }.toDF("metric_name", "description", "unit", "value", "attrs")
      .withColumn("metric_type", lit("Sum"))
      .withColumn("temporality", lit("Delta"))
      .withColumn("is_monotonic", lit(true))
      .withColumn("scope_name", lit(graft.pipeline.MeterConnector.ScopeName))
      .withColumn("scope_attrs", map(lit("connector_id"), lit(connectorId)))
  }

  /** The per-group delta-flush function, factored out so the timeout path is
    * unit-testable with `TestGroupState` (a live ProcessingTimeTimeout query
    * re-runs empty batches continuously to service timers, which livelocks
    * `processAllAvailable` in tests).
    *
    * State TTL (reference parity: the meter connector purges its accumulator
    * at every flush, `connector.go:165-221` resetState — the cumulative
    * carry here exists only for delta==cumulative assertions): with a TTL,
    * idle dimension keys are EVICTED after `stateTtl` of processing time
    * instead of accumulating forever on high-cardinality tuples. Eviction
    * is the DEFAULT (30 minutes — the reference never keeps a dimension
    * tuple past its flush tick, so unbounded retention is the deviation,
    * not the parity path); pass `None` to opt in to NoTimeout
    * (bounded-cardinality jobs that want exact cross-run cumulative
    * totals).
    */
  private[graft] def meterDeltaFn(stateTtl: Option[String])
      : (Seq[String], Iterator[(Seq[String], Long)],
         org.apache.spark.sql.streaming.GroupState[(Long, Long)]) => Iterator[MeterDelta] =
    (key, rows, state) =>
      if (state.hasTimedOut) {
        state.remove()
        Iterator.empty
      } else {
        var c = 0L
        var s = 0L
        rows.foreach { r => c += 1; s += r._2 }
        val (pc, ps) = state.getOption.getOrElse((0L, 0L))
        val nc = pc + c
        val ns = ps + s
        state.update((nc, ns))
        stateTtl.foreach(state.setTimeoutDuration)
        if (c == 0) Iterator.empty
        else Iterator(MeterDelta(key.mkString(","), c, s, nc, ns))
      }

  /** Streaming corpus-ingestion dedup — the streaming face of the batch
    * incremental dedup family (Dedup.bloomIncremental / the normalized
    * exact key): documents arriving on a stream are
    *   1) keyed by the canonical normalized dedup key
    *      (TextOps.normalizeForDedup — case/accent/punct variants collapse),
    *   2) de-duplicated IN-STREAM via `dropDuplicatesWithinWatermark` on
    *      that key (state bounded by the watermark, not the corpus),
    *   3) PROBED against the HISTORICAL corpus with a broadcast Bloom
    *      bitset on the same key — a zero-shuffle codegen projection with
    *      no false negatives, emitted as the `maybe_dup` flag.
    * Every emitted row is definitely new in-window; `maybe_dup = false`
    * rows are definitely new historically, and `maybe_dup = true` rows
    * are EITHER historical duplicates OR the filter's false positives —
    * the round-5 form filtered them out, silently losing genuinely-new
    * documents at the fp rate with no way to verify (the batch path,
    * Dedup.bloomIncremental, keeps flagged rows for an exact semi-join
    * for exactly this reason). Downstream routes `maybe_dup` rows to the
    * exact verify and passes the rest straight through.
    * Build the filter with `Dedup.bloomBuild(hist.withColumn("nk", ...),
    * textCol = "nk")` so both sides key identically.
    */
  def ingestDedupStream(docs: DataFrame, historical: Array[Byte],
      tsCol: String = "ts", watermarkDelay: String = "10 minutes",
      mBits: Int = 1 << 20, k: Int = 4): DataFrame = {
    val keyed = docs
      .withColumn("nk", graft.ops.TextOps.normalizeForDedup(col("text")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("nk")
    graft.ops.Dedup.bloomProbe(keyed, historical, textCol = "nk",
      mBits = mBits, k = k)
  }

  /** Probabilistic sampling policy (`signoztailsampler` evaluator semantics,
    * `processor/signoztailsampler/evaluator.go:13-80`): keep a deterministic
    * hash-fraction of groups — usable in batch and streaming alike.
    */
  def sampleByKey(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(pmod(xxhash64(col(keyCol)), lit(10000L)) < lit((fraction * 10000).toLong))
  }
}
