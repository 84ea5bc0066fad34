package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.pipeline.{Exporter, ExporterConfig, MeterConnector, Pipeline, PipelineSpec}
import graft.sources.Transcripts

/** Structured Streaming variants of the pipeline stages.
  *
  * The reference is a push-based streaming collector; this engine's batch
  * plan is stateless per row end-to-end, so the SAME compiled pipeline
  * applies unchanged to a `readStream` DataFrame (parse -> enrich -> route
  * -> export are all projections). Only the aggregating pieces need
  * streaming-specific state handling:
  *
  *  - meter connector (`connectors/signozmeterconnector/connector.go:128-221`):
  *    group-by-dimensions count+bytes, flushed at every ticker tick as
  *    deltas -> one stateless flush per trigger ([[meterConnectorStream]]);
  *  - corpus-ingestion dedup -> `dropDuplicatesWithinWatermark` on the
  *    normalized key ([[ingestDedupStream]]);
  *  - transcript sessions -> `session_window` ([[sessionStream]]);
  *  - late data: the reference drops rows older than an age cutoff rather
  *    than using watermarks (`exporter.go:515`) — the watermark is the
  *    Spark-native expression of the same bound.
  */
object StreamJobs {

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

  /** The meter connector's streaming face: every trigger is the reference's
    * flush tick (`connectors/signozmeterconnector/connector.go:137-163`
    * exportMetrics, then `:165-221` resetState). Rows group by the same
    * [[MeterConnector.dimensionKey]] as the batch face, once per trigger,
    * in a `flatMapGroupsWithState` whose function never calls `update` (a
    * streaming `groupBy` would carry running totals across triggers), so
    * nothing outlives the flush and there is no state to bound. Each key
    * that saw rows emits the [[MeterConnector.meterRows]]
    * `signoz.meter.log.{count,size}` delta sums, stamped with the trigger's
    * `current_timestamp()` (fixed per micro-batch): the same columns as
    * [[MeterConnector.fromLogs]].
    */
  def meterConnectorStream(logsV2: DataFrame, dims: Seq[String],
      connectorId: String): DataFrame = {
    val spark = logsV2.sparkSession
    import spark.implicits._
    val keyed = logsV2.select(
      MeterConnector.dimensionKey(col("resources_string"), dims).as("_1"),
      col("record_size").cast("long").as("_2")).as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, rows, _) =>
        var n = 0L; var b = 0L
        rows.foreach { r => n += 1; b += r._2 }
        Iterator((key, n, b))
      }
      .toDF("__dims", "__n", "__b")
    MeterConnector.meterRows(keyed, MeterConnector.logNames, connectorId,
      unix_millis(current_timestamp()))
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
    * for exactly this reason).
    * Migration: round-5 consumers received only definitely-new rows.
    * Consumers must now send `maybe_dup = true` rows to an exact verify
    * (the semi-join in `Dedup.bloomIncremental`), or choose to drop them;
    * `maybe_dup = false` rows pass straight through.
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
}
