package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.GraftTable
import graft.sources.Transcripts

/** The full production job: transcripts -> parse/route pipeline -> exporter
  * fan-out -> snapshot-committed sinks, with the partitioning/skew/ordering
  * story from SURVEY.md §7.2 step 9 (BASELINE.json north_rule).
  *
  * Scale design notes (targeting 10^12 turns / 1000 executors):
  *  - The parse->route->export chain is pure per-row projection — ZERO
  *    shuffles from scan to sink files; parallelism is bounded only by input
  *    splits. The single required shuffle is the explicit layout
  *    repartition before the write.
  *  - Layout: `repartition(hash(conv_id, turn_block))` where
  *    `turn_block = turn_idx / saltBlockTurns`. A conversation hotter than
  *    one block is split across partitions (bounded partition size no matter
  *    how hot a conv_id gets — skew-proof by construction, no stats pass
  *    needed), while blocks keep turns contiguous so
  *    `sortWithinPartitions(conv_id, turn_idx)` preserves the stable
  *    ordering invariant within every file — the ClickHouse
  *    `ORDER BY (bucket, fp, severity, ts, id)` analogue
  *    (v2_squashed_logs_migration.go:200-208).
  *  - Side sinks (resources, tags, keys) aggregate over orders of magnitude
  *    fewer distinct values; their dropDuplicates shuffles partial-aggregate
  *    map-side first, so reduce-side traffic is proportional to distinct
  *    counts, not row counts.
  */
final case class JobConfig(
    layoutPartitions: Int = 0, // 0 = leave to AQE / input parallelism
    saltBlockTurns: Int = 4096, // turns per layout block for hot conversations
    exporter: ExporterConfig = ExporterConfig()
)

object TranscriptJob {

  /** transcript table -> committed sinks under `outDir`; returns each sink's
    * committed row count (the tables are re-readable via [[GraftTable.read]]).
    *
    * The five sinks are [[Exporter.fanOutFrom]]'s, all read from the one
    * cached `main` batch; this job adds only how each is written. The
    * writes run concurrently ([[GraftTable.writeAll]]), as the reference
    * exporter sends its five table batches at once (exporter.go:796-827).
    * The fan-out is all-or-error: either every sink commits and the counts
    * come back, or `run` throws the first failure, and only after every
    * other write has finished (each either committed or failed). `main` is
    * unpersisted only then. With `resume`, `logs_v2` appends only its missing route
    * partitions and the resource sink only its missing rows, so a re-run
    * after a failure completes the fan-out.
    */
  def run(spark: SparkSession, transcripts: DataFrame, outDir: String,
      spec: PipelineSpec, cfg: JobConfig = JobConfig(),
      resume: Boolean = false): Map[String, Long] = {
    val main = logsV2(transcripts, spec, cfg).cache()
    try {
      val existingRes =
        if (resume) scala.util.Try(GraftTable.read(spark, s"$outDir/logs_v2_resource")).toOption
        else None
      val frames = Exporter.fanOutFrom(main, cfg.exporter, existingRes)
      // the per-sink write policy: partitioning, resume mode, stage label
      def write(name: String, df: DataFrame)(t: String): GraftTable.Snapshot = name match {
        case "logs_v2" =>
          if (resume) GraftTable.appendMissingPartitions(df, t, "route", "logs_v2")
          else GraftTable.write(df, t, Some("route"), "logs_v2")
        case "logs_v2_resource" => GraftTable.write(df, t, None, "resources", overwrite = !resume)
        case "tag_attributes_v2" => GraftTable.write(df, t, None, "tags")
        case _ => GraftTable.write(df, t, None, "keys")
      }
      val sinks = frames.toSeq
      val snaps = GraftTable.writeAll(sinks.map { case (n, df) => s"$outDir/$n" -> write(n, df) _ })
      sinks.map(_._1).zip(snaps.map(_.rowCount)).toMap
    } finally main.unpersist()
  }

  /** The `logs_v2` batch `run` caches and fans out: pipeline, enrich, layout
    * shuffle, export, ordered within each partition.
    */
  def logsV2(transcripts: DataFrame, spec: PipelineSpec, cfg: JobConfig = JobConfig()): DataFrame = {
    val logs = Transcripts.toLogFrame(transcripts)
    val routed = Enrich.roleToolEnrich(Pipeline.compile(spec)(logs))

    // layout shuffle: co-locate conversation blocks, bound skew
    val block = (col("turn_idx") / cfg.saltBlockTurns).cast("int")
    val layout =
      if (cfg.layoutPartitions > 0) routed.repartition(cfg.layoutPartitions, col("conv_id"), block)
      else routed.repartition(col("conv_id"), block)

    Exporter.logsV2(layout, cfg.exporter).sortWithinPartitions("conv_id", "turn_idx")
  }
}
