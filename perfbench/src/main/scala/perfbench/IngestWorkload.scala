package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{Common, NoopOp}
import graft.pipeline.{Enrich, Exporter, JobConfig, Pipeline, PipelineSpec, TranscriptJob}
import graft.sinks.GraftTable
import graft.sources.Transcripts

/** `ingest`: closed-loop passes of the full production job
  * (`TranscriptJob.run` with the flagship pipeline) over a transcript table
  * generated from the seed and written to parquet before timing starts.
  */
object IngestWorkload {

  /** Conversations in the input; about 4.3 turns each (Pareto sizes). */
  val Conversations = 6000L

  val Sinks: Seq[String] =
    Seq("logs_v2", "logs_v2_resource", "tag_attributes_v2", "logs_attribute_keys", "logs_resource_keys")

  val Routes: Seq[String] = Seq("parse_hotrod", "parse_json", "parse_kv", "parse_status", "noop")

  /** Route each generated turn should take, from the generator's own shape
    * bucket (`Transcripts.generate`: 0-29 hotrod, 30-54 JSON, 55-69 kv,
    * 70-84 status, 85-99 free text) — derived without running the pipeline.
    */
  def expectedRoute(seed: Long): Column = {
    val shape = pmod(xxhash64(col("conv_id"), col("turn_idx"), lit(seed)), lit(100L))
    when(shape < 30, "parse_hotrod").when(shape < 55, "parse_json")
      .when(shape < 70, "parse_kv").when(shape < 85, "parse_status").otherwise("noop")
  }

  def expectedRouteCounts(transcripts: DataFrame, seed: Long): Map[String, Long] =
    transcripts.groupBy(expectedRoute(seed).as("route")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  def writeInput(ctx: RunContext): File = {
    val dir = new File(ctx.args.work, s"input-$Conversations-${ctx.args.seed}")
    Transcripts.generate(ctx.spark, Conversations, ctx.args.seed)
      .write.mode("overwrite").parquet(dir.getAbsolutePath)
    dir
  }

  private def fresh(dir: File): String = {
    Main.deleteTree(dir)
    dir.getAbsolutePath
  }

  def run(ctx: RunContext, sessionS: Double): Unit = {
    val spark = ctx.spark
    val input = writeInput(ctx)
    def transcripts: DataFrame = spark.read.parquet(input.getAbsolutePath)
    val turns = transcripts.count()
    val spec = SparkEntry.transcriptPipeline
    ctx.details("input") = Json.obj("conversations" -> Conversations, "turns" -> turns,
      "files" -> input.listFiles().count(_.getName.endsWith(".parquet")))

    // set-up: the first pass plans, generates code and warms the JIT
    ctx.attempted += 1
    val (firstS, firstCounts) = timedPass(ctx, transcripts, spec, "setup")
    ctx.metric("setup_s", sessionS + firstS, "s")
    if (!checkFirstPass(ctx, transcripts, turns, firstCounts, new File(ctx.args.work, "out-setup"), spec))
      ctx.failed += 1

    ctx.details("sink_counts") = Json.of(firstCounts)
    // a traced run reports only layer metrics; its untraced passes are the
    // ones paired with the traced passes
    if (ctx.tracer.enabled) traced(ctx, transcripts, spec, firstCounts)
    else report(ctx, Main.window(ctx.args.seconds, minIterations = 3) { i =>
      checkedPass(ctx, transcripts, spec, firstCounts, s"pass$i")
    }, turns)
  }

  /** One counted `TranscriptJob.run` pass whose sink counts must equal the
    * set-up pass's; returns its wall time.
    */
  private def checkedPass(ctx: RunContext, transcripts: => DataFrame, spec: PipelineSpec,
      firstCounts: Map[String, Long], name: String): Double = {
    ctx.attempted += 1
    val (s, counts) = timedPass(ctx, transcripts, spec, "timed")
    if (!ctx.check(s"ingest.$name.sink_counts", counts == firstCounts, s"$counts != $firstCounts"))
      ctx.failed += 1
    s
  }

  /** One `TranscriptJob.run` pass into a fresh output directory. */
  private def timedPass(ctx: RunContext, transcripts: => DataFrame, spec: PipelineSpec,
      tag: String): (Double, Map[String, Long]) = {
    val out = fresh(new File(ctx.args.work, s"out-$tag"))
    Main.timed(TranscriptJob.run(ctx.spark, transcripts, out, spec)).swap
  }

  /** End-to-end metrics of one set of pass times. */
  def report(ctx: RunContext, passes: Seq[Double], turns: Long): Unit = {
    val sum = Stats.summarize(passes)
    ctx.metric("throughput_per_s", turns / sum.p50, "1/s")
    ctx.metric("latency_p50_s", sum.p50, "s")
    ctx.metric("latency_p90_s", Stats.quantile(passes, 0.9), "s")
    ctx.details("pass_s") = Json.of(passes)
    ctx.details("latency") = sum.json
  }

  /** Output checks on the set-up pass; true when all hold. */
  def checkFirstPass(ctx: RunContext, transcripts: DataFrame, turns: Long,
      counts: Map[String, Long], out: File, spec: PipelineSpec): Boolean = {
    val spark = ctx.spark
    val expected = expectedRouteCounts(transcripts, ctx.args.seed)
    val sink = GraftTable.read(spark, new File(out, "logs_v2").getAbsolutePath)
    val got = sink.groupBy("route").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Routes.foreach(r => ctx.metric(s"pipeline.rows_by_route.$r", got.getOrElse(r, 0L).toDouble, "count"))
    val inMemory = Exporter.logsV2(Enrich.roleToolEnrich(
      Pipeline.compile(spec)(Transcripts.toLogFrame(transcripts))))
    val sinkSum = RunContext.checksum(sink.select(inMemory.columns.toSeq.map(c => col(s"`$c`")): _*))
    val memSum = RunContext.checksum(inMemory)
    ctx.details("logs_v2_checksum") = Json.obj("rows" -> sinkSum._1, "sum" -> sinkSum._2.toString)
    Seq(
      ctx.check("ingest.logs_v2_rows", counts.get("logs_v2").contains(turns),
        s"logs_v2 ${counts.get("logs_v2")} != input turns $turns"),
      ctx.check("ingest.all_sinks_written", Sinks.forall(s => counts.getOrElse(s, 0L) > 0),
        s"sink counts $counts"),
      ctx.check("ingest.rows_by_route", got == expected, s"sink $got != generator $expected"),
      ctx.check("ingest.logs_v2_checksum", sinkSum == memSum, s"sink $sinkSum != in-memory $memSum")
    ).forall(identity)
  }

  // ---- traced run ------------------------------------------------------------

  /** The job's public layer calls in `TranscriptJob.run`'s order, each under
    * a span and job group. Its sink counts must equal the job's own.
    */
  def tracedPass(ctx: RunContext, transcripts: => DataFrame, spec: PipelineSpec,
      out: String): Map[String, GraftTable.Snapshot] = ctx.layer("ingest.pass") {
    val cfg = JobConfig()
    val scanned = ctx.layer("sources.scan")(transcripts)
    val logs = ctx.layer("sources.adapt")(Transcripts.toLogFrame(scanned))
    val routed = ctx.layer("pipeline.compile")(Pipeline.compile(spec)(logs))
    val enriched = ctx.layer("pipeline.enrich")(Enrich.roleToolEnrich(routed))
    val block = (col("turn_idx") / cfg.saltBlockTurns).cast("int")
    val layout = ctx.layer("pipeline.layout")(enriched.repartition(col("conv_id"), block))
    val main = ctx.layer("pipeline.export") {
      Exporter.logsV2(layout, cfg.exporter).sortWithinPartitions("conv_id", "turn_idx").cache()
    }
    try {
      def write(name: String, df: => DataFrame, part: Option[String], stage: String) =
        name -> ctx.layer(s"sinks.$name.write")(GraftTable.write(df, s"$out/$name", part, stage))
      Seq(
        write("logs_v2", main, Some("route"), "logs_v2"),
        write("logs_v2_resource", Exporter.resources(main, None), None, "resources"),
        write("tag_attributes_v2", Exporter.tagAttributes(main, cfg.exporter), None, "tags"),
        write("logs_attribute_keys", Exporter.attributeKeys(main), None, "keys"),
        write("logs_resource_keys", Exporter.resourceKeys(main), None, "keys")).toMap
    } finally main.unpersist()
  }

  private def traced(ctx: RunContext, transcripts: => DataFrame, spec: PipelineSpec,
      jobCounts: Map[String, Long]): Unit = {
    // pairs of an untraced TranscriptJob.run pass and a traced pass, taking
    // turns at going first, so the overhead compares equally warmed passes
    val inst = Instruments.attach(ctx)
    var snaps = Map.empty[String, GraftTable.Snapshot]
    val pairs = Main.window(ctx.args.seconds, minIterations = 2) { i =>
      def plain() = checkedPass(ctx, transcripts, spec, jobCounts, s"paired$i")
      def traced() = {
        val out = fresh(new File(ctx.args.work, "out-traced"))
        val (s, t) = Main.timed(inst.measure(tracedPass(ctx, transcripts, spec, out)))
        snaps = s
        t
      }
      Main.inTurns(i, plain(), traced())
    }
    val tracedPasses = pairs.map(_._2)
    inst.detach()
    val tracedCounts = snaps.map { case (k, v) => k -> v.rowCount }
    if (!ctx.check("ingest.traced_sink_counts", tracedCounts == jobCounts,
        s"traced pass $tracedCounts != TranscriptJob.run $jobCounts")) ctx.failed += 1

    val n = tracedPasses.size.toDouble
    val spans = ctx.tracer.spans
    val self = Trace.selfSecondsByName(spans)
    val total = Trace.selfSecondsByName(spans.map(s => s.copy(parent = None)))
    val groups = inst.listener.byGroup
    ctx.metric("pipeline.compile_s", self.getOrElse("pipeline.compile", 0.0) / n, "s")
    Sinks.foreach { s =>
      ctx.metric(s"sinks.$s.write_s", total.getOrElse(s"sinks.$s.write", 0.0) / n, "s")
      ctx.metric(s"sinks.$s.rows", snaps.get(s).map(_.rowCount.toDouble).getOrElse(0.0), "count")
    }
    // driver-side share of the sink writes: everything outside their Spark
    // jobs (plan building, footer reads, snapshot render and rename)
    val jobS = Sinks.map(s => groups.get(s"sinks.$s.write").map(_.jobMs).getOrElse(0L)).sum / 1e3
    val writeS = Sinks.map(s => total.getOrElse(s"sinks.$s.write", 0.0)).sum
    ctx.metric("sinks.commit_s", math.max(0.0, writeS - jobS) / n, "s")
    val files = snaps.values.flatMap(_.files).toSeq
    ctx.metric("sinks.files_written", files.size.toDouble, "count")
    ctx.metric("sinks.bytes_written", files.map(f => Files.size(new File(f.path).toPath).toDouble).sum, "bytes")
    groups.get("sinks.logs_v2.write").foreach { g =>
      ctx.metric("pipeline.layout_shuffle_bytes", g.shuffleWrite / n, "bytes")
      ctx.metric("pipeline.layout_skew", g.maxSkew, "ratio")
    }
    inst.report(ctx, ops = tracedPasses.size)
    ctx.metric("trace.overhead_ratio", Stats.median(tracedPasses) / Stats.median(pairs.map(_._1)) - 1.0,
      "ratio")
    ctx.details("paired_pass_s") = Json.of(pairs.map { case (p, t) => Seq(p, t) })

    // the same pipeline layer in micro-batches: the stream layer's metrics
    StreamWorkload.layerEpisode(ctx)
    ablation(ctx, transcripts, spec)
  }

  /** Operator-prefix ablation: the chain cut after each layer or operator,
    * later operators replaced by `NoopOp` with the same id and outputs. Every
    * prefix is drained the same way, into Spark's `noop` sink, which computes
    * each output column and serialises nothing, so consecutive prefixes
    * differ only by the layer between them. A layer's execution self time is
    * its prefix time minus the previous prefix time (one warm-up, then one
    * timing each).
    */
  def ablation(ctx: RunContext, transcripts: => DataFrame, spec: PipelineSpec): Unit = {
    def prefix(k: Int): PipelineSpec = PipelineSpec(spec.ops.zipWithIndex.map {
      case (op, i) if i <= k => op
      case (op, _) => NoopOp(Common(op.id, output = op.common.output))
    })
    def logs = Transcripts.toLogFrame(transcripts)
    def routed(s: PipelineSpec) = Pipeline.compile(s)(logs)
    val opIds = spec.ops.map(_.id)
    val stages: Seq[(String, () => DataFrame)] =
      Seq("sources.scan" -> (() => transcripts), "sources.adapt" -> (() => logs),
        "operators.route" -> (() => routed(prefix(0)))) ++
      opIds.indices.drop(1).filter(i => opIds(i) != "noop").map { i =>
        s"operators.${opIds(i)}" -> (() => routed(prefix(i)))
      } ++ Seq(
        "pipeline.enrich" -> (() => Enrich.roleToolEnrich(routed(spec))),
        "pipeline.export" -> (() => Exporter.logsV2(Enrich.roleToolEnrich(routed(spec)))))
    val times = stages.map { case (name, frame) =>
      val f = frame()
      def drain() = f.write.format("noop").mode("overwrite").save()
      drain()
      val t0 = System.nanoTime()
      drain()
      name -> (System.nanoTime() - t0) / 1e9
    }
    ctx.details("ablation_prefix_s") = Json.of(times.toMap)
    times.zipWithIndex.foreach { case ((name, t), i) =>
      ctx.metric(s"${name}_s", if (i == 0) t else t - times(i - 1)._2, "s")
    }
  }
}
