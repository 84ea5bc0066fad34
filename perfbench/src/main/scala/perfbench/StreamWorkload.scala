package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.sinks.GraftTable
import graft.sources.Transcripts
import graft.streaming.StreamJobs

/** `stream`: open loop. One generator thread moves one small transcript
  * parquet file per interval into a watched directory, each due at a fixed
  * time; `StreamJobs.pipelineStream` over a file-source `readStream` appends
  * every micro-batch to a `GraftTable` logs_v2 sink from `foreachBatch`.
  * A file's lag runs from the time it was due to the sink commit of the
  * batch that holds it.
  */
object StreamWorkload {

  /** Offered rate: 100 files in a 5 s window, so the p90 lag has 10 files
    * beyond it. A micro-batch takes about a second, so batches absorb many
    * files each and the backlog stays flat.
    */
  val FilesPerSecond = 20.0
  val ConversationsPerFile = 50L
  val WarmupFiles = 1

  private final case class Commit(batch: Long, atNs: Long, files: Seq[String], rows: Long, writeS: Double)

  final case class Episode(lagS: Seq[Double], lateS: Seq[Double], backlogEnd: Int,
      appendS: Seq[Double], progress: Seq[Map[String, Double]], rows: Long, deliverS: Double,
      setupS: Double)

  private def timedFiles(seconds: Double): Int = math.max(1, math.ceil(seconds * FilesPerSecond).toInt)

  def run(ctx: RunContext, sessionS: Double): Unit = {
    val episodes = if (ctx.tracer.enabled) 2 else 1
    val timedFiles = this.timedFiles(ctx.args.seconds)
    val perEpisode = WarmupFiles + timedFiles
    val staged = stage(ctx, perEpisode * episodes)
    ctx.details("input") = Json.obj("files_per_second" -> FilesPerSecond,
      "conversations_per_file" -> ConversationsPerFile, "timed_files" -> timedFiles,
      "warmup_files" -> WarmupFiles)

    val first = episode(ctx, "untraced", staged.take(perEpisode), traced = false)
    ctx.metric("setup_s", sessionS + first.setupS, "s")
    report(ctx, first)
    if (ctx.tracer.enabled) {
      val inst = Instruments.attach(ctx)
      val second = inst.measure(episode(ctx, "traced", staged.slice(perEpisode, 2 * perEpisode), traced = true))
      inst.detach()
      inst.report(ctx, ops = 1)
      layerMetrics(ctx, second)
      ctx.metric("trace.overhead_ratio", Stats.median(second.lagS) / Stats.median(first.lagS) - 1.0, "ratio")
    }
  }

  /** The stream layer's per-layer metrics from one traced 5 s episode,
    * for a run whose own workload is not `stream`.
    */
  def layerEpisode(ctx: RunContext): Unit = {
    val e = episode(ctx, "traced", stage(ctx, WarmupFiles + timedFiles(5.0)), traced = true)
    layerMetrics(ctx, e)
  }

  private def report(ctx: RunContext, e: Episode): Unit = {
    val lag = Stats.summarize(e.lagS)
    ctx.metric("latency_p50_s", lag.p50, "s")
    ctx.metric("latency_p90_s", Stats.quantile(e.lagS, 0.9), "s")
    ctx.metric("throughput_per_s", e.rows / e.deliverS, "1/s")
    ctx.details("latency") = lag.json
    ctx.details("lag_s") = Json.of(e.lagS)
    if (!ctx.tracer.enabled) layerMetrics(ctx, e)
  }

  private def layerMetrics(ctx: RunContext, e: Episode): Unit = {
    ctx.metric("stream.batches", e.progress.size.toDouble, "count")
    Seq("queryPlanning" -> "query_planning_s", "addBatch" -> "add_batch_s",
      "latestOffset" -> "latest_offset_s", "walCommit" -> "wal_commit_s").foreach { case (k, name) =>
      val xs = e.progress.flatMap(_.get(k))
      ctx.metric(s"stream.$name", if (xs.isEmpty) 0.0 else Stats.median(xs), "s")
    }
    ctx.metric("stream.generator_late_s", e.lateS.max, "s")
    ctx.metric("stream.backlog_files_end", e.backlogEnd.toDouble, "count")
    ctx.metric("sinks.append_commit_p50_s", Stats.median(e.appendS), "s")
    ctx.metric("sinks.append_commit_p90_s", Stats.quantile(e.appendS, 0.9), "s")
  }

  /** Pre-write `n` small transcript files (not timed): file `i` holds the
    * conversations whose id hashes to slot `i`.
    */
  private def stage(ctx: RunContext, n: Int): Seq[File] = {
    val dir = new File(ctx.args.work, s"stream-staging-$n-${ctx.args.seed}")
    Transcripts.generate(ctx.spark, ConversationsPerFile * n, ctx.args.seed)
      .withColumn("slot", pmod(xxhash64(col("conv_id"), lit(ctx.args.seed)), lit(n.toLong)))
      .repartition(n, col("slot"))
      .write.mode("overwrite").partitionBy("slot").parquet(dir.getAbsolutePath)
    (0 until n).flatMap { i =>
      Option(new File(dir, s"slot=$i").listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
    }
  }

  private def episode(ctx: RunContext, tag: String, files: Seq[File], traced: Boolean): Episode = {
    val spark = ctx.spark
    val root = ctx.dir(s"stream-$tag")
    Main.deleteTree(root)
    val watch = new File(root, "in")
    watch.mkdirs()
    val sink = new File(root, "logs_v2").getAbsolutePath
    val schema: StructType = spark.read.parquet(files.map(_.getAbsolutePath): _*).schema
    val name = (i: Int) => f"turns-$i%05d.parquet"
    // files are copied next to the watched directory before timing; placing
    // one is an atomic rename, so the source never sees a partial file
    val ready = new File(root, "ready")
    ready.mkdirs()
    files.indices.foreach(i => Files.copy(files(i).toPath, new File(ready, name(i)).toPath))
    def place(i: Int): Unit =
      Files.move(new File(ready, name(i)).toPath, new File(watch, name(i)).toPath,
        StandardCopyOption.ATOMIC_MOVE)

    val checkpoint = new File(root, "checkpoint")
    val commits = new ConcurrentLinkedQueue[Commit]()
    var sinkRows = 0L // written by the stream thread only
    val batchFn: (DataFrame, Long) => Unit = (batch, id) => {
      val inputs = batchFiles(checkpoint, id)
      val w0 = System.nanoTime()
      def append() = GraftTable.write(batch, sink, Some("route"), "stream", overwrite = false)
      val snap = if (traced) ctx.layer("stream.batch")(append()) else append()
      val w1 = System.nanoTime()
      commits.add(Commit(id, w1, inputs, snap.rowCount - sinkRows, (w1 - w0) / 1e9))
      sinkRows = snap.rowCount
    }
    def committed: Set[String] = commits.asScala.flatMap(_.files).toSet
    var query: StreamingQuery = null
    def await(names: Set[String], timeoutS: Double): Unit = {
      val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
      while (!names.subsetOf(committed)) {
        query.exception.foreach(e => throw new IllegalStateException(s"stream $tag failed", e))
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"stream $tag: files not committed within ${timeoutS}s")
        Thread.sleep(5)
      }
    }

    // set-up: start the query and commit the warm-up files
    val s0 = System.nanoTime()
    val source = spark.readStream.schema(schema).parquet(watch.getAbsolutePath)
    query = StreamJobs.pipelineStream(source, SparkEntry.transcriptPipeline)
      .writeStream.option("checkpointLocation", checkpoint.getAbsolutePath)
      .foreachBatch(batchFn).start()
    try {
      (0 until WarmupFiles).foreach(place)
      await((0 until WarmupFiles).map(name).toSet, 120)
      val setupS = (System.nanoTime() - s0) / 1e9

      // measured window: the generator keeps its schedule whatever the sink does
      val timed = WarmupFiles until files.size
      val t0 = System.nanoTime() + 20000000L
      val due = timed.map(i => name(i) -> (t0 + ((i - WarmupFiles) / FilesPerSecond * 1e9).toLong)).toMap
      val late = timed.map { i =>
        val wait = due(name(i)) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val lateS = (System.nanoTime() - due(name(i))) / 1e9
        place(i)
        lateS
      }
      val backlog = timed.count(i => !committed.contains(name(i)))
      await(timed.map(name).toSet, 120)
      query.stop()

      val all = commits.asScala.toSeq
      val lag = all.flatMap(c => c.files.flatMap(due.get).map(d => (c.atNs - d) / 1e9))
      // the timed batches are those after the warm-up ones
      val warmBatches = all.filter(_.files.exists(f => !due.contains(f))).map(_.batch).toSet
      val progress = query.recentProgress.toSeq
        .filter(p => p.numInputRows > 0 && !warmBatches.contains(p.batchId))
      val durations = progress.map(_.durationMs.asScala.map { case (k, v) => k -> v.toLong / 1e3 }.toMap)
      ctx.attempted += all.size
      check(ctx, tag, all, files, sink, schema, watch)
      // delivered throughput: timed turns over first due time -> last commit
      val timedCommits = all.filterNot(c => warmBatches.contains(c.batch))
      Episode(lag, late, backlog, timedCommits.map(_.writeS), durations,
        timedCommits.map(_.rows).sum, (timedCommits.map(_.atNs).max - t0) / 1e9, setupS)
    } finally if (query.isActive) query.stop()
  }

  private val entryRe = """\{"path":"([^"]+)".*"batchId":(\d+)""".r

  /** Names of the files in micro-batch `id`, from the file source's own log
    * in the checkpoint (a plain or compacted log file, written before the
    * batch runs).
    */
  def batchFiles(checkpoint: File, id: Long): Seq[String] = {
    val log = new File(checkpoint, "sources/0")
    Seq(new File(log, id.toString), new File(log, s"$id.compact")).find(_.exists).toSeq.flatMap { f =>
      Files.readAllLines(f.toPath).asScala.flatMap(l => entryRe.findFirstMatchIn(l))
        .filter(_.group(2).toLong == id)
        .map(m => new File(new java.net.URI(m.group(1)).getPath).getName)
    }
  }

  /** Committed rows and checksum must equal the batch pipeline over the same
    * files, and every file must land in exactly one batch.
    */
  private def check(ctx: RunContext, tag: String, all: Seq[Commit], files: Seq[File],
      sink: String, schema: StructType, watch: File): Unit = {
    val spark = ctx.spark
    val inputs = watch.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    val seen = all.flatMap(_.files)
    val onceEach = seen.size == seen.distinct.size && seen.toSet == inputs.map(new File(_).getName).toSet
    val reference = StreamJobs.pipelineStream(spark.read.schema(schema).parquet(inputs: _*),
      SparkEntry.transcriptPipeline)
    val got = RunContext.checksum(GraftTable.read(spark, sink)
      .select(reference.columns.toSeq.map(c => col(s"`$c`")): _*))
    val want = RunContext.checksum(reference)
    val ok = ctx.check(s"stream.$tag.files_once", onceEach, s"batches saw $seen, inputs $inputs") &&
      ctx.check(s"stream.$tag.sink_checksum", got == want, s"sink $got != batch pipeline $want")
    if (!ok) ctx.failed += 1
    ctx.details(s"stream_$tag") = Json.obj("batches" -> all.size, "files" -> files.size,
      "rows" -> got._1, "sum" -> got._2.toString)
  }
}
