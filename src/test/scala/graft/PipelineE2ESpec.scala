package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.pipeline.{Enrich, Exporter, JobConfig, Pipeline, TranscriptJob}
import graft.sinks.GraftTable
import graft.sources.Transcripts
import graft.pipeline.MeterConnector
import graft.streaming.{StreamJobs, TailSampler}

/** End-to-end: transcripts -> pipeline -> enrich -> fan-out sinks, plus the
  * streaming variants and the scaling invariants (stable ordering, per-sink
  * counts).
  */
class PipelineE2ESpec extends SparkSuite {
  import spark.implicits._

  private lazy val transcripts = Transcripts.generate(spark, nConvs = 300, seed = 42L)

  test("generator is deterministic and Zipf-skewed") {
    val a = transcripts.agg(sum(xxhash64($"conv_id", $"turn_idx", $"text"))).as[Long].collect().head
    val b = Transcripts.generate(spark, 300, 42L)
      .agg(sum(xxhash64($"conv_id", $"turn_idx", $"text"))).as[Long].collect().head
    assert(a == b)
    val sizes = transcripts.groupBy("conv_id").count().select(max("count"), min("count"))
      .collect().head
    assert(sizes.getLong(0) > 20 * sizes.getLong(1)) // heavy tail present
  }

  test("enrich attaches role lookup + first-match tool glob rules") {
    val logs = Transcripts.toLogFrame(transcripts)
    val enriched = Enrich.roleToolEnrich(logs)
    val row = enriched.filter($"role" === "assistant").select(
      $"attributes_string".getItem("actor_kind"),
      $"attributes_string".getItem("direction")).collect().head
    assert(row.getString(0) == "model" && row.getString(1) == "outbound")
    val toolRow = enriched.filter($"tool" === "bash").select(
      $"attributes_string".getItem("tool_class"),
      $"attributes_string".getItem("tool_risk")).collect().head
    assert(toolRow.getString(0) == "shell" && toolRow.getString(1) == "high")
    // rows without a tool get no tool_class
    val noTool = enriched.filter($"tool" === "")
      .filter(map_contains_key($"attributes_string", "tool_class")).count()
    assert(noTool == 0)
  }

  test("glob translation (path.Match semantics)") {
    assert("browser_v2".matches(Enrich.globToRegex("browser*")))
    assert(!"web/browser".matches(Enrich.globToRegex("browser*"))) // * doesn't cross '/'
    assert("a.c".matches(Enrich.globToRegex("a?c")))
    assert(!"abc".matches(Enrich.globToRegex("a.c"))) // literal dot escaped
  }

  test("full job: 5 sinks committed with lineage; stable turn ordering") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job").toString
    val counts = TranscriptJob.run(spark, transcripts, dir,
      SparkEntry.transcriptPipeline, JobConfig(layoutPartitions = 4))
    assert(counts("logs_v2") == transcripts.count()) // every turn lands (default route)
    assert(counts("logs_v2_resource") > 0 && counts("tag_attributes_v2") > 0)
    assert(counts("logs_attribute_keys") > 0 && counts("logs_resource_keys") > 0)

    // stable-ordering invariant: within every file, read order == sorted
    // order by (conv_id, turn_idx)
    val main = GraftTable.read(spark, s"$dir/logs_v2")
    import org.apache.spark.sql.expressions.Window
    val byFile = main.withColumn("file", input_file_name())
      .withColumn("seq", monotonically_increasing_id())
    val wRead = Window.partitionBy("file").orderBy("seq")
    val wSort = Window.partitionBy("file").orderBy("conv_id", "turn_idx")
    val disorder = byFile
      .withColumn("r1", row_number().over(wRead))
      .withColumn("r2", row_number().over(wSort))
      .filter($"r1" =!= $"r2").count()
    assert(disorder == 0)

    // per-turn text equality under (conv_id, turn_idx): body == input text
    val joined = main.select($"conv_id", $"turn_idx", $"body")
      .join(transcripts.select($"conv_id", $"turn_idx", $"text"), Seq("conv_id", "turn_idx"))
    assert(joined.filter($"body" =!= $"text").count() == 0)
    assert(joined.count() == transcripts.count())

    // resume: re-running writes nothing new for completed route partitions
    val counts2 = TranscriptJob.run(spark, transcripts, dir,
      SparkEntry.transcriptPipeline, JobConfig(layoutPartitions = 4), resume = true)
    assert(counts2 == counts) // all five sinks keep their counts
  }

  test("resume: appended resource-sink files keep the first write's footer schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job-resume").toString
    val small = Transcripts.generate(spark, nConvs = 40, seed = 7L)
    val cfg = JobConfig(layoutPartitions = 2)
    // the first run sees only each conversation's opening turns, so the
    // resumed run has resource rows (later buckets) left to append
    val first = TranscriptJob.run(spark, small.filter($"turn_idx" < 2), dir,
      SparkEntry.transcriptPipeline, cfg)
    val resumed = TranscriptJob.run(spark, small, dir, SparkEntry.transcriptPipeline,
      cfg, resume = true)
    assert(resumed("logs_v2_resource") > first("logs_v2_resource"))
    val conf = spark.sparkContext.hadoopConfiguration
    val schemas = GraftTable.current(s"$dir/logs_v2_resource").get.files.map { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.path), conf))
      try reader.getFooter.getFileMetaData.getSchema
      finally reader.close()
    }
    assert(schemas.size > 1 && schemas.distinct.size == 1, schemas.distinct.mkString("\n"))
  }

  /** Order-independent content checksum: row count plus the sum of a 64-bit
    * hash of every row, map entries sorted by key.
    */
  private def checksum(df: org.apache.spark.sql.DataFrame): (Long, BigDecimal) = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val cols = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _: ArrayType | _: StructType => to_json(c)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum($"h")).collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  test("full job: every committed sink equals its in-memory Exporter frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job-sum").toString
    val cfg = JobConfig(layoutPartitions = 4)
    val counts = TranscriptJob.run(spark, transcripts, dir, SparkEntry.transcriptPipeline, cfg)
    val main = Exporter.logsV2(Enrich.roleToolEnrich(
      Pipeline.compile(SparkEntry.transcriptPipeline)(Transcripts.toLogFrame(transcripts))), cfg.exporter)
    val frames = Seq(
      "logs_v2" -> main,
      "logs_v2_resource" -> Exporter.resources(main),
      "tag_attributes_v2" -> Exporter.tagAttributes(main, cfg.exporter),
      "logs_attribute_keys" -> Exporter.attributeKeys(main),
      "logs_resource_keys" -> Exporter.resourceKeys(main))
    assert(counts.keySet == frames.map(_._1).toSet)
    for ((name, frame) <- frames) {
      val sink = GraftTable.read(spark, s"$dir/$name").select(frame.columns.toSeq.map(c => col(s"`$c`")): _*)
      val want = checksum(frame)
      assert(checksum(sink) == want, name)
      assert(counts(name) == want._1, name)
    }
  }

  test("full job: a failing sink write fails run only after the others end; main is uncached") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job-fail").toString
    // a regular file where a table directory should be: that write fails
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "tag_attributes_v2"), Array[Byte](1))
    val cfg = JobConfig(layoutPartitions = 4)
    // `storageLevel` looks the frame's plan up in the cache manager; check
    // that the lookup finds `run`'s batch when it is cached
    def main = TranscriptJob.logsV2(transcripts, SparkEntry.transcriptPipeline, cfg)
    val probe = main.cache()
    assert(main.storageLevel != StorageLevel.NONE)
    probe.unpersist()
    assert(main.storageLevel == StorageLevel.NONE)
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception] {
      TranscriptJob.run(spark, transcripts, dir, SparkEntry.transcriptPipeline, cfg)
    }
    // the other four writes had all committed when run threw
    for (name <- Seq("logs_v2", "logs_v2_resource", "logs_attribute_keys", "logs_resource_keys"))
      assert(GraftTable.current(s"$dir/$name").exists(_.rowCount > 0), name)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(t => t.isAlive && t.getName.startsWith("graft-sink-")))
    assert(main.storageLevel == StorageLevel.NONE)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
  }

  test("streaming: same pipeline over readStream + meter connector flush") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    transcripts.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(transcripts.schema).parquet(dir)
    val main = StreamJobs.pipelineStream(stream, SparkEntry.transcriptPipeline)
    assert(main.isStreaming)
    val meter = StreamJobs.meterConnectorStream(main, Seq("role"), "cid-s")
    val q = meter.writeStream.outputMode("append")
      .format("memory").queryName("graft_meter_test").start()
    try {
      q.processAllAvailable()
      val agg = spark.sql("SELECT sum(value) FROM graft_meter_test " +
        "WHERE metric_name = 'signoz.meter.log.count'").as[Double].collect().head
      assert(agg == transcripts.count().toDouble)
    } finally q.stop()
  }

  test("streaming sessionization: out-of-order turns merge into their " +
      "session; watermark finalizes and emits closed sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, Long)]
    val turns = in.toDF().toDF("conv_id", "turn_idx", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L)).drop("sec")
    val sessions = StreamJobs.sessionStream(turns, gap = "600 seconds",
      watermarkDelay = "0 seconds")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("graft_sessions").start()
    try {
      // batch 1: conv 1 turns at 0s/30s, conv 2 at 10s
      in.addData(Seq((1L, 0L, 0L), (1L, 1L, 30L), (2L, 0L, 10L)))
      q.processAllAvailable()
      assert(spark.table("graft_sessions").count() == 0) // nothing closed yet
      // batch 2: conv 1 turn 3 opens a NEW session at 700s (gap 670 > 600)
      // AND the late turn 2 at 60s arrives out of order, merging into the
      // still-open first session. The 700s turn advances the watermark to
      // 700, which finalizes conv 1's first session ([0, 660)) and
      // conv 2's ([10, 610)) — processAllAvailable runs the follow-up
      // micro-batch that emits them.
      in.addData(Seq((1L, 3L, 700L), (1L, 2L, 60L)))
      q.processAllAvailable()
      assert(spark.table("graft_sessions").count() == 2)
      // a watermark-advancing turn finalizes conv 1's 700s restart too
      in.addData(Seq((9L, 0L, 5000L)))
      q.processAllAvailable()
      val got = spark.table("graft_sessions")
        .orderBy("conv_id", "start_epoch_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getAs[Long]("duration_us"))).toSeq
      assert(got == Seq(
        (1L, 3L, 0L, 2L, 60000000L),   // 0s..60s incl. the late turn
        (1L, 1L, 3L, 3L, 0L),          // the 700s restart
        (2L, 1L, 0L, 0L, 0L)))
      // conv 9's session is still open — not emitted in append mode
      assert(!got.exists(_._1 == 9L))
    } finally q.stop()
  }

  /** A MemoryStream of (resources_string, record_size) rows: the two
    * columns the meter connector reads from a logs_v2 frame.
    */
  private def meterInput() = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Map[String, String], Long)]
    (in, in.toDF().toDF("resources_string", "record_size"))
  }

  private def meterTriple(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("metric_name"), r.getAs[Map[String, String]]("attrs"),
      r.getAs[Double]("value"))

  test("meter delta-flush: per-trigger deltas sum to the batch aggregate") {
    // (resources, record_size) rows fed over 3 micro-batches = 3 flush ticks
    val (in, logsShaped) = meterInput()
    val frames = StreamJobs.meterConnectorStream(logsShaped, Seq("route"), "cid-d")
    val q = frames.writeStream.outputMode("append")
      .format("memory").queryName("graft_meter_deltas").start()
    def r(route: String) = Map("route" -> route, "host" -> "h")
    val batches = Seq(
      Seq((r("r1"), 10L), (r("r1"), 20L), (r("r2"), 5L)),
      Seq((r("r1"), 1L)),
      Seq((r("r2"), 7L), (r("r2"), 8L)))
    try {
      var seen = 0
      val flushes = batches.map { b =>
        in.addData(b)
        q.processAllAvailable()
        val all = spark.table("graft_meter_deltas").collect().map(meterTriple)
        val flushed = all.drop(seen).toSet
        seen = all.length
        flushed
      }
      // r1: flush1 (2 records, 30 bytes), flush2 (1, 1); r2: flush1 (1, 5),
      // flush3 (2, 15) — a tick with no data for a key emits nothing
      val expected = Seq(
        Seq(("r1", 2.0, 30.0), ("r2", 1.0, 5.0)),
        Seq(("r1", 1.0, 1.0)),
        Seq(("r2", 2.0, 15.0)))
      assert(flushes == expected.map(_.flatMap { case (route, n, bytes) => Seq(
        ("signoz.meter.log.count", Map("route" -> route), n),
        ("signoz.meter.log.size", Map("route" -> route), bytes))
      }.toSet))
      // delta temporality: summed per attrs over the triggers, the flushes
      // equal one batch flush over all the rows
      val summed = flushes.flatten.groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
      val batch = MeterConnector.fromLogs(batches.flatten.toDF("resources_string", "record_size"),
        Seq("route"), "cid-d", 0L).collect().map(meterTriple)
        .map(t => (t._1, t._2) -> t._3).toMap
      assert(summed == batch)
    } finally q.stop()
  }

  test("meterConnectorStream: resource-dim keyed signoz.meter.log.* frames per flush") {
    val (in, logsShaped) = meterInput()
    val frames = StreamJobs.meterConnectorStream(logsShaped, Seq("role"), "cid-9")
    val q = frames.writeStream.outputMode("append")
      .format("memory").queryName("graft_meter_frames").start()
    try {
      in.addData(Seq(
        (Map("role" -> "user"), 10L),
        (Map("role" -> "user"), 20L),
        (Map("other" -> "x"), 5L))) // role absent -> empty attrs key
      q.processAllAvailable()
      val rows = spark.table("graft_meter_frames").collect()
        .map(r => (r.getAs[String]("metric_name"), r.getAs[Map[String, String]]("attrs"),
          r.getAs[Double]("value"), r.getAs[String]("temporality"),
          r.getAs[Map[String, String]]("scope_attrs"))).toSet
      assert(rows == Set(
        ("signoz.meter.log.count", Map("role" -> "user"), 2.0, "Delta", Map("connector_id" -> "cid-9")),
        ("signoz.meter.log.size", Map("role" -> "user"), 30.0, "Delta", Map("connector_id" -> "cid-9")),
        ("signoz.meter.log.count", Map.empty[String, String], 1.0, "Delta", Map("connector_id" -> "cid-9")),
        ("signoz.meter.log.size", Map.empty[String, String], 5.0, "Delta", Map("connector_id" -> "cid-9"))))
    } finally q.stop()
  }

  test("meter connector flush keeps no state between triggers") {
    // the reference purges its accumulator at every flush tick
    // (connector.go:165-221 resetState): no key outlives its trigger
    val (in, logsShaped) = meterInput()
    val frames = StreamJobs.meterConnectorStream(logsShaped, Seq("role"), "cid-t")
    val q = frames.writeStream.outputMode("append")
      .format("memory").queryName("graft_meter_state").start()
    try {
      for (b <- Seq(
          Seq((Map("role" -> "a"), 1L), (Map("role" -> "b"), 2L)),
          Seq((Map("role" -> "c"), 3L)),
          Seq((Map("role" -> "a"), 4L), (Map("role" -> "d"), 5L)))) {
        in.addData(b)
        q.processAllAvailable()
        val ops = q.lastProgress.stateOperators
        assert(ops.nonEmpty)
        assert(ops.map(_.numRowsTotal).sum == 0L)
      }
      assert(spark.table("graft_meter_state").count() == 10L) // 5 flushed keys x 2
    } finally q.stop()
  }

  test("probabilistic sampling is deterministic and roughly proportional") {
    // trace ids made from conv_id: 16 bytes of the conv_id's sha2 digest
    val traced = transcripts.withColumn("trace_id",
      substring(sha2(col("conv_id").cast("string"), 256), 1, 32))
    def kept = traced.filter(TailSampler.probabilisticSampled(col("trace_id"), 25.0))
      .select("conv_id").distinct().as[String].collect().sorted.toSeq
    val n = kept.size
    val total = transcripts.select("conv_id").distinct().count()
    assert(n > total / 5 && n < total / 3)
    assert(kept == kept)
  }

  test("cardinality guard: high-distinct keys land in the skip set") {
    val logs = Transcripts.toLogFrame(transcripts)
      .withColumn("attributes_string",
        map(lit("request_id"), concat(lit("req-"), $"conv_id", $"turn_idx"),
          lit("env"), lit("prod")))
    val main = Exporter.logsV2(logs)
    val tags = Exporter.tagAttributes(main)
    val skip = Exporter.computeSkipKeys(tags, maxDistinctValues = 50)
    assert(skip.contains("request_id:tag:string"))
    assert(!skip.exists(_.startsWith("env:")))
  }

  test("streaming ingest dedup: in-stream, cross-batch, and historical " +
      "duplicates all dropped on the normalized key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // historical corpus keyed by the SAME normalized key as the stream
    val hist = Seq("known alpha doc", "known beta doc").toDF("text")
      .withColumn("nk", graft.ops.TextOps.normalizeForDedup($"text"))
    val filter = graft.ops.Dedup.bloomBuild(hist, textCol = "nk")
    val in = MemoryStream[(Long, String, Long)]
    val docs = in.toDF().toDF("doc_id", "text", "sec")
      .withColumn("ts", timestamp_micros(col("sec") * 1000000L)).drop("sec")
    val out = StreamJobs.ingestDedupStream(docs, filter,
      watermarkDelay = "600 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("graft_ingest").start()
    try {
      // batch 1: fresh doc, a CASE/punct variant of a historical doc
      // (bloom-dropped via the normalized key), an in-batch duplicate
      in.addData(Seq(
        (1L, "brand new doc", 0L),
        (2L, "Known  ALPHA doc!!", 5L),
        (3L, "brand new doc", 8L)))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate inside the watermark + a fresh doc
      in.addData(Seq(
        (4L, "BRAND new doc?", 20L),
        (5L, "another fresh doc", 30L)))
      q.processAllAvailable()
      // round 6 (ADVICE): flagged rows are EMITTED with maybe_dup=true
      // instead of silently dropped — a Bloom false positive would
      // otherwise be an unrecoverable loss of a genuinely-new document;
      // downstream exact-verifies the flagged sliver (the batch
      // Dedup.bloomIncremental contract).
      val rows = spark.table("graft_ingest").select("doc_id", "maybe_dup")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      // one representative of the in-batch pair {1,3} (which one survives
      // is unspecified within a micro-batch) and the fresh doc 5 are
      // definitely-new; the historical variant 2 is emitted FLAGGED;
      // 4 stays watermark-state-dropped
      assert(rows.size == 3 && rows.contains(5L) && rows(5L) == false)
      assert(rows(2L) == true)
      assert((rows.keySet - 5L - 2L).subsetOf(Set(1L, 3L)))
      assert((rows.keySet - 5L - 2L).forall(rows(_) == false))
    } finally q.stop()
  }
}
