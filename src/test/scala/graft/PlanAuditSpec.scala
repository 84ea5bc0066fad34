package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.{InputAdapter, LocalTableScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}

import graft.functions.QualityStats
import graft.pipeline.{Enrich, Exporter, MetricsExporter, Pipeline, TraceExporter}
import graft.sources.{DataGen, Transcripts}

/** Physical-plan invariants the engine's speed rests on, checked on the
  * AQE-final plan after execution (codegen collapse and stage shapes only
  * appear there): the exporter paths stay inside whole-stage codegen, no
  * query silently downgrades to SortAggregate (a var-length or complex
  * aggregation buffer sorts every partition), and epochMix evaluates its
  * quality kernel once per row. Building a query a second time starts no
  * job, except in the allowlisted builders that need driver state first.
  */
class PlanAuditSpec extends SparkSuite {

  /** The read-only sf0.001 tables described in TESTDATA.md. */
  private val sf0001 = "/root/testdata/sf0.001"

  /** Runs this DataFrame's own QueryExecution (a `count()` would plan a
    * separate aggregation query) and returns its final physical plan.
    */
  private def executed(df: DataFrame): SparkPlan = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Every node of the plan, through query stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _: ReusedExchangeExec => Nil // walked where the exchange first appears
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** Nodes outside every whole-stage-codegen region. */
  private def outsideCodegen(p: SparkPlan): Seq[SparkPlan] = p match {
    case w: WholeStageCodegenExec => insideCodegen(w.child)
    case q: QueryStageExec => q +: outsideCodegen(q.plan)
    case _ => p +: p.children.flatMap(outsideCodegen)
  }

  private def insideCodegen(p: SparkPlan): Seq[SparkPlan] = p match {
    case i: InputAdapter => outsideCodegen(i.child)
    case _ => p.children.flatMap(insideCodegen)
  }

  private def regions(p: SparkPlan): Int =
    nodes(p).count(_.isInstanceOf[WholeStageCodegenExec])

  test("flagship logsV2 with enrich is one codegen region; only the lookup broadcast is outside") {
    val logs = Transcripts.toLogFrame(Transcripts.generate(spark, 1000, 42L))
    val plan = executed(Exporter.logsV2(Enrich.roleToolEnrich(
      Pipeline.compile(SparkEntry.transcriptPipeline)(logs))))
    assert(regions(plan) == 1, plan.treeString)
    assert(outsideCodegen(plan).map(_.getClass).toSet == Set(
      classOf[ResultQueryStageExec], classOf[BroadcastQueryStageExec],
      classOf[BroadcastExchangeExec], classOf[LocalTableScanExec]), plan.treeString)
  }

  test("trace spansV3 and metric samplesV4 are each one codegen region with nothing outside") {
    val ev = DataGen.events(spark, 1000L)
    val spans = TraceExporter.spansV3(TraceQueries.spansFrom(ev))
    val samples = MetricsExporter.samplesV4(
      MetricsExporter.scalarPoints(MetricQueries.gaugesFrom(ev)))
    Seq("spansV3" -> spans, "samplesV4" -> samples).foreach { case (label, df) =>
      val plan = executed(df)
      withClue(s"$label:\n${plan.treeString}") {
        assert(regions(plan) == 1)
        assert(outsideCodegen(plan).isEmpty)
      }
    }
  }

  test("every SparkEntry query runs at sf0.001 and plans no SortAggregate") {
    val sortAggs = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      withClue(s"$name: ") {
        nodes(executed(q(spark, sf0001)))
          .collect { case s: SortAggregateExec => s"$name: ${s.simpleString(20)}" }
      }
    }
    assert(sortAggs.isEmpty, sortAggs.mkString("\n"))
  }

  /** The builders that still start jobs when they build a DataFrame over
    * tables this session has already read, and why. Most need driver state
    * (a collected constant, a loop's convergence) before they can return a
    * plan; a probe or checkpoint is work that could move into the plan.
    * Every other builder only plans.
    */
  private val buildJobs: Map[String, String] = Map(
    "q_ann_indexed" -> ("collects the query vector for its probe buckets; runs the plan " +
      "once to assert the scan's pruned numFiles"),
    "q_ann_ivf" -> "k-means loop collects the centroids each round; collects the query vector",
    "q_ann_lsh" -> "collects the query vector for its probe-bucket literal",
    "q_ann_recall" -> "k-means loop collects the centroids each round",
    "q_bloom_dedup" -> "aggregates the Bloom bitset to the driver before the probe",
    "q_bm25" -> "collects the top-df terms, then the df and avgdl statistics",
    "q_bpe" -> "BPE trainer collects the pair counts for each merge",
    "q_dedup_pr" -> "checkpoints `reps`, the input both the candidate and truth branches read",
    "q_dsir" -> "collects the per-bucket feature counts; checkpoints the scored docs",
    "q_dup_clusters" -> "connected components: checkpointed edge list, its count, the labels",
    "q_heavy_hitters" -> "collects the Misra-Gries candidates for exact verification",
    "q_kmeans" -> "k-means loop collects the centroids each round",
    "q_lm_perplexity" -> "collects the LM vocabulary and bigram counts",
    "q_nb_classify" -> "collects the naive-Bayes vocabulary and class/term counts",
    "q_nb_eval" -> "collects the naive-Bayes vocabulary and class/term counts",
    "q_semdedup" -> "k-means loop, then connected components over the cosine pairs",
    "q_temp_sample" -> "collects the per-stratum sampling rates",
    "q_turn_templates" -> "collects the Misra-Gries candidates for exact verification",
  )

  test("a warm build starts no job outside the allowlist") {
    val jobs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      q(spark, sf0001) // the first build reads the tables this session has not
      name -> JobCount(spark)(q(spark, sf0001))._2
    }.filter(_._2 > 0).toMap
    val unlisted = jobs.keySet -- buildJobs.keySet
    val stale = buildJobs.keySet -- jobs.keySet
    assert(unlisted.isEmpty && stale.isEmpty,
      s"jobs per warm build: ${jobs.toSeq.sorted.mkString(", ")}; " +
        s"not allowlisted: ${unlisted.toSeq.sorted.mkString(", ")}; " +
        s"allowlisted but ran none: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("epochMix evaluates the QualityStats kernel in exactly one Project") {
    val plan = SparkEntry.queries("q_epoch_mix")(spark, sf0001).queryExecution.optimizedPlan
    val holders = plan.collect {
      case n if n.expressions.exists(_.exists(_.isInstanceOf[QualityStats])) => n
    }
    assert(holders.size == 1 && holders.head.isInstanceOf[Project], plan.treeString)
    assert(holders.head.expressions.map(_.collect { case q: QualityStats => q }.size).sum == 1,
      plan.treeString)
  }
}
