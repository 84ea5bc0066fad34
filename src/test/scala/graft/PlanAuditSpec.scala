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
  * quality kernel once per row.
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
