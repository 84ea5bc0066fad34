package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: executor work per job group, Catalyst phase
  * times of every executed query, and whole-stage codegen compile work.
  * Only work inside [[Instruments.measure]] counts, so a traced run can
  * interleave untraced operations (to measure the tracing overhead without
  * warm-up bias) and untraced runs carry none of it.
  */
final class Instruments private (ctx: RunContext) {
  val listener = new ExecListener
  @volatile private var active = false
  private var wallNs = 0L
  private var compileNs = 0L
  private var classes = 0L
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = if (active) synchronized {
    qe.tracker.phases.foreach { case (phase, summary) => phaseMs(phase) += summary.durationMs }
  }

  private def attach(): this.type = {
    ctx.spark.sparkContext.addSparkListener(listener)
    ctx.spark.listenerManager.register(qeListener)
    this
  }

  /** Count the Catalyst and codegen work of `body`. Listener buses deliver
    * asynchronously, so queued events are drained on both sides of it.
    * (Executor work is attributed by job group instead: see [[report]].)
    */
  def measure[T](body: => T): T = {
    Instruments.drain(ctx)
    val c0 = CodeGenerator.compileTime
    val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    active = true
    try body
    finally {
      wallNs += System.nanoTime() - t0
      Instruments.drain(ctx)
      active = false
      compileNs += CodeGenerator.compileTime - c0
      classes += CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
    }
  }

  def detach(): Unit = {
    Instruments.drain(ctx)
    ctx.spark.listenerManager.unregister(qeListener)
    ctx.spark.sparkContext.removeSparkListener(listener)
  }

  /** Adds the `catalyst.*`, `codegen.*` and `exec.*` metrics, per traced
    * operation: totals are divided by `ops`, the number of traced passes
    * (or episodes) `measure` covered, so they do not grow with how many fit
    * in the run. Ratios are left as they are. Executor totals cover the job
    * groups the traced calls set, not ungrouped jobs of interleaved untraced
    * operations; `busy_ratio` uses the measured wall.
    */
  def report(ctx: RunContext, ops: Int): Unit = {
    val ph = synchronized(phaseMs.toMap)
    def per(v: Double) = v / ops
    ctx.metric("catalyst.analysis_s", per(ph.getOrElse(QueryPlanningTracker.ANALYSIS, 0L) / 1e3), "s")
    ctx.metric("catalyst.optimization_s", per(ph.getOrElse(QueryPlanningTracker.OPTIMIZATION, 0L) / 1e3), "s")
    ctx.metric("catalyst.planning_s", per(ph.getOrElse(QueryPlanningTracker.PLANNING, 0L) / 1e3), "s")
    ctx.metric("codegen.compile_s", per(compileNs / 1e9), "s")
    ctx.metric("codegen.classes", per(classes.toDouble), "count")
    listener.total.metrics("exec", wallNs / 1e9, ctx.cores).foreach { case (k, v) =>
      val unit = Instruments.unitOf(k)
      ctx.metric(k, if (unit == "ratio") v else per(v), unit)
    }
  }
}

object Instruments {
  def unitOf(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_bytes")) "bytes"
    else if (metric.endsWith("_ratio") || metric.endsWith("_skew")) "ratio"
    else "count"

  def attach(ctx: RunContext): Instruments = new Instruments(ctx).attach()

  /** Block until the listener bus has delivered every posted event. */
  def drain(ctx: RunContext): Unit = org.apache.spark.ListenerBusAccess.drain(ctx.spark.sparkContext)
}
