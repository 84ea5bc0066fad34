package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators._

/** The compiled logs pipeline.
  *
  * The reference wires operators into a DAG by `output:` ids and pushes each
  * entry through it row-at-a-time (`processor.go:74-86,168-191`). Here the
  * whole DAG compiles into ONE declarative `DataFrame` transform chain:
  * routing decisions materialize as a `route` column, and every downstream
  * operator becomes a projection gated on the per-row reach condition
  * (`route` membership AND its own `if:` guard). Catalyst collapses the
  * gated projections into a single whole-stage-codegen'd pass over the scan —
  * there is no per-operator materialization, no shuffle, and the plan scales
  * linearly with input (embarrassingly parallel over partitions).
  */
final case class PipelineSpec(ops: Seq[Op]) {
  require(ops.nonEmpty, "pipeline needs at least one operator")
  require(ops.map(_.id).distinct.size == ops.size, "duplicate operator ids")
}

object Pipeline {

  /** Compile the spec into a reusable transform. The input DataFrame must
    * have the [[LogSchema.logRow]] columns (see [[Transcripts.toLogFrame]]).
    * Output keeps all LogRow columns plus `route` (per router) and `sink`
    * (the id of the terminal operator each row reached); rows consumed by a
    * router with no matching route and no default are filtered out, matching
    * the reference's silent drop.
    *
    * The output always passes through the zero-cost
    * [[graft.functions.OptimizerFence]] planning barrier: without it
    * CollapseProject + quadratic constant folding on the merged operator
    * expression trees blows planning past 20 minutes. The fence also blocks
    * filter/column pushdown THROUGH the pipeline, so every output column is
    * evaluated even when a consumer reads only two of them.
    */
  def compile(spec: PipelineSpec): DataFrame => DataFrame = { input =>
    val ops = spec.ops
    val ids = ops.map(_.id).toSet

    // effective outputs, resolved against CONFIG order (an op without an
    // explicit `output:` flows to the next op in the config, stanza default)
    val effOutputs: Map[String, Seq[String]] = ops.zipWithIndex.map { case (op, i) =>
      op.id -> (op match {
        case r: RouterOp => (r.routes.flatMap(_.output) ++ r.default).distinct
        case _ =>
          if (op.common.output.nonEmpty) op.common.output
          else if (i + 1 < ops.length) Seq(ops(i + 1).id)
          else Nil
      })
    }.toMap
    effOutputs.values.flatten.foreach(o =>
      require(ids.contains(o), s"unknown operator id in output: $o"))

    // topological order (Kahn, config order among ready ops): the reference
    // executes the operator DAG regardless of config order, so an `output:`
    // pointing at an EARLIER operator must still run after its producers —
    // compiling in config order would silently no-op it (its reach condition
    // would be registered after it was compiled)
    val sorted: Seq[Op] = {
      val indeg = scala.collection.mutable.Map(ops.map(_.id -> 0): _*)
      for (outs <- effOutputs.values; o <- outs) indeg(o) += 1
      val done = scala.collection.mutable.ArrayBuffer.empty[Op]
      val emitted = scala.collection.mutable.Set.empty[String]
      var progress = true
      while (done.size < ops.size && progress) {
        progress = false
        ops.foreach { op =>
          if (!emitted.contains(op.id) && indeg(op.id) == 0) {
            done += op; emitted += op.id; progress = true
            effOutputs(op.id).foreach(o => indeg(o) -= 1)
          }
        }
      }
      require(done.size == ops.size,
        s"operator DAG has a cycle among: ${ops.map(_.id).filterNot(emitted).mkString(", ")}")
      done.toSeq
    }

    val reach = scala.collection.mutable.LinkedHashMap.empty[String, Column]
    def addReach(id: String, c: Column): Unit =
      reach(id) = reach.get(id).map(_ || c).getOrElse(c)

    var df = input
    var firstRouterDone = false
    val tails = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]

    sorted.foreach { op =>
      val r: Column =
        if (op.id == ops.head.id) lit(true) // pipeline entry = first in config
        else reach.getOrElse(op.id, lit(false))

      val (next, routed) = Ops.applyOp(df, op, r, isFirstRouter = !firstRouterDone)
      df = next
      op match {
        case _: RouterOp =>
          firstRouterDone = true
          routed.foreach { case (o, c) => addReach(o, c) }
        case _ =>
          val outs = effOutputs(op.id)
          if (outs.isEmpty) tails += (op.id -> r)
          else outs.foreach(o => addReach(o, r))
      }
    }

    // emit: tag each row with the terminal operator it reached; rows that
    // reached none (router black-hole) are dropped like the reference does.
    val sinkCol = tails.foldRight(lit(null).cast("string")) { case ((id, cond), acc) =>
      when(cond, lit(id)).otherwise(acc)
    }
    val out = df.withColumn("sink", sinkCol).filter(col("sink").isNotNull)
    // Optimizer fence — without it CollapseProject merges downstream
    // consumers (exporter projections) into the operator chain's expression
    // tree and Catalyst's ConstantFolding goes quadratic on the merged giant
    // expressions (observed: >20 min of driver CPU planning the 13-operator
    // flagship; with the fence: <1 s; excluding CollapseProject alone does
    // NOT tame it — the quadratic folding happens on other merged trees
    // too). Round 1 fenced with `observe()`; CollectMetricsExec is not
    // codegen-capable, so that cost one full UnsafeRow materialization per
    // row. [[graft.functions.OptimizerFence]] (identity expression flagged
    // non-deterministic on every column) blocks the same inlining with ZERO
    // runtime cost — the plan stays one whole-stage-codegen region.
    out.select(out.columns.map(c =>
      graft.functions.OptimizerFence(col(c)).as(c)): _*)
  }
}
