package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.DataType

/** Identity expression flagged non-deterministic: a pure OPTIMIZER fence.
  *
  * The compiled pipeline needs a barrier between the operator chain's giant
  * gated-projection trees and downstream consumers — without one,
  * CollapseProject inlines the chain into every consumer expression and
  * ConstantFolding goes quadratic on the merged trees (>20 min of planning
  * on the 13-operator flagship). Round 1 used `observe()` (CollectMetrics);
  * that blocks the merge but its exec node is NOT codegen-capable, so every
  * row pays a full UnsafeRow materialization at the stage boundary
  * (profiled ~10-20% of flagship CPU at high core counts).
  *
  * Wrapping each output column in this expression blocks the same inlining
  * (CollapseProject refuses to merge projections through non-deterministic
  * expressions) while the generated code is literally the child's — the
  * plan stays one whole-stage-codegen region end to end. Evaluation is
  * genuinely deterministic (identity); the flag is a planner deterrent
  * only, the same trick as Spark's own `AssertTrue`-style markers but with
  * zero runtime cost.
  *
  * The same barrier pins an expensive per-row kernel to ONE evaluation:
  * CollapseProject and filter pushdown otherwise inline an aliased kernel
  * into every downstream reference, so a kernel read by a CASE ladder AND a
  * pushed-down filter runs once per reference (measured 5.4× on
  * `Curation.epochMix` at 500 k docs). Fenced, the producing projection
  * stays in place and every consumer reads the computed column.
  *
  * Use only in `select`/`withColumn` position: the analyzer rejects
  * non-deterministic expressions in aggregation keys and join conditions.
  */
case class OptimizerFence(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): OptimizerFence =
    copy(child = newChild)
}

object OptimizerFence {
  def apply(c: Column): Column =
    ExpressionUtils.column(OptimizerFence(ExpressionUtils.expression(c)))
}
