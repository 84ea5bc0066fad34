package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

object FastLowerKernel extends Serializable {
  def lower(s: UTF8String): UTF8String = s.toLowerCase
}

/** Lowercase via `UTF8String.toLowerCase` directly.
  *
  * Spark 4's `lower()` dispatches through collation-aware ICU case mapping
  * (`CollationSupport.Lower.execBinaryICU`) — profiled at >50% of the whole
  * pipeline's executor CPU, since severity/trace/lang kernels lowercase on
  * every row. `UTF8String.toLowerCase` takes the ASCII fast path for ASCII
  * bytes (all severity aliases and hex ids) and correct JVM Unicode case
  * mapping otherwise, at a fraction of the cost.
  */
case class FastLower(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = FastLowerKernel
  protected def method = "lower"
  override protected def returnNullable = false
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): FastLower =
    copy(child = newChild)
}

object FastLower {
  def apply(c: Column): Column =
    ExpressionUtils.column(FastLower(ExpressionUtils.expression(c)))
}
