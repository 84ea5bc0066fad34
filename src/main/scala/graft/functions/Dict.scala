package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** O(1) broadcast-dictionary lookup.
  *
  * Why not `element_at(typedlit(map), key)`: Catalyst's GetMapValue does a
  * LINEAR scan of the map literal per row. The severity mapping expands HTTP
  * ranges (`2xx`..`5xx`) to ~400 string keys (severity_builder.go:187-225),
  * so one severity_parser cost ~400 UTF8String comparisons per row — profiled
  * at >80% of the whole flagship pipeline's CPU on the round-2 host. This
  * kernel hashes the incoming UTF8String directly against a prebuilt
  * HashMap (keys stored AS UTF8String — no per-row conversion), one probe
  * per row.
  */
final class DictIntWorker(entries: Array[(String, Int)]) extends Serializable {
  @transient private lazy val map = {
    val m = new java.util.HashMap[UTF8String, Integer](entries.length * 2)
    entries.foreach { case (k, v) => m.put(UTF8String.fromString(k), Integer.valueOf(v)) }
    m
  }
  def lookup(s: UTF8String): Integer = map.get(s)
}

case class DictLookupInt(child: Expression, entries: Seq[(String, Int)])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new DictIntWorker(entries.toArray)
  protected def method = "lookup"
  override def dataType: DataType = IntegerType
  override protected def withNewChildInternal(newChild: Expression): DictLookupInt =
    copy(child = newChild)
}

object DictLookupInt {
  def apply(c: Column, entries: Map[String, Int]): Column =
    ExpressionUtils.column(
      DictLookupInt(ExpressionUtils.expression(c), entries.toSeq.sortBy(_._1)))
}
