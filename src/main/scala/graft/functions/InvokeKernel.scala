package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.ObjectType

/** The one Catalyst protocol every hot-path kernel shares: a row is one
  * method call on a worker instance or a Scala kernel object.
  *
  * The call is Spark's own `objects.Invoke` over the kernel as an object
  * literal, so generated code and interpreted `eval` are the same call by
  * construction: the generated code holds the worker as a reference object
  * and calls the method directly, and `eval` reaches the same method by
  * reflection. Invoke looks the method up by the arguments' internal
  * classes (`UTF8String`, `ArrayData`, `MapData`, `InternalRow`, `byte[]`,
  * primitives); a worker whose signature does not fit is changed, not the
  * protocol. The kernel expression itself stays in the plan under its own
  * class, so plans and plan audits see it as before.
  *
  * A kernel declares its worker, method name, `dataType`, null policy and
  * `withNewChild(ren)Internal`; `nullable` follows from the null policy.
  */
trait InvokeKernel extends Expression {

  /** The worker instance or (Serializable) Scala object that computes a row. */
  protected def kernel: AnyRef

  /** The method called on [[kernel]]. */
  protected def method: String

  /** Method arguments: the children, then any constant parameters as literals. */
  protected def arguments: Seq[Expression] = children

  /** true: a NULL argument yields NULL without calling the method.
    * false: the method receives NULL arguments and handles them itself.
    */
  protected def propagateNull: Boolean = true

  /** true: the method may return null for non-NULL arguments, which yields
    * NULL (for a primitive result this only widens `nullable`).
    */
  protected def returnNullable: Boolean = true

  @transient private lazy val call = Invoke(
    Literal.create(kernel, ObjectType(kernel.getClass)), method, dataType, arguments,
    propagateNull = propagateNull, returnNullable = returnNullable)

  override def nullable: Boolean = call.nullable

  override def eval(input: InternalRow): Any = call.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}
