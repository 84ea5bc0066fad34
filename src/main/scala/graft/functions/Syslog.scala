package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Heroku/logplex octet-counting frame splitter
  * (`receiver/httplogreceiver/bodyparser/heroku.go:108-140`
  * `octetCountingSplitter`): a payload is a sequence of `<len> <frame>`
  * records with whitespace between them.
  *
  * Replicated byte-for-byte INCLUDING the reference's arithmetic: the frame
  * is taken as `data[index+1 : index+length]` where `index` sits on the
  * space after the count — i.e. length-1 bytes of payload. Matching the
  * reference's framing exactly matters more than RFC 6587 purity here.
  */
object OctetSplitKernel extends Serializable {
  def split(input: UTF8String): GenericArrayData = {
    if (input == null) return null
    val data = input.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var index = 0
    val total = data.length
    var done = false
    while (!done) {
      // skip spaces/tabs/newlines between frames
      while (index < total && (data.charAt(index) == ' ' || data.charAt(index) == '\t' ||
        data.charAt(index) == '\n')) index += 1
      if (index >= total) done = true
      else {
        val lenStart = index
        var i = index
        var brk = false
        while (i < total && !brk) {
          if (data.charAt(i) == ' ') brk = true
          else { index += 1; i += 1 }
        }
        val len =
          try data.substring(lenStart, index).toInt
          catch { case _: NumberFormatException => 0 }
        val end = math.min(index + len, total)
        if (index + 1 <= end) out += UTF8String.fromString(data.substring(index + 1, end))
        else out += UTF8String.fromString("")
        index = end
        if (len <= 0) done = true // malformed count: stop like Atoi->0 would
      }
    }
    new GenericArrayData(out.toArray)
  }
}

case class OctetSplit(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = OctetSplitKernel
  protected def method = "split"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): OctetSplit =
    copy(child = newChild)
}

object OctetSplit {
  def apply(c: Column): Column =
    ExpressionUtils.column(OctetSplit(ExpressionUtils.expression(c)))
}
