package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over whitespace tokens: each token votes its md5-derived
  * 64 bits (+1 set / -1 clear per position); the sketch keeps the sign.
  * Near-duplicate texts differ in few token votes -> small hamming distance.
  * Implemented as a single codegen-friendly expression: one md5 per token,
  * no intermediate arrays, no shuffle.
  */
object SimHashKernel extends Serializable {
  def simhash64(input: UTF8String): Long = {
    val votes = new Array[Int](64)
    val s = input.toString
    var start = 0
    val n = s.length
    var i = 0
    val md = java.security.MessageDigest.getInstance("MD5")
    while (i <= n) {
      if (i == n || Character.isWhitespace(s.charAt(i))) {
        if (i > start) {
          val tok = s.substring(start, i)
          md.reset()
          val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 8 digest bytes -> 64 bits, big-endian (== first 16 hex chars)
          var h = 0L
          var b = 0
          while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
          var bit = 0
          while (bit < 64) {
            if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
            bit += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (votes(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    out
  }
}

case class SimHash64(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = SimHashKernel
  protected def method = "simhash64"
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  def apply(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))
}
