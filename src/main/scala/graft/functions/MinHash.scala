package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass MinHash+LSH band keys.
  *
  * Semantically identical to the composed column form (shingles ->
  * md5-per-shingle -> k lexicographic minima of md5(i|digest) -> band keys
  * md5(b|sig-slice)), and therefore to the DuckDB oracle — but computed in
  * ONE codegen-friendly kernel. The composed form ran the k x shingles md5
  * re-hashes through interpreted higher-order `transform` lambdas with a
  * fresh array per step; at sf0.1 that was 36 s of the 75 s bench (48%).
  *
  * Duplicate shingles need no dedup here: the minimum over duplicates
  * equals the minimum over distincts.
  */
object MinHashKernel extends Serializable {
  private val WS = java.util.regex.Pattern.compile("\\s+")
  private val HEX = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = HEX((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** ASCII bytes of the lowercase hex of a 16-byte digest (round 6: the
    * per-permutation re-hash input is the hex STRING of the shingle digest
    * — producing those 32 ASCII bytes directly skips a String + a
    * getBytes copy per md5 call; the digested bytes are identical).
    */
  private def hexBytes(d: Array[Byte], out: Array[Byte]): Unit = {
    var i = 0
    while (i < d.length) {
      out(i * 2) = HEX((d(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = HEX(d(i) & 0xf).toByte
      i += 1
    }
  }

  /** Unsigned lexicographic compare of two equal-length digests — equals
    * the compareTo order of their lowercase-hex strings (hex is
    * order-preserving per byte), so byte-level minima pick the same
    * signature values the hex-string form did.
    */
  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  def bands(input: UTF8String, shingleN: Int, k: Int, nBands: Int): GenericArrayData = {
    if (input == null) return null
    val md = java.security.MessageDigest.getInstance("MD5")
    val ascii = java.nio.charset.StandardCharsets.UTF_8

    val toks = WS.split(input.toString.trim, -1)
    val mins = new Array[Array[Byte]](k)
    // precompute the "i|" prefix BYTES once
    val prefixes = Array.tabulate(k)(i => s"$i|".getBytes(ascii))
    val hex0 = new Array[Byte](32)

    def observe(shingle: String): Unit = {
      hexBytes(md.digest(shingle.getBytes(ascii)), hex0)
      var i = 0
      while (i < k) {
        md.update(prefixes(i))
        md.update(hex0)
        val h = md.digest()
        if (mins(i) == null || ltUnsigned(h, mins(i))) mins(i) = h
        i += 1
      }
    }

    if (toks.length >= shingleN) {
      var j = 0
      val sb = new java.lang.StringBuilder
      while (j <= toks.length - shingleN) {
        sb.setLength(0)
        var t = 0
        while (t < shingleN) {
          if (t > 0) sb.append(' ')
          sb.append(toks(j + t))
          t += 1
        }
        observe(sb.toString)
        j += 1
      }
    } else observe(toks.mkString(" "))

    val rows = k / nBands
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      val sb = new java.lang.StringBuilder
      sb.append(b).append('|')
      var r = 0
      while (r < rows) {
        if (r > 0) sb.append('|')
        sb.append(hex(mins(b * rows + r)))
        r += 1
      }
      out(b) = UTF8String.fromString(hex(md.digest(sb.toString.getBytes(ascii))))
      b += 1
    }
    new GenericArrayData(out)
  }
}

case class MinHashBands(child: Expression, shingleN: Int, k: Int, nBands: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = MinHashKernel
  protected def method = "bands"
  override protected def arguments = Seq(child, Literal(shingleN), Literal(k), Literal(nBands))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  def apply(c: Column, shingleN: Int, k: Int, nBands: Int): Column =
    ExpressionUtils.column(MinHashBands(
      ExpressionUtils.expression(c), shingleN, k, nBands))
}
