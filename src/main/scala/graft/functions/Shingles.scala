package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass distinct word-n-gram shingles.
  *
  * Semantically identical to the composed column form `ComposedForms.shingles`
  * (golden-tested in ShinglesSpec) —
  * `array_distinct(CASE WHEN size(split(trim(text),'\s+')) >= n THEN
  * transform(sequence(1, size-n+1), i -> concat_ws(' ', slice(toks,i,n)))
  * ELSE array(concat_ws(' ', toks)) END)` — and therefore to the DuckDB
  * oracle replica, but computed in ONE codegen call. The composed form runs
  * through interpreted higher-order `transform`/`slice` lambdas that
  * re-evaluate `split(trim(text))` per shingle position: measured 3.4 s for
  * a 5 000-doc explode at sf0.1 vs ~0.1 s for this kernel (round-6 probe).
  *
  * Exact-replication notes:
  *  - Spark's `trim` strips ASCII space (0x20) ONLY — so does this kernel
  *    (`UTF8String.trim()` underneath, not Java's `String.trim`);
  *  - `split(s, "\\s+")` has limit -1: a leading tab/newline after the
  *    space-trim yields a leading "" token, which the column form keeps —
  *    so does this kernel;
  *  - `array_distinct` keeps first-occurrence order — so does the
  *    LinkedHashSet here.
  */
object ShinglesKernel extends Serializable {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  def shingles(input: UTF8String, n: Int): GenericArrayData = {
    if (input == null) return null
    // UTF8String.trim() == Catalyst trim: strips 0x20 only
    val s = input.trim().toString
    val toks = WS.split(s, -1)
    val seen = new java.util.LinkedHashSet[String]()
    if (toks.length >= n) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j <= toks.length - n) {
        sb.setLength(0)
        var t = 0
        while (t < n) {
          if (t > 0) sb.append(' ')
          sb.append(toks(j + t))
          t += 1
        }
        seen.add(sb.toString)
        j += 1
      }
    } else {
      val sb = new java.lang.StringBuilder
      var t = 0
      while (t < toks.length) {
        if (t > 0) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      seen.add(sb.toString)
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }
}

/** `shingle_array(text, n)` -> array<string> of distinct n-gram shingles. */
case class ShingleArray(child: Expression, n: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = ShinglesKernel
  protected def method = "shingles"
  override protected def arguments = Seq(child, Literal(n))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

object ShingleArray {
  def apply(c: Column, n: Int): Column =
    ExpressionUtils.column(ShingleArray(ExpressionUtils.expression(c), n))
}

/** Single-pass token-window md5 array (round 6): for a doc with tokens
  * t1..tn, emits md5hex(concat_ws(' ', t_i..t_{i+w-1})) for every position
  * i — the windows [[graft.ops.Dedup.tokenWindowRows]] previously built via
  * `transform(sequence(1, n-w+1), i -> md5(concat_ws(' ', slice(t, i, w))))`,
  * whose interpreted per-position `slice` copies made the pass O(tokens²)
  * array work per document (15-20 s scaleup rows at 500k docs). Docs with
  * fewer than `w` tokens yield an EMPTY array (the caller's
  * `size(tokens) >= w` filter semantics). Same trim/split contract as
  * [[ShinglesKernel]].
  */
object WindowHashKernel extends Serializable {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  def windows(input: UTF8String, w: Int): GenericArrayData = {
    if (input == null) return null
    val toks = WS.split(input.trim().toString, -1)
    if (toks.length < w) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Any](toks.length - w + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - w) {
      sb.setLength(0)
      var t = 0
      while (t < w) {
        if (t > 0) sb.append(' ')
        sb.append(toks(i + t))
        t += 1
      }
      out(i) = md.digest(
        sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** `window_hashes(text, w)` -> array<binary> of per-position window md5
  * digests. RAW 16-byte digests, not hex strings: the digest is a purely
  * internal join/group key in both window ops (never an output column),
  * the bytes are in bijection with the hex form, and the binary key
  * halves every downstream exchange of the exploded window rows.
  */
case class WindowHashes(child: Expression, w: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = WindowHashKernel
  protected def method = "windows"
  override protected def arguments = Seq(child, Literal(w))
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): WindowHashes =
    copy(child = newChild)
}

object WindowHashes {
  def apply(c: Column, w: Int): Column =
    ExpressionUtils.column(WindowHashes(ExpressionUtils.expression(c), w))
}

/** Surviving-text statistics for duplicate-span REMOVAL (round 6): given a
  * document's token array and the SORTED 1-based positions to excise,
  * emits (n_kept, n_removed, n_spans_removed, kept_md5) in one walk —
  * `kept_md5` is md5 of the space-joined surviving tokens in order, and
  * `n_spans_removed` counts maximal runs of consecutive removed positions
  * (the island trick, computed from the sorted gaps). Replaces the
  * explode-every-token + anti-join + collect_list re-assembly, which
  * shuffled the corpus's full token stream; here only the removed-position
  * lists move.
  */
object KeptStatsKernel extends Serializable {
  private val HEX = "0123456789abcdef".toCharArray

  def compute(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      removed: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    if (toks == null) return null
    val n = toks.numElements()
    val nRem = if (removed == null) 0 else removed.numElements()
    val sb = new java.lang.StringBuilder
    var kept = 0L
    var spans = 0L
    var ri = 0
    var prevRp = Long.MinValue
    var pos = 1
    while (pos <= n) {
      if (ri < nRem && removed.getLong(ri) == pos) {
        if (removed.getLong(ri) != prevRp + 1) spans += 1
        prevRp = removed.getLong(ri)
        ri += 1
      } else {
        if (kept > 0) sb.append(' ')
        sb.append(toks.getUTF8String(pos - 1).toString)
        kept += 1
      }
      pos += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hexOut = new Array[Byte](32)
    var i = 0
    while (i < d.length) {
      hexOut(i * 2) = HEX((d(i) >> 4) & 0xf).toByte
      hexOut(i * 2 + 1) = HEX(d(i) & 0xf).toByte
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      kept, nRem.toLong, spans, UTF8String.fromBytes(hexOut)))
  }
}

/** `kept_stats(tokens, sorted_removed_positions)` -> struct(n_kept,
  * n_removed, n_spans, kept_md5). Null `removed` = nothing removed.
  */
case class KeptStats(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with InvokeKernel {
  protected def kernel = KeptStatsKernel
  protected def method = "compute"
  override protected def propagateNull = false
  // compute returns null exactly when the token array is null
  override protected def returnNullable = left.nullable
  override def dataType: DataType = KeptStats.schema
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KeptStats =
    copy(left = newLeft, right = newRight)
}

object KeptStats {
  val schema: StructType = StructType(Seq(
    StructField("n_kept", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_removed", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("n_spans", org.apache.spark.sql.types.LongType, nullable = false),
    StructField("kept_md5", StringType, nullable = false)))

  def apply(toks: Column, removed: Column): Column =
    ExpressionUtils.column(KeptStats(
      ExpressionUtils.expression(toks), ExpressionUtils.expression(removed)))
}
