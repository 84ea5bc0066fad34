package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Small string kernels shared by operators and expressions. */
object TextKernels {

  /** Unquote a fully double-quoted string, else return it unchanged —
    * the semantics of the reference's `Unquote` (`utils/utils.go:95-102`,
    * Go `strconv.Unquote` best-effort at the JSON-parser call site,
    * `operators/json/parser.go:43-47`). Handles the escape sequences JSON
    * round-trips produce: `\" \\ \n \t \r`.
    */
  def unquote(c: Column): Column = {
    val stripped = c.substr(lit(2), length(c) - 2)
    val unescaped =
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(stripped, "\\\\\"", "\""),
              "\\\\n", "\n"),
            "\\\\t", "\t"),
          "\\\\r", "\r"),
        "\\\\\\\\", "\\\\")
    when(c.rlike("^\"(?s).*\"$"), unescaped).otherwise(c)
  }

}

/** Counts elements of a string array that are members of a constant set —
  * the codegen replacement for `size(filter(arr, w => w.isin(set)))`:
  * `filter` is a HigherOrderFunction (CodegenFallback), and one fallback
  * expression excludes the whole enclosing projection from whole-stage
  * codegen (the quality/language-ID projections were running interpreted
  * because of it). Null elements never match (same as isin).
  */
final class CountInSetWorker(items: Array[String]) extends Serializable {
  @transient private lazy val set: java.util.HashSet[org.apache.spark.unsafe.types.UTF8String] = {
    val s = new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String](items.length * 2)
    items.foreach(i => s.add(org.apache.spark.unsafe.types.UTF8String.fromString(i)))
    s
  }
  def count(arr: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    if (arr == null) return 0
    var n = 0
    var i = 0
    val len = arr.numElements()
    while (i < len) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }
}

/** `count_in_set(array<string>)` -> INT (0 for NULL input). */
case class CountInSet(
    child: org.apache.spark.sql.catalyst.expressions.Expression,
    items: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new CountInSetWorker(items.toArray)
  protected def method = "count"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.IntegerType
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): CountInSet =
    copy(child = newChild)
}

object CountInSet {
  def apply(c: Column, items: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      CountInSet(org.apache.spark.sql.graftbridge.GraftBridge.expression(c), items))
}

/** One-pass character-distribution quality signal: Shannon entropy of the
  * character unigram distribution plus the distinct-character count. Low
  * entropy flags degenerate documents (repeated boilerplate, single-char
  * floods) that length/stopword heuristics miss; it is the cheap stand-in
  * for the compression-ratio filter used by large-corpus cleaning recipes.
  *
  * Cross-engine exactness (the LmKernels convention): each character class
  * with count k contributes `k * round(log2(n/k) * 1e6)` — an integer — so
  * the per-document sum is order-free exact BIGINT arithmetic on both
  * engines; only the final divide-by-n happens in floating point, in the
  * query layer. Characters are UTF-16 units on the Spark side and DuckDB
  * characters in the oracle — identical over the ASCII corpus (documented;
  * a non-BMP corpus would need a codepoint walk).
  */
final class CharEntropyWorker extends Serializable {
  private val LN2 = math.log(2.0)
  def compute(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    var n = 0L
    var distinct = 0L
    var hSum = 0L
    if (s != null) {
      val t = s.toString
      n = t.length.toLong
      if (n > 0) {
        val counts = new java.util.HashMap[Character, Array[Long]]()
        var i = 0
        while (i < t.length) {
          val c = Character.valueOf(t.charAt(i))
          var box = counts.get(c)
          if (box == null) { box = new Array[Long](1); counts.put(c, box) }
          box(0) += 1L
          i += 1
        }
        distinct = counts.size.toLong
        val it = counts.values().iterator()
        while (it.hasNext) {
          val k = it.next()(0)
          val lg = math.log(n.toDouble / k.toDouble) / LN2
          val e6 = DecimalRound.e6(lg)
          hSum += k * e6
        }
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, distinct, hSum))
  }
}

/** `char_entropy(text)` -> struct(n_chars, n_distinct, h_sum_e6). */
case class CharEntropyStats(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected lazy val kernel = new CharEntropyWorker
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: org.apache.spark.sql.types.DataType = CharEntropyStats.schema
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): CharEntropyStats =
    copy(child = newChild)
}

object CharEntropyStats {
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_chars",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_distinct",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("h_sum_e6",
        org.apache.spark.sql.types.LongType, nullable = false)))
  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      CharEntropyStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))
}
