package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding kernels (see ops/Bpe.scala for the training loop and
  * the scale argument). The merge table rides in the kernel reference
  * object — the encode pass is one whole-stage-codegen projection with zero
  * joins — and per-word results are memoized per executor, so the hot-loop
  * cost is proportional to DISTINCT words seen by a partition, not tokens.
  *
  * Merge application is greedy leftmost non-overlapping, continuing AFTER a
  * produced symbol (never re-scanning it for the same merge) — exactly the
  * semantics of a left-to-right string `replace`, which is what the DuckDB
  * oracle uses on a `|sym| |sym|` pipe-delimited representation.
  */
final class BpeWorker(merges: Array[(String, String)]) extends Serializable {

  @transient private lazy val wordRe =
    java.util.regex.Pattern.compile("[a-z]+")
  // distinct lowercase-alpha words are vocabulary-bounded in practice; the
  // cap makes the worst case (adversarial unique-token corpus) safe
  @transient private lazy val memo = new java.util.HashMap[String, String]()
  private val MemoCap = 1 << 20

  /** Apply all merges in rank order to one word; returns final symbols. */
  def encodeSyms(word: String): Array[String] = {
    var syms = new Array[String](word.length)
    var i = 0
    while (i < word.length) { syms(i) = String.valueOf(word.charAt(i)); i += 1 }
    var m = 0
    while (m < merges.length && syms.length > 1) {
      val a = merges(m)._1
      val b = merges(m)._2
      val out = new java.util.ArrayList[String](syms.length)
      var j = 0
      while (j < syms.length) {
        if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
          out.add(a + b); j += 2
        } else { out.add(syms(j)); j += 1 }
      }
      syms = out.toArray(new Array[String](out.size))
      m += 1
    }
    syms
  }

  private def encodeWord(word: String): String = {
    val hit = memo.get(word)
    if (hit != null) return hit
    val t = String.join(" ", encodeSyms(word): _*)
    if (memo.size < MemoCap) memo.put(word, t)
    t
  }

  /** Training-side kernel: `|a| |b|`-formatted adjacent symbol pairs of one
    * WORD under the current merge list (the same string format the oracle
    * groups on, so count/tie-break ordering is engine-identical).
    */
  def pairs(word: UTF8String): GenericArrayData = {
    if (word == null) return new GenericArrayData(Array.empty[Any])
    val syms = encodeSyms(word.toString)
    if (syms.length < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](syms.length - 1)
    var i = 0
    while (i < syms.length - 1) {
      out(i) = UTF8String.fromString("|" + syms(i) + "| |" + syms(i + 1) + "|")
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Document-side kernel: pre-tokenize (`[a-z]+` over the lowered text),
    * encode each word, return (n_words, n_tokens, tokens-joined-by-space).
    */
  def compute(text: UTF8String): GenericInternalRow = {
    if (text == null) {
      return new GenericInternalRow(
        Array[Any](0L, 0L, UTF8String.fromString("")))
    }
    val m = wordRe.matcher(text.toString.toLowerCase(Locale.ROOT))
    val sb = new java.lang.StringBuilder()
    var nWords = 0L
    var nTokens = 0L
    while (m.find()) {
      val t = encodeWord(m.group())
      nWords += 1
      var spaces = 0
      var i = 0
      while (i < t.length) { if (t.charAt(i) == ' ') spaces += 1; i += 1 }
      nTokens += spaces + 1
      if (sb.length > 0) sb.append(' ')
      sb.append(t)
    }
    new GenericInternalRow(
      Array[Any](nWords, nTokens, UTF8String.fromString(sb.toString)))
  }
}

/** `bpe_stats(text)` -> struct(n_words, n_tokens, tokens). */
case class BpeStats(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BpeWorker(merges.toArray)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = BpeStats.schema
  override protected def withNewChildInternal(newChild: Expression): BpeStats =
    copy(child = newChild)
}

object BpeStats {
  val schema: StructType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("tokens", StringType, nullable = false)))

  def apply(c: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      BpeStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        merges))
}

/** `bpe_pairs(word)` -> array of `|a| |b|` adjacent-pair strings under the
  * current merge list (the training-iteration kernel; runs over the bounded
  * word-frequency dict, never the corpus).
  */
case class BpePairs(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new BpeWorker(merges.toArray)
  protected def method = "pairs"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): BpePairs =
    copy(child = newChild)
}

object BpePairs {
  def apply(c: Column, merges: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      BpePairs(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        merges))
}
