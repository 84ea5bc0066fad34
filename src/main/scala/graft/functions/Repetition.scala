package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass repetition signals for training-data quality filtering — the
  * within-document repetition family popularized by the Gopher data-curation
  * appendix (Rae et al. 2021, §A1.1) and since standard in public pipelines
  * (C4/RefinedWeb/Dolma-style rules): documents dominated by repeated lines
  * or repeated n-grams are boilerplate/spam and get filtered before
  * training.
  *
  * Definitions (deterministic, oracle-replicable; divergences from the
  * paper's prose are deliberate and documented):
  *  - lines = '\n'-split, trimmed, empties dropped.
  *  - `dup_line_frac` = (n_lines - n_distinct_lines) / n_lines.
  *  - `dup_line_char_frac` = chars in occurrences beyond each line's first
  *    / total line chars.
  *  - `top_{2,3,4}gram_char_frac` = count(most frequent word n-gram) ×
  *    non-space chars of that n-gram / total non-space word chars; ties
  *    break to the lexicographically smallest n-gram so the statistic is
  *    engine-independent.
  *  - `dup_{5,10}gram_frac` = n-gram POSITIONS whose n-gram occurs more
  *    than once / total n-gram positions. (The paper marks covered
  *    characters; the position fraction is the same signal, bounded [0,1],
  *    and exactly replicable in SQL without overlap bookkeeping.)
  *
  * All fractions round to 6 decimals. Words = whitespace split. A single
  * kernel computes every signal in one pass (one tokenization, shared
  * hash maps) inside whole-stage codegen — at 100 TB this is a scan-speed
  * projection, no shuffle; the alternative HOF/explode formulations either
  * fall out of codegen or shuffle the corpus once per signal.
  */
final class RepetitionWorker extends Serializable {
  import scala.collection.mutable

  private val schemaLen = 8

  def compute(s: UTF8String): GenericInternalRow = {
    val out = new Array[Any](schemaLen)
    java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], java.lang.Double.valueOf(0.0))
    out(0) = 0L
    if (s == null) return new GenericInternalRow(out)
    val text = s.toString

    // --- line signals ---
    val lineCounts = new mutable.HashMap[String, Int]()
    var nLines = 0
    var totLineChars = 0L
    var dupLineChars = 0L
    var start = 0
    val len = text.length
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == '\n') {
        val line = text.substring(start, i).trim
        if (line.nonEmpty) {
          nLines += 1
          totLineChars += line.length
          val prev = lineCounts.getOrElse(line, 0)
          if (prev > 0) dupLineChars += line.length
          lineCounts.update(line, prev + 1)
        }
        start = i + 1
      }
      i += 1
    }
    out(0) = nLines.toLong
    if (nLines > 0) {
      out(1) = round6((nLines - lineCounts.size).toDouble / nLines)
      out(2) = round6(dupLineChars.toDouble / totLineChars)
    }

    // --- word tokenization (shared by all n-gram signals) ---
    val words = text.split("\\s+").filter(_.nonEmpty)
    var totWordChars = 0L
    words.foreach(w => totWordChars += w.length)

    // top n-gram char fraction for n = 2, 3, 4
    var slot = 3
    var n = 2
    while (n <= 4) {
      out(slot) = topGramCharFrac(words, n, totWordChars)
      slot += 1; n += 1
    }
    // duplicate n-gram position fraction for n = 5, 10
    out(6) = dupGramPosFrac(words, 5)
    out(7) = dupGramPosFrac(words, 10)
    new GenericInternalRow(out)
  }

  private def gramAt(words: Array[String], i: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder(words(i))
    var j = 1
    while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
    sb.toString
  }

  private def topGramCharFrac(words: Array[String], n: Int, totWordChars: Long): Double = {
    val positions = words.length - n + 1
    if (positions <= 0 || totWordChars == 0) return 0.0
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    var i = 0
    while (i < positions) {
      val g = gramAt(words, i, n)
      counts.update(g, counts.getOrElse(g, 0) + 1)
      i += 1
    }
    var bestGram: String = null
    var bestCount = 0
    counts.foreach { case (g, c) =>
      if (c > bestCount || (c == bestCount && (bestGram == null || g < bestGram))) {
        bestGram = g; bestCount = c
      }
    }
    val gramChars = bestGram.length - (n - 1) // single-space joined, words have no spaces
    round6(bestCount.toDouble * gramChars / totWordChars)
  }

  private def dupGramPosFrac(words: Array[String], n: Int): Double = {
    val positions = words.length - n + 1
    if (positions <= 0) return 0.0
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    var i = 0
    while (i < positions) {
      val g = gramAt(words, i, n)
      counts.update(g, counts.getOrElse(g, 0) + 1)
      i += 1
    }
    var dup = 0L
    counts.valuesIterator.foreach(c => if (c > 1) dup += c)
    round6(dup.toDouble / positions)
  }

  private def round6(d: Double): Double = DecimalRound.round(d, 6)
}

/** `repetition_stats(text)` -> struct of the 8 repetition signals. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new RepetitionWorker
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = RepetitionStats.schema
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}

object RepetitionStats {
  val fieldNames: Seq[String] = Seq(
    "n_lines", "dup_line_frac", "dup_line_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_frac", "dup_10gram_frac")

  val schema: StructType = StructType(
    StructField("n_lines", LongType, nullable = false) +:
      fieldNames.drop(1).map(n => StructField(n, DoubleType, nullable = false)))

  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      RepetitionStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))
}
