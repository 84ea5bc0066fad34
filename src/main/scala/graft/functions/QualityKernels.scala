package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass text-quality kernel (round 6).
  *
  * Bit-identical to the composed column form `ComposedForms.qualityColumns`
  * (golden-tested in ShinglesSpec) — `length`, `split(trim(.), "\s+")`,
  * two `size(regexp_extract_all(...))` counts, `CountInSet` stopwords, and
  * the rounded ratio/score arithmetic — but computed in ONE code-generated
  * call. The composed form built a materialized ARRAY of every matched
  * character for the punctuation and alpha counts (regexp_extract_all),
  * which alone cost 18 s of the 18.3 s epoch_mix pass at 500 k docs; this
  * kernel counts code points in a single walk.
  *
  * Exact-replication notes:
  *  - `length` counts code points (UTF8String.numChars semantics);
  *  - `[^A-Za-z0-9\s]` / `[A-Za-z]` match per CODE POINT; Java-regex `\s`
  *    (no UNICODE flags) is exactly { space, \t, \n, \x0B, \f, \r };
  *  - `trim` strips 0x20 only; `split(s, "\s+")` has limit -1;
  *  - `round(x, n)` is [[DecimalRound.round]], the Catalyst Round double
  *    path (`BigDecimal.valueOf(x).setScale(n, HALF_UP)`);
  *  - score terms sum left-associated exactly as the column tree does.
  */
final class QualityStatsWorker(stopwords: Array[String]) extends Serializable {

  @transient private lazy val WS = java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](stopwords.length * 2)
    stopwords.foreach(s.add)
    s
  }

  private def isWsClass(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0b || cp == '\f' || cp == '\r'

  def compute(input: UTF8String): GenericInternalRow = {
    if (input == null) return null
    val s = input.toString

    // one code-point walk: n_chars + alpha + punct
    var nChars = 0
    var nAlpha = 0
    var nPunct = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      nChars += 1
      val alpha = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
      if (alpha) nAlpha += 1
      else if (!(cp >= '0' && cp <= '9') && !isWsClass(cp)) nPunct += 1
      i += Character.charCount(cp)
    }

    // trim(0x20) + split, exactly the composed form's word array
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    val trimmed = s.substring(b, e)
    val words = WS.split(trimmed, -1)
    val nWords = if (trimmed.isEmpty) 0 else words.length
    var nStop = 0
    var w = 0
    while (w < words.length) {
      if (stopSet.contains(words(w))) nStop += 1
      w += 1
    }

    val avgWordLen =
      if (nWords > 0) DecimalRound.round((nChars - (nWords - 1)).toDouble / nWords, 4) else 0.0
    val punctRatio = if (nChars > 0) DecimalRound.round(nPunct.toDouble / nChars, 6) else 0.0
    val alphaRatio = if (nChars > 0) DecimalRound.round(nAlpha.toDouble / nChars, 6) else 0.0
    val stopRatio = if (nWords > 0) DecimalRound.round(nStop.toDouble / nWords, 6) else 0.0
    val x = alphaRatio * 0.5 +
      math.min(stopRatio * 4.0, 1.0) * 0.3 +
      (1.0 - math.min(punctRatio * 5.0, 1.0)) * 0.2
    val score = DecimalRound.round(math.max(0.0, math.min(1.0, x)), 6)

    new GenericInternalRow(Array[Any](
      nChars.toLong, nWords.toLong, avgWordLen, punctRatio, alphaRatio,
      stopRatio, score))
  }
}

/** `quality_stats(text)` -> struct of the seven quality columns. */
case class QualityStats(child: Expression, stopwords: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new QualityStatsWorker(stopwords.toArray)
  protected def method = "compute"
  override def dataType: DataType = QualityStats.schema
  override protected def withNewChildInternal(newChild: Expression): QualityStats =
    copy(child = newChild)
}

object QualityStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("avg_word_len", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("alpha_ratio", DoubleType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("quality_score", DoubleType, nullable = false)))

  def apply(c: Column, stopwords: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      QualityStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        stopwords))
}
