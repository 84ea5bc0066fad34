package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass line/word statistics for the C4 line-filter + Gopher document
  * rules (Raffel et al. 2020 §2.2; Rae et al. 2021 §A1.1) — the standard
  * heuristic cleaning battery public web-corpus pipelines run before
  * training.
  *
  * Definitions (deterministic, oracle-replicable):
  *  - lines = '\n'-split segments with `[ \t\r]` stripped from both ends;
  *    empty lines are dropped (not counted).
  *  - a line is KEPT (C4 rule) iff it has ≥5 whitespace words AND its last
  *    character is terminal punctuation (`.`, `!`, `?`, `"`) AND it does
  *    not contain "javascript" (ASCII case-insensitive).
  *  - `kept_text` = kept lines (trimmed form) joined with '\n' — page
  *    reconstruction, hash-comparable across engines.
  *  - bullet lines start with `-`, `*`, or `•`; ellipsis lines end with
  *    "..." (Gopher's layout-noise signals).
  *  - words = whitespace-split tokens over the whole document;
  *    `n_alpha_words` counts tokens containing ≥1 ASCII letter;
  *    `word_chars` sums token lengths (for mean word length).
  *
  * One kernel computes all eight outputs in a single pass inside
  * whole-stage codegen — at 100 TB this filter battery runs at scan speed
  * with zero shuffle; the HOF formulation (`filter`/`transform` over the
  * line array) is CodegenFallback and re-walks the text per signal.
  */
final class C4StatsWorker extends Serializable {

  def compute(s: UTF8String): GenericInternalRow = {
    val out = new Array[Any](8)
    var i0 = 0
    while (i0 < 8) { out(i0) = 0L; i0 += 1 }
    out(2) = UTF8String.fromString("")
    if (s == null) return new GenericInternalRow(out)
    val text = s.toString

    var nLines = 0L
    var nKept = 0L
    var nBullet = 0L
    var nEllipsis = 0L
    val kept = new java.lang.StringBuilder()
    val len = text.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || text.charAt(i) == '\n') {
        // strip [ \t\r] from both ends
        var a = start
        var b = i
        while (a < b && isStrip(text.charAt(a))) a += 1
        while (b > a && isStrip(text.charAt(b - 1))) b -= 1
        if (b > a) {
          nLines += 1
          val first = text.charAt(a)
          if (first == '-' || first == '*' || first == '•') nBullet += 1
          if (b - a >= 3 && text.charAt(b - 1) == '.' && text.charAt(b - 2) == '.' &&
              text.charAt(b - 3) == '.') nEllipsis += 1
          if (lineKept(text, a, b)) {
            nKept += 1
            if (kept.length > 0) kept.append('\n')
            kept.append(text, a, b)
          }
        }
        start = i + 1
      }
      i += 1
    }

    // whole-document word stats (whitespace split, Java \s classes)
    var nWords = 0L
    var nAlphaWords = 0L
    var wordChars = 0L
    var j = 0
    while (j < len) {
      if (!isWs(text.charAt(j))) {
        var hasAlpha = false
        val ws = j
        while (j < len && !isWs(text.charAt(j))) {
          val c = text.charAt(j)
          if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) hasAlpha = true
          j += 1
        }
        nWords += 1
        wordChars += (j - ws)
        if (hasAlpha) nAlphaWords += 1
      } else j += 1
    }

    out(0) = nLines
    out(1) = nKept
    out(2) = UTF8String.fromString(kept.toString)
    out(3) = nBullet
    out(4) = nEllipsis
    out(5) = nWords
    out(6) = nAlphaWords
    out(7) = wordChars
    new GenericInternalRow(out)
  }

  private def isStrip(c: Char): Boolean = c == ' ' || c == '\t' || c == '\r'
  // Java regex \s = [ \t\n\x0B\f\r] — the class the oracle's \s+ split uses
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def lineKept(text: String, a: Int, b: Int): Boolean = {
    val last = text.charAt(b - 1)
    if (last != '.' && last != '!' && last != '?' && last != '"') return false
    // word count: runs of non-[ \t\r] (no '\n' inside a line)
    var words = 0
    var i = a
    while (i < b) {
      if (!isStrip(text.charAt(i))) {
        words += 1
        while (i < b && !isStrip(text.charAt(i))) i += 1
      } else i += 1
    }
    if (words < 5) return false
    // ASCII case-insensitive "javascript" scan
    val n = "javascript"
    var p = a
    while (p <= b - n.length) {
      var q = 0
      while (q < n.length && lowerAscii(text.charAt(p + q)) == n.charAt(q)) q += 1
      if (q == n.length) return false
      p += 1
    }
    true
  }

  private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
}

/** `c4_stats(text)` -> struct(n_lines, n_kept, kept_text, n_bullet_lines,
  * n_ellipsis_lines, n_words, n_alpha_words, word_chars).
  */
case class C4Stats(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new C4StatsWorker
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = C4Stats.schema
  override protected def withNewChildInternal(newChild: Expression): C4Stats =
    copy(child = newChild)
}

object C4Stats {
  val schema: StructType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("kept_text", StringType, nullable = false),
    StructField("n_bullet_lines", LongType, nullable = false),
    StructField("n_ellipsis_lines", LongType, nullable = false),
    StructField("n_words", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("word_chars", LongType, nullable = false)))

  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      C4Stats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))
}
