package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** Golden equivalence: the round-6 ShingleArray codegen kernel vs the
  * original composed-column form (the executable spec the DuckDB oracle
  * replicates) — adversarial whitespace/duplicate cases plus seeded random
  * corpora, for every shingle width the queries use (3, 5, 13).
  */
class ShinglesSpec extends SparkSuite {

  private val edge = Seq(
    "",                         // empty -> single "" shingle
    " ",                        // space-only: trim -> "" -> [""]
    "\t",                       // tab survives the (space-only) trim
    "\ta b c d",                // leading tab -> leading "" token
    "a b c d\t",                // trailing tab
    "a", "a b", "a b c",        // below / at width 3
    "a  b   c  d",              // multi-space runs
    "a b c a b c a b c",        // duplicate shingles -> distinct collapses
    "  padded with spaces  ",
    "x\ny\nz w",                // newlines are \s+ separators
    "ünïcode tökens ünïcode tökens more")

  private def randTexts(n: Int): Seq[String] = {
    val rnd = new scala.util.Random(20260822L)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "x", "yy", "", " ")
    (0 until n).map { _ =>
      (0 until rnd.nextInt(30)).map(_ => vocab(rnd.nextInt(vocab.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
  }

  test("ShingleArray kernel == composed column form (edge + random, n=3/5/13)") {
    import spark.implicits._
    val df = (edge ++ randTexts(300)).toDF("text")
    for (n <- Seq(3, 5, 13)) {
      val both = df.select(
        TextOps.shingles(col("text"), n).as("k"),
        ComposedForms.shingles(col("text"), n).as("c"))
      val bad = both.filter(not(col("k") <=> col("c"))).collect()
      assert(bad.isEmpty, s"n=$n mismatches: ${bad.take(3).mkString("; ")}")
    }
  }

  test("WindowHashes kernel == composed transform/slice/md5 form (w=3/8)") {
    import spark.implicits._
    val df = (edge ++ randTexts(300)).toDF("text")
    for (w <- Seq(3, 8)) {
      val toks = split(trim(col("text")), "\\s+")
      val composed = when(size(toks) >= w, transform(
        sequence(lit(1), size(toks) - (w - 1)),
        i => md5(concat_ws(" ", slice(toks, i, lit(w))))))
        .otherwise(array().cast("array<string>"))
      val both = df.select(
        transform(graft.functions.WindowHashes(col("text"), w),
          x => lower(hex(x))).as("k"),
        composed.as("c"))
      val bad = both.filter(not(col("k") <=> col("c"))).collect()
      assert(bad.isEmpty, s"w=$w mismatches: ${bad.take(3).mkString("; ")}")
    }
  }

  test("QualityStats kernel == composed quality columns (edge + random)") {
    import spark.implicits._
    val extra = Seq("the and of to in is it small words", "ünïcode Ünïcode 123 !!!",
      "ab\fc\rd", "ALLCAPS 12345 .... ,,,,", "😀 emoji 😀 test")
    val df = (edge ++ extra ++ randTexts(300)).toDF("text")
    val k = TextOps.qualityColumns(col("text"))
    val c = ComposedForms.qualityColumns(col("text"))
    val both = df.select(
      (k.map { case (n, cc) => cc.as(s"k_$n") } ++
        c.map { case (n, cc) => cc.as(s"c_$n") }): _*)
    val names = k.map(_._1)
    val bad = both.filter(names.map(n =>
      not(col(s"k_$n") <=> col(s"c_$n"))).reduce(_ || _)).collect()
    assert(bad.isEmpty, s"mismatches: ${bad.take(3).mkString("; ")}")
  }

  test("ShingleArray kernel: null text -> null") {
    import spark.implicits._
    val df = Seq[Option[String]](None, Some("a b c d")).toDF("text")
    val r = df.select(TextOps.shingles(col("text"), 3).as("k")).collect()
    assert(r(0).isNullAt(0))
    assert(!r(1).isNullAt(0))
  }
}

/** The original composed-column forms of the shingle and quality kernels —
  * the executable specs the kernels are golden-tested against above, and the
  * forms the DuckDB oracle replicates.
  */
object ComposedForms {

  def shingles(text: Column, n: Int): Column = {
    val tokens = split(trim(text), "\\s+")
    array_distinct(
      when(size(tokens) >= n,
        transform(sequence(lit(1), size(tokens) - (n - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(n)))))
        .otherwise(array(concat_ws(" ", tokens))))
  }

  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nChars = length(text)
    val words = split(trim(text), "\\s+")
    val nWords = TextOps.wsTokenCount(text)
    val avgWordLen = when(nWords > 0,
      round((nChars - (nWords - 1)).cast("double") / nWords, 4)).otherwise(lit(0.0))
    val nPunct = size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))
    val punctRatio = when(nChars > 0, round(nPunct.cast("double") / nChars, 6)).otherwise(0.0)
    val nAlpha = size(regexp_extract_all(text, lit("[A-Za-z]"), lit(0)))
    val alphaRatio = when(nChars > 0, round(nAlpha.cast("double") / nChars, 6)).otherwise(0.0)
    // codegen kernel: filter() is a CodegenFallback HOF and would drag this
    // whole projection out of whole-stage codegen
    val nStop = graft.functions.CountInSet(words, TextOps.stopwords)
    val stopRatio = when(nWords > 0, round(nStop.cast("double") / nWords, 6)).otherwise(0.0)
    // composite: alpha-heavy, some stopwords, not punctuation-heavy,
    // reasonable word lengths
    val score = round(
      greatest(lit(0.0), least(lit(1.0),
        alphaRatio * 0.5 + least(stopRatio * lit(4.0), lit(1.0)) * 0.3 +
          (lit(1.0) - least(punctRatio * lit(5.0), lit(1.0))) * 0.2)), 6)
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_words" -> nWords.cast("long"),
      "avg_word_len" -> avgWordLen,
      "punct_ratio" -> punctRatio,
      "alpha_ratio" -> alphaRatio,
      "stopword_ratio" -> stopRatio,
      "quality_score" -> score)
  }
}
