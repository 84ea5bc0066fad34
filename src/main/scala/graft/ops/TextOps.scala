package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * All are pure per-row column expressions (whole-stage codegen, zero
  * shuffle) — at 100 TB these run at scan speed. Formulas are deliberately
  * SQL-expressible so the DuckDB oracle can replay them exactly.
  */
object TextOps {

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(split(trim(text), "\\s+")))

  /** BPE-ish token count: letter runs, digit runs, single punctuation. */
  val bpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeTokenPattern), lit(0)))

  /** Quality heuristics: length, word stats, punctuation/alpha ratios,
    * stopword ratio; composite score in [0,1].
    */
  val stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "be", "this")

  def qualityColumns(text: Column): Seq[(String, Column)] = {
    // round 6: ONE codegen kernel pass (functions/QualityStats) —
    // bit-identical to the composed reference form golden-tested in
    // ShinglesSpec (`ComposedForms.qualityColumns`), whose
    // two `size(regexp_extract_all(...))` counts materialized an array of
    // every matched character per row (18 s of the 18.3 s epoch_mix pass
    // at 500 k docs). Identical getField trees share one evaluation via
    // codegen subexpression elimination.
    val s = graft.functions.QualityStats(text, stopwords)
    Seq("n_chars", "n_words", "avg_word_len", "punct_ratio", "alpha_ratio",
      "stopword_ratio", "quality_score").map(n => n -> s.getField(n))
  }

  /** n-gram-heuristic language ID: count marker words per language, take the
    * argmax (first language wins ties, 'und' when nothing matches).
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "dans"),
    "es" -> Seq("el", "los", "las", "es", "una", "que", "en", "por"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langScore(text: Column, markers: Seq[String]): Column =
    graft.functions.CountInSet(split(graft.functions.FastLower(text), "\\s+"), markers)

  def langId(text: Column): Column = {
    val scores = langMarkers.map { case (lang, markers) => lang -> langScore(text, markers) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // first language reaching the max wins (stable order of langMarkers)
    scores.foldRight(lit("und"): Column) { case ((lang, score), acc) =>
      when(score === best && best > 0, lang).otherwise(acc)
    }
  }

  /** Document fingerprint: md5 (cross-engine-stable content hash). */
  def fingerprint(text: Column): Column = md5(text)

  /** Word n-gram shingles (distinct), the dedup primitives' input.
    * One codegen kernel call (graft.functions.ShingleArray); bit-identical
    * to the original column form the DuckDB oracle replicates
    * (`ComposedForms.shingles` in ShinglesSpec) — the composed form's interpreted `transform`/`slice`
    * lambdas re-evaluate `split(trim(text))` per shingle position and cost
    * ~30x more per row (round-6 measurement: 3.4 s -> ~0.1 s for the
    * 5 000-doc explode at sf0.1).
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.ShingleArray(text, n)

  /** Per-group approximate-distinct via the deterministic md5-HLL sketch
    * (functions/HllKernels.scala): one aggregation whose buffer is the
    * m-byte register array, so the shuffle moves `groups x m` bytes no
    * matter how many distinct values each group holds — the bounded-state
    * shape for "distinct URLs per domain / vocabulary per language" at
    * corpus scale, where exact count(DISTINCT) shuffles every value.
    * Returns (groupCols..., n_zero, sum_pow, registers_csv, estimate).
    */
  def hllDistinct(df: org.apache.spark.sql.DataFrame, groupCols: Seq[Column],
      value: Column, m: Int = 512): org.apache.spark.sql.DataFrame =
    df.groupBy(groupCols: _*)
      .agg(graft.functions.HllRegistersAgg(md5(value), m).as("__regs"))
      .withColumn("__st", graft.functions.HllStats(col("__regs"), m))
      .select(groupCols ++ Seq(
        col("__st.n_zero").as("n_zero"),
        col("__st.sum_pow").as("sum_pow"),
        col("__st.registers_csv").as("registers_csv"),
        col("__st.estimate").as("estimate")): _*)

  /** Latin accented chars folded by [[normalizeForDedup]] — a FIXED
    * translate table (not java.text.Normalizer) so the fold is trivially
    * engine-portable: the oracle runs the identical `translate`.
    */
  val accentFrom: String = "áàâäéèêëíìîïóòôöúùûüñç"
  val accentTo: String = "aaaaeeeeiiiioooouuuunc"

  /** Canonical dedup key: lowercase, fold Latin accents, collapse every
    * non-alphanumeric run to one space, trim — the normalize-before-dedup
    * step C4/CCNet-style pipelines run so that case/punctuation/accent
    * variants of the same document collapse to one exact-dedup key. Pure
    * codegen column (lower/translate/regexp), zero shuffle.
    */
  def normalizeForDedup(c: Column): Column =
    trim(regexp_replace(translate(lower(c), accentFrom, accentTo),
      "[^a-z0-9]+", " "))
}
