package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Supervised document classification for training-data curation — the
  * fastText-classifier role in CCNet-style pipelines (Wenzek et al. 2019
  * route CommonCrawl docs with a fastText language/quality classifier;
  * Joulin et al. 2016's fastText itself is a linear bag-of-words model),
  * realized as multinomial Naive Bayes (McCallum & Nigam 1998) because NB
  * is count-based end-to-end: both training and scoring reproduce exactly
  * in plain SQL, which a trained-embedding classifier cannot.
  *
  * Scale shape:
  *  - TRAIN is three bounded aggregations (class doc counts; global term
  *    counts for the vocab cap; per-(class, mapped-term) counts whose group
  *    count is (V+1)×K regardless of corpus size) — all map-side-combine,
  *    collected driver-side at O(V·K);
  *  - SCORE is one whole-stage-codegen projection over the broadcast model
  *    (one hash lookup + K integer adds per token) — zero shuffle, scan
  *    speed; the join formulation would shuffle every token of the corpus.
  *
  * Determinism across engines (the oracle constraint): every per-(token,
  * class) log-likelihood and every class prior is quantized to
  * `round(log2(p) * 1e6)` BIGINT before summing, so per-doc class scores
  * are exact integer arithmetic — immune to float summation order; the ln
  * differs ≤1 ulp Java-vs-DuckDB, absorbed at e6 (same argument as the
  * BM25/LM-perplexity rows). Argmax ties break to the label-ascending
  * class.
  *
  * Model definition:
  *  - classes = distinct labels, label-ascending;
  *  - prior(c) = n_docs_c / n_docs;
  *  - vocab = top-`vocabSize` whitespace tokens by global (count DESC,
  *    term ASC); OOV -> `<unk>`;
  *  - p(w|c) = (count(w, c) + 1) / (tokens_c + V + 1)  (Laplace, `<unk>`
  *    counted in the V+1).
  */
object Classify {

  /** Driver-small trained model (bounded by vocabSize × classes). */
  final case class NbModel(
      classes: Array[String],
      priorsE6: Array[Long],
      vocab: Array[String],
      tokenCounts: Array[(String, Int, Long)], // (mapped token, class idx, n)
      classTokTotals: Array[Long],
      vTot: Long) // |vocab| + 1 (<unk>)

  private def words(textCol: Column): Column = split(trim(textCol), "\\s+")

  /** Three bounded aggregation passes; collected model is O(V × K). */
  def nbTrain(
      corpus: DataFrame,
      textCol: Column,
      labelCol: Column,
      vocabSize: Int = 24): NbModel = {
    val classRows = corpus.groupBy(labelCol.as("c"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("c").asc).collect()
    val classes = classRows.map(_.getString(0))
    val nDocs = classRows.map(_.getLong(1)).sum
    val priorsE6 = classRows.map { r =>
      val lp = math.log(r.getLong(1).toDouble / nDocs) / math.log(2.0)
      graft.functions.DecimalRound.e6(lp)
    }

    val toks = corpus.select(labelCol.as("c"), explode(words(textCol)).as("w"))
      .filter(length(col("w")) > 0)
    val vocab = toks.groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc).limit(vocabSize)
      .collect().map(_.getString(0))

    val clsIdx = classes.zipWithIndex.toMap
    val mappedCounts = toks.select(col("c"),
      when(col("w").isin(vocab.toSeq: _*), col("w")).otherwise(lit("<unk>")).as("wm"))
      .groupBy("c", "wm").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(1), clsIdx(r.getString(0)), r.getLong(2)))
    val totals = new Array[Long](classes.length)
    mappedCounts.foreach { case (_, c, n) => totals(c) += n }
    NbModel(classes, priorsE6, vocab, mappedCounts, totals, vocab.length + 1L)
  }

  /** Scoring columns over a trained model: one struct kernel. */
  def nbScoreColumns(m: NbModel, textCol: Column): Seq[(String, Column)] = {
    val s = graft.functions.NbScoreStats(textCol, m)
    Seq(
      "n_tokens" -> s.getField("n_tokens"),
      "pred" -> s.getField("pred"),
      "score_e6" -> s.getField("score_e6"),
      "margin_e6" -> s.getField("margin_e6"))
  }
}
