package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): fit
  * hashed-n-gram bag models over a TARGET corpus (the domain you want more
  * of) and the RAW corpus, weight every raw document by the log importance
  * ratio of its features, and resample with Gumbel noise so selection
  * approximates sampling from the target distribution rather than greedy
  * top-weight picking.
  *
  * Model (deterministic, oracle-replicable):
  *  - features per doc = all whitespace unigrams + all adjacent bigrams
  *    ("w1 w2"), the paper's feature set;
  *  - bucket(f) = (unsigned value of the first 8 md5 hex chars) mod B —
  *    md5-derived so Spark, the scoring kernel, and the DuckDB oracle
  *    compute identical buckets;
  *  - p(b) = (c_p(b)+1) / (T_p+B) Laplace-smoothed over B buckets; same
  *    for q over the raw corpus;
  *  - per-bucket ratio quantized once on the driver:
  *    r(b) = round((ln((c_p+1)/(T_p+B)) - ln((c_q+1)/(T_q+B))) · 1e6) —
  *    each ratio divides exact integers (IEEE exactly rounded), the two
  *    lns differ ≤1 ulp cross-engine, absorbed at e6; per-doc weights are
  *    then pure integer sums, immune to summation order;
  *  - Gumbel key g = -ln(-ln(u)), u = (md5-hash32(id)+0.5)/2^32 — the
  *    paper's Gumbel-top-k resampling with hash-derived (reproducible)
  *    noise instead of an RNG, quantized to e6 the same way.
  *
  * Scale shape (100 TB): TRAIN is two explode+count aggregations whose
  * output is at most B rows each (map-side partials; B is thousands — the
  * collected model is driver-trivial at any corpus size). SCORE is one
  * whole-stage-codegen projection over the broadcast ratio table — zero
  * shuffle, scan speed. SELECT is TakeOrderedAndProject top-k (never a
  * global sort).
  */
object Dsir {

  /** Driver-small model: dense per-bucket e6 log-ratios. */
  final case class DsirModel(ratioE6: Array[Long]) {
    def buckets: Int = ratioE6.length
  }

  private def bucketCounts(df: DataFrame, textCol: Column, buckets: Int): Map[Long, Long] =
    df.select(explode(graft.functions.DsirBucketIds(textCol, buckets)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def build(cp: Map[Long, Long], cq: Map[Long, Long], buckets: Int): DsirModel = {
    val tp = cp.valuesIterator.sum.toDouble + buckets
    val tq = cq.valuesIterator.sum.toDouble + buckets
    val ratio = Array.tabulate(buckets) { b =>
      val lp = math.log((cp.getOrElse(b.toLong, 0L) + 1.0) / tp)
      val lq = math.log((cq.getOrElse(b.toLong, 0L) + 1.0) / tq)
      graft.functions.DecimalRound.e6(lp - lq)
    }
    DsirModel(ratio)
  }

  /** Fit p over `target` and q over `raw`; emit the quantized ratio table.
    * General form for two unrelated corpora (two scans).
    */
  def train(target: DataFrame, raw: DataFrame, textCol: Column,
      buckets: Int = 1024): DsirModel =
    build(bucketCounts(target, textCol, buckets),
      bucketCounts(raw, textCol, buckets), buckets)

  /** One-pass variant for the common case where the target is a predicate
    * over the raw corpus: a single featurize+count pass computes BOTH
    * distributions (conditional map-side partials) — at 100 TB this halves
    * the training scan. Bit-identical model to [[train]] on the same split.
    */
  def trainSplit(raw: DataFrame, targetFilter: Column, textCol: Column,
      buckets: Int = 1024): DsirModel = {
    // round 6: the feature->bucket step is ONE codegen kernel call
    // (DsirBucketIds) instead of a composed explode(unigrams ++ bigrams)+md5+conv chain
    // whose interpreted bigram lambdas re-split the text per position; the
    // widen() spreads a narrow small-file scan across the host (no-op on a
    // production-wide scan) — same counts, same model, bit-identical.
    val rows = Par.widen(raw, textCol)
      .select(explode(graft.functions.DsirBucketIds(textCol, buckets)).as("b"),
        targetFilter.as("__t"))
      .groupBy("b").agg(count(lit(1)).as("cq"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("cp"))
      .collect()
    build(rows.map(r => r.getLong(0) -> r.getLong(2)).toMap,
      rows.map(r => r.getLong(0) -> r.getLong(1)).toMap, buckets)
  }

  /** Per-document columns: (n_features, logw_e6) from one kernel pass. */
  def scoreColumns(m: DsirModel, textCol: Column): Seq[(String, Column)] = {
    val s = graft.functions.DsirScoreStats(textCol, m.ratioE6)
    Seq("n_features" -> s.getField("n_features"),
      "logw_e6" -> s.getField("logw_e6"))
  }

  /** Hash-derived Gumbel noise (e6 fixed point), keyed on a stable id. */
  def gumbelE6(key: Column): Column = {
    val u = (conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("double") + lit(0.5)) / lit(4294967296.0)
    round(-log(-log(u)) * 1e6, 0).cast("long")
  }

  /** Gumbel-top-k resample: the k ids with the largest
    * `logw_e6 + gumbel_e6` (ties to the lower id) — TakeOrderedAndProject,
    * no global sort.
    */
  def resample(scored: DataFrame, idCol: Column, scoreCol: Column, k: Int): DataFrame =
    scored.orderBy(scoreCol.desc, idCol.asc).limit(k)
}
