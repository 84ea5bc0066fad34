package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-curation operators for large-scale training-data pipelines:
  * benchmark decontamination, PII redaction, and deterministic sampling.
  *
  * Scale stances:
  *  - decontamination broadcasts the (small) benchmark shingle set and makes
  *    ONE pass over the corpus — the corpus side never shuffles on content;
  *  - redaction is a pure per-row regexp projection (whole-stage codegen,
  *    scan speed);
  *  - sampling is CONTENT-hash based, not RNG based: `df.sample(seed)` is
  *    not stable under task retries or partition re-splits, which at
  *    1000-executor scale silently changes the sample between attempts —
  *    a content-hash threshold is idempotent, re-runnable, and replayable
  *    in any engine.
  */
object Curation {

  // ---------------------------------------------------------------- decontam

  /** Distinct word n-gram shingles of a benchmark/eval corpus, hashed.
    * Collect-free: stays a DataFrame so Spark broadcasts it in the join.
    */
  def benchmarkShingles(benchmark: DataFrame, textCol: String, n: Int): DataFrame =
    benchmark
      .select(explode(TextOps.shingles(col(textCol), n)).as("shingle"))
      .distinct()

  /** Benchmark decontamination: documents sharing at least one word n-gram
    * with the benchmark set (the standard 13-gram-overlap rule; `n` is a
    * parameter because short synthetic docs need shorter shingles).
    *
    * Returns (id, n_hits = number of DISTINCT contaminated shingles).
    * 100 TB shape: the corpus side is explode -> project -> broadcast-hash
    * semi-side join -> partial-agg count on id. The only shuffle is the
    * final per-doc count; the benchmark side (an eval set, ~10^6 shingles)
    * broadcasts.
    */
  def contaminated(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 13): DataFrame = {
    val bench = broadcast(benchmarkShingles(benchmark, textCol, n))
    Par.widen(docs, col(idCol))
      .select(col(idCol), explode(TextOps.shingles(col(textCol), n)).as("shingle"))
      .join(bench, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The decontaminated corpus: drop every contaminated document
    * (broadcast anti-join on the exploded shingles via a left_anti against
    * the contaminated id set).
    */
  def decontaminated(docs: DataFrame, benchmark: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      n: Int = 13): DataFrame =
    docs.join(contaminated(docs, benchmark, textCol, idCol, n)
      .select(col(idCol)), Seq(idCol), "left_anti")

  // ---------------------------------------------------------------- redact

  /** PII patterns, deliberately in the Java-regex ∩ RE2 common subset
    * (no backrefs/lookarounds, explicit classes instead of \d/\b) so the
    * DuckDB oracle replays them verbatim. Order matters: emails before
    * phones (an email's digits must not be half-eaten as a phone number).
    */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+[0-9][0-9()\\-]{6,}[0-9]", "<PHONE>"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"))

  /** Redacted text: each PII class replaced by its placeholder, applied in
    * [[piiPatterns]] order. A chain of codegen `regexp_replace`s — one
    * projection, scan speed.
    */
  def redact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** Per-class match counts (pre-redaction), for corpus PII audits. */
  def piiCounts(text: Column): Seq[(String, Column)] = {
    // count on the progressively-redacted text so classes don't double
    // count each other's spans (an email's digits are not also a phone)
    val staged = piiPatterns.scanLeft(("", text)) {
      case ((_, acc), (name, pat, repl)) => (name, regexp_replace(acc, pat, repl))
    }
    piiPatterns.zip(staged.map(_._2)).map { case ((name, pat, _), input) =>
      s"n_$name" -> size(regexp_extract_all(input, lit(pat), lit(0))).cast("long")
    }
  }

  // ---------------------------------------------------------------- sample

  /** 16-bit rate threshold as a 4-hex-char lower-bound string; `"zzzz"`
    * sorts above every hex digest, i.e. keep-everything.
    */
  private[graft] def rateHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate out of range: $rate")
    val t = math.round(rate * 65536.0).toInt
    if (t >= 65536) "zzzz" else f"$t%04x"
  }

  /** Deterministic content-hash sample: keep a row iff the first 4 hex
    * chars of md5(key) fall under the rate threshold (16-bit resolution;
    * fixed-width lowercase hex makes the numeric compare a plain string
    * compare, portable to any engine). Pure codegen filter — no shuffle,
    * no RNG, stable across retries, engines, and reruns; the property
    * that matters when a 100 TB job's stage 37 retries and the "random"
    * sample must not change under it.
    */
  def hashSampleFilter(key: Column, rate: Double): Column =
    substring(md5(key.cast("string")), 1, 4) < lit(rateHex(rate))

  /** Temperature-scaled mixture rates for multi-domain training corpora
    * (the standard `p_i^alpha` reweighting used by multilingual/multi-source
    * LM pipelines: alpha < 1 flattens the domain distribution so
    * low-resource domains are not drowned out).
    *
    * With n_i docs in stratum i (N total), target share q_i ∝ (n_i/N)^alpha.
    * The keep-rate that realizes the target distribution as a pure
    * DOWN-sample (never upsampling any stratum) is
    *
    *   r_i = (w_i / n_i) · min_j (n_j / w_j),   w_i = (n_i/N)^alpha
    *
    * — the algebraic form in which the q-normalizer cancels, leaving only
    * pow/div/min: every step is an IEEE exactly-rounded scalar op over
    * identical operand trees, so an external SQL engine reproduces
    * bit-identical rates (no cross-row float summation anywhere). The
    * argmin stratum gets rate 1.0 exactly; every other stratum < 1.
    *
    * Scale shape: one count aggregation over the corpus (map-side
    * partials), then stratum-count arithmetic on a few-row frame. Returns
    * (stratum, n, rate).
    */
  def temperatureRates(df: DataFrame, stratum: Column, alpha: Double): DataFrame = {
    val counts = df.groupBy(stratum.as("stratum")).agg(count(lit(1)).as("n"))
    val w = counts
      .crossJoin(counts.agg(sum("n").as("N_tot")))
      .withColumn("w", pow(col("n").cast("double") / col("N_tot").cast("double"), alpha))
    w.crossJoin(w.agg(min(col("n").cast("double") / col("w")).as("m")))
      .select(col("stratum"), col("n"),
        ((col("w") / col("n").cast("double")) * col("m")).as("rate"))
  }

  /** Temperature-resampled corpus: [[temperatureRates]] collected to the
    * driver (strata = domains/languages — bounded small by construction),
    * then applied as one [[stratifiedSample]] codegen filter. Two corpus
    * passes total (count + filter), zero joins on the data path.
    */
  def temperatureSample(df: DataFrame, key: Column, stratum: Column,
      alpha: Double): DataFrame = {
    val rates = temperatureRates(df, stratum, alpha).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    stratifiedSample(df, key, stratum, rates, defaultRate = 1.0)
  }

  /** Stratified deterministic sampling: per-stratum rates (e.g. downsample
    * boilerplate-heavy sources, keep all rare-language docs), unknown
    * strata get `defaultRate`. Thresholds resolve at plan-build time to a
    * `when` chain — one codegen filter, no join, no shuffle.
    */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
      rates: Map[String, Double], defaultRate: Double = 1.0): DataFrame = {
    val threshold = rates.foldLeft(lit(rateHex(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(rateHex(r))).otherwise(acc)
    }
    df.filter(substring(md5(key.cast("string")), 1, 4) < threshold)
  }

  // ------------------------------------------------------------ pseudonymize

  /** PII pseudonymization: each [[piiPatterns]] span replaced (in the same
    * staged class order as [[redact]]) by the STABLE token
    * `<TAG:first-8-hex-of-md5(surface)>` — the same address / IP / number
    * maps to the same token corpus-wide, so de-identified text keeps its
    * cross-document entity linkage (abuse/spam clustering, contact-graph
    * analysis) that static `<EMAIL>` redaction destroys. One per-row
    * codegen kernel pass ([[graft.functions.StableTokenRewrite]]), scan
    * speed, zero shuffle.
    */
  def pseudonymize(text: Column): Column =
    graft.functions.StableTokenRewrite(text,
      piiPatterns.map { case (_, pat, repl) =>
        (repl.stripPrefix("<").stripSuffix(">"), pat)
      })

  /** The PII entity-linkage table behind [[pseudonymize]]: one row per
    * (class, pseudonym), with mention and document counts. Surfaces are
    * extracted per class from the same STAGED strings as [[piiCounts]]
    * (class i+1 extracts from the text with classes ≤ i already redacted,
    * so spans are never double-counted); the pseudonym id IS the identity —
    * distinct surfaces sharing an 8-hex md5 prefix merge by definition.
    *
    * Scale shape: per-class codegen extract + explode over one scan each
    * (a 4-way union of Generate stages), then ONE hash aggregation keyed on
    * (class, pseudo_id) with map-side partials; the shuffle carries only
    * 11-byte keys + counts.
    */
  def piiEntities(df: DataFrame, idCol: Column, text: Column): DataFrame = {
    val staged = piiPatterns.scanLeft(text) {
      case (acc, (_, pat, repl)) => regexp_replace(acc, pat, repl)
    }
    val perClass = piiPatterns.zip(staged).map { case ((_, pat, repl), in) =>
      df.select(
        lit(repl.stripPrefix("<").stripSuffix(">")).as("pii_class"),
        idCol.as("__id"),
        explode(regexp_extract_all(in, lit(pat), lit(0))).as("surface"))
    }
    perClass.reduce(_.unionAll(_))
      .groupBy(col("pii_class"), substring(md5(col("surface")), 1, 8).as("pseudo_id"))
      .agg(count(lit(1)).as("n_mentions"),
        countDistinct(col("__id")).as("n_docs"))
  }

  // --------------------------------------------------------------- epoch mix

  /** Quality-tier epoch upsampling — the executable form of a "data recipe"
    * (DCLM/FineWeb-style: see the most valuable documents several times per
    * epoch, downsample the tail): each document is assigned the FIRST tier
    * in `tiers` whose `minScore` its [[TextOps.qualityColumns]] composite
    * meets (documents below every tier are dropped), then emitted
    * `floor(epochs)` times plus one more iff the md5 hex-prefix of
    * `id:epoch` falls under the fractional part — the same deterministic
    * content-hash threshold as [[stratifiedSample]], so fractional epochs
    * hold exactly in expectation with zero RNG and full retry stability.
    * `epochs < 1` is a downsample (base 0 copies + fractional keep).
    *
    * Output: the expanded corpus — every input column plus `tier` and
    * `copy_idx` (1-based). Scale shape: one codegen projection (score +
    * tier + copy count) and one Generate (explode of a ≤⌈epochs⌉-element
    * sequence) per row — no shuffle at all; the expansion IS the output a
    * trainer-facing writer shards.
    */
  def epochMix(docs: DataFrame, tiers: Seq[(String, Double, Double)],
      idCol: Column = col("doc_id"), text: Column = col("text")): DataFrame = {
    require(tiers.nonEmpty && tiers.forall(_._3 >= 0.0))
    // OptimizerFence pins the expensive score kernel to ONE evaluated column:
    // the tier CASE ladder (one score reference per tier) + the pushed-down
    // tier filter would otherwise each get their own inlined copy of the
    // whole kernel (measured 5.4x at 500k docs — see
    // functions/Fence.scala). tier/copies then reference the cheap
    // computed column.
    val score = TextOps.qualityColumns(text)
      .collectFirst { case ("quality_score", c) => c }.get
    val tierCol = tiers.foldRight(lit(null: String)) {
      case ((name, minScore, _), acc) =>
        when(col("__q") >= minScore, name).otherwise(acc)
    }
    // NOTE: tier CASE order = Seq order, so overlapping minScores resolve
    // first-match-wins exactly like the reference router.
    val h = substring(md5(concat(idCol.cast("string"), lit(":epoch"))), 1, 4)
    val copies = tiers.foldRight(lit(null: java.lang.Long).cast("long")) {
      case ((name, _, epochs), acc) =>
        val base = math.floor(epochs).toLong
        val frac = epochs - base
        when(col("tier") === name,
          lit(base) + when(h < lit(rateHex(frac)), 1L).otherwise(0L))
          .otherwise(acc)
    }
    docs
      .withColumn("__q", graft.functions.OptimizerFence(score))
      .withColumn("tier", tierCol)
      .filter(col("tier").isNotNull)
      .withColumn("__copies", copies)
      .withColumn("copy_idx", explode(
        when(col("__copies") >= 1L, sequence(lit(1L), col("__copies")))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__q", "__copies")
  }

  // ---------------------------------------------------------------- mix plan

  /** Domain-mixture planner with a token budget: given target mixture
    * `weights` (domain -> share) and a total `tokenBudget`, compute each
    * domain's integer token target, the keep-rate that realizes it
    * (capped at 1 — this planner never upsamples; pair with [[epochMix]]
    * for epochs > 1), and the deterministically sampled result. Domains
    * without a weight get rate 0 and are reported, not silently dropped.
    *
    * Output (one row per domain): `domain, n_docs, available_tokens,
    * target_tokens, rate_hex, sampled_docs, sampled_tokens, sum_doc_id`
    * (the id-sum pins the exact sampled SET cross-engine, not just its
    * size). Keep-rate resolution is the standard 16-bit md5-prefix
    * threshold; the rate arithmetic (`floor(min(1, target/available) *
    * 65536)`) is single-scalar IEEE ops over identical operand trees, so
    * an external engine reproduces the thresholds bit-exactly.
    *
    * Scale shape: one map-side-combined per-domain aggregation over the
    * corpus, arithmetic on the |domains|-row frame, then a broadcast join
    * back + codegen threshold filter + second tiny aggregation. The corpus
    * never shuffles on content.
    */
  def mixPlan(docs: DataFrame, weights: Map[String, Double], tokenBudget: Long,
      domain: Column = col("lang"), text: Column = col("text"),
      idCol: Column = col("doc_id")): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0) && tokenBudget >= 0)
    val wsum = weights.values.sum
    val targets = weights.map { case (d, w) =>
      d -> math.floor(tokenBudget * w / wsum).toLong
    }
    val base = docs.select(domain.as("domain"), idCol.as("__id"),
      TextOps.wsTokenCount(text).cast("long").as("__tok"))
    val avail = base.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__tok")).as("available_tokens"))
    val targetCol = targets.foldLeft(lit(0L)) {
      case (acc, (d, t)) => when(col("domain") === d, lit(t)).otherwise(acc)
    }
    val thr = floor(least(lit(1.0),
      col("target_tokens").cast("double") / col("available_tokens").cast("double"))
      * 65536.0).cast("long")
    val plan = avail
      .withColumn("target_tokens", targetCol)
      .withColumn("__thr", thr)
      .withColumn("rate_hex",
        when(col("__thr") >= 65536L, "zzzz")
          .otherwise(format_string("%04x", col("__thr"))))
      .drop("__thr")
    val sampled = base
      .join(broadcast(plan.select(col("domain"), col("rate_hex"))), Seq("domain"))
      .filter(substring(md5(concat(col("__id").cast("string"), lit(":mix"))), 1, 4)
        < col("rate_hex"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("sampled_docs"), sum(col("__tok")).as("sampled_tokens"),
        sum(col("__id")).as("sum_doc_id"))
    plan.join(sampled, Seq("domain"), "left")
      .na.fill(0L, Seq("sampled_docs", "sampled_tokens", "sum_doc_id"))
  }
}
