package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextOps}
import graft.sources.Tables

/** Training-data-pipeline queries (dedup family, ANN, text analysis,
  * multimodal plumbing) over the documents/embeddings tables, with DuckDB
  * oracles for every query: md5-derived hashing keeps signatures
  * engine-portable, the hyperplane matrix is embedded as SQL literals (it
  * is driver-precomputed on the Spark side too), and the simhash / fake
  * decode kernels are replicated with DuckDB HUGEINT mod-2^64 arithmetic.
  */
object DataQueries {

  private def docs(s: SparkSession, d: String): DataFrame = {
    SparkEntry.configure(s)
    Tables.parquet(s, s"$d/documents.parquet")
  }
  private def embs(s: SparkSession, d: String): DataFrame = {
    SparkEntry.configure(s)
    Tables.parquet(s, s"$d/embeddings.parquet")
  }

  /** Deterministic transcript-shaped view over the documents table
    * (conv_id, turn_idx, role, text, tool) — pure doc_id arithmetic on
    * both engines, no window functions in the derivation itself.
    */
  private def transcriptView(s: SparkSession, d: String): DataFrame = {
    val turnIdx = (col("doc_id") / 50).cast("long")
    docs(s, d).select(
      (col("doc_id") % 50).as("conv_id"),
      turnIdx.as("turn_idx"),
      when(pmod(turnIdx, lit(5)) < 2, "user")
        .when(pmod(turnIdx, lit(5)) < 4, "assistant")
        .otherwise("tool").as("role"),
      when(col("doc_id") % 25 === 0, "I will retry the search now")
        .otherwise(col("text")).as("text"),
      when(pmod(turnIdx, lit(5)) === 4, "search").otherwise(lit(null: String))
        .as("tool"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: hash-groupBy on content digest
    "q_dedup_exact" -> ((s, d) => Dedup.exact(docs(s, d))),

    // MinHash+LSH candidate pairs (the near-dup scale path); the hot-band
    // cap is ON (all-pairs within the first 256 per band + star edges to
    // the anchor beyond) and the oracle replicates it exactly
    "q_dedup_minhash" -> ((s, d) =>
      Dedup.minhashCandidates(docs(s, d), shingleN = 3, k = 16, bands = 4,
        maxBandGroup = 256)
        .agg(count(lit(1)).as("n"))),

    // exact n-gram Jaccard (verification-scale: all-pairs is quadratic, so
    // cap the input — at the oracle SF the cap keeps every row)
    "q_ngram_jaccard" -> ((s, d) =>
      // input structurally capped (doc_id < 5000) -> explicit opt-out of
      // the verifier guard: the guard's own bounded count job costs more
      // than this whole query
      Dedup.ngramJaccardPairs(docs(s, d).filter(col("doc_id") < 5000),
        shingleN = 3, threshold = 0.05, uncapped = true)
        .agg(count(lit(1)).as("n"),
          sum((col("jaccard") * 1000000).cast("long")).as("sum_jaccard_e6"))),

    // SimHash near-dup (input-capped like q_ngram_jaccard; the hot-chunk
    // group cap is ON and the oracle replicates it)
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(docs(s, d).filter(col("doc_id") < 5000), maxDist = 16,
        maxChunkGroup = 256)
        .agg(count(lit(1)).as("n"))),

    // embedding cosine near-dup via hyperplane LSH buckets (threshold 0.25:
    // the synthetic embeddings are random, so production-grade thresholds
    // match nothing and would assert an empty set); hot-bucket cap ON and
    // replicated by the oracle
    "q_embedding_neardup" -> ((s, d) =>
      Dedup.embeddingNearDups(embs(s, d), threshold = 0.25, planes = 6,
        maxBucketGroup = 256)
        .agg(count(lit(1)).as("n"),
          coalesce(sum((col("cosine") * 1000000).cast("long")), lit(0L))
            .as("sum_cos_e6"))),

    // brute-force cosine top-k ANN (baseline)
    "q_ann_brute" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10)
    }),

    // LSH-bucketed ANN (scale path: driver-side probe buckets -> literal IN
    // filter, no crossJoin)
    "q_ann_lsh" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.lshTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10, planes = 6)
    }),

    // ANN over the persisted signature index: the probe-bucket filter is a
    // partition-column predicate, so non-matching bucket files are never
    // read — the query path itself asserts inputFiles ⊆ probe buckets
    "q_ann_indexed" -> ((s, d) => {
      val e = embs(s, d)
      val idx = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/" +
        s"graft_sig_index_${new java.io.File(d).getName}"
      // the signature index is a one-time artifact (testdata is immutable):
      // build on first use, reuse afterwards so the query times the QUERY
      // path; ScaleUp's ann_index_build reports the build cost separately
      if (!new java.io.File(s"$idx/_SUCCESS").exists)
        Similarity.buildSigIndex(e.filter(col("vec_id") =!= 0), idx, planes = 6)
      val q = e.filter(col("vec_id") === 0)
      val res0 = Similarity.lshTopKIndexed(s, idx, q, k = 10, planes = 6)
      // force execution of THIS DataFrame's plan so the scan metrics fill
      // (inputFiles ignores partition filters; the scan's own numFiles is
      // the pruned truth), then assert only probe-bucket files were read.
      // Round 6: checkpoint that single execution — the assertion's action
      // previously ran the full ANN plan once and the caller's action ran
      // it a second time; the returned frame now reads the 10 cached rows.
      val res = res0.localCheckpoint()
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val plan = res0.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val scans = plan.collect { case f: FileSourceScanExec => f }
      val touched = scans.map(_.metrics("numFiles").value).sum
      // the index as listed by the relation this query scans (not a second
      // listing of the directory)
      val total = scans.map(_.relation.location.inputFiles.length).sum
      val nProbe = 7 // planes=6: exact bucket + 6 hamming-1 neighbors
      require(scans.nonEmpty && touched > 0 && touched <= nProbe && touched < total,
        s"signature index partition pruning failed: read $touched of $total files")
      res
    }),

    // IVF ANN (faiss IVF-flat shape): deterministic k-means coarse
    // quantizer over the candidate set, the query probes the nprobe=2
    // nearest inverted lists, exact cosine inside — centroids, probe set,
    // lists and ranking all reproduce bit-for-bit in the oracle
    "q_ann_ivf" -> ((s, d) => {
      val e = embs(s, d)
      Similarity.ivfTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10, kClusters = 8, iters = 2,
        nprobe = 2)
    }),

    // token counting: whitespace + BPE-ish regex
    "q_token_counts" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextOps.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_tokens"))),

    // quality scoring
    "q_quality" -> ((s, d) => {
      val cols = TextOps.qualityColumns(col("text"))
      docs(s, d).select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // language ID (n-gram/marker heuristic)
    "q_lang_id" -> ((s, d) =>
      docs(s, d).select(TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))),

    // document fingerprinting
    "q_doc_fingerprint" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    // benchmark decontamination: broadcast the (deterministic doc_id%97
    // slice as the) eval set's 5-gram shingles, one corpus pass, count
    // distinct contaminated shingles per doc
    "q_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      graft.ops.Curation.contaminated(
        all, all.filter(col("doc_id") % 97 === 0), n = 5)
    }),

    // PII redaction: deterministic injected PII (email/ip/phone/ssn built
    // from doc_id) -> staged regexp redaction; emits per-class counts +
    // the redacted text's md5
    "q_pii_redact" -> ((s, d) => {
      val injected = piiInjected(docs(s, d))
      val counts = graft.ops.Curation.piiCounts(col("text"))
      injected.select(
        col("doc_id") +:
          counts.map { case (n, c) => c.as(n) } :+
          md5(graft.ops.Curation.redact(col("text"))).as("redacted_md5"): _*)
    }),

    // deterministic stratified sampling: content-hash thresholds per lang
    // stratum (no RNG — retry-stable), verified via per-stratum counts
    "q_sample_stratified" -> ((s, d) =>
      graft.ops.Curation.stratifiedSample(docs(s, d), col("doc_id"),
        col("lang"), Map("en" -> 0.25, "de" -> 0.5, "fr" -> 0.05), 1.0)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))),

    // paragraph-level exact dedup (keep-first) + doc reconstruction; the
    // docs table has no newlines, so paragraphs are constructed as 10-token
    // chunks (the splitter itself is regex-parameterized and spec-tested on
    // real \n\n text)
    "q_para_dedup" -> ((s, d) => {
      // round 6: materialize the token array ONCE per row (fenced
      // projection — the LmScore/Dsir pattern): inlined into the chunk
      // lambda, `split(trim(text))` re-evaluated per chunk index
      val tokDf = docs(s, d).select(col("doc_id"),
        graft.functions.OptimizerFence(split(trim(col("text")), "\\s+"))
          .as("__t"))
      val tokens = col("__t")
      val nChunks = ceil(size(tokens) / lit(10.0)).cast("int")
      val paras = tokDf.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), greatest(nChunks - 1, lit(0))),
            i => concat_ws(" ", slice(tokens, i * 10 + 1, lit(10)))))
            .as(Seq("para_idx", "para")))
        .filter(length(col("para")) > 0)
      Dedup.paragraphDedupedDocs(paras)
        .select(col("doc_id"), col("n_paras"), md5(col("text")).as("rebuilt_md5"))
    }),

    // Gopher-style repetition signals (one-pass codegen kernel): dup-line
    // fractions + top/duplicate word-n-gram fractions; the docs table has no
    // newlines, so lines are injected deterministically every 3 words (same
    // regex in the oracle)
    "q_gopher_repetition" -> ((s, d) => {
      import graft.functions.RepetitionStats
      // every 5th doc gets a period-5 repeated phrase appended so the
      // duplicate-n-gram paths are exercised (random text never repeats a
      // 5-gram); oracle injects identically
      val withRep = docs(s, d).withColumn("text",
        when(col("doc_id") % 5 === 0, concat(col("text"),
          lit(" repeat alpha beta gamma delta" * 3))).otherwise(col("text")))
      val lined = withRep.withColumn("text",
        regexp_replace(col("text"), "(\\S+ \\S+ \\S+) ", "$1\n"))
      lined.select(col("doc_id"), RepetitionStats(col("text")).as("r"))
        .select(col("doc_id") +:
          RepetitionStats.fieldNames.map(f => col(s"r.$f").as(f)): _*)
    }),

    // CCNet-style LM perplexity: train a capped bigram LM over the corpus
    // (two agg passes + deterministic top-k), score with one broadcast
    // codegen pass; per-term fixed-point log-probs keep the oracle exact
    "q_lm_perplexity" -> ((s, d) => {
      import graft.ops.LmScore
      val corpus = docs(s, d)
      val lm = LmScore.train(corpus, col("text"), vocabSize = 20, bigramCap = 10000)
      val cols = LmScore.scoreColumns(lm, col("text"))
      corpus.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // fastText-role domain classifier (multinomial NB) trained on the
    // corpus's own lang labels, scored in one broadcast codegen pass;
    // fixed-point log arithmetic keeps the DuckDB compare exact
    "q_nb_classify" -> ((s, d) => {
      import graft.ops.Classify
      val corpus = docs(s, d)
      val m = Classify.nbTrain(corpus, col("text"), col("lang"), vocabSize = 24)
      val cols = Classify.nbScoreColumns(m, col("text"))
      corpus.select(col("doc_id") +: col("lang") +:
        cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // SemDeDup-style semantic clustering: deterministic fixed-iteration
    // k-means over embeddings (broadcast centroid kernel, k x dim shuffle)
    "q_kmeans" -> ((s, d) =>
      graft.ops.Clustering.kmeans(embs(s, d), col("vec_id"), col("embedding"),
        k = 8, iters = 2)),

    // duplicate clusters: minhash candidate pairs -> connected components
    // (min-label propagation to fixpoint) -> one row per cluster
    "q_dup_clusters" -> ((s, d) =>
      Dedup.dupClusters(Dedup.minhashCandidates(docs(s, d), shingleN = 3,
        k = 16, bands = 4, maxBandGroup = 256))),

    // the full SemDeDup pipeline: k-means -> within-cluster cosine pairs
    // -> transitive closure -> keep the member farthest from its centroid;
    // one audit row per duplicate component
    "q_semdedup" -> ((s, d) => {
      val model = graft.ops.Clustering.kmeansModel(embs(s, d),
        col("vec_id"), col("embedding"), k = 8, iters = 2)
      Dedup.semDedup(model.assigned, threshold = 0.35)
        .filter(col("component").isNotNull)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).as("sum_ids"),
          max(when(col("keep"), col("vec_id"))).as("kept_id"),
          max(when(col("keep"), col("dist_e6"))).as("kept_dist_e6"))
    }),

    // BM25 against the corpus's own top-8 document-frequency terms (a
    // deterministic stand-in for a user query set); per-term e6 fixed-point
    // keeps the DuckDB compare exact
    "q_bm25" -> ((s, d) => {
      import graft.ops.Relevance
      val dd = docs(s, d)
      val terms = Relevance.topDfTerms(dd, col("text"), col("doc_id"), 8)
      val m = Relevance.bm25Train(dd, col("text"), terms.toSeq)
      // fence: CollapseProject would inline the split() into every
      // per-term CountInSet (8x re-tokenization per row)
      val base = dd.select(col("doc_id"),
        graft.functions.OptimizerFence(split(trim(col("text")), "\\s+")).as("__ws"),
        TextOps.wsTokenCount(col("text")).as("__dl"))
      val cols = Relevance.bm25Columns(m, col("__ws"), col("__dl"))
      base.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // temperature-scaled mixture sampling over the lang strata (alpha=0.5
    // flattening): data-derived per-stratum keep-rates + content-hash
    // downsample, rates and counts both oracle-checked
    "q_temp_sample" -> ((s, d) => {
      val dd = docs(s, d)
      val sampled = graft.ops.Curation
        .temperatureSample(dd, col("doc_id"), col("lang"), 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
      graft.ops.Curation.temperatureRates(dd, col("lang"), 0.5)
        .select(col("stratum").as("lang"), col("n").as("n_total"),
          round(col("rate") * 1e6, 0).cast("long").as("rate_e6"))
        .join(sampled, Seq("lang"), "left")
        .select(col("lang"), col("n_total"), col("rate_e6"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
    }),

    // C4 line filter (Raffel et al. §2.2) over deterministically injected
    // tail lines so every keep/drop path fires: kept line, javascript drop,
    // no-terminal-punct drop, <5-words drop, page-level {/lorem-ipsum drop;
    // kept_md5 checks the reconstructed page byte-exact cross-engine
    "q_c4_filters" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\nthis injected line has six words."))
          .when(pmod(col("doc_id"), lit(5)) === 1,
            lit("\nbad JavaScript line with six words."))
          .when(pmod(col("doc_id"), lit(5)) === 2,
            lit("\nno terminal punctuation on this line"))
          .when(pmod(col("doc_id"), lit(5)) === 3, lit("\ntiny line."))
          .otherwise(lit("\ncurly { brace and lorem ipsum here."))))
      val withS = injected.select(col("doc_id"), col("text"),
        graft.functions.OptimizerFence(
          graft.functions.C4Stats(col("text"))).as("__s"))
      val cols = graft.ops.CleanFilters.c4Columns(col("__s"), col("text"))
      withS.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // Gopher document rules (Rae et al. §A1.1) with injected bullet/symbol/
    // non-alpha tails; every fraction rounds to 6 decimals before the
    // threshold compare so the keep flag is bit-identical cross-engine
    "q_gopher_rules" -> ((s, d) => {
      val injected = docs(s, d).withColumn("text", concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\n- bullet one two\n* bullet two three\nends with an ellipsis ..."))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(" ### ## #"))
          .when(pmod(col("doc_id"), lit(4)) === 2,
            lit("\n12345 67890 11111 22222 33333"))
          .otherwise(lit(""))))
      val withS = injected.select(col("doc_id"), col("text"),
        graft.functions.OptimizerFence(
          graft.functions.C4Stats(col("text"))).as("__s"))
      val cols = graft.ops.CleanFilters.gopherColumns(col("__s"), col("text"))
      withS.select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
    }),

    // exact-substring span dedup (Lee et al. 2022, distributed window-hash
    // shape): per-doc fraction of 8-token windows whose hash occurs at >=2
    // positions corpus-wide
    "q_substr_windows" -> ((s, d) =>
      Dedup.duplicateWindowStats(docs(s, d), w = 8)),

    // BPE tokenizer (Sennrich et al. 2016): 6 merges trained on the corpus
    // word dict, then one codegen encode pass; the oracle replicates the
    // trainer AND encoder with nested replace() over a |sym| |sym| form
    "q_bpe" -> ((s, d) => {
      import graft.ops.Bpe
      val dd = docs(s, d)
      val model = Bpe.train(dd, col("text"), numMerges = 6)
      val cols = Bpe.encodeColumns(model, col("text"))
      graft.ops.Par.widen(dd, col("doc_id"))
        .select(col("doc_id") +: cols.map { case (n, c) => c.as(n) }: _*)
        .withColumn("tokens_md5", md5(col("tokens"))).drop("tokens")
    }),

    // Bloom-filter incremental dedup: filter built over the even-id
    // snapshot (one OR-bitset aggregation), probed by the odd-id snapshot
    // plus 50 injected true duplicates of even docs; flagged rows verified
    // with an exact fingerprint semi-join. mBits=2048 is sized so the
    // oracle SF exercises deterministic false positives too.
    "q_bloom_dedup" -> ((s, d) => {
      val all = docs(s, d)
      val old = all.filter(col("doc_id") % 2 === 0)
      val nw = all.filter(col("doc_id") % 2 === 1)
        .unionByName(all.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      Dedup.bloomIncremental(nw, old, mBits = 2048, k = 4)
        .agg(count(lit(1)).as("n_new"),
          count(when(col("maybe_dup"), 1)).as("n_flagged"),
          count(when(col("is_dup"), 1)).as("n_true_dups"),
          md5(array_join(transform(
            array_sort(collect_list(when(col("maybe_dup"), col("doc_id")))),
            x => x.cast("string")), ",")).as("flagged_md5"))
    }),

    // Deterministic-HLL distinct sketch: per-source distinct-text estimate
    // from md5-derived registers (bit-exact cross-engine, unlike
    // approx_count_distinct's Spark-internal HLL++), with the exact
    // distinct count alongside for the accuracy comparison
    "q_hll_distinct" -> ((s, d) => {
      val dd = docs(s, d)
      val sketch = TextOps.hllDistinct(dd, Seq(col("source")), col("text"), m = 512)
      val exact = dd.groupBy(col("source"))
        .agg(countDistinct(col("text")).as("exact_distinct"))
      sketch.join(exact, Seq("source"))
        .select(col("source"), col("n_zero").cast("long").as("n_zero"),
          col("sum_pow"), md5(col("registers_csv")).as("registers_md5"),
          col("estimate"), col("exact_distinct"))
    }),

    // transcript-shaped view of the documents table, replicated verbatim
    // by the oracle: conv_id/turn_idx from pure doc_id arithmetic, a
    // (user,user,assistant,assistant,tool) role cycle, and a repeated
    // retry text on doc_id%25==0 so convs 0 and 25 are degenerate loops
    "q_transcript_pack" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.packedWindows(transcriptView(s, d), tokenBudget = 400)
    }),

    // per-conversation loop/structure signals + corpus-wide turn dedup:
    // max same-(role,tool) run, verbatim-retry fraction, role alternation,
    // duplicate-turn fraction under keep-first
    "q_transcript_quality" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d)
      TranscriptOps.loopSignals(t)
        .join(TranscriptOps.turnDedupStats(t).drop("n_turns"), Seq("conv_id"))
    }),

    // time-gap sessionization: deterministic in-view ts (30s cadence with
    // a conv-periodic 1h jump) splits each conversation into sessions at
    // gaps > 600s; per-session spans/durations in exact epoch micros
    "q_transcript_sessions" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d).withColumn("ts", expr(
        "timestamp_micros((1700000000L + turn_idx * 30L + " +
          "3600L * (turn_idx div (2 + conv_id % 3))) * 1000000L)"))
      TranscriptOps.sessionStats(t, gapSeconds = 600)
    }),

    // tool-transition Markov edges: a 3-tool schedule plus a 'plan'
    // pseudo-tool on even assistant turns; conditional probabilities are
    // integer-exact e6 (no float division on either engine)
    "q_tool_transitions" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d).withColumn("tool", expr(
        "CASE WHEN turn_idx % 5 = 4 THEN " +
          "(CASE (conv_id + turn_idx) % 3 WHEN 0 THEN 'search' " +
          "WHEN 1 THEN 'browse' ELSE 'code' END) " +
          "WHEN turn_idx % 5 IN (2, 3) AND turn_idx % 2 = 0 THEN 'plan' " +
          "ELSE NULL END"))
      TranscriptOps.toolTransitions(t)
    }),

    // cross-conversation shared-prefix detection: a SYSTEM turn injected
    // at turn 0 makes every conversation share depth 1; the two degenerate
    // retry convs (0, 25) share the full depth-8 prefix with each other
    "q_shared_prefix" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d).withColumn("text",
        when(col("turn_idx") === 0, lit("SYSTEM: you are a helpful agent"))
          .otherwise(col("text")))
      TranscriptOps.sharedPrefixStats(t, maxDepth = 8)
    }),

    // conversation-granularity near-dup: re-logged conversations under new
    // ids — minhash over the turn-joined conversation text; a per-conv
    // tail turn makes the two degenerate retry convs NEAR (not exact) dups
    // so the pair survives the exact-dup collapse and must come out of the
    // band join
    "q_conv_neardup" -> ((s, d) => {
      val t = transcriptView(s, d).withColumn("text",
        when(col("turn_idx") === 9,
          concat(col("text"), lit(" tail-"), col("conv_id").cast("string")))
          .otherwise(col("text")))
      val convDocs = t.groupBy(col("conv_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          x => x.getField("text")), "\n").as("text"))
      Dedup.minhashCandidates(convDocs, idCol = "conv_id")
        .select(col("a"), col("b"))
    }),

    // mean-pooled conversation embeddings: per-turn vectors (vec_id % 50
    // as the conv key) pooled dimension-wise with e6 integer quantization
    // before the sum and floor-division means — bit-exact cross-engine
    // regardless of summation order
    "q_conv_embedding" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val e = Tables.parquet(s, s"$d/embeddings.parquet")
        .select(pmod(col("vec_id"), lit(50)).as("conv_id"), col("embedding"))
      TranscriptOps.convEmbeddings(e)
    }),

    // SFT pair extraction: nearest-preceding-user prompt per assistant
    // turn in one conv-keyed window pass; int lengths cast to long so the
    // schema matches DuckDB's BIGINT length()
    "q_sft_pairs" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.sftPairs(transcriptView(s, d))
        .withColumn("prompt_chars", col("prompt_chars").cast("long"))
        .withColumn("response_chars", col("response_chars").cast("long"))
    }),

    // chat-template rendering: each conversation serialized to ONE
    // training text in strict turn order (tool turns tagged tool:name),
    // with char count + md5 digest
    "q_chat_render" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.renderChat(transcriptView(s, d))
    }),

    // preference-pair mining: repeated normalized user prompts inside a
    // conversation pair their first (rejected) and last (chosen) assistant
    // responses; the two degenerate retry convs (0, 25) guarantee pairs
    "q_pref_pairs" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.preferencePairs(transcriptView(s, d))
    }),

    // end-to-end curation composition: gate -> keep -> render -> digest
    // dedup, in ONE plan (each stage is separately oracle-verified; this
    // row verifies the composition — the degenerate retry convs 0/25 must
    // be gated out before rendering)
    "q_curation_e2e" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.curateConversations(transcriptView(s, d))
    }),

    // conversation-keyed leakage-proof train/val/test split (md5
    // hex-prefix threshold on conv_id, 90/5/5): every turn of a conv
    // lands in one split by construction; per-split audit counts
    "q_split_leakproof" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.leakproofSplit(transcriptView(s, d))
    }),

    // rejection sampling: best-of-n assistant response per normalized
    // prompt template (retry groups), reward = the q_quality composite
    // over the response text, argmax kept (ties -> last turn)
    "q_reject_sample" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.rejectionSample(transcriptView(s, d))
        .withColumn("response_chars", col("response_chars").cast("long"))
    }),

    // length-bucketed batch assembly: power-of-two token-length buckets,
    // 4 hash shards each forming batch-of-16 groups longest-first; the
    // per-bucket padding-waste audit a padded-batch trainer runs
    "q_batch_pack" -> ((s, d) => {
      import graft.ops.{Packing, TranscriptOps}
      val t = transcriptView(s, d)
      Packing.lengthBucketBatches(t, TranscriptOps.turnTokens(col("text")),
        batchSize = 16, shards = 4)
    }),

    // heavy hitters with bounded state: Misra-Gries candidates (k=128)
    // + exact verification over the candidate sliver; the injected vocab
    // (500 unique tail tokens + a sub-threshold 'warm') forces real MG
    // eviction and a candidate the verify pass must reject
    "q_heavy_hitters" -> ((s, d) => {
      import graft.ops.FreqStats
      val dd = docs(s, d).withColumn("text", concat(col("text"), lit(" hot"),
        when(col("doc_id") % 3 === 0, lit(" warm")).otherwise(lit("")),
        lit(" tail"), col("doc_id").cast("string")))
      val words = dd.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      FreqStats.heavyHitters(words, col("w"), phi = 0.01, k = 128)
    }),

    // count-min sketch: d=4 x w=1024 matrix (fully deterministic adds),
    // probed with the 20 lexicographically-smallest distinct words;
    // est >= exact always, equal in the collision-free buckets
    "q_countmin" -> ((s, d) => {
      import graft.ops.FreqStats
      val words = graft.ops.Par.widen(docs(s, d), col("doc_id"))
        .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      val probes = words.distinct().orderBy(col("w")).limit(20)
      FreqStats.countMin(words, col("w"), probes, col("w"), d = 4, w = 1024)
    }),

    // DSIR importance resampling (Xie et al. 2023): target = the doc_id%7
    // slice (deterministic domain stand-in), hashed unigram+bigram buckets,
    // per-doc e6 log importance weight + hash-derived Gumbel top-100
    "q_dsir" -> ((s, d) => {
      import graft.ops.Dsir
      val dd = docs(s, d)
      val m = Dsir.trainSplit(dd, pmod(col("doc_id"), lit(7)) === 0,
        col("text"), buckets = 1024)
      val sc = Dsir.scoreColumns(m, col("text"))
      // round 6: widen the narrow scan for the kernel pass, then cut the
      // plan once — `scored` feeds BOTH the top-k resample and the join
      // left side, and without the checkpoint the full featurize+score
      // scan executed twice (at scale: two corpus passes vs one + a
      // small-row materialization)
      val scored = graft.ops.Par.widen(dd, col("doc_id"))
        .select(col("doc_id") +: sc.map { case (n, c) => c.as(n) }: _*)
        .withColumn("gumbel_e6", Dsir.gumbelE6(col("doc_id")))
        .withColumn("score_e6", col("logw_e6") + col("gumbel_e6"))
        .localCheckpoint()
      val sel = Dsir.resample(scored, col("doc_id"), col("score_e6"), 100)
        .select(col("doc_id"), lit(true).as("selected"))
      scored.join(broadcast(sel), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_features"), col("logw_e6"),
          col("gumbel_e6"), coalesce(col("selected"), lit(false)).as("selected"))
    }),

    // URL extraction -> host -> approximate eTLD+1 rollup over
    // deterministically injected URLs (plain 2-label, deep subdomain, and
    // multi-part-suffix hosts)
    "q_url_stats" -> ((s, d) => {
      import graft.ops.WebText
      val injected = docs(s, d).withColumn("text", concat(
        col("text"),
        lit(" https://www.site"), (col("doc_id") % 40).cast("string"),
        lit(".example.com/p/"), col("doc_id").cast("string"),
        lit(" http://cdn"), (col("doc_id") % 7).cast("string"),
        lit(".assets.co.uk:8443/x?y=1"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" https://plain"), (col("doc_id") % 11).cast("string"),
            lit(".org"))).otherwise(lit(""))))
      injected
        .select(col("doc_id"), explode(WebText.extractUrls(col("text"))).as("url"))
        .select(col("doc_id"),
          WebText.registeredDomain(WebText.hostOf(col("url"))).as("domain"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),

    // sequence packing (concat-and-chunk): sharded running token sums ->
    // per-window fill stats; the shard count bounds every sort
    "q_seq_pack" -> ((s, d) =>
      graft.ops.Packing.packStats(
        graft.ops.Packing.packSequences(docs(s, d),
          TextOps.wsTokenCount(col("text")), tokenBudget = 2048, shards = 8))),

    // per-vector symmetric int8 quantization: scale, quantized sum, and the
    // max reconstruction error (all 1e6-rounded for cross-engine compare)
    "q_embed_quantize" -> ((s, d) => {
      import graft.ops.Quantize
      val scale = Quantize.int8Scale(col("embedding"))
      embs(s, d)
        .withColumn("scale", scale)
        .withColumn("qv", Quantize.int8Quantize(col("embedding"), col("scale")))
        .select(
          col("vec_id"),
          round(col("scale") * 1e6, 0).cast("long").as("scale_e6"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          round(Quantize.maxAbsError(col("embedding"), col("qv"), col("scale")) * 1e6, 0)
            .cast("long").as("max_err_e6"))
    }),

    // multimodal plumbing: binary payload -> decode stub -> frame sample
    // (oracle replicates the deterministic fake decoder's FNV state)
    "q_multimodal_decode" -> ((s, d) => {
      val media = Multimodal.syntheticMedia(docs(s, d))
      Multimodal.sampleFrames(Multimodal.decode(media), maxFrames = 4)
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n_frames_sampled"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),

    // conversation-level curation gate: per-conv keep/drop with per-rule
    // reason flags — the two degenerate retry convs (0, 25) must fail the
    // repeat and dup rules while every other conversation passes
    "q_transcript_gate" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.transcriptGate(transcriptView(s, d))
    }),

    // per-tool outcome analytics: a 3-tool schedule constant within each
    // 10-turn block (so the block's two tool calls are a same-tool retry),
    // deterministic injected ERROR results on (conv_id+turn_idx)%4==0;
    // error/retry rates are integer-exact e6
    "q_tool_errors" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d)
        .withColumn("tool", expr(
          "CASE WHEN turn_idx % 5 = 4 THEN " +
            "(CASE (conv_id + turn_idx div 10) % 3 WHEN 0 THEN 'search' " +
            "WHEN 1 THEN 'browse' ELSE 'code' END) ELSE NULL END"))
        .withColumn("text", expr(
          "CASE WHEN turn_idx % 5 = 4 AND (conv_id + turn_idx) % 4 = 0 " +
            "THEN 'ERROR: tool failed with timeout' ELSE text END"))
      TranscriptOps.toolOutcomes(t)
    }),

    // incremental near-dup: the NEW snapshot (odd ids + 50 re-logged
    // near-copies of old docs with a one-word tail) probes the OLD
    // snapshot's capped band index; the 50 re-logs must come out as
    // candidates without touching the old texts again
    "q_minhash_incremental" -> ((s, d) => {
      val dd = docs(s, d)
      val old = dd.filter(col("doc_id") % 2 === 0)
      val nw = dd.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(dd.filter(col("doc_id") % 2 === 0 && col("doc_id") < 100)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" relog")).as("text")))
      val idx = Dedup.minhashBandIndex(old, maxBandGroup = 256)
      Dedup.minhashIncremental(idx, nw)
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("new_id")).as("n_new_flagged"),
          md5(concat_ws(",", sort_array(collect_list(
            concat_ws(":", col("new_id"), col("old_id")))))).as("pairs_md5"))
    }),

    // bounded-state distribution quantiles: per-role p50/p90/p99 turn
    // token counts from a width-4 histogram CDF — exact integer rank
    // arithmetic, so both engines report the identical bucket bounds
    "q_token_quantiles" -> ((s, d) => {
      import graft.ops.{Quantiles, TextOps}
      Quantiles.histogramQuantiles(transcriptView(s, d), col("role"),
        TextOps.wsTokenCount(col("text")), bucketWidth = 4L)
    }),

    // template boilerplate mining: two injected templated families
    // (digits vary per row) plus the degenerate retry turns must come out
    // as heavy hitters AFTER digit/whitespace normalization — verbatim
    // dedup sees every injected row as unique
    "q_turn_templates" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val t = transcriptView(s, d).withColumn("text", expr(
        "CASE WHEN (conv_id + turn_idx) % 5 = 1 THEN " +
          "concat('Request ', CAST(conv_id * 100 + turn_idx AS STRING), " +
          "' completed in ', CAST(turn_idx * 7 AS STRING), ' ms') " +
          "WHEN (conv_id + turn_idx) % 7 = 2 THEN " +
          "concat('HTTP 404 error fetching page ', CAST(conv_id AS STRING)) " +
          "ELSE text END"))
      TranscriptOps.turnTemplates(t, phi = 0.01, k = 128)
    }),

    // conversation-level semantic retrieval: top-8 nearest conversations
    // to conv 0 by cosine over the mean-pooled conv embeddings — integer
    // dots/norms, two correctly-rounded sqrts, e6-quantized output
    "q_conv_retrieval" -> ((s, d) => {
      import graft.ops.TranscriptOps
      val e = embs(s, d)
        .select(pmod(col("vec_id"), lit(50)).as("conv_id"), col("embedding"))
      val cv = TranscriptOps.convEmbeddings(e)
        .select(col("conv_id"), col("dim"), col("mean_e6"))
      TranscriptOps.convTopK(cv, queryConv = 0L, k = 8)
    }),

    // stable PII pseudonymization: same injected spans as q_pii_redact,
    // rewritten to <TAG:md5-prefix> tokens by the one-pass codegen kernel;
    // n_entities pins the staged match census, pseudo_md5 the exact
    // rewritten text
    "q_pii_pseudo" -> ((s, d) => {
      import graft.ops.Curation
      val counts = Curation.piiCounts(col("text"))
      piiInjected(docs(s, d)).select(col("doc_id"),
        counts.map(_._2).reduce(_ + _).as("n_entities"),
        md5(Curation.pseudonymize(col("text"))).as("pseudo_md5"))
    }),

    // the pseudonym linkage table: per (class, pseudonym) mention + doc
    // counts — the cross-document entity analytics static redaction
    // destroys (injected IPs collide across docs by construction, so
    // n_docs > 1 rows must appear)
    "q_pii_linkage" -> ((s, d) => {
      import graft.ops.Curation
      Curation.piiEntities(piiInjected(docs(s, d)), col("doc_id"), col("text"))
    }),

    // quality-tier epoch upsampling (the executable "data recipe"): tier
    // by quality composite, fractional epochs resolved by md5 threshold,
    // per-tier audit with an id*copy checksum pinning the exact expansion
    "q_epoch_mix" -> ((s, d) => {
      import graft.ops.Curation
      Curation.epochMix(docs(s, d), epochTiers)
        .groupBy(col("tier"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_copies"),
          sum(col("doc_id") * col("copy_idx")).as("sum_key"))
    }),

    // deterministic training-order shuffle + sharding over the rendered
    // conversations: md5 order key, leading-16-bit shard, dense per-shard
    // position
    "q_train_shards" -> ((s, d) => {
      import graft.ops.TranscriptOps
      TranscriptOps.trainOrderShards(
        TranscriptOps.renderChat(transcriptView(s, d)), k = 8)
        .select(col("shard"), col("pos").cast("long").as("pos"),
          col("conv_id"), col("digest"))
    }),

    // domain-mixture planner under a token budget: per-domain targets,
    // capped keep-rates (incl. the rate-1 'zzzz' and unweighted-domain-0
    // paths), deterministically sampled result pinned by an id-sum
    "q_mix_plan" -> ((s, d) => {
      import graft.ops.Curation
      Curation.mixPlan(docs(s, d), mixWeights, mixBudget)
    }),

    // blocklist / safety tagging: ONE Aho-Corasick automaton pass per doc
    // (phrase count free) vs k contains/regex passes; overlapping + nested
    // matches counted, first hit = minimal (start, phrase_id)
    "q_blocklist" -> ((s, d) => {
      import graft.functions.AcBlocklistStats
      docs(s, d)
        .select(col("doc_id"),
          AcBlocklistStats(col("text"), blocklistPhrases).as("b"))
        .select(col("doc_id"),
          col("b.n_matches").as("n_matches"),
          col("b.n_phrases").as("n_phrases"),
          col("b.first_pos").as("first_pos"),
          col("b.first_phrase").as("first_phrase"))
    }),

    // character-distribution quality signal: Shannon entropy over char
    // unigrams, order-free exact integer sum (LmKernels quantization),
    // float only in the final divide
    "q_char_entropy" -> ((s, d) => {
      import graft.functions.CharEntropyStats
      docs(s, d)
        .select(col("doc_id"), CharEntropyStats(col("text")).as("e"))
        .select(col("doc_id"),
          col("e.n_chars").as("n_chars"),
          col("e.n_distinct").as("n_distinct"),
          col("e.h_sum_e6").as("h_sum_e6"),
          when(col("e.n_chars") > 0,
            round(col("e.h_sum_e6").cast("double") / col("e.n_chars") / 1e6, 6))
            .otherwise(0.0).as("entropy_bits"))
    }),

    // Johnson-Lindenstrauss sign projection 64 -> 8 dims: exact BIGINT
    // arithmetic end-to-end (per-component e6 quantize, signed integer
    // sums), zero-shuffle codegen pass
    "q_jl_project" -> ((s, d) => {
      import graft.functions.VectorKernels
      embs(s, d)
        .select(col("vec_id"),
          VectorKernels.jlProject(col("embedding"), 8).as("p"))
        .select(col("vec_id") +:
          (0 until 8).map(j => element_at(col("p"), j + 1).as(s"p$j")): _*)
    }),

    // winnowing (MOSS) fingerprints + cross-doc shared-span detection:
    // k=16/w=8 selects ~2/(w+1) of gram positions (vs substr_windows'
    // every-position shuffle) with the >= k+w-1 shared-span guarantee;
    // deterministic injected tails create real cross-doc overlap classes
    "q_winnow" -> ((s, d) => {
      import graft.functions.WinnowFps
      val injected = docs(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          lit(" shared winnow marker alpha beta gamma")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit(" second shared span delta epsilon zeta")).otherwise(lit(""))))
      val fps = injected.select(col("doc_id"),
        explode(WinnowFps(col("text"), 16, 8)).as("h"))
      val shared = fps.groupBy("h").agg(countDistinct("doc_id").as("nd"))
      val perDoc = fps.join(shared, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_fps"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared_fps"),
          sum(col("h")).as("fp_sum"))
      docs(s, d).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
          coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
    }),

    // asymmetric containment dedup (Broder containment vs resemblance):
    // injected 20-word prefix children are contained (1.0) in their parents
    // while scoring low Jaccard — the superset/subset mode q_ngram_jaccard
    // misses; n_hidden counts exactly those pairs
    "q_containment" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 5000)
        .select(col("doc_id"), col("text"))
      val toks = split(trim(col("text")), "\\s+")
      val children = base.filter(col("doc_id") % 31 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat_ws(" ", slice(toks, 1, 20)).as("text"))
      // structurally capped (base: doc_id < 5000 + ~170 children)
      Dedup.containmentPairs(base.unionByName(children), threshold = 0.9,
        uncapped = true)
        .agg(count(lit(1)).as("n"),
          sum(round(col("containment") * 1000000, 0).cast("long")).as("sum_containment_e6"),
          sum(when(col("containment") === 1.0, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("jaccard") < 0.5, 1L).otherwise(0L)).as("n_hidden"))
    }),

    // exact duplicate-span REMOVAL (Lee et al. 2022): excise every repeated
    // 8-token window except its globally-first occurrence; kept_md5 pins
    // the exact surviving text per doc
    "q_dedup_spans" -> ((s, d) =>
      Dedup.removeDuplicateSpans(docs(s, d), w = 8)),

    // within-doc retrieval chunking: 64-token windows every 48 (16-token
    // overlap), stable md5 chunk ids, zero-shuffle generate+projection
    "q_rag_chunks" -> ((s, d) =>
      graft.ops.Packing.ragChunks(docs(s, d), chunkTokens = 64, stride = 48)),

    // classifier evaluation harness (completes the harness trilogy with
    // q_dedup_pr / q_ann_recall): NB trained on the even half, confusion
    // counts on the held-out odd half
    "q_nb_eval" -> ((s, d) => {
      import graft.ops.Classify
      val corpus = docs(s, d)
      val train = corpus.filter(col("doc_id") % 2 === 0)
      val test = corpus.filter(col("doc_id") % 2 === 1)
      val m = Classify.nbTrain(train, col("text"), col("lang"), vocabSize = 24)
      val cols = Classify.nbScoreColumns(m, col("text"))
      test.select(col("lang") +: cols.map { case (n, c) => c.as(n) }: _*)
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
    }),

    // normalization-aware exact dedup: case/accent/punctuation variants of
    // the same doc collapse onto one normalized key — injected shouting
    // accented children are caught by the normalized pass only
    "q_dedup_normalized" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val children = base.filter(col("doc_id") % 29 === 0)
        .select((col("doc_id") + 4000000L).as("doc_id"),
          concat(translate(upper(col("text")), "A", "Á"), lit("  !!"))
            .as("text"))
      val all = base.unionByName(children)
        .withColumn("nk", TextOps.normalizeForDedup(col("text")))
      val rawG = all.groupBy("text").agg(count(lit(1)).as("rc"))
      val normG = all.groupBy("nk").agg(count(lit(1)).as("nc"))
      all.join(rawG, "text").join(normG, "nk")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("rc") > 1, 1L).otherwise(0L)).as("n_raw_dup_docs"),
          sum(when(col("nc") > 1, 1L).otherwise(0L)).as("n_norm_dup_docs"),
          sum(when(col("nc") > 1 && col("rc") === 1, 1L).otherwise(0L))
            .as("n_norm_only"))
    }),

    // conversation-level containment: a RESUMED session (prefix replay of
    // an existing conversation plus new turns) scores containment 1.0 at
    // low Jaccard — injected 6-turn prefix children replicate the mode
    "q_conv_containment" -> ((s, d) => {
      // bounded to the 10-turn prefix: conv length grows with SF (turns =
      // docs/50), and the shingle self-join is quadratic in conv length —
      // a no-op at the sf0.01 oracle scale, a hard bound everywhere else
      val t = transcriptView(s, d).filter(col("turn_idx") < 10)
      def render(df: DataFrame) = df.groupBy(col("conv_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("turn_idx"), col("text")))),
          x => x.getField("text")), "\n").as("text"))
      val parents = render(t)
      val children = render(
        t.filter(col("conv_id") % 5 === 0 && col("turn_idx") < 6)
          .withColumn("conv_id", col("conv_id") + 1000L))
      // structurally capped (50 conversations + prefix children)
      Dedup.containmentPairs(parents.unionByName(children),
          idCol = "conv_id", threshold = 0.9, uncapped = true)
        .agg(count(lit(1)).as("n"),
          sum(round(col("containment") * 1000000, 0).cast("long"))
            .as("sum_containment_e6"),
          sum(when(col("containment") === 1.0, 1L).otherwise(0L)).as("n_full"),
          sum(when(col("jaccard") < 0.8, 1L).otherwise(0L)).as("n_resumed"))
    }),

    // ANN recall harness (the IVF twin of q_dedup_pr): per-query recall@10
    // of the nprobe=2 probe vs brute-force truth over a 1%-sample query
    // set, fully set-based — n_cands/corpus is the scan fraction bought
    "q_ann_recall" -> ((s, d) =>
      graft.ops.Similarity.ivfRecall(embs(s, d))),

    // dedup-quality evaluation harness: banding recall/precision vs exact
    // Jaccard truth at a threshold grid — integer TP/FN/FP per threshold,
    // the tuning loop (bands/rows/cap) a production dedup needs
    "q_dedup_pr" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 3000)
        .select(col("doc_id"), col("text"))
      // sibling children with ~0.6 shingle overlap: the mid-Jaccard band
      // where banding recall is actually probabilistic (exact dups would
      // make every threshold read recall 1.0 and teach nothing)
      val t0 = split(trim(col("text")), "\\s+")
      val sel = base.filter(col("doc_id") % 17 === 0)
      val childA = sel.select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(t0, 1, 40)).as("text"))
      val childB = sel.select((col("doc_id") + 3000000L).as("doc_id"),
        concat_ws(" ", concat(slice(t0, 1, 32), reverse(slice(t0, 33, 8))))
          .as("text"))
      // round 6: `reps` feeds BOTH the minhash-candidate branch and the
      // exact-Jaccard truth branch — cut the plan once so the
      // union+collapse subtree executes once and each branch plans
      // against a small cached relation
      val reps = base.unionByName(childA).unionByName(childB)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), col("text"))
        .localCheckpoint()
      val cand = Dedup.minhashCandidates(reps).withColumn("c", lit(1))
      // reps is the checkpointed capped harness input (doc_id < 3000 + kids)
      val truth = Dedup.ngramJaccardPairs(reps, shingleN = 3, threshold = 0.25,
        uncapped = true)
      val joined = cand.join(truth, Seq("a", "b"), "full_outer")
        .select(coalesce(col("c"), lit(0)).as("c"),
          coalesce(col("jaccard"), lit(0.0)).as("j"))
      // ONE pass over `joined` (round-6: the union-of-three-aggs form
      // re-executed the minhash-candidate + exact-Jaccard truth join once
      // per threshold — 3x the cost of the query's expensive part): nine
      // conditional sums in a single aggregation, then explode back into
      // the same three (t_e2, tp, fn, fp) rows in the same order
      val thresholds = Seq(30, 50, 80)
      val sums = thresholds.flatMap { t =>
        Seq(
          sum(when(col("c") === 1 && col("j") >= t / 100.0, 1L).otherwise(0L)).as(s"tp$t"),
          sum(when(col("c") === 0 && col("j") >= t / 100.0, 1L).otherwise(0L)).as(s"fn$t"),
          sum(when(col("c") === 1 && col("j") < t / 100.0, 1L).otherwise(0L)).as(s"fp$t"))
      }
      joined.agg(sums.head, sums.tail: _*)
        .select(explode(array(thresholds.map { t =>
          struct(lit(t.toLong).as("t_e2"), col(s"tp$t").as("tp"),
            col(s"fn$t").as("fn"), col(s"fp$t").as("fp"))
        }: _*)).as("r"))
        .select(col("r.t_e2").as("t_e2"), col("r.tp").as("tp"),
          col("r.fn").as("fn"), col("r.fp").as("fp"))
    }),

    // corpus drift monitor between the doc_id-parity halves: exact integer
    // two-sample KS numerators over two integer features + categorical L1
    // over lang — bit-identical on any engine (divide by n0*n1 at read)
    "q_drift" -> ((s, d) => {
      import graft.ops.Drift
      val dd = docs(s, d).withColumn("s", (col("doc_id") % 2).cast("int"))
      Drift.ksDrift(dd, TextOps.wsTokenCount(col("text")), col("s"))
        .select(lit("ws_tokens_ks").as("metric"), col("ks_num").as("stat_num"),
          col("n0"), col("n1"))
        .unionByName(
          Drift.ksDrift(dd, col("n_chars"), col("s"))
            .select(lit("n_chars_ks").as("metric"), col("ks_num").as("stat_num"),
              col("n0"), col("n1")))
        .unionByName(
          Drift.l1Drift(dd, col("lang"), col("s"))
            .select(lit("lang_l1").as("metric"), col("l1_num").as("stat_num"),
              col("n0"), col("n1")))
    })
  )

  /** Blocklist for q_blocklist — word phrases over the corpus vocabulary,
    * chosen to exercise every automaton path: overlapping phrases (0/1),
    * a single word that is a proper suffix of a longer phrase (2 vs 1 —
    * dictionary-link enumeration), a self-overlapping phrase (6), and
    * multi-word runs. At most 64 (Long bitset).
    */
  private[graft] val blocklistPhrases: Seq[String] = Seq(
    "fast table",     // 0
    "table value",    // 1: overlaps 0 on "table"
    "value",          // 2: proper suffix of 1 -> nested output link
    "row scan",       // 3
    "scan slow",      // 4: overlaps 3
    "merge batch",    // 5
    "a a",            // 6: self-overlapping in "a a a"
    "customer query", // 7
    "data window",    // 8
    "slow filter",    // 9
    "the row",        // 10
    "key agg row")    // 11: shares "row" with 3/10

  /** Deterministic PII injection shared by q_pii_redact / q_pii_pseudo /
    * q_pii_linkage: email unique per doc, IPs colliding across docs (mod
    * arithmetic), phone + ssn from the id — pure doc_id arithmetic on both
    * engines.
    */
  private def piiInjected(docs: DataFrame): DataFrame =
    docs.withColumn("text", concat(
      col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com or +1555"),
      lpad(col("doc_id") % 10000, 4, "0"),
      lit(" at 10.0."), col("doc_id") % 256, lit("."), col("doc_id") % 100,
      lit(" ssn 123-45-"), lpad(col("doc_id") % 10000, 4, "0")))

  /** Epoch-mix recipe for q_epoch_mix (name, min quality score, epochs). */
  private val epochTiers: Seq[(String, Double, Double)] =
    Seq(("hi", 0.71, 2.5), ("mid", 0.66, 1.0), ("low", 0.0, 0.25))

  /** Mixture plan config for q_mix_plan: es deliberately unweighted (rate-0
    * reporting path); zh's target exceeds its availability (rate-1 'zzzz'
    * path) at this budget.
    */
  private val mixWeights: Map[String, Double] =
    Map("en" -> 0.45, "de" -> 0.1, "fr" -> 0.05, "zh" -> 0.4)
  private val mixBudget: Long = 12000L

  // ---- oracles --------------------------------------------------------------

  private val toks = "string_split_regex(trim(text), '\\s+')"

  /** DuckDB replica of TextOps.shingles(text, 3). */
  private val shinglesSql =
    s"""CASE WHEN len($toks) >= 3
       |  THEN list_distinct(list_transform(generate_series(1, len($toks) - 2),
       |       i -> array_to_string(($toks)[i:i+2], ' ')))
       |  ELSE [array_to_string($toks, ' ')] END""".stripMargin

  private val minhashSigSql = (0 until 16).map(i =>
    s"list_min(list_transform(s, x -> md5('$i' || '|' || x)))").mkString("[", ", ", "]")

  private val bandsSql = (0 until 4).map(b =>
    s"md5('$b' || '|' || array_to_string(sig[${b * 4 + 1}:${b * 4 + 4}], '|'))")
    .mkString("[", ", ", "]")

  /** Hyperplane matrix rows as DuckDB list literals — the SAME
    * driver-precomputed matrix the Spark kernel uses
    * ([[graft.functions.VectorKernelsImpl.planeMatrix]]); Double.toString
    * round-trips, so the SQL parses to bit-identical doubles.
    */
  private def planeRowsSql(planes: Int, dims: Int): IndexedSeq[String] = {
    val m = graft.functions.VectorKernelsImpl.planeMatrix(planes, dims)
    (0 until planes).map(p => m(p).map(_.toString).mkString("[", ", ", "]"))
  }

  /** DuckDB signature of a float-list column `v` under `planes` hyperplanes
    * (sign bit per plane packed little-endian, exactly like the kernel).
    */
  private def sigSql(v: String, planes: Int, dims: Int): String = {
    val rows = planeRowsSql(planes, dims)
    (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(list_zip($v, ${rows(p)}),
         |  p0 -> CAST(p0[1] AS DOUBLE) * CAST(p0[2] AS DOUBLE))) >= 0
         |  THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("(", " + ", ")")
  }

  /** DuckDB cosine of two float-list columns, rounded like the kernel. */
  private def cosineSql(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(list_zip($a, $b),
       |    p0 -> CAST(p0[1] AS DOUBLE) * CAST(p0[2] AS DOUBLE)))
       |  / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
       |  6)""".stripMargin

  /** DuckDB replica of FakeDecodeKernel's FNV-1a rolling state over the
    * UTF-8 bytes of `text` (HUGEINT mod-2^64 emulates Java's wrapping
    * long multiply).
    */
  private val fnvSql =
    """(SELECT CAST(list_reduce(
      |    list_prepend(CAST(1469598103934665603 AS HUGEINT),
      |      list_transform(generate_series(1, octet_length(encode(text))),
      |        i -> CAST(CAST('0x' || substr(hex(encode(text)), i*2-1, 2) AS INT) AS HUGEINT))),
      |    (acc, b) -> (CAST(xor(CAST(acc AS UBIGINT), CAST(b AS UBIGINT)) AS HUGEINT)
      |                 * 1099511628211) % 18446744073709551616) AS UBIGINT))""".stripMargin

  private def langScoreSql(markers: Seq[String]): String = {
    val list = markers.map(m => s"'$m'").mkString("[", ", ", "]")
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), x -> list_contains($list, x)))"
  }

  /** Unrolled BPE trainer + encoder (q_bpe oracle): each word becomes a
    * `|c| |c| ...` pipe-delimited symbol string; one merge = one string
    * `replace` (greedy leftmost, boundary-safe because symbols never
    * contain pipes/spaces); each training iteration recomputes pair counts
    * from the previous representation with the same (count DESC, pair ASC)
    * tie-break the Spark trainer uses.
    */
  private def bpeSql(k: Int): String = {
    val charSplit = "rtrim(regexp_replace(w, '(.)', '|\\1| ', 'g'))"
    val mergeCtes = (1 to k).map { i =>
      s"""m$i AS (SELECT p, replace(p, '| |', '') AS q FROM (
         |    SELECT p, sum(f) AS c FROM (
         |      SELECT unnest(list_transform(range(1, len(l)),
         |               j -> l[j] || ' ' || l[j+1])) AS p, f
         |      FROM (SELECT string_split(r, ' ') AS l, f FROM r${i - 1}) z$i) zz$i
         |    GROUP BY p) t$i WHERE c >= 2 ORDER BY c DESC, p ASC LIMIT 1),
         |r$i AS (SELECT w, f,
         |  replace(r, coalesce((SELECT p FROM m$i), '~'),
         |             coalesce((SELECT q FROM m$i), '~')) AS r FROM r${i - 1})"""
        .stripMargin
    }
    val msCols = (1 to k).map(i =>
      s"coalesce((SELECT p FROM m$i), '~') AS p$i, " +
        s"coalesce((SELECT q FROM m$i), '~') AS q$i").mkString(", ")
    val repExpr = (1 to k).foldLeft(charSplit)((e, i) => s"replace($e, p$i, q$i)")
    s"""WITH wd AS (
       |  SELECT w, count(*) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) wdi GROUP BY w),
       |r0 AS (SELECT w, f, $charSplit AS r FROM wd),
       |${mergeCtes.mkString(",\n")},
       |ms AS (SELECT $msCols),
       |doc AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ws
       |        FROM documents),
       |enc AS (SELECT doc_id, ws,
       |          list_transform(ws, w -> $repExpr) AS reps FROM doc, ms)
       |SELECT doc_id,
       |  cast(len(ws) AS BIGINT) AS n_words,
       |  cast(coalesce(list_sum(list_transform(reps,
       |    r -> len(string_split(r, ' ')))), 0) AS BIGINT) AS n_tokens,
       |  md5(array_to_string(list_transform(reps,
       |    r -> replace(r, '|', '')), ' ')) AS tokens_md5
       |FROM enc""".stripMargin
  }

  private val langCase = {
    val scores = TextOps.langMarkers.map { case (lang, m) => lang -> langScoreSql(m) }
    val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
    val whens = scores.map { case (lang, sc) =>
      s"WHEN $sc = __best AND __best > 0 THEN '$lang'"
    }.mkString(" ")
    (best, s"CASE $whens ELSE 'und' END")
  }

  /** SQL twin of [[transcriptView]]. */
  private val transcriptSql: String =
    """WITH t AS (
      |  SELECT doc_id % 50 AS conv_id, doc_id // 50 AS turn_idx,
      |    CASE WHEN (doc_id // 50) % 5 < 2 THEN 'user'
      |         WHEN (doc_id // 50) % 5 < 4 THEN 'assistant'
      |         ELSE 'tool' END AS role,
      |    CASE WHEN doc_id % 25 = 0 THEN 'I will retry the search now'
      |         ELSE text END AS text,
      |    CASE WHEN (doc_id // 50) % 5 = 4 THEN 'search' ELSE NULL END AS tool
      |  FROM documents)""".stripMargin

  /** SQL twin of [[piiInjected]]. */
  private val piiInjectSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR)" +
      " || '@example.com or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')" +
      " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)" +
      " || '.' || CAST(doc_id % 100 AS VARCHAR)" +
      " || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  val oracles: Map[String, String] = Map(
    // BPE: trainer (6 unrolled merge iterations over the word dict) and
    // encoder (nested replace per word) both live in the SQL
    "q_bpe" -> bpeSql(6),

    "q_dedup_exact" ->
      """SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS exemplar
        |FROM documents GROUP BY 1""".stripMargin,

    // Bloom incremental dedup: the filter's exact bit membership is
    // replicated (same md5-derived positions, same mBits=2048 modulo), so
    // the flagged set — true dups AND deterministic false positives — is
    // reproduced bit-for-bit, then verified against the old fingerprints
    "q_bloom_dedup" ->
      """WITH allfp AS (SELECT doc_id, md5(text) AS f FROM documents),
        |old AS (SELECT DISTINCT f FROM allfp WHERE doc_id % 2 = 0),
        |nw AS (
        |  SELECT doc_id, f FROM allfp WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000, f FROM allfp
        |  WHERE doc_id % 2 = 0 AND doc_id < 100),
        |bits AS (
        |  SELECT DISTINCT
        |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || f), 1, 15)
        |          AS BIGINT) % 2048) AS p
        |  FROM old, range(4) t(i)),
        |probe AS (
        |  SELECT doc_id, f,
        |    (CAST('0x' || substr(md5(CAST(i AS VARCHAR) || '|' || f), 1, 15)
        |          AS BIGINT) % 2048) AS p
        |  FROM nw, range(4) t(i)),
        |flags AS (
        |  SELECT doc_id, f, bool_and(p IN (SELECT p FROM bits)) AS maybe_dup
        |  FROM probe GROUP BY 1, 2),
        |v AS (
        |  SELECT doc_id, maybe_dup,
        |         maybe_dup AND f IN (SELECT f FROM old) AS is_dup
        |  FROM flags)
        |SELECT count(*) AS n_new,
        |  count(*) FILTER (WHERE maybe_dup) AS n_flagged,
        |  count(*) FILTER (WHERE is_dup) AS n_true_dups,
        |  md5(coalesce(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |        FILTER (WHERE maybe_dup), '')) AS flagged_md5
        |FROM v""".stripMargin,

    // per-conversation context-window packing over the transcript view
    "q_transcript_pack" ->
      s"""$transcriptSql,
         |tok AS (
         |  SELECT *, CASE WHEN trim(text) = '' THEN 0
         |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM t),
         |pre AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |    PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb
         |  FROM tok)
         |SELECT conv_id, CAST(pb // 400 AS BIGINT) AS window_idx,
         |  count(*) AS n_turns,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         |  md5(string_agg(role || ': ' || text, e'\\n' ORDER BY turn_idx))
         |    AS window_md5
         |FROM pre GROUP BY 1, 2""".stripMargin,

    // loop signals (gaps-and-islands runs, lag-based repeats/alternation)
    // + corpus-wide keep-first turn dedup
    "q_transcript_quality" ->
      s"""$transcriptSql,
         |r AS (
         |  SELECT conv_id, turn_idx, role, text, tool,
         |    role || coalesce(tool, '') AS key,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      - row_number() OVER (PARTITION BY conv_id, role || coalesce(tool, '')
         |                           ORDER BY turn_idx) AS island,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         |    lag(coalesce(tool, '') || text)
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sig
         |  FROM t),
         |runs AS (
         |  SELECT conv_id, max(run) AS max_run FROM (
         |    SELECT conv_id, key, island, count(*) AS run
         |    FROM r GROUP BY 1, 2, 3) GROUP BY 1),
         |pw AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(CASE WHEN prev_sig IS NOT NULL
         |      AND prev_sig = coalesce(tool, '') || text THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_repeats,
         |    CAST(sum(CASE WHEN prev_role IS NOT NULL
         |      AND prev_role <> role THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM r GROUP BY 1),
         |dd AS (
         |  SELECT conv_id, count(*) AS nt,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_turns
         |  FROM (SELECT conv_id, row_number() OVER (
         |          PARTITION BY md5(text) ORDER BY conv_id, turn_idx) AS rn
         |        FROM t) GROUP BY 1)
         |SELECT p.conv_id, p.n_turns, CAST(runs.max_run AS BIGINT) AS max_run,
         |  round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6) AS repeat_frac,
         |  round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |    AS role_alternation,
         |  dd.n_dup_turns,
         |  round(dd.n_dup_turns * 1.0 / dd.nt, 6) AS dup_turn_frac
         |FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id)""".stripMargin,

    // conversation gate: the q_transcript_quality signal battery plus
    // threshold flags — all compares run on the same 6-decimal-rounded
    // fractions both engines already agree on bit-for-bit
    "q_transcript_gate" ->
      s"""$transcriptSql,
         |r AS (
         |  SELECT conv_id, turn_idx, role, text, tool,
         |    role || coalesce(tool, '') AS key,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      - row_number() OVER (PARTITION BY conv_id, role || coalesce(tool, '')
         |                           ORDER BY turn_idx) AS island,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         |    lag(coalesce(tool, '') || text)
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sig
         |  FROM t),
         |runs AS (
         |  SELECT conv_id, max(run) AS max_run FROM (
         |    SELECT conv_id, key, island, count(*) AS run
         |    FROM r GROUP BY 1, 2, 3) GROUP BY 1),
         |pw AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(CASE WHEN prev_sig IS NOT NULL
         |      AND prev_sig = coalesce(tool, '') || text THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_repeats,
         |    CAST(sum(CASE WHEN prev_role IS NOT NULL
         |      AND prev_role <> role THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM r GROUP BY 1),
         |dd AS (
         |  SELECT conv_id, count(*) AS nt,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_turns
         |  FROM (SELECT conv_id, row_number() OVER (
         |          PARTITION BY md5(text) ORDER BY conv_id, turn_idx) AS rn
         |        FROM t) GROUP BY 1),
         |m AS (
         |  SELECT p.conv_id, p.n_turns, CAST(runs.max_run AS BIGINT) AS max_run,
         |    round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |      AS repeat_frac,
         |    round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6)
         |      AS role_alternation,
         |    round(dd.n_dup_turns * 1.0 / dd.nt, 6) AS dup_turn_frac
         |  FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id))
         |SELECT conv_id, n_turns, max_run, repeat_frac, role_alternation,
         |  dup_turn_frac,
         |  (n_turns >= 3 AND n_turns <= 2000) AS pass_length,
         |  (max_run <= 4) AS pass_run,
         |  (repeat_frac <= 0.4) AS pass_repeat,
         |  (role_alternation >= 0.2) AS pass_alternation,
         |  (dup_turn_frac <= 0.5) AS pass_dup,
         |  ((n_turns >= 3 AND n_turns <= 2000) AND (max_run <= 4)
         |   AND (repeat_frac <= 0.4) AND (role_alternation >= 0.2)
         |   AND (dup_turn_frac <= 0.5)) AS keep
         |FROM m""".stripMargin,

    // per-tool outcome analytics: lead() over the filtered tool turns,
    // integer-exact half-up e6 rates (same formula both engines)
    "q_tool_errors" ->
      s"""$transcriptSql,
         |tt AS (
         |  SELECT conv_id, turn_idx,
         |    CASE (conv_id + turn_idx // 10) % 3 WHEN 0 THEN 'search'
         |      WHEN 1 THEN 'browse' ELSE 'code' END AS tool,
         |    CASE WHEN (conv_id + turn_idx) % 4 = 0
         |      THEN 'ERROR: tool failed with timeout' ELSE text END AS text
         |  FROM t WHERE turn_idx % 5 = 4),
         |w AS (
         |  SELECT *, lead(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |    AS next_tool
         |  FROM tt),
         |agg AS (
         |  SELECT tool, count(*) AS n_calls,
         |    CAST(sum(CASE WHEN regexp_matches(text,
         |      '(?i)error|fail|exception|timeout') THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_errors,
         |    CAST(sum(CASE WHEN next_tool = tool THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_retries
         |  FROM w GROUP BY 1)
         |SELECT tool, n_calls, n_errors, n_retries,
         |  (n_errors * 2000000 + n_calls) // (2 * n_calls) AS error_e6,
         |  (n_retries * 2000000 + n_calls) // (2 * n_calls) AS retry_e6
         |FROM agg""".stripMargin,

    // incremental near-dup: old snapshot -> capped band index (row_number
    // over band by id, same cap), new snapshot bands -> one band join;
    // the flagged pair set hash-compares via the same sorted string form
    "q_minhash_incremental" ->
      s"""WITH old AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
         |nw AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
         |  UNION ALL
         |  SELECT doc_id + 1000000, text || ' relog' FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id < 100),
         |oreps AS (SELECT min(doc_id) AS doc_id, text FROM old GROUP BY text),
         |osh AS (SELECT doc_id,
         |          list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM oreps),
         |osig AS (SELECT doc_id, $minhashSigSql AS sig FROM osh),
         |obands AS (SELECT doc_id, unnest($bandsSql) AS band FROM osig),
         |oidx AS (
         |  SELECT doc_id, band FROM (
         |    SELECT doc_id, band,
         |      row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn
         |    FROM obands) WHERE rn <= 256),
         |nreps AS (SELECT min(doc_id) AS doc_id, text FROM nw GROUP BY text),
         |nsh AS (SELECT doc_id,
         |          list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM nreps),
         |nsig AS (SELECT doc_id, $minhashSigSql AS sig FROM nsh),
         |nbands AS (SELECT doc_id, unnest($bandsSql) AS band FROM nsig),
         |pairs AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM nbands n JOIN oidx o ON n.band = o.band)
         |SELECT count(*) AS n_pairs,
         |  count(DISTINCT new_id) AS n_new_flagged,
         |  md5(coalesce(string_agg(
         |    CAST(new_id AS VARCHAR) || ':' || CAST(old_id AS VARCHAR), ','
         |    ORDER BY CAST(new_id AS VARCHAR) || ':' || CAST(old_id AS VARCHAR)),
         |    '')) AS pairs_md5
         |FROM pairs""".stripMargin,

    // histogram-CDF quantiles: same width-4 buckets, same integer rank
    // formula (n*p + 99) // 100, same bucket-lower-bound report
    "q_token_quantiles" ->
      s"""$transcriptSql,
         |v AS (
         |  SELECT role AS grp,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len($toks) END AS v
         |  FROM t),
         |b AS (
         |  SELECT grp, CAST(floor(v / 4.0) AS BIGINT) AS bucket,
         |    count(*) AS cnt
         |  FROM v GROUP BY 1, 2),
         |c AS (
         |  SELECT *, sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum,
         |    sum(cnt) OVER (PARTITION BY grp) AS n
         |  FROM b)
         |SELECT grp, CAST(max(n) AS BIGINT) AS n,
         |  CAST(min(CASE WHEN cum >= (n * 50 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p50,
         |  CAST(min(CASE WHEN cum >= (n * 90 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p90,
         |  CAST(min(CASE WHEN cum >= (n * 99 + 99) // 100
         |    THEN bucket * 4 END) AS BIGINT) AS p99
         |FROM c GROUP BY grp""".stripMargin,

    // turn-template heavy hitters: same injection, same normalization
    // chain (DuckDB regexp_replace needs the explicit 'g' flag Spark
    // applies by default), same exact HAVING threshold
    "q_turn_templates" ->
      s"""$transcriptSql,
         |i AS (
         |  SELECT CASE WHEN (conv_id + turn_idx) % 5 = 1 THEN
         |      'Request ' || CAST(conv_id * 100 + turn_idx AS VARCHAR)
         |      || ' completed in ' || CAST(turn_idx * 7 AS VARCHAR) || ' ms'
         |    WHEN (conv_id + turn_idx) % 7 = 2 THEN
         |      'HTTP 404 error fetching page ' || CAST(conv_id AS VARCHAR)
         |    ELSE text END AS text
         |  FROM t),
         |w AS (
         |  SELECT trim(regexp_replace(regexp_replace(lower(text),
         |    '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS tpl
         |  FROM i),
         |n AS (SELECT count(*) AS n FROM w)
         |SELECT tpl AS item, count(*) AS cnt FROM w, n
         |GROUP BY 1, n.n HAVING count(*) > 0.01 * n.n""".stripMargin,

    // SFT pairs: identical frame (UNBOUNDED PRECEDING .. 1 PRECEDING)
    // last-non-null user text + prior-turn count
    "q_sft_pairs" ->
      s"""$transcriptSql,
         |p AS (
         |  SELECT conv_id, turn_idx, role, text,
         |    last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
         |      OVER w AS prompt,
         |    count(*) OVER w AS n_context_turns
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT conv_id, turn_idx, prompt, text AS response,
         |  CAST(n_context_turns AS BIGINT) AS n_context_turns,
         |  CAST(length(prompt) AS BIGINT) AS prompt_chars,
         |  CAST(length(text) AS BIGINT) AS response_chars
         |FROM p
         |WHERE role = 'assistant' AND prompt IS NOT NULL
         |  AND length(text) >= 1""".stripMargin,

    // chat render: same per-turn serialization, order-pinned string_agg
    "q_chat_render" ->
      s"""$transcriptSql,
         |r AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || CASE WHEN tool IS NOT NULL AND tool <> ''
         |        THEN 'tool:' || tool ELSE role END
         |      || '|>' || chr(10) || text || chr(10) || '<|end|>' || chr(10)
         |      AS r
         |  FROM t)
         |SELECT conv_id, count(*) AS n_turns,
         |  CAST(sum(length(r)) AS BIGINT) AS n_chars,
         |  string_agg(r, '' ORDER BY turn_idx) AS text,
         |  md5(string_agg(r, '' ORDER BY turn_idx)) AS digest
         |FROM r GROUP BY 1""".stripMargin,

    // preference pairs: sft prompt derivation + the turn-template
    // normalization, arg_min/arg_max for the rejected/chosen responses
    "q_pref_pairs" ->
      s"""$transcriptSql,
         |p AS (
         |  SELECT conv_id, turn_idx, role, text,
         |    last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
         |      OVER w AS prompt
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |sft AS (
         |  SELECT conv_id, turn_idx, text AS response,
         |    trim(regexp_replace(regexp_replace(lower(prompt),
         |      '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS prompt_tpl
         |  FROM p
         |  WHERE role = 'assistant' AND prompt IS NOT NULL
         |    AND length(text) >= 1)
         |SELECT conv_id, prompt_tpl, count(*) AS n_attempts,
         |  min(turn_idx) AS rejected_turn, max(turn_idx) AS chosen_turn,
         |  arg_min(response, turn_idx) AS rejected,
         |  arg_max(response, turn_idx) AS chosen
         |FROM sft GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // curation e2e: the q_transcript_gate CTE chain -> keep filter ->
    // the q_chat_render serialization over surviving convs -> keep-first
    // digest dedup (QUALIFY row_number)
    "q_curation_e2e" ->
      s"""$transcriptSql,
         |r AS (
         |  SELECT conv_id, turn_idx, role, text, tool,
         |    role || coalesce(tool, '') AS key,
         |    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      - row_number() OVER (PARTITION BY conv_id, role || coalesce(tool, '')
         |                           ORDER BY turn_idx) AS island,
         |    lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_role,
         |    lag(coalesce(tool, '') || text)
         |      OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sig
         |  FROM t),
         |runs AS (
         |  SELECT conv_id, max(run) AS max_run FROM (
         |    SELECT conv_id, key, island, count(*) AS run
         |    FROM r GROUP BY 1, 2, 3) GROUP BY 1),
         |pw AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(CASE WHEN prev_sig IS NOT NULL
         |      AND prev_sig = coalesce(tool, '') || text THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_repeats,
         |    CAST(sum(CASE WHEN prev_role IS NOT NULL
         |      AND prev_role <> role THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
         |  FROM r GROUP BY 1),
         |dd AS (
         |  SELECT conv_id, count(*) AS nt,
         |    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_dup_turns
         |  FROM (SELECT conv_id, row_number() OVER (
         |          PARTITION BY md5(text) ORDER BY conv_id, turn_idx) AS rn
         |        FROM t) GROUP BY 1),
         |keepers AS (
         |  SELECT p.conv_id
         |  FROM pw p JOIN runs USING (conv_id) JOIN dd USING (conv_id)
         |  WHERE p.n_turns >= 3 AND p.n_turns <= 2000
         |    AND runs.max_run <= 4
         |    AND round(p.n_repeats * 1.0 / greatest(p.n_turns - 1, 1), 6) <= 0.4
         |    AND round(p.n_switches * 1.0 / greatest(p.n_turns - 1, 1), 6) >= 0.2
         |    AND round(dd.n_dup_turns * 1.0 / dd.nt, 6) <= 0.5),
         |rr AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || CASE WHEN tool IS NOT NULL AND tool <> ''
         |        THEN 'tool:' || tool ELSE role END
         |      || '|>' || chr(10) || text || chr(10) || '<|end|>' || chr(10)
         |      AS rend
         |  FROM t SEMI JOIN keepers USING (conv_id)),
         |agg AS (
         |  SELECT conv_id, count(*) AS n_turns,
         |    CAST(sum(length(rend)) AS BIGINT) AS n_chars,
         |    md5(string_agg(rend, '' ORDER BY turn_idx)) AS digest
         |  FROM rr GROUP BY 1)
         |SELECT conv_id, n_turns, n_chars, digest FROM agg
         |QUALIFY row_number() OVER (PARTITION BY digest ORDER BY conv_id) = 1""".stripMargin,

    // leakage-proof split: same md5 hex-prefix thresholds interpolated
    // from the same integer formula, same per-split audit aggregates
    "q_split_leakproof" -> {
      val trainThr = f"${90 * 65536 / 100}%04x"
      val valThr = f"${95 * 65536 / 100}%04x"
      s"""$transcriptSql,
         |s AS (
         |  SELECT conv_id, text,
         |    CASE WHEN substr(md5(CAST(conv_id AS VARCHAR)), 1, 4) < '$trainThr'
         |           THEN 'train'
         |         WHEN substr(md5(CAST(conv_id AS VARCHAR)), 1, 4) < '$valThr'
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM t)
         |SELECT split, count(DISTINCT conv_id) AS n_convs, count(*) AS n_turns,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         |FROM s GROUP BY 1""".stripMargin
    },

    // rejection sampling: the q_sft_pairs prompt derivation, the
    // q_turn_templates normalization, the q_quality composite as reward
    // (same 6-decimal ratio rounding), argmax by (reward, turn_idx)
    "q_reject_sample" -> {
      val stop = graft.ops.TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val rtoks = "string_split_regex(trim(response), '\\s+')"
      s"""$transcriptSql,
         |p AS (
         |  SELECT conv_id, turn_idx, role, text,
         |    last_value(CASE WHEN role = 'user' THEN text END IGNORE NULLS)
         |      OVER w AS prompt
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |sft AS (
         |  SELECT conv_id, turn_idx, text AS response,
         |    trim(regexp_replace(regexp_replace(lower(prompt),
         |      '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS prompt_tpl
         |  FROM p
         |  WHERE role = 'assistant' AND prompt IS NOT NULL
         |    AND length(text) >= 1),
         |b AS (
         |  SELECT *, length(response) AS n_chars,
         |    CASE WHEN length(trim(response)) = 0 THEN 0
         |      ELSE len($rtoks) END AS n_words,
         |    len(regexp_extract_all(response, '[^A-Za-z0-9\\s]')) AS n_punct,
         |    len(regexp_extract_all(response, '[A-Za-z]')) AS n_alpha,
         |    len(list_filter($rtoks, w -> list_contains($stop, w))) AS n_stop
         |  FROM sft),
         |q AS (
         |  SELECT conv_id, turn_idx, prompt_tpl, n_chars,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |      ELSE 0.0 END AS punct_ratio,
         |    CASE WHEN n_chars > 0
         |      THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |      ELSE 0.0 END AS alpha_ratio,
         |    CASE WHEN n_words > 0
         |      THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |      ELSE 0.0 END AS stopword_ratio
         |  FROM b),
         |r AS (
         |  SELECT conv_id, prompt_tpl, turn_idx, n_chars,
         |    round(greatest(0.0, least(1.0,
         |      alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |      (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS reward
         |  FROM q),
         |w2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY conv_id, prompt_tpl
         |      ORDER BY reward DESC, turn_idx DESC) AS rn,
         |    count(*) OVER (PARTITION BY conv_id, prompt_tpl) AS n
         |  FROM r)
         |SELECT conv_id, prompt_tpl, CAST(n AS BIGINT) AS n_candidates,
         |  turn_idx AS chosen_turn, reward,
         |  CAST(n_chars AS BIGINT) AS response_chars
         |FROM w2 WHERE rn = 1""".stripMargin
    },

    // length-bucketed batching: same power-of-two bucket (bit length via
    // bin()), same conv-hash shard, same longest-first shard-local
    // batch numbering and padding-waste audit
    "q_batch_pack" ->
      s"""$transcriptSql,
         |tok AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN trim(text) = '' THEN 0
         |      ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
         |  FROM t),
         |bk AS (
         |  SELECT *,
         |    CAST(least(16, length(bin(greatest(n_tokens, 1)))) AS INT) AS bucket,
         |    CAST(conv_id % 4 AS INT) AS shard
         |  FROM tok),
         |w AS (
         |  SELECT bucket, shard, n_tokens,
         |    CAST((row_number() OVER (PARTITION BY bucket, shard
         |      ORDER BY n_tokens DESC, conv_id, turn_idx) - 1) // 16 AS BIGINT)
         |      AS batch
         |  FROM bk),
         |g AS (
         |  SELECT bucket, shard, batch, count(*) AS n,
         |    max(n_tokens) AS max_len, sum(n_tokens) AS toks
         |  FROM w GROUP BY 1, 2, 3)
         |SELECT bucket, CAST(sum(n) AS BIGINT) AS n_samples,
         |  count(*) AS n_batches,
         |  CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |  CAST(sum(n * max_len) AS BIGINT) AS padded_tokens,
         |  round(CAST(sum(n * max_len) - sum(toks) AS DOUBLE)
         |    / sum(n * max_len), 6) AS waste_pct
         |FROM g GROUP BY 1""".stripMargin,

    // conversation retrieval: the q_conv_embedding pooling, then integer
    // dots/norms and the identical IEEE expression tree for cosine
    "q_conv_retrieval" ->
      """WITH x AS (
        |  SELECT vec_id % 50 AS conv_id, CAST(i AS INT) - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
        |cv AS (
        |  SELECT conv_id, dim,
        |    CAST(CAST(sum(q) AS BIGINT) // count(*) AS BIGINT) AS mean_e6
        |  FROM x GROUP BY 1, 2),
        |norms AS (
        |  SELECT conv_id, CAST(sum(mean_e6 * mean_e6) AS BIGINT) AS norm
        |  FROM cv GROUP BY 1),
        |dots AS (
        |  SELECT c.conv_id, CAST(sum(c.mean_e6 * q.mean_e6) AS BIGINT) AS dot
        |  FROM cv c JOIN cv q ON c.dim = q.dim AND q.conv_id = 0
        |  WHERE c.conv_id <> 0 GROUP BY 1)
        |SELECT d.conv_id, d.dot,
        |  CAST(floor(CAST(d.dot AS DOUBLE)
        |    / (sqrt(CAST(n.norm AS DOUBLE)) * sqrt(CAST(qn.norm AS DOUBLE)))
        |    * 1000000 + 0.5) AS BIGINT) AS cosine_e6
        |FROM dots d JOIN norms n USING (conv_id),
        |  (SELECT norm FROM norms WHERE conv_id = 0) qn
        |ORDER BY cosine_e6 DESC, d.conv_id LIMIT 8""".stripMargin,

    // conversation near-dup: the q_dedup_minhash machinery over the
    // turn-joined conversation text (same exact-dup collapse, signature
    // fragments, and hot-band cap)
    "q_conv_neardup" ->
      s"""$transcriptSql,
         |cd AS (
         |  SELECT conv_id AS doc_id,
         |    string_agg(CASE WHEN turn_idx = 9
         |        THEN text || ' tail-' || CAST(conv_id AS VARCHAR)
         |        ELSE text END, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t GROUP BY 1),
         |reps AS (SELECT min(doc_id) AS doc_id, text FROM cd GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |sig AS (SELECT doc_id, $minhashSigSql AS sig FROM sh),
         |bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM sig),
         |ranked AS (SELECT doc_id, band,
         |             row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn,
         |             min(doc_id) OVER (PARTITION BY band) AS anchor
         |           FROM bands),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM ranked l JOIN ranked r ON l.band = r.band AND l.doc_id < r.doc_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION
         |  SELECT anchor AS a, doc_id AS b FROM ranked WHERE rn > 256)
         |SELECT DISTINCT a, b FROM pairs""".stripMargin,

    // conversation embedding pooling: same quantize-then-sum integer
    // arithmetic; UNNEST WITH ORDINALITY replicates posexplode's dim index
    "q_conv_embedding" ->
      """WITH x AS (
        |  SELECT vec_id % 50 AS conv_id, CAST(i AS INT) - 1 AS dim,
        |    CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
        |  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
        |g AS (
        |  SELECT conv_id, dim, CAST(sum(q) AS BIGINT) AS sum_e6,
        |    count(*) AS n_turns
        |  FROM x GROUP BY 1, 2)
        |SELECT conv_id, dim, sum_e6, n_turns,
        |  CAST(sum_e6 // n_turns AS BIGINT) AS mean_e6
        |FROM g""".stripMargin,

    // sessionization: same gaps-and-islands arithmetic over the same
    // derived epoch-micros column
    "q_transcript_sessions" ->
      s"""$transcriptSql,
         |tse AS (
         |  SELECT *, (1700000000 + turn_idx * 30
         |    + 3600 * (turn_idx // (2 + conv_id % 3))) * 1000000 AS ep
         |  FROM t),
         |b AS (
         |  SELECT *, CASE WHEN lag(ep) OVER w IS NOT NULL
         |    AND ep - lag(ep) OVER w > 600000000 THEN 1 ELSE 0 END AS brk
         |  FROM tse WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |s AS (
         |  SELECT *, CAST(sum(brk) OVER (PARTITION BY conv_id
         |    ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS session_idx
         |  FROM b)
         |SELECT conv_id, session_idx, count(*) AS n_turns,
         |  min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
         |  CAST(min(ep) AS BIGINT) AS start_epoch_us,
         |  CAST(max(ep) AS BIGINT) AS end_epoch_us,
         |  CAST(max(ep) - min(ep) AS BIGINT) AS duration_us
         |FROM s GROUP BY 1, 2""".stripMargin,

    // tool transitions: lag edges + integer-exact e6 conditional
    // probability ((n*2e6 + total) // (2*total) = half-up rounding)
    "q_tool_transitions" ->
      s"""$transcriptSql,
         |t2 AS (
         |  SELECT conv_id, turn_idx,
         |    coalesce(CASE WHEN turn_idx % 5 = 4 THEN
         |        (CASE (conv_id + turn_idx) % 3 WHEN 0 THEN 'search'
         |         WHEN 1 THEN 'browse' ELSE 'code' END)
         |      WHEN turn_idx % 5 IN (2, 3) AND turn_idx % 2 = 0 THEN 'plan'
         |      ELSE NULL END, '') AS sig
         |  FROM t),
         |e AS (
         |  SELECT sig AS to_tool,
         |    lag(sig) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS from_tool
         |  FROM t2),
         |g AS (
         |  SELECT from_tool, to_tool, count(*) AS n
         |  FROM e WHERE from_tool IS NOT NULL GROUP BY 1, 2),
         |w AS (
         |  SELECT *, CAST(sum(n) OVER (PARTITION BY from_tool) AS BIGINT)
         |    AS from_total FROM g)
         |SELECT from_tool, to_tool, n, from_total,
         |  CAST((n * 2000000 + from_total) // (2 * from_total) AS BIGINT)
         |    AS prob_e6
         |FROM w""".stripMargin,

    // shared prefixes: list-slice prefix digests, (depth, digest) counts,
    // deepest shared depth + sharing count per conversation
    "q_shared_prefix" ->
      s"""$transcriptSql,
         |t2 AS (
         |  SELECT conv_id, turn_idx,
         |    CASE WHEN turn_idx = 0 THEN 'SYSTEM: you are a helpful agent'
         |         ELSE text END AS text
         |  FROM t),
         |lst AS (
         |  SELECT conv_id, list(text ORDER BY turn_idx) AS texts
         |  FROM t2 GROUP BY 1),
         |pd AS (
         |  SELECT conv_id, CAST(k AS BIGINT) AS prefix_depth,
         |    md5(array_to_string(texts[1:k], e'\\n')) AS prefix_md5
         |  FROM lst, UNNEST(generate_series(1, least(8, len(texts)))) AS u(k)),
         |cnt AS (
         |  SELECT prefix_depth, prefix_md5, count(*) AS n_convs
         |  FROM pd GROUP BY 1, 2)
         |SELECT conv_id,
         |  CAST(coalesce(max(CASE WHEN n_convs >= 2 THEN prefix_depth END), 0)
         |    AS BIGINT) AS max_shared_depth,
         |  CAST(coalesce(max_by(n_convs,
         |      CASE WHEN n_convs >= 2 THEN prefix_depth END), 1)
         |    AS BIGINT) AS n_convs_at_max
         |FROM pd JOIN cnt USING (prefix_depth, prefix_md5) GROUP BY 1""".stripMargin,

    // heavy hitters: the deterministic final answer is plain exact SQL —
    // the MG sketch only bounds state, the verify pass restores exactness
    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT text || ' hot'
        |    || (CASE WHEN doc_id % 3 = 0 THEN ' warm' ELSE '' END)
        |    || ' tail' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents),
        |w AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w FROM t),
        |n AS (SELECT count(*) AS n FROM w)
        |SELECT w AS item, count(*) AS cnt FROM w, n
        |GROUP BY 1, n.n HAVING count(*) > 0.01 * n.n""".stripMargin,

    // count-min: the d x w matrix is a bounded group-by over the same
    // md5/conv buckets; estimates = min over the d rows
    "q_countmin" ->
      """WITH wds AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
        |  FROM documents),
        |probes AS (SELECT DISTINCT w FROM wds ORDER BY w LIMIT 20),
        |pos AS (
        |  SELECT w, r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 15)
        |         AS BIGINT) % 1024 AS bucket
        |  FROM wds, range(4) t(r)),
        |matrix AS (SELECT r, bucket, count(*) AS cnt FROM pos GROUP BY 1, 2),
        |ppos AS (
        |  SELECT w, r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || w), 1, 15)
        |         AS BIGINT) % 1024 AS bucket
        |  FROM probes, range(4) t(r)),
        |est AS (
        |  SELECT p.w AS item, min(coalesce(m.cnt, 0)) AS est
        |  FROM ppos p LEFT JOIN matrix m ON m.r = p.r AND m.bucket = p.bucket
        |  GROUP BY 1),
        |ex AS (SELECT w AS item, count(*) AS exact FROM wds GROUP BY 1)
        |SELECT e.item, CAST(e.est AS BIGINT) AS est,
        |  coalesce(ex.exact, 0) AS exact
        |FROM est e LEFT JOIN ex ON ex.item = e.item""".stripMargin,

    // deterministic HLL: registers, exact-integer harmonic numerator, and
    // the estimate formula (verbatim op order) all replicated in SQL
    "q_hll_distinct" ->
      """WITH h AS (SELECT source, md5(text) AS x FROM documents),
        |r AS (SELECT source,
        |        (CAST('0x' || substr(x, 1, 3) AS INT) % 512) AS reg,
        |        CAST('0x' || substr(x, 4, 13) AS BIGINT) AS w FROM h),
        |mx AS (SELECT source, reg,
        |         max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS mj
        |       FROM r GROUP BY 1, 2),
        |g AS (SELECT DISTINCT source FROM h),
        |regs AS (
        |  SELECT g.source, t.i AS reg, coalesce(mx.mj, 0) AS mj
        |  FROM g CROSS JOIN range(512) t(i)
        |  LEFT JOIN mx ON mx.source = g.source AND mx.reg = t.i),
        |agg AS (
        |  SELECT source,
        |    count(*) FILTER (WHERE mj = 0) AS n_zero,
        |    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT) AS sum_pow,
        |    md5(string_agg(CAST(mj AS VARCHAR), ',' ORDER BY reg)) AS registers_md5
        |  FROM regs GROUP BY 1),
        |est AS (
        |  SELECT source, n_zero, sum_pow, registers_md5,
        |    0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0
        |      * 9007199254740992.0 / CAST(sum_pow AS DOUBLE) AS raw
        |  FROM agg),
        |ex AS (SELECT source, count(DISTINCT text) AS exact_distinct
        |       FROM documents GROUP BY 1)
        |SELECT e.source, CAST(e.n_zero AS BIGINT) AS n_zero, e.sum_pow,
        |  e.registers_md5,
        |  CASE WHEN e.raw <= 2.5 * 512.0 AND e.n_zero > 0
        |       THEN round(512.0 * ln(512.0 / e.n_zero), 6)
        |       ELSE round(e.raw, 6) END AS estimate,
        |  ex.exact_distinct
        |FROM est e JOIN ex ON ex.source = e.source""".stripMargin,

    // the hot-band cap (256) is replicated: all-pairs among the first 256
    // per band + one star edge to the band anchor for every member beyond
    "q_dedup_minhash" ->
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id, text
         |              FROM documents GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |sig AS (SELECT doc_id, $minhashSigSql AS sig FROM sh),
         |bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM sig),
         |ranked AS (SELECT doc_id, band,
         |             row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn,
         |             min(doc_id) OVER (PARTITION BY band) AS anchor
         |           FROM bands),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM ranked l JOIN ranked r ON l.band = r.band AND l.doc_id < r.doc_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION
         |  SELECT anchor AS a, doc_id AS b FROM ranked WHERE rn > 256)
         |SELECT count(*) AS n FROM (SELECT DISTINCT a, b FROM pairs)""".stripMargin,

    // chunk-level candidate generation with the hot-chunk-group cap (256)
    // replicated exactly like q_dedup_minhash's band cap
    "q_dedup_simhash" ->
      s"""WITH reps AS (SELECT min(doc_id) AS id, text
         |              FROM documents WHERE doc_id < 5000 GROUP BY text),
         |hs AS (SELECT id,
         |         list_transform(list_filter(string_split_regex(text, '\\s+'),
         |                                    x -> len(x) > 0),
         |           t -> CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT)) AS hl
         |       FROM reps),
         |sims AS (SELECT id, CAST(COALESCE(list_sum(list_transform(range(0, 64), b ->
         |           CASE WHEN COALESCE(list_sum(list_transform(hl,
         |                  h -> CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
         |                            THEN 1 ELSE -1 END)), 0) > 0
         |                THEN CAST(1 AS UBIGINT) << CAST(b AS INT)
         |                ELSE CAST(0 AS UBIGINT) END)),
         |           0) AS UBIGINT) AS sim
         |         FROM hs),
         |chunksq AS (SELECT id, sim, t.c AS chunk,
         |              (sim >> (t.c * 16)) & 65535 AS bits
         |            FROM sims CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) t),
         |ranked AS (SELECT id, sim, chunk, bits,
         |             row_number() OVER (PARTITION BY chunk, bits ORDER BY id) AS rn,
         |             min(id) OVER (PARTITION BY chunk, bits) AS anchor,
         |             first_value(sim) OVER (PARTITION BY chunk, bits ORDER BY id) AS anchor_sim
         |           FROM chunksq),
         |cand AS (
         |  SELECT l.id AS a, r.id AS b, l.sim AS sa, r.sim AS sb
         |  FROM ranked l JOIN ranked r
         |    ON l.chunk = r.chunk AND l.bits = r.bits AND l.id < r.id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION
         |  SELECT anchor AS a, id AS b, anchor_sim AS sa, sim AS sb
         |  FROM ranked WHERE rn > 256),
         |dcand AS (SELECT DISTINCT a, b, sa, sb FROM cand)
         |SELECT count(*) AS n FROM dcand WHERE bit_count(xor(sa, sb)) <= 16""".stripMargin,

    // hot-bucket cap (256) replicated: all-pairs among the first 256 per
    // sig bucket + one star edge to the bucket anchor beyond (pairs are
    // unique — one sig per row — so UNION ALL, no dedup needed)
    "q_embedding_neardup" -> {
      val sig = sigSql("embedding", 6, 64)
      val cos = cosineSql("ea", "eb")
      s"""WITH sigs AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
         |ranked AS (SELECT vec_id, embedding, sig,
         |             row_number() OVER (PARTITION BY sig ORDER BY vec_id) AS rn,
         |             min(vec_id) OVER (PARTITION BY sig) AS anchor,
         |             first_value(embedding) OVER (PARTITION BY sig ORDER BY vec_id)
         |               AS anchor_emb
         |           FROM sigs),
         |cand AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |         l.embedding AS ea, r.embedding AS eb
         |  FROM ranked l JOIN ranked r ON l.sig = r.sig AND l.vec_id < r.vec_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION ALL
         |  SELECT anchor AS a, vec_id AS b, anchor_emb AS ea, embedding AS eb
         |  FROM ranked WHERE rn > 256),
         |pairs AS (SELECT $cos AS cosine FROM cand)
         |SELECT count(*) AS n,
         |       CAST(COALESCE(SUM(CAST(trunc(cosine * 1000000) AS BIGINT)), 0) AS BIGINT)
         |         AS sum_cos_e6
         |FROM pairs WHERE cosine >= 0.25""".stripMargin
    },

    "q_ann_lsh" -> {
      val sig = sigSql("embedding", 6, 64)
      val cos = cosineSql("d.embedding", "(SELECT qv FROM q)")
      s"""WITH q AS (SELECT embedding AS qv, $sig AS qsig
         |           FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT vec_id, embedding, $sig AS sig
         |      FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, $cos AS cosine
         |FROM d WHERE bit_count(xor(d.sig, (SELECT qsig FROM q))) <= 1
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    // same result set as q_ann_lsh — membership in the probe-bucket set
    // (exact + hamming-1 multiprobe) is exactly hamming(sig, qsig) <= 1
    "q_ann_indexed" -> {
      val sig = sigSql("embedding", 6, 64)
      val cos = cosineSql("d.embedding", "(SELECT qv FROM q)")
      s"""WITH q AS (SELECT embedding AS qv, $sig AS qsig
         |           FROM embeddings WHERE vec_id = 0),
         |d AS (SELECT vec_id, embedding, $sig AS sig
         |      FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, $cos AS cosine
         |FROM d WHERE bit_count(xor(d.sig, (SELECT qsig FROM q))) <= 1
         |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    // the q_kmeans Lloyd unroll restricted to the candidate set
    // (vec_id <> 0), then: query->centroid distances by the same ordered
    // fold + e6 quantization, top-2 probe lists (tie to lower cluster),
    // exact cosine over the probed lists only
    "q_ann_ivf" -> {
      val cos = cosineSql("e0.embedding", "(SELECT qv FROM qraw)")
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings WHERE vec_id <> 0),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |a0 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c0 c),
         |asg0 AS (SELECT vec_id, cl, dist_e6 FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a0)
         |         WHERE rn = 1),
         |dims AS (SELECT a.cl, unnest(e.v) AS x,
         |                unnest(range(1, len(e.v)+1)) AS i
         |         FROM asg0 a JOIN e ON a.vec_id = e.vec_id),
         |m1 AS (SELECT cl, i, round(sum(x) / count(*), 6) AS m
         |       FROM dims GROUP BY cl, i),
         |c1 AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
         |c1f AS (SELECT c0.cl, coalesce(c1.v, c0.v) AS v
         |        FROM c0 LEFT JOIN c1 ON c0.cl = c1.cl),
         |a1 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c1f c),
         |asg1 AS (SELECT vec_id, cl FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a1)
         |         WHERE rn = 1),
         |qraw AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |qd AS (SELECT list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM qraw),
         |cd AS (SELECT c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(c.v)+1),
         |                i -> (q.v[i] - c.v[i]) * (q.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM c1f c CROSS JOIN qd q),
         |probes AS (SELECT cl FROM
         |            (SELECT cl, row_number() OVER
         |               (ORDER BY dist_e6 ASC, cl ASC) rn FROM cd)
         |           WHERE rn <= 2)
         |SELECT e0.vec_id, a.cl AS cluster, $cos AS cosine
         |FROM embeddings e0 JOIN asg1 a ON e0.vec_id = a.vec_id
         |WHERE a.cl IN (SELECT cl FROM probes)
         |ORDER BY cosine DESC, e0.vec_id ASC LIMIT 10""".stripMargin
    },

    "q_multimodal_decode" ->
      s"""WITH f AS (SELECT doc_id, $fnvSql AS h FROM documents),
         |d AS (SELECT doc_id,
         |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
         |                  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
         |             least(CAST(1 + ((h >> 20) % 32) AS BIGINT), 4) AS n_sampled
         |      FROM f)
         |SELECT media_type, CAST(SUM(n_sampled) AS BIGINT) AS n_frames_sampled,
         |       count(DISTINCT doc_id) AS n_docs
         |FROM d GROUP BY media_type""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH sh AS (SELECT doc_id, unnest($shinglesSql) AS s
         |           FROM documents WHERE doc_id < 5000),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
         |          FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id GROUP BY 1, 2),
         |j AS (SELECT round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jac
         |      FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |                 JOIN sizes sb ON inter.b = sb.doc_id)
         |SELECT count(*) AS n,
         |       CAST(COALESCE(SUM(CAST(jac * 1000000 AS BIGINT)), 0) AS BIGINT) AS sum_jaccard_e6
         |FROM j WHERE jac >= 0.05""".stripMargin,

    "q_ann_brute" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT vec_id,
        |             list_sum(list_transform(list_zip(embedding, (SELECT qv FROM q)),
        |               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
        |             sqrt(list_sum(list_transform(embedding,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
        |             (SELECT sqrt(list_sum(list_transform(qv,
        |               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) FROM q) AS nb
        |      FROM embeddings WHERE vec_id <> 0)
        |SELECT vec_id, round(dot / (na * nb), 6) AS cosine
        |FROM d ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_token_counts" ->
      s"""SELECT doc_id,
         |       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END AS ws_tokens,
         |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_tokens
         |FROM documents""".stripMargin,

    "q_quality" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH b AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END AS n_words,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         |         len(list_filter($toks, w -> list_contains($stop, w))) AS n_stop
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, n_chars, n_words,
         |         CASE WHEN n_words > 0
         |              THEN round(CAST(n_chars - (n_words - 1) AS DOUBLE) / n_words, 4)
         |              ELSE 0.0 END AS avg_word_len,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS alpha_ratio,
         |         CASE WHEN n_words > 0 THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |              ELSE 0.0 END AS stopword_ratio
         |  FROM b)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
         |       avg_word_len, punct_ratio, alpha_ratio, stopword_ratio,
         |       round(greatest(0.0, least(1.0,
         |         alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |         (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS quality_score
         |FROM r""".stripMargin
    },

    "q_lang_id" -> {
      val (best, kase) = langCase
      s"""SELECT lang_pred, count(*) AS n FROM (
         |  SELECT $kase AS lang_pred FROM (
         |    SELECT text, $best AS __best FROM documents))
         |GROUP BY 1""".stripMargin
    },

    "q_doc_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",

    // 5-gram shingle overlap vs the doc_id%97 "benchmark" slice
    "q_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len($toks) >= 5
         |      THEN list_distinct(list_transform(generate_series(1, len($toks) - 4),
         |           i -> array_to_string(($toks)[i:i+4], ' ')))
         |      ELSE [array_to_string($toks, ' ')] END) AS shingle
         |  FROM documents
         |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         |SELECT s.doc_id, count(*) AS n_hits
         |FROM sh s JOIN bench USING (shingle) GROUP BY 1""".stripMargin,

    // staged PII redaction over the deterministically injected text; the
    // regexes interpolate from Curation.piiPatterns so the two engines run
    // the SAME pattern strings (Java-regex ∩ RE2 subset)
    "q_pii_redact" -> {
      val Seq(email, ipv4, phone, ssn) = graft.ops.Curation.piiPatterns.map(_._2)
      s"""WITH t0 AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS s0
         |  FROM documents
         |), t1 AS (SELECT doc_id, s0, regexp_replace(s0, '$email', '<EMAIL>', 'g') AS s1 FROM t0),
         |t2 AS (SELECT *, regexp_replace(s1, '$ipv4', '<IP>', 'g') AS s2 FROM t1),
         |t3 AS (SELECT *, regexp_replace(s2, '$phone', '<PHONE>', 'g') AS s3 FROM t2)
         |SELECT doc_id,
         |  len(regexp_extract_all(s0, '$email')) AS n_email,
         |  len(regexp_extract_all(s1, '$ipv4')) AS n_ipv4,
         |  len(regexp_extract_all(s2, '$phone')) AS n_phone,
         |  len(regexp_extract_all(s3, '$ssn')) AS n_ssn,
         |  md5(regexp_replace(s3, '$ssn', '<SSN>', 'g')) AS redacted_md5
         |FROM t3""".stripMargin
    },

    // 10-token chunk paragraphs -> keep-first dedup window -> per-doc rebuild
    "q_para_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         |p AS (
         |  SELECT doc_id, i AS para_idx,
         |         array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS para
         |  FROM t, unnest(range(CAST(ceil(len(toks)/10.0) AS BIGINT))) AS u(i)
         |),
         |k AS (
         |  SELECT doc_id, para_idx, para,
         |    row_number() OVER (PARTITION BY para ORDER BY doc_id, para_idx) AS rn
         |  FROM p WHERE para <> ''
         |)
         |SELECT doc_id, count(*) AS n_paras,
         |  md5(string_agg(para, e'\\n\\n' ORDER BY para_idx)) AS rebuilt_md5
         |FROM k WHERE rn = 1 GROUP BY 1""".stripMargin,

    // Gopher repetition signals: 3-word injected lines + word n-gram stats
    "q_gopher_repetition" -> {
      def grams(n: Int) =
        s"""g$n AS (
           |  SELECT doc_id, unnest(list_transform(range(1, len(ws)-$n+2),
           |           i -> array_to_string(ws[i:i+${n - 1}], ' '))) AS g
           |  FROM lined WHERE len(ws) >= $n),
           |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY doc_id, g)"""
          .stripMargin
      def top(n: Int) =
        s"""t$n AS (
           |  SELECT doc_id, c, length(g) - ${n - 1} AS gchars
           |  FROM (SELECT doc_id, g, c,
           |          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g ASC) AS rn
           |        FROM c$n) x WHERE rn = 1)""".stripMargin
      def dup(n: Int) =
        s"""d$n AS (
           |  SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
           |         sum(c) AS pos
           |  FROM c$n GROUP BY doc_id)""".stripMargin
      val rep = " repeat alpha beta gamma delta" * 3
      s"""WITH injected AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || '$rep'
         |                      ELSE text END AS text
         |  FROM documents),
         |lined AS (
         |  SELECT doc_id,
         |    regexp_replace(text, '(\\S+ \\S+ \\S+) ', '\\1' || chr(10), 'g') AS t,
         |    $toks AS ws,
         |    length(regexp_replace(text, '\\s+', '', 'g')) AS wchars
         |  FROM injected),
         |lns AS (
         |  SELECT doc_id, trim(l) AS line
         |  FROM (SELECT doc_id, unnest(string_split(t, chr(10))) AS l FROM lined)
         |  WHERE length(trim(l)) > 0),
         |lgrp AS (SELECT doc_id, line, count(*) AS c, length(line) AS ln
         |         FROM lns GROUP BY doc_id, line),
         |lstat AS (SELECT doc_id, sum(c) AS n_lines, count(*) AS n_distinct,
         |                 sum(c*ln) AS tot_chars, sum((c-1)*ln) AS dup_chars
         |          FROM lgrp GROUP BY doc_id),
         |${grams(2)},
         |${grams(3)},
         |${grams(4)},
         |${grams(5)},
         |${grams(10)},
         |${top(2)},
         |${top(3)},
         |${top(4)},
         |${dup(5)},
         |${dup(10)}
         |SELECT l.doc_id,
         |  CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
         |  CASE WHEN coalesce(ls.n_lines, 0) > 0
         |       THEN round((ls.n_lines - ls.n_distinct) / CAST(ls.n_lines AS DOUBLE), 6)
         |       ELSE 0.0 END AS dup_line_frac,
         |  CASE WHEN coalesce(ls.n_lines, 0) > 0
         |       THEN round(ls.dup_chars / CAST(ls.tot_chars AS DOUBLE), 6)
         |       ELSE 0.0 END AS dup_line_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t2.c * CAST(t2.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_2gram_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t3.c * CAST(t3.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_3gram_char_frac,
         |  CASE WHEN l.wchars > 0
         |       THEN coalesce(round(t4.c * CAST(t4.gchars AS DOUBLE) / l.wchars, 6), 0.0)
         |       ELSE 0.0 END AS top_4gram_char_frac,
         |  coalesce(round(d5.dup / CAST(d5.pos AS DOUBLE), 6), 0.0) AS dup_5gram_frac,
         |  coalesce(round(d10.dup / CAST(d10.pos AS DOUBLE), 6), 0.0) AS dup_10gram_frac
         |FROM lined l
         |LEFT JOIN lstat ls ON l.doc_id = ls.doc_id
         |LEFT JOIN t2 ON l.doc_id = t2.doc_id
         |LEFT JOIN t3 ON l.doc_id = t3.doc_id
         |LEFT JOIN t4 ON l.doc_id = t4.doc_id
         |LEFT JOIN d5 ON l.doc_id = d5.doc_id
         |LEFT JOIN d10 ON l.doc_id = d10.doc_id""".stripMargin
    },

    // bigram-LM training + scoring replicated end-to-end in SQL; the per-term
    // e6 fixed-point quantization makes doc sums exact integers both sides
    "q_lm_perplexity" ->
      s"""WITH toks AS (SELECT doc_id, $toks AS ws FROM documents),
         |pos AS (SELECT doc_id, unnest(ws) AS w,
         |               unnest(range(1, len(ws)+1)) AS i FROM toks),
         |uni AS (SELECT w, count(*) AS c FROM pos WHERE length(w) > 0 GROUP BY w),
         |vocab AS (SELECT w FROM uni ORDER BY c DESC, w ASC LIMIT 20),
         |m AS (SELECT p.doc_id, p.i,
         |             CASE WHEN v.w IS NOT NULL THEN p.w ELSE '<unk>' END AS mw,
         |             CASE WHEN v.w IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM pos p LEFT JOIN vocab v ON p.w = v.w
         |      WHERE length(p.w) > 0),
         |umap AS (SELECT mw, count(*) AS cu FROM m GROUP BY mw),
         |big AS (SELECT a.doc_id, a.mw AS w1, b.mw AS w2
         |        FROM m a JOIN m b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
         |bcnt AS (SELECT w1, w2, count(*) AS cb FROM big GROUP BY w1, w2
         |         ORDER BY count(*) DESC, w1 ASC, w2 ASC LIMIT 10000),
         |vn AS (SELECT count(*) + 1 AS vtot FROM vocab),
         |terms AS (
         |  SELECT g.doc_id,
         |    CAST(round(log2((coalesce(t.cb, 0) + 1.0) / (u.cu + vn.vtot)) * 1e6, 0)
         |         AS BIGINT) AS lp
         |  FROM big g
         |  LEFT JOIN bcnt t ON g.w1 = t.w1 AND g.w2 = t.w2
         |  JOIN umap u ON u.mw = g.w1
         |  CROSS JOIN vn),
         |agg AS (SELECT doc_id, count(*) AS nb, sum(lp) AS slp
         |        FROM terms GROUP BY doc_id),
         |stats AS (SELECT doc_id, count(*) AS n_tokens, sum(oov) AS n_oov
         |          FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(st.n_tokens, 0) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(st.n_oov, 0) AS BIGINT) AS n_oov,
         |  CAST(coalesce(a.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.slp, 0) AS BIGINT) AS sum_logp_e6,
         |  CASE WHEN coalesce(a.nb, 0) > 0
         |       THEN round(pow(2.0, -CAST(a.slp AS DOUBLE) / (a.nb * 1e6)), 4)
         |       ELSE 0.0 END AS ppl
         |FROM documents d
         |LEFT JOIN stats st ON d.doc_id = st.doc_id
         |LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // NB training AND scoring replicated end-to-end: class priors, top-24
    // vocab, per-(class, token) Laplace log-likelihoods — every log
    // quantized to e6 BIGINT before the per-doc integer sum, argmax ties
    // label-ascending, margin = best - runner-up
    "q_nb_classify" ->
      s"""WITH cls AS (SELECT lang AS c, count(*) AS n FROM documents GROUP BY lang),
         |prior AS (SELECT c, CAST(round(ln(n * 1.0 / (SELECT sum(n) FROM cls))
         |            / ln(2) * 1e6, 0) AS BIGINT) AS p FROM cls),
         |tok AS (SELECT doc_id, lang,
         |          unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |                 x -> len(x) > 0)) AS w
         |        FROM documents),
         |vocab AS (SELECT w FROM (SELECT w, count(*) AS n FROM tok GROUP BY w
         |                         ORDER BY n DESC, w ASC LIMIT 24)),
         |mapped AS (SELECT doc_id, lang,
         |             CASE WHEN w IN (SELECT w FROM vocab) THEN w
         |                  ELSE '<unk>' END AS wm FROM tok),
         |cc AS (SELECT lang AS c, wm, count(*) AS cnt FROM mapped GROUP BY 1, 2),
         |ctot AS (SELECT c, sum(cnt) AS t FROM cc GROUP BY c),
         |doctok AS (SELECT doc_id, wm, count(*) AS k FROM mapped
         |           GROUP BY doc_id, wm),
         |pairs AS (SELECT dt.doc_id, cl.c, dt.k,
         |            CAST(round(ln((coalesce(cc.cnt, 0) + 1.0) / (ct.t + 25))
         |              / ln(2) * 1e6, 0) AS BIGINT) AS lp
         |          FROM doctok dt CROSS JOIN cls cl
         |          LEFT JOIN cc ON cc.c = cl.c AND cc.wm = dt.wm
         |          JOIN ctot ct ON ct.c = cl.c),
         |score AS (SELECT d.doc_id, p.c, p.p + coalesce(s.s, 0) AS sc
         |          FROM (SELECT doc_id FROM documents) d
         |          CROSS JOIN prior p
         |          LEFT JOIN (SELECT doc_id, c, sum(k * lp) AS s FROM pairs
         |                     GROUP BY doc_id, c) s
         |            ON s.doc_id = d.doc_id AND s.c = p.c),
         |rank AS (SELECT doc_id, c, sc,
         |           row_number() OVER (PARTITION BY doc_id
         |             ORDER BY sc DESC, c ASC) AS rn,
         |           lead(sc) OVER (PARTITION BY doc_id
         |             ORDER BY sc DESC, c ASC) AS sc2
         |         FROM score),
         |ntok AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, CAST(coalesce(nt.n, 0) AS BIGINT) AS n_tokens,
         |       r.c AS pred, CAST(r.sc AS BIGINT) AS score_e6,
         |       CAST(r.sc - coalesce(r.sc2, r.sc) AS BIGINT) AS margin_e6
         |FROM documents d
         |JOIN rank r ON r.doc_id = d.doc_id AND r.rn = 1
         |LEFT JOIN ntok nt ON nt.doc_id = d.doc_id""".stripMargin,

    // two unrolled Lloyd iterations; distances are bit-identical doubles
    // (ordered fold over float->double exact / 6-decimal-quantized
    // centroids), so the argmin compares exact e6 integers
    "q_kmeans" ->
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |a0 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c0 c),
         |asg0 AS (SELECT vec_id, cl, dist_e6 FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a0)
         |         WHERE rn = 1),
         |dims AS (SELECT a.cl, unnest(e.v) AS x,
         |                unnest(range(1, len(e.v)+1)) AS i
         |         FROM asg0 a JOIN e ON a.vec_id = e.vec_id),
         |m1 AS (SELECT cl, i, round(sum(x) / count(*), 6) AS m
         |       FROM dims GROUP BY cl, i),
         |c1 AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
         |c1f AS (SELECT c0.cl, coalesce(c1.v, c0.v) AS v
         |        FROM c0 LEFT JOIN c1 ON c0.cl = c1.cl),
         |a1 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c1f c)
         |SELECT vec_id, cl AS cluster, dist_e6 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY dist_e6 ASC, cl ASC) rn FROM a1)
         |WHERE rn = 1""".stripMargin,

    // the q_dedup_minhash pairs CTE + a recursive-CTE transitive closure:
    // cluster label = min doc_id reachable (exactly what min-label
    // propagation converges to on the Spark side)
    "q_dup_clusters" ->
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, text
         |              FROM documents GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |sig AS (SELECT doc_id, $minhashSigSql AS sig FROM sh),
         |bands AS (SELECT doc_id, unnest($bandsSql) AS band FROM sig),
         |ranked AS (SELECT doc_id, band,
         |             row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn,
         |             min(doc_id) OVER (PARTITION BY band) AS anchor
         |           FROM bands),
         |pairs AS (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM ranked l JOIN ranked r ON l.band = r.band AND l.doc_id < r.doc_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION
         |  SELECT anchor AS a, doc_id AS b FROM ranked WHERE rn > 256),
         |edges AS (SELECT a AS s, b AS d FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON e.d = rr.id),
         |lbl AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
         |SELECT cluster, count(*) AS n_members,
         |       CAST(sum(id) AS BIGINT) AS sum_ids
         |FROM lbl GROUP BY cluster""".stripMargin,

    // the full SemDeDup pipeline in SQL: the q_kmeans Lloyd unroll, the
    // q_embedding_neardup capped within-cluster pairs, the q_dup_clusters
    // recursive closure, then the farthest-from-centroid keeper
    "q_semdedup" -> {
      val cos = cosineSql("ea", "eb")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
         |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |     FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |a0 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c0 c),
         |asg0 AS (SELECT vec_id, cl, dist_e6 FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a0)
         |         WHERE rn = 1),
         |dims AS (SELECT a.cl, unnest(e.v) AS x,
         |                unnest(range(1, len(e.v)+1)) AS i
         |         FROM asg0 a JOIN e ON a.vec_id = e.vec_id),
         |m1 AS (SELECT cl, i, round(sum(x) / count(*), 6) AS m
         |       FROM dims GROUP BY cl, i),
         |c1 AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
         |c1f AS (SELECT c0.cl, coalesce(c1.v, c0.v) AS v
         |        FROM c0 LEFT JOIN c1 ON c0.cl = c1.cl),
         |a1 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c1f c),
         |asg AS (SELECT r1.vec_id, r1.cl, r1.dist_e6, e.embedding FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a1) r1
         |        JOIN e USING (vec_id) WHERE r1.rn = 1),
         |ranked AS (SELECT vec_id, embedding, cl,
         |             row_number() OVER (PARTITION BY cl ORDER BY vec_id) AS rn,
         |             min(vec_id) OVER (PARTITION BY cl) AS anchor,
         |             first_value(embedding) OVER (PARTITION BY cl ORDER BY vec_id)
         |               AS anchor_emb
         |           FROM asg),
         |cand AS (
         |  SELECT l.vec_id AS a, r.vec_id AS b,
         |         l.embedding AS ea, r.embedding AS eb
         |  FROM ranked l JOIN ranked r ON l.cl = r.cl AND l.vec_id < r.vec_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION ALL
         |  SELECT anchor AS a, vec_id AS b, anchor_emb AS ea, embedding AS eb
         |  FROM ranked WHERE rn > 256),
         |ed0 AS (SELECT a, b FROM cand WHERE $cos >= 0.35),
         |edges AS (SELECT a AS s, b AS d FROM ed0
         |          UNION SELECT b, a FROM ed0),
         |reach(id, r) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT e2.s, rr.r FROM edges e2 JOIN reach rr ON e2.d = rr.id),
         |lbl AS (SELECT id, least(id, min(r)) AS component FROM reach GROUP BY id),
         |mem AS (SELECT l.id, l.component, a.dist_e6
         |        FROM lbl l JOIN asg a ON l.id = a.vec_id),
         |kk AS (SELECT *, row_number() OVER (PARTITION BY component
         |         ORDER BY dist_e6 DESC, id ASC) AS krn FROM mem)
         |SELECT component, count(*) AS n_members,
         |  CAST(sum(id) AS BIGINT) AS sum_ids,
         |  max(CASE WHEN krn = 1 THEN id END) AS kept_id,
         |  max(CASE WHEN krn = 1 THEN dist_e6 END) AS kept_dist_e6
         |FROM kk GROUP BY 1""".stripMargin
    },

    // BM25 replicated end-to-end: df/avgdl/top-8 terms recomputed in SQL,
    // identical operand trees for every float step, per-term e6 quantization
    // before the cross-term sum (the ln differs from Java's by <= 1 ulp,
    // absorbed at e6)
    "q_bm25" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toks) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
         |       WHERE length(w) > 0 GROUP BY doc_id, w),
         |dfq AS (SELECT w, count(*) AS df
         |        FROM (SELECT DISTINCT doc_id, w FROM tok WHERE length(w) > 0)
         |        GROUP BY w),
         |terms AS (SELECT w, df FROM dfq ORDER BY df DESC, w ASC LIMIT 8),
         |stats AS (SELECT count(*) AS n,
         |            CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
         |                          ELSE len($toks) END) AS DOUBLE)
         |              / CAST(count(*) AS DOUBLE) AS avgdl
         |          FROM documents),
         |dl AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
         |                           ELSE len($toks) END AS dl FROM documents),
         |sc AS (
         |  SELECT tf.doc_id,
         |    CAST(round(
         |      ln((CAST(stats.n - terms.df AS DOUBLE) + 0.5)
         |           / (CAST(terms.df AS DOUBLE) + 0.5) + 1.0)
         |      * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
         |         / (CAST(tf.tf AS DOUBLE)
         |            + 1.2 * ((1.0 - 0.75)
         |                     + 0.75 * (CAST(dl.dl AS DOUBLE) / stats.avgdl))))
         |      * 1000000.0) AS BIGINT) AS e6
         |  FROM tf JOIN terms ON tf.w = terms.w
         |       JOIN dl ON tf.doc_id = dl.doc_id
         |       CROSS JOIN stats),
         |agg AS (SELECT doc_id, count(*) AS n_matched, SUM(e6) AS s
         |        FROM sc GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(COALESCE(a.n_matched, 0) AS BIGINT) AS n_matched,
         |       CAST(COALESCE(a.s, 0) AS BIGINT) AS bm25_e6
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""".stripMargin,

    // temperature rates: r_i = (w_i/n_i) * min_j(n_j/w_j), w = (n/N)^0.5 —
    // pow/div/min only (no float summation), so the rates are bit-identical;
    // the 16-bit threshold + md5 filter replicate stratifiedSample exactly
    "q_temp_sample" ->
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |tot AS (SELECT SUM(n) AS nt FROM c),
        |w AS (SELECT lang, n,
        |        pow(CAST(n AS DOUBLE) / CAST((SELECT nt FROM tot) AS DOUBLE), 0.5) AS w
        |      FROM c),
        |m AS (SELECT MIN(CAST(n AS DOUBLE) / w) AS m FROM w),
        |r AS (SELECT lang, n,
        |        (w / CAST(n AS DOUBLE)) * (SELECT m FROM m) AS rate FROM w),
        |thr AS (SELECT lang, n, rate,
        |          CASE WHEN CAST(round(rate * 65536) AS INT) >= 65536 THEN 'zzzz'
        |               ELSE printf('%04x', CAST(round(rate * 65536) AS INT)) END AS hex
        |        FROM r),
        |s AS (SELECT d.lang, count(*) AS n_sampled
        |      FROM documents d JOIN thr ON d.lang = thr.lang
        |      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < thr.hex
        |      GROUP BY d.lang)
        |SELECT thr.lang, CAST(thr.n AS BIGINT) AS n_total,
        |       CAST(round(rate * 1000000.0) AS BIGINT) AS rate_e6,
        |       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled
        |FROM thr LEFT JOIN s ON thr.lang = s.lang""".stripMargin,

    // C4 line filter replicated with list lambdas: identical line trim
    // ([ \t\r] both ends), word-count/terminal-punct/javascript predicate,
    // and the byte-exact kept-page md5
    "q_c4_filters" ->
      """WITH inj AS (SELECT doc_id, text ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN chr(10) || 'this injected line has six words.'
        |      WHEN 1 THEN chr(10) || 'bad JavaScript line with six words.'
        |      WHEN 2 THEN chr(10) || 'no terminal punctuation on this line'
        |      WHEN 3 THEN chr(10) || 'tiny line.'
        |      ELSE chr(10) || 'curly { brace and lorem ipsum here.'
        |    END AS text FROM documents),
        |l AS (SELECT doc_id, text,
        |        list_filter(list_transform(str_split(text, chr(10)),
        |          x -> regexp_replace(x, '^[ \t\r]+|[ \t\r]+$', '', 'g')),
        |          x -> length(x) > 0) AS ls FROM inj),
        |k AS (SELECT doc_id, text, ls,
        |        list_filter(ls, x ->
        |          len(regexp_extract_all(x, '[^ \t\r]+')) >= 5
        |          AND right(x, 1) IN ('.', '!', '?', '"')
        |          AND NOT contains(lower(x), 'javascript')) AS kept FROM l)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(length(COALESCE(array_to_string(kept, chr(10)), ''))
        |    AS BIGINT) AS kept_chars,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS kept_md5,
        |  (len(kept) >= 3 AND NOT contains(text, '{')
        |     AND NOT contains(lower(text), 'lorem ipsum')) AS c4_keep
        |FROM k""".stripMargin,

    // Gopher rules replicated: \S+ tokens (the kernel's whitespace classes),
    // per-line bullet/ellipsis tests over the same trimmed lines, 6-decimal
    // rounding before every threshold
    "q_gopher_rules" ->
      """WITH inj AS (SELECT doc_id, text ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN chr(10) || '- bullet one two' || chr(10) ||
        |                  '* bullet two three' || chr(10) ||
        |                  'ends with an ellipsis ...'
        |      WHEN 1 THEN ' ### ## #'
        |      WHEN 2 THEN chr(10) || '12345 67890 11111 22222 33333'
        |      ELSE ''
        |    END AS text FROM documents),
        |l AS (SELECT doc_id, text,
        |        list_filter(list_transform(str_split(text, chr(10)),
        |          x -> regexp_replace(x, '^[ \t\r]+|[ \t\r]+$', '', 'g')),
        |          x -> length(x) > 0) AS ls,
        |        regexp_extract_all(text, '\S+') AS ws FROM inj),
        |b AS (SELECT doc_id, text, ls, ws,
        |        CAST(len(ws) AS BIGINT) AS n_words,
        |        length(regexp_replace(text, '\s', '', 'g')) AS word_chars,
        |        len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
        |        len(regexp_extract_all(text, '#'))
        |          + len(regexp_extract_all(text, '\.\.\.')) AS n_sym,
        |        len(list_filter(ls, x -> left(x, 1) IN ('-', '*', '•'))) AS n_bul,
        |        len(list_filter(ls, x -> right(x, 3) = '...')) AS n_ell,
        |        CAST(len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |          x -> x IN ('the','be','to','of','and','that','have','with')))
        |          AS BIGINT) AS n_stopwords
        |      FROM l),
        |r AS (SELECT doc_id, n_words, n_stopwords,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(word_chars AS DOUBLE) / n_words, 4)
        |             ELSE 0.0 END AS mean_word_len,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(n_sym AS DOUBLE) / n_words, 6)
        |             ELSE 0.0 END AS symbol_ratio,
        |        CASE WHEN len(ls) > 0
        |             THEN round(CAST(n_bul AS DOUBLE) / len(ls), 6)
        |             ELSE 0.0 END AS bullet_frac,
        |        CASE WHEN len(ls) > 0
        |             THEN round(CAST(n_ell AS DOUBLE) / len(ls), 6)
        |             ELSE 0.0 END AS ellipsis_frac,
        |        CASE WHEN n_words > 0
        |             THEN round(CAST(n_alpha AS DOUBLE) / n_words, 6)
        |             ELSE 0.0 END AS alpha_word_frac
        |      FROM b)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
        |  ellipsis_frac, alpha_word_frac, n_stopwords,
        |  (n_words BETWEEN 50 AND 100000
        |   AND mean_word_len BETWEEN 3.0 AND 10.0
        |   AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |   AND ellipsis_frac <= 0.3 AND alpha_word_frac >= 0.8
        |   AND n_stopwords >= 2) AS gopher_keep
        |FROM r""".stripMargin,

    // window-hash substring dedup: same stride-1 8-token md5 windows, a
    // window is duplicated iff its hash occurs at >=2 positions corpus-wide
    "q_substr_windows" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |pos AS (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
         |        FROM tok WHERE len(t) >= 8),
         |w AS (SELECT doc_id,
         |        md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
         |      FROM pos),
         |c AS (SELECT h, count(*) AS c FROM w GROUP BY h),
         |s AS (SELECT doc_id, count(*) AS n_windows,
         |        SUM(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS n_dup
         |      FROM w JOIN c USING (h) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(s.n_windows, 0) AS BIGINT) AS n_windows,
         |  CAST(COALESCE(s.n_dup, 0) AS BIGINT) AS n_dup_windows,
         |  CASE WHEN COALESCE(s.n_windows, 0) > 0
         |       THEN round(CAST(s.n_dup AS DOUBLE) / s.n_windows, 6)
         |       ELSE 0.0 END AS dup_frac
         |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin,

    // DSIR replicated end-to-end: same md5 buckets, Laplace ratios with
    // identical operand trees quantized per bucket at e6 (integer per-doc
    // sums), hash-derived Gumbel keys, rank-based top-100 selection
    "q_dsir" ->
      """WITH tok AS (SELECT doc_id,
        |        list_filter(string_split_regex(trim(text), '\s+'),
        |          x -> length(x) > 0) AS t FROM documents),
        |f AS (SELECT doc_id, unnest(list_concat(t,
        |        CASE WHEN len(t) >= 2
        |             THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
        |             ELSE [] END)) AS f FROM tok),
        |b AS (SELECT doc_id,
        |        CAST(CAST('0x' || substr(md5(f), 1, 8) AS UBIGINT) % 1024
        |          AS BIGINT) AS b FROM f),
        |cq AS (SELECT b, count(*) AS c FROM b GROUP BY b),
        |cp AS (SELECT b, count(*) AS c FROM b WHERE doc_id % 7 = 0 GROUP BY b),
        |tq AS (SELECT SUM(c) AS t FROM cq),
        |tp AS (SELECT COALESCE(SUM(c), 0) AS t FROM cp),
        |r AS (SELECT cq.b,
        |        CAST(round((ln((COALESCE(cp.c, 0) + 1.0)
        |                      / (CAST((SELECT t FROM tp) AS DOUBLE) + 1024.0))
        |                  - ln((cq.c + 1.0)
        |                      / (CAST((SELECT t FROM tq) AS DOUBLE) + 1024.0)))
        |                 * 1000000.0) AS BIGINT) AS r
        |      FROM cq LEFT JOIN cp USING (b)),
        |sc AS (SELECT b.doc_id, count(*) AS nf, SUM(r.r) AS lw
        |       FROM b JOIN r USING (b) GROUP BY b.doc_id),
        |g AS (SELECT doc_id,
        |        CAST(round(-ln(-ln(
        |          (CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |             AS UBIGINT) AS DOUBLE) + 0.5) / 4294967296.0))
        |          * 1000000.0) AS BIGINT) AS g FROM documents),
        |alls AS (SELECT d.doc_id,
        |          CAST(COALESCE(sc.nf, 0) AS BIGINT) AS n_features,
        |          CAST(COALESCE(sc.lw, 0) AS BIGINT) AS logw_e6,
        |          g.g AS gumbel_e6
        |        FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
        |             JOIN g ON d.doc_id = g.doc_id),
        |rk AS (SELECT doc_id, row_number() OVER
        |         (ORDER BY (logw_e6 + gumbel_e6) DESC, doc_id ASC) AS rn
        |       FROM alls)
        |SELECT a.doc_id, a.n_features, a.logw_e6, a.gumbel_e6,
        |       (rk.rn <= 100) AS selected
        |FROM alls a JOIN rk USING (doc_id)""".stripMargin,

    // injected URLs -> host regex -> approximate eTLD+1 (same suffix list)
    "q_url_stats" -> {
      import graft.ops.WebText
      val urlPat = WebText.urlPattern.replace("'", "''")
      val sufList = WebText.defaultMultiPartSuffixes
        .map(s => s"'$s'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    text || ' https://www.site' || CAST(doc_id % 40 AS VARCHAR)
         |      || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         |      || ' http://cdn' || CAST(doc_id % 7 AS VARCHAR)
         |      || '.assets.co.uk:8443/x?y=1'
         |      || CASE WHEN doc_id % 3 = 0
         |           THEN ' https://plain' || CAST(doc_id % 11 AS VARCHAR) || '.org'
         |           ELSE '' END AS s
         |  FROM documents
         |), u AS (
         |  SELECT doc_id, unnest(regexp_extract_all(s, '$urlPat')) AS url FROM t
         |), h AS (
         |  SELECT doc_id, string_split(
         |    lower(regexp_extract(url, '${WebText.hostPattern}', 1)), '.') AS parts
         |  FROM u
         |), r AS (
         |  SELECT doc_id, CASE
         |    WHEN len(parts) <= 2 THEN array_to_string(parts, '.')
         |    WHEN (parts[-2] || '.' || parts[-1]) IN ($sufList)
         |      THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
         |    ELSE parts[-2] || '.' || parts[-1] END AS domain
         |  FROM h
         |)
         |SELECT domain, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs
         |FROM r GROUP BY 1""".stripMargin
    },

    // sharded concat-and-chunk packing: windowed running sum per shard
    "q_seq_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len($toks) END AS n_tokens
         |  FROM documents
         |), c AS (
         |  SELECT shard, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens
         |      AS tok_offset
         |  FROM t
         |)
         |SELECT shard, CAST(floor(tok_offset / 2048) AS BIGINT) AS bin,
         |       count(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2""".stripMargin,

    // symmetric per-vector int8: float widened to double on BOTH engines,
    // round = half-away-from-zero on both
    "q_embed_quantize" ->
      """WITH b AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(round(CAST(x AS DOUBLE) / scale) AS INT) END) AS qv
        |  FROM b
        |)
        |SELECT vec_id,
        |  CAST(round(scale * 1e6) AS BIGINT) AS scale_e6,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |  CAST(round(list_max(list_transform(list_zip(embedding, qv),
        |    p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale))) * 1e6)
        |    AS BIGINT) AS max_err_e6
        |FROM q""".stripMargin,

    // content-hash stratified sampling (thresholds = rateHex of the query's
    // rate map: en 0.25, de 0.5, fr 0.05, default keep-all)
    "q_sample_stratified" ->
      s"""SELECT lang, count(*) AS n FROM documents
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
         |  CASE lang WHEN 'en' THEN '4000' WHEN 'de' THEN '8000'
         |            WHEN 'fr' THEN '0ccd' ELSE 'zzzz' END
         |GROUP BY 1""".stripMargin,

    // stable pseudonymization: the kernel's staged rewrite replayed per
    // class as split/extract + a list_transform rebuild (same md5-prefix
    // tokens, same class staging)
    "q_pii_pseudo" -> {
      val cls = graft.ops.Curation.piiPatterns.map { case (_, pat, repl) =>
        (repl.stripPrefix("<").stripSuffix(">"), pat)
      }
      val stages = cls.zipWithIndex.map { case ((tag, pat), i) =>
        val carry = (0 until i).map(j => s"c$j, ").mkString
        s"""g$i AS (
           |  SELECT doc_id, $carry s$i,
           |    regexp_split_to_array(s$i, '$pat') AS sg,
           |    regexp_extract_all(s$i, '$pat') AS sm
           |  FROM ${if (i == 0) "t0" else s"r${i - 1}"}),
           |r$i AS (
           |  SELECT doc_id, $carry len(sm) AS c$i,
           |    array_to_string(list_transform(range(1, len(sg) + 1),
           |      i -> sg[i] || CASE WHEN i <= len(sm)
           |        THEN '<$tag:' || substr(md5(sm[i]), 1, 8) || '>' ELSE '' END),
           |      '') AS s${i + 1}
           |  FROM g$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH t0 AS (
         |  SELECT doc_id, $piiInjectSql AS s0 FROM documents),
         |$stages
         |SELECT doc_id, CAST(c0 + c1 + c2 + c3 AS BIGINT) AS n_entities,
         |  md5(s4) AS pseudo_md5
         |FROM r3""".stripMargin
    },

    // pseudonym linkage table: per-class surfaces from the SAME staged
    // strings as piiCounts, grouped by the 8-hex md5-prefix identity
    "q_pii_linkage" -> {
      val Seq(email, ipv4, phone, ssn) = graft.ops.Curation.piiPatterns.map(_._2)
      s"""WITH t0 AS (
         |  SELECT doc_id, $piiInjectSql AS s0 FROM documents),
         |st AS (
         |  SELECT doc_id, s0,
         |    regexp_replace(s0, '$email', '<EMAIL>', 'g') AS t1,
         |    regexp_replace(regexp_replace(s0, '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g') AS t2,
         |    regexp_replace(regexp_replace(regexp_replace(s0, '$email', '<EMAIL>', 'g'),
         |      '$ipv4', '<IP>', 'g'), '$phone', '<PHONE>', 'g') AS t3
         |  FROM t0),
         |e AS (
         |  SELECT 'EMAIL' AS pii_class, doc_id,
         |    unnest(regexp_extract_all(s0, '$email')) AS surface FROM st
         |  UNION ALL SELECT 'IP', doc_id,
         |    unnest(regexp_extract_all(t1, '$ipv4')) FROM st
         |  UNION ALL SELECT 'PHONE', doc_id,
         |    unnest(regexp_extract_all(t2, '$phone')) FROM st
         |  UNION ALL SELECT 'SSN', doc_id,
         |    unnest(regexp_extract_all(t3, '$ssn')) FROM st)
         |SELECT pii_class, substr(md5(surface), 1, 8) AS pseudo_id,
         |  count(*) AS n_mentions, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM e GROUP BY 1, 2""".stripMargin
    },

    // epoch upsampling: the q_quality score chain, tier CASE + copy count
    // (base + md5-threshold fractional) generated from the SAME epochTiers
    // config the Spark query uses
    "q_epoch_mix" -> {
      val stop = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val tierCase = epochTiers.map { case (n, ms, _) =>
        s"WHEN quality_score >= $ms THEN '$n'"
      }.mkString("CASE ", " ", " ELSE NULL END")
      val baseCase = epochTiers.map { case (n, _, ep) =>
        s"WHEN '$n' THEN ${math.floor(ep).toLong}"
      }.mkString("CASE tier ", " ", " ELSE 0 END")
      val fracCase = epochTiers.map { case (n, _, ep) =>
        s"WHEN '$n' THEN '${graft.ops.Curation.rateHex(ep - math.floor(ep))}'"
      }.mkString("CASE tier ", " ", " ELSE '0000' END")
      s"""WITH b AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END AS n_words,
         |         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
         |         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
         |         len(list_filter($toks, w -> list_contains($stop, w))) AS n_stop
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_punct AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS punct_ratio,
         |         CASE WHEN n_chars > 0 THEN round(CAST(n_alpha AS DOUBLE) / n_chars, 6)
         |              ELSE 0.0 END AS alpha_ratio,
         |         CASE WHEN n_words > 0 THEN round(CAST(n_stop AS DOUBLE) / n_words, 6)
         |              ELSE 0.0 END AS stopword_ratio
         |  FROM b),
         |q AS (
         |  SELECT doc_id, round(greatest(0.0, least(1.0,
         |    alpha_ratio * 0.5 + least(stopword_ratio * 4.0, 1.0) * 0.3 +
         |    (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2)), 6) AS quality_score
         |  FROM r),
         |tiered AS (SELECT doc_id, $tierCase AS tier FROM q),
         |c AS (
         |  SELECT doc_id, tier,
         |    $baseCase
         |      + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':epoch'), 1, 4)
         |          < $fracCase THEN 1 ELSE 0 END AS copies
         |  FROM tiered WHERE tier IS NOT NULL),
         |x AS (
         |  SELECT doc_id, tier, unnest(generate_series(1, copies)) AS copy_idx
         |  FROM c WHERE copies >= 1)
         |SELECT tier, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  count(*) AS n_copies, CAST(sum(doc_id * copy_idx) AS BIGINT) AS sum_key
         |FROM x GROUP BY 1""".stripMargin
    },

    // training-order shards over the rendered conversations: md5 order
    // key, leading-16-bit hex parsed with the '0x' cast, row_number pos
    "q_train_shards" ->
      s"""$transcriptSql,
         |r AS (
         |  SELECT conv_id, turn_idx,
         |    '<|' || CASE WHEN tool IS NOT NULL AND tool <> ''
         |        THEN 'tool:' || tool ELSE role END
         |      || '|>' || chr(10) || text || chr(10) || '<|end|>' || chr(10)
         |      AS r
         |  FROM t),
         |chat AS (
         |  SELECT conv_id, md5(string_agg(r, '' ORDER BY turn_idx)) AS digest
         |  FROM r GROUP BY 1),
         |k AS (
         |  SELECT conv_id, digest, md5('ord:' || conv_id) AS order_key FROM chat),
         |sh AS (
         |  SELECT conv_id, digest, order_key,
         |    CAST(CAST(('0x' || substr(order_key, 1, 4)) AS INT) % 8 AS BIGINT) AS shard
         |  FROM k)
         |SELECT shard,
         |  row_number() OVER (PARTITION BY shard ORDER BY order_key, conv_id) AS pos,
         |  conv_id, digest
         |FROM sh""".stripMargin,

    // mixture planner: targets interpolated from the SAME weights/budget
    // arithmetic, thresholds from the same floor(min(1, t/a)*65536) IEEE
    // ops, sampled set pinned by the id-sum
    "q_mix_plan" -> {
      val wsum = mixWeights.values.sum
      val targetCase = mixWeights.map { case (dm, w) =>
        s"WHEN '$dm' THEN ${math.floor(mixBudget * w / wsum).toLong}"
      }.mkString("CASE domain ", " ", " ELSE 0 END")
      s"""WITH base AS (
         |  SELECT lang AS domain, doc_id,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END
         |      AS BIGINT) AS tok
         |  FROM documents),
         |avail AS (
         |  SELECT domain, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS available_tokens
         |  FROM base GROUP BY 1),
         |plan AS (
         |  SELECT domain, n_docs, available_tokens,
         |    CAST($targetCase AS BIGINT) AS target_tokens
         |  FROM avail),
         |p2 AS (
         |  SELECT *, CAST(floor(least(1.0,
         |    CAST(target_tokens AS DOUBLE) / CAST(available_tokens AS DOUBLE))
         |    * 65536.0) AS BIGINT) AS thr
         |  FROM plan),
         |p3 AS (
         |  SELECT domain, n_docs, available_tokens, target_tokens,
         |    CASE WHEN thr >= 65536 THEN 'zzzz' ELSE printf('%04x', thr) END AS rate_hex
         |  FROM p2),
         |samp AS (
         |  SELECT b.domain, count(*) AS sampled_docs,
         |    CAST(sum(b.tok) AS BIGINT) AS sampled_tokens,
         |    CAST(sum(b.doc_id) AS BIGINT) AS sum_doc_id
         |  FROM base b JOIN p3 USING (domain)
         |  WHERE substr(md5(CAST(b.doc_id AS VARCHAR) || ':mix'), 1, 4) < p3.rate_hex
         |  GROUP BY 1)
         |SELECT p3.domain, p3.n_docs, p3.available_tokens, p3.target_tokens,
         |  p3.rate_hex,
         |  coalesce(samp.sampled_docs, 0) AS sampled_docs,
         |  coalesce(samp.sampled_tokens, 0) AS sampled_tokens,
         |  coalesce(samp.sum_doc_id, 0) AS sum_doc_id
         |FROM p3 LEFT JOIN samp USING (domain)""".stripMargin
    },

    // positional replica of the AC match semantics: every (start, phrase)
    // substring occurrence, incl. overlapping/nested; first = min encoded
    // (start * 1024 + pid)
    "q_blocklist" -> {
      val values = blocklistPhrases.zipWithIndex
        .map { case (p, i) => s"($i, '$p')" }.mkString(", ")
      s"""WITH p(pid, ph) AS (VALUES $values),
         |hits AS (
         |  SELECT d.doc_id, p.pid, CAST(t.pos AS BIGINT) AS pos
         |  FROM documents d CROSS JOIN p
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(range(1, length(d.text) - length(p.ph) + 2)) AS pos) t
         |  WHERE substr(d.text, CAST(t.pos AS INT), length(p.ph)) = p.ph),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_matches,
         |         count(DISTINCT pid) AS n_phrases,
         |         min((pos - 1) * 1024 + pid) AS code
         |  FROM hits GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.n_matches, 0) AS n_matches,
         |  coalesce(a.n_phrases, 0) AS n_phrases,
         |  coalesce(a.code // 1024, -1) AS first_pos,
         |  coalesce(a.code % 1024, -1) AS first_phrase
         |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
    },

    // char-unigram Shannon entropy, the LmKernels e6-integer-term
    // convention so the sum is order-free exact
    "q_char_entropy" ->
      """WITH tot AS (SELECT doc_id, length(text) AS n FROM documents),
        |cnt AS (
        |  SELECT d.doc_id, substr(d.text, CAST(t.i AS INT), 1) AS c,
        |         count(*) AS k
        |  FROM documents d
        |  CROSS JOIN LATERAL (
        |    SELECT unnest(range(1, length(d.text) + 1)) AS i) t
        |  GROUP BY d.doc_id, substr(d.text, CAST(t.i AS INT), 1)),
        |h AS (
        |  SELECT c.doc_id, count(*) AS n_distinct,
        |    sum(c.k * CAST(round(log2(CAST(t.n AS DOUBLE) / c.k) * 1e6)
        |              AS BIGINT)) AS h_sum
        |  FROM cnt c JOIN tot t USING (doc_id) GROUP BY c.doc_id)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars,
        |  CAST(coalesce(h.n_distinct, 0) AS BIGINT) AS n_distinct,
        |  CAST(coalesce(h.h_sum, 0) AS BIGINT) AS h_sum_e6,
        |  CASE WHEN t.n > 0
        |       THEN round(CAST(coalesce(h.h_sum, 0) AS DOUBLE) / t.n / 1e6, 6)
        |       ELSE 0.0 END AS entropy_bits
        |FROM tot t LEFT JOIN h USING (doc_id)""".stripMargin,

    // JL sign projection: sign(i,j) from md5 first-hex-digit parity, e6
    // quantized components, exact BIGINT signed sums, pivoted to p0..p7
    "q_jl_project" -> {
      val pivots = (0 until 8)
        .map(j => s"  max(CASE WHEN j = $j THEN v END) AS p$j").mkString(",\n")
      s"""WITH s AS (
         |  SELECT CAST(i.i AS BIGINT) AS i, CAST(j.j AS BIGINT) AS j,
         |    CASE WHEN substr(md5('jl:' || CAST(i.i AS VARCHAR) || ':' ||
         |                        CAST(j.j AS VARCHAR)), 1, 1)
         |         IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END AS sgn
         |  FROM range(0, 64) i(i), range(0, 8) j(j)),
         |q AS (
         |  SELECT e.vec_id, CAST(t.i - 1 AS BIGINT) AS i,
         |    CAST(round(CAST(e.embedding[CAST(t.i AS INT)] AS DOUBLE) * 1e6)
         |         AS BIGINT) AS qv
         |  FROM embeddings e
         |  CROSS JOIN LATERAL (
         |    SELECT unnest(range(1, len(e.embedding) + 1)) AS i) t),
         |pr AS (
         |  SELECT q.vec_id, s.j, CAST(sum(s.sgn * q.qv) AS BIGINT) AS v
         |  FROM q JOIN s USING (i) GROUP BY q.vec_id, s.j)
         |SELECT vec_id,
         |$pivots
         |FROM pr GROUP BY vec_id""".stripMargin
    },

    // positional replica of winnowing: per-window rightmost-tie argmin over
    // 48-bit md5 gram hashes, DISTINCT selected positions, then the shared
    // inverted-index aggregation
    "q_winnow" ->
      """WITH d0 AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |         THEN ' shared winnow marker alpha beta gamma' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |         THEN ' second shared span delta epsilon zeta' ELSE '' END AS text
        |  FROM documents),
        |g AS (
        |  SELECT d.doc_id, CAST(t.j AS BIGINT) AS j,
        |    ('0x' || substr(md5(substr(d.text, CAST(t.j AS INT), 16)), 1, 12))::BIGINT AS h
        |  FROM d0 d
        |  CROSS JOIN LATERAL (
        |    SELECT unnest(range(1, length(d.text) - 16 + 2)) AS j) t),
        |wn AS (SELECT doc_id, length(text) - 16 - 8 + 2 AS nwin FROM d0),
        |w AS (
        |  SELECT g.doc_id, CAST(t.t AS BIGINT) AS t, g.j, g.h
        |  FROM g JOIN wn USING (doc_id)
        |  CROSS JOIN LATERAL (
        |    SELECT unnest(range(greatest(1, g.j - 8 + 1),
        |                        least(wn.nwin, g.j) + 1)) AS t) t),
        |sel AS (
        |  SELECT DISTINCT doc_id, j, h FROM (
        |    SELECT doc_id, t, j, h,
        |      row_number() OVER (PARTITION BY doc_id, t ORDER BY h ASC, j DESC) AS rn
        |    FROM w) WHERE rn = 1),
        |sh AS (SELECT h, count(DISTINCT doc_id) AS nd FROM sel GROUP BY h),
        |per AS (
        |  SELECT s.doc_id, count(*) AS n_fps,
        |    sum(CASE WHEN sh.nd >= 2 THEN 1 ELSE 0 END) AS n_shared_fps,
        |    CAST(sum(s.h) AS BIGINT) AS fp_sum
        |  FROM sel s JOIN sh USING (h) GROUP BY s.doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_fps, 0) AS BIGINT) AS n_fps,
        |  CAST(coalesce(p.n_shared_fps, 0) AS BIGINT) AS n_shared_fps,
        |  coalesce(p.fp_sum, 0) AS fp_sum
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // containment = inter / min(|A|,|B|) over the same distinct-shingle
    // machinery as q_ngram_jaccard; prefix children replicated via the
    // word-slice injection
    "q_containment" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 5000),
         |d0 AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         array_to_string(($toks)[1:20], ' ')
         |  FROM base WHERE doc_id % 31 = 0),
         |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM d0),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
         |          FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |p AS (SELECT round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS c,
         |             round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS j
         |      FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |                 JOIN sizes sb ON inter.b = sb.doc_id)
         |SELECT count(*) AS n,
         |  CAST(coalesce(sum(CAST(round(c * 1000000) AS BIGINT)), 0) AS BIGINT)
         |    AS sum_containment_e6,
         |  CAST(coalesce(sum(CASE WHEN c = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_full,
         |  CAST(coalesce(sum(CASE WHEN j < 0.5 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_hidden
         |FROM p WHERE c >= 0.9""".stripMargin,

    // positional replica of keep-first span removal: window keeper by
    // (doc_id, pos) rank, removed-position union, run/island span count,
    // ordered re-assembly md5
    "q_dedup_spans" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |wrows AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |         md5(array_to_string(list_slice(t, i, i + 7), ' ')) AS h
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
         |        FROM tok WHERE len(t) >= 8)),
         |occ AS (SELECT h, count(*) AS c FROM wrows GROUP BY h),
         |rk AS (SELECT doc_id, pos, h,
         |         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
         |       FROM wrows),
         |nk AS (SELECT rk.doc_id, rk.pos FROM rk JOIN occ USING (h)
         |       WHERE occ.c > 1 AND rk.rn > 1),
         |rem AS (SELECT DISTINCT doc_id, CAST(t.p AS BIGINT) AS rp
         |        FROM nk CROSS JOIN LATERAL (
         |          SELECT unnest(range(pos, pos + 8)) AS p) t),
         |spans AS (
         |  SELECT doc_id, count(*) AS n_removed,
         |         count(DISTINCT rp - rn) AS n_spans
         |  FROM (SELECT doc_id, rp,
         |          row_number() OVER (PARTITION BY doc_id ORDER BY rp) AS rn
         |        FROM rem) GROUP BY doc_id),
         |tr AS (SELECT doc_id, CAST(tp AS BIGINT) AS tp,
         |         t[CAST(tp AS INT)] AS tok
         |       FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS tp
         |             FROM tok)),
         |kept AS (
         |  SELECT tr.doc_id, count(*) AS n_kept,
         |         md5(string_agg(tr.tok, ' ' ORDER BY tr.tp)) AS kept_md5
         |  FROM tr LEFT JOIN rem ON tr.doc_id = rem.doc_id AND tr.tp = rem.rp
         |  WHERE rem.rp IS NULL GROUP BY tr.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept_tokens,
         |  CAST(coalesce(s.n_removed, 0) AS BIGINT) AS n_removed_tokens,
         |  CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans_removed,
         |  coalesce(k.kept_md5, md5('')) AS kept_md5
         |FROM documents d
         |LEFT JOIN spans s USING (doc_id) LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // overlapping-window chunking replicated positionally (K = ceil((n -
    // chunk)/stride) extra chunks, list_slice clipping, same id/md5 forms)
    "q_rag_chunks" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS t FROM documents),
         |k AS (SELECT doc_id, t,
         |        unnest(range(0,
         |          greatest(0, CAST(len(t) - 64 + 48 - 1 AS INT) // 48) + 1)) AS ci
         |      FROM tok)
         |SELECT doc_id,
         |  CAST(ci AS BIGINT) AS chunk_idx,
         |  CAST(ci * 48 + 1 AS BIGINT) AS start_tok,
         |  CAST(len(list_slice(t, CAST(ci * 48 + 1 AS INT),
         |                         CAST(ci * 48 + 64 AS INT))) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(CAST(doc_id AS VARCHAR) || ':' || CAST(ci AS VARCHAR)) AS chunk_id,
         |  md5(array_to_string(list_slice(t, CAST(ci * 48 + 1 AS INT),
         |                                    CAST(ci * 48 + 64 AS INT)), ' '))
         |    AS chunk_md5
         |FROM k""".stripMargin,

    // held-out NB evaluation: train CTEs read the even half, scoring and
    // the confusion aggregation run over the odd half with the SAME
    // vocab/count machinery as q_nb_classify
    "q_nb_eval" ->
      s"""WITH tr AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 0),
         |te AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 2 = 1),
         |cls AS (SELECT lang AS c, count(*) AS n FROM tr GROUP BY lang),
         |prior AS (SELECT c, CAST(round(ln(n * 1.0 / (SELECT sum(n) FROM cls))
         |            / ln(2) * 1e6, 0) AS BIGINT) AS p FROM cls),
         |tokt AS (SELECT doc_id,
         |           unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |                  x -> len(x) > 0)) AS w
         |         FROM tr),
         |tokv AS (SELECT t.doc_id, tr.lang, t.w FROM tokt t
         |         JOIN tr ON tr.doc_id = t.doc_id),
         |vocab AS (SELECT w FROM (SELECT w, count(*) AS n FROM tokt GROUP BY w
         |                         ORDER BY n DESC, w ASC LIMIT 24)),
         |mappedtr AS (SELECT doc_id, lang,
         |               CASE WHEN w IN (SELECT w FROM vocab) THEN w
         |                    ELSE '<unk>' END AS wm FROM tokv),
         |cc AS (SELECT lang AS c, wm, count(*) AS cnt FROM mappedtr GROUP BY 1, 2),
         |ctot AS (SELECT c, sum(cnt) AS t FROM cc GROUP BY c),
         |tokte AS (SELECT doc_id,
         |            unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |                   x -> len(x) > 0)) AS w
         |          FROM te),
         |mappedte AS (SELECT doc_id,
         |               CASE WHEN w IN (SELECT w FROM vocab) THEN w
         |                    ELSE '<unk>' END AS wm FROM tokte),
         |doctok AS (SELECT doc_id, wm, count(*) AS k FROM mappedte
         |           GROUP BY doc_id, wm),
         |pairs AS (SELECT dt.doc_id, cl.c, dt.k,
         |            CAST(round(ln((coalesce(cc.cnt, 0) + 1.0) / (ct.t + 25))
         |              / ln(2) * 1e6, 0) AS BIGINT) AS lp
         |          FROM doctok dt CROSS JOIN cls cl
         |          LEFT JOIN cc ON cc.c = cl.c AND cc.wm = dt.wm
         |          JOIN ctot ct ON ct.c = cl.c),
         |score AS (SELECT d.doc_id, p.c, p.p + coalesce(s.s, 0) AS sc
         |          FROM (SELECT doc_id FROM te) d
         |          CROSS JOIN prior p
         |          LEFT JOIN (SELECT doc_id, c, sum(k * lp) AS s FROM pairs
         |                     GROUP BY doc_id, c) s
         |            ON s.doc_id = d.doc_id AND s.c = p.c),
         |rank AS (SELECT doc_id, c FROM
         |          (SELECT doc_id, c,
         |             row_number() OVER (PARTITION BY doc_id
         |               ORDER BY sc DESC, c ASC) AS rn FROM score)
         |         WHERE rn = 1)
         |SELECT te.lang, r.c AS pred, count(*) AS n
         |FROM te JOIN rank r ON r.doc_id = te.doc_id
         |GROUP BY te.lang, r.c""".stripMargin,

    // normalized-key dedup replicated with the identical translate table
    "q_dedup_normalized" -> {
      val from = graft.ops.TextOps.accentFrom
      val to = graft.ops.TextOps.accentTo
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |all0 AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 4000000,
         |         translate(upper(text), 'A', 'Á') || '  !!'
         |  FROM base WHERE doc_id % 29 = 0),
         |n AS (SELECT doc_id, text,
         |        trim(regexp_replace(translate(lower(text), '$from', '$to'),
         |             '[^a-z0-9]+', ' ', 'g')) AS nk
         |      FROM all0),
         |rawg AS (SELECT text, count(*) AS rc FROM n GROUP BY 1),
         |normg AS (SELECT nk, count(*) AS nc FROM n GROUP BY 1)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(CASE WHEN rc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_raw_dup_docs,
         |  CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_norm_dup_docs,
         |  CAST(sum(CASE WHEN nc > 1 AND rc = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_norm_only
         |FROM n JOIN rawg USING (text) JOIN normg USING (nk)""".stripMargin
    },

    // conversation containment: rendered conv docs + 6-turn prefix
    // children through the same shingle-containment machinery
    "q_conv_containment" ->
      s"""$transcriptSql,
         |parents AS (
         |  SELECT conv_id AS doc_id,
         |         string_agg(text, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t WHERE turn_idx < 10 GROUP BY 1),
         |children AS (
         |  SELECT conv_id + 1000 AS doc_id,
         |         string_agg(text, e'\\n' ORDER BY turn_idx) AS text
         |  FROM t WHERE conv_id % 5 = 0 AND turn_idx < 6 GROUP BY 1),
         |d0 AS (SELECT * FROM parents UNION ALL SELECT * FROM children),
         |sh AS (SELECT doc_id, unnest($shinglesSql) AS s FROM d0),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
         |          FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |p AS (SELECT round(CAST(i AS DOUBLE) / least(sa.sz, sb.sz), 6) AS c,
         |             round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS j
         |      FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |                 JOIN sizes sb ON inter.b = sb.doc_id)
         |SELECT count(*) AS n,
         |  CAST(coalesce(sum(CAST(round(c * 1000000) AS BIGINT)), 0) AS BIGINT)
         |    AS sum_containment_e6,
         |  CAST(coalesce(sum(CASE WHEN c = 1.0 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_full,
         |  CAST(coalesce(sum(CASE WHEN j < 0.8 THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS n_resumed
         |FROM p WHERE c >= 0.9""".stripMargin,

    // IVF recall harness replica: the q_kmeans model machinery trained on
    // ALL embeddings, per-query brute truth + probe-cluster candidates
    "q_ann_recall" -> {
      val cosTr = cosineSql("e.embedding", "q.qv")
      s"""WITH e AS (SELECT vec_id, embedding,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cl, v
         |       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
         |a0 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c0 c),
         |asg0 AS (SELECT vec_id, cl FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a0)
         |         WHERE rn = 1),
         |dims AS (SELECT a.cl, unnest(e.v) AS x,
         |                unnest(range(1, len(e.v)+1)) AS i
         |         FROM asg0 a JOIN e ON a.vec_id = e.vec_id),
         |m1 AS (SELECT cl, i, round(sum(x) / count(*), 6) AS m
         |       FROM dims GROUP BY cl, i),
         |c1 AS (SELECT cl, list(m ORDER BY i) AS v FROM m1 GROUP BY cl),
         |c1f AS (SELECT c0.cl, coalesce(c1.v, c0.v) AS v
         |        FROM c0 LEFT JOIN c1 ON c0.cl = c1.cl),
         |a1 AS (SELECT e.vec_id, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(e.v)+1),
         |                i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM e CROSS JOIN c1f c),
         |asg1 AS (SELECT vec_id, cl FROM
         |          (SELECT *, row_number() OVER (PARTITION BY vec_id
         |             ORDER BY dist_e6 ASC, cl ASC) rn FROM a1)
         |         WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qv, v AS qvd
         |      FROM e WHERE vec_id % 100 = 0),
         |tr AS (SELECT qid, vec_id FROM (
         |  SELECT q.qid, e.vec_id,
         |    row_number() OVER (PARTITION BY q.qid
         |      ORDER BY $cosTr DESC, e.vec_id ASC) AS rn
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.qid) WHERE rn <= 10),
         |cd AS (SELECT q.qid, c.cl,
         |         CAST(round(list_reduce(list_transform(range(1, len(c.v)+1),
         |                i -> (q.qvd[i] - c.v[i]) * (q.qvd[i] - c.v[i])),
         |              (x, y) -> x + y) * 1e6, 0) AS BIGINT) AS dist_e6
         |       FROM c1f c CROSS JOIN q),
         |probes AS (SELECT qid, cl FROM
         |            (SELECT qid, cl, row_number() OVER (PARTITION BY qid
         |               ORDER BY dist_e6 ASC, cl ASC) rn FROM cd)
         |           WHERE rn <= 2),
         |cand AS (SELECT p.qid, a.vec_id FROM asg1 a
         |         JOIN probes p ON a.cl = p.cl WHERE a.vec_id <> p.qid),
         |ncands AS (SELECT qid, count(*) AS n_cands FROM cand GROUP BY qid),
         |ivf AS (SELECT qid, vec_id FROM (
         |  SELECT c.qid, c.vec_id,
         |    row_number() OVER (PARTITION BY c.qid
         |      ORDER BY $cosTr DESC, c.vec_id ASC) AS rn
         |  FROM cand c JOIN e ON c.vec_id = e.vec_id
         |              JOIN q ON c.qid = q.qid) WHERE rn <= 10),
         |hits AS (SELECT t.qid, count(*) AS hits FROM tr t
         |         JOIN ivf i ON t.qid = i.qid AND t.vec_id = i.vec_id
         |         GROUP BY t.qid)
         |SELECT q.qid,
         |  CAST(coalesce(n.n_cands, 0) AS BIGINT) AS n_cands,
         |  CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
         |FROM q LEFT JOIN ncands n USING (qid) LEFT JOIN hits h USING (qid)""".stripMargin
    },

    // banding-vs-truth PR harness: candidate machinery and exact-Jaccard
    // truth both replicated over the same capped rep universe
    "q_dedup_pr" -> {
      def cell(t: Int) =
        s"""SELECT CAST($t AS BIGINT) AS t_e2,
           |  CAST(sum(CASE WHEN c = 1 AND j >= $t / 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |  CAST(sum(CASE WHEN c = 0 AND j >= $t / 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           |  CAST(sum(CASE WHEN c = 1 AND j < $t / 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp
           |FROM u""".stripMargin
      s"""WITH capped AS (SELECT doc_id, text FROM documents WHERE doc_id < 3000),
         |base AS (
         |  SELECT doc_id, text FROM capped
         |  UNION ALL
         |  SELECT doc_id + 2000000,
         |         array_to_string(($toks)[1:40], ' ')
         |  FROM capped WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 3000000,
         |         array_to_string(list_concat(($toks)[1:32],
         |           list_reverse(($toks)[33:40])), ' ')
         |  FROM capped WHERE doc_id % 17 = 0),
         |reps AS (SELECT min(doc_id) AS doc_id, text FROM base GROUP BY text),
         |sh AS (SELECT doc_id,
         |         list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |sig AS (SELECT doc_id, $minhashSigSql AS sig FROM sh),
         |bandsx AS (SELECT doc_id, unnest($bandsSql) AS band FROM sig),
         |ranked AS (SELECT doc_id, band,
         |             row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn,
         |             min(doc_id) OVER (PARTITION BY band) AS anchor
         |           FROM bandsx),
         |cand AS (SELECT DISTINCT a, b FROM (
         |  SELECT l.doc_id AS a, r.doc_id AS b
         |  FROM ranked l JOIN ranked r ON l.band = r.band AND l.doc_id < r.doc_id
         |  WHERE l.rn <= 256 AND r.rn <= 256
         |  UNION
         |  SELECT anchor AS a, doc_id AS b FROM ranked WHERE rn > 256)),
         |shw AS (SELECT doc_id, unnest($shinglesSql) AS s FROM reps),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shw GROUP BY 1),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
         |          FROM shw l JOIN shw r ON l.s = r.s AND l.doc_id < r.doc_id
         |          GROUP BY 1, 2),
         |truth AS (SELECT a, b,
         |            round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS j
         |          FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |                     JOIN sizes sb ON inter.b = sb.doc_id
         |          WHERE round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) >= 0.25),
         |u AS (SELECT coalesce(c.infl, 0) AS c, coalesce(t.j, 0.0) AS j
         |      FROM (SELECT a, b, 1 AS infl FROM cand) c
         |      FULL OUTER JOIN truth t USING (a, b))
         |${cell(30)}
         |UNION ALL
         |${cell(50)}
         |UNION ALL
         |${cell(80)}""".stripMargin
    },

    // exact integer KS/L1 drift numerators between the doc_id-parity halves
    "q_drift" -> {
      val wsTok = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(" + toks + ") END"
      def ks(feature: String, label: String) =
        s"""SELECT '$label' AS metric, CAST(x.ks AS BIGINT) AS stat_num, t.n0, t.n1 FROM (
           |  SELECT max(abs(cum0 * n1 - cum1 * n0)) AS ks FROM (
           |    SELECT sum(c0) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum0,
           |           sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1
           |    FROM (SELECT $feature AS v,
           |            sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
           |            sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
           |          FROM documents GROUP BY 1))
           |  CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
           |                     count(*) FILTER (doc_id % 2 = 1) AS n1
           |              FROM documents)) x
           |CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
           |                   count(*) FILTER (doc_id % 2 = 1) AS n1
           |            FROM documents) t""".stripMargin
      s"""${ks(wsTok, "ws_tokens_ks")}
         |UNION ALL
         |${ks("n_chars", "n_chars_ks")}
         |UNION ALL
         |SELECT 'lang_l1' AS metric, CAST(x.l1 AS BIGINT) AS stat_num, t.n0, t.n1 FROM (
         |  SELECT sum(abs(c0 * n1 - c1 * n0)) AS l1 FROM (
         |    SELECT lang,
         |      sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c0,
         |      sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c1
         |    FROM documents GROUP BY 1)
         |  CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
         |                     count(*) FILTER (doc_id % 2 = 1) AS n1
         |              FROM documents)) x
         |CROSS JOIN (SELECT count(*) FILTER (doc_id % 2 = 0) AS n0,
         |                   count(*) FILTER (doc_id % 2 = 1) AS n1
         |            FROM documents) t""".stripMargin
    }
  )
}
