package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.pipeline.{Exporter, MetricsExporter, Pipeline, TraceExporter}
import graft.sources.{DataGen, Transcripts}

/** Scale-up evidence: the flagship pipeline and the dedup/ANN family run at
  * ~100x the driver testdata (sf0.1 = 5k docs / 2k vectors / 17 MB; here
  * 500k docs / 200k vectors / a >=1 GB transcript table), with the SAME
  * operation also timed at the small scale in the same session so the
  * artifact carries a direct rows-ratio vs time-ratio linearity check. A
  * time ratio well below the rows ratio (sublinear) is the pass condition —
  * fixed per-query overhead amortizes away and no shuffle path degrades
  * super-linearly.
  *
  * Used by [[Bench]] (the `scaleup` JSON section) and runnable standalone:
  * `runMain graft.ScaleUp`.
  */
object ScaleUp {

  final case class OpResult(name: String, rowsSmall: Long, secSmall: Double,
      rowsBig: Long, secBig: Double, out: Long) {
    def json: String = {
      val rowRatio = rowsBig.toDouble / math.max(1L, rowsSmall)
      val timeRatio = secBig / math.max(1e-9, secSmall)
      // rows/sec at each scale makes sublinear time growth self-evident:
      // big-side throughput ABOVE small-side means the gap is fixed
      // per-query overhead amortizing, not a degrading shuffle path.
      val tpsSmall = rowsSmall / math.max(1e-9, secSmall)
      val tpsBig = rowsBig / math.max(1e-9, secBig)
      f""""$name":{"rows_small":$rowsSmall,"sec_small":$secSmall%.2f,""" +
        f""""rows_big":$rowsBig,"sec_big":$secBig%.2f,""" +
        f""""row_ratio":$rowRatio%.1f,"time_ratio":$timeRatio%.1f,""" +
        f""""linearity":${timeRatio / rowRatio}%.3f,""" +
        f""""rows_per_sec_small":$tpsSmall%.0f,"rows_per_sec_big":$tpsBig%.0f,""" +
        f""""out":$out}"""
    }
    /** Truncation-proof essentials for the stdout headline line. */
    def compactJson: String = {
      val timeRatio = secBig / math.max(1e-9, secSmall)
      f""""$name":{"sec_big":$secBig%.2f,"time_ratio":$timeRatio%.1f,"out":$out}"""
    }
  }

  /** Full (file) and compact (stdout headline) forms of the section. */
  final case class ScaleupResult(full: String, compact: String)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Write-once cache of a generated table (keyed by the caller's path). */
  private def materialize(spark: SparkSession, path: String, files: Int)(
      gen: => DataFrame): DataFrame = {
    if (!new java.io.File(s"$path/_SUCCESS").exists)
      gen.repartition(files).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def dirBytes(path: String): Long = {
    val d = new java.io.File(path)
    Option(d.listFiles()).map(_.filter(_.isFile).map(_.length()).sum).getOrElse(0L)
  }

  /** One op at both scales: warm once on the small input (codegen + JIT),
    * then TWO small/big back-to-back rounds — each round's sides share the
    * host phase (this VM swings multi-x on minute timescales), and min per
    * side discards a slow-phase round.
    */
  private def op(name: String, small: DataFrame, big: DataFrame,
      rowsSmall: Long, rowsBig: Long)(run: DataFrame => Long): OpResult =
    // one broken row must not zero the whole battery's evidence: report it
    // (rows = -1 flags the failure in the artifact) and keep going
    try opInner(name, small, big, rowsSmall, rowsBig)(run)
    catch {
      case e: Throwable =>
        System.err.println(s"[scaleup] $name FAILED: $e")
        OpResult(name, -1L, 0.0, -1L, 0.0, -1L)
    }

  private def opInner(name: String, small: DataFrame, big: DataFrame,
      rowsSmall: Long, rowsBig: Long)(run: DataFrame => Long): OpResult = {
    run(small) // warm
    var out = 0L
    val rounds = (1 to 2).map { _ =>
      val (_, sSec) = timed(run(small))
      val (o, bSec) = timed(run(big))
      out = o
      (sSec, bSec)
    }
    val sSec = rounds.map(_._1).min
    val bSec = rounds.map(_._2).min
    val r = OpResult(name, rowsSmall, sSec, rowsBig, bSec, out)
    System.err.println(f"[scaleup] $name: small=${sSec}%.2fs big=${bSec}%.2fs " +
      f"(rows x${rowsBig.toDouble / math.max(1L, rowsSmall)}%.0f, " +
      f"time x${bSec / math.max(1e-9, sSec)}%.1f) out=$out")
    r
  }

  /** Runs everything; returns the `scaleup` JSON object (full + compact). */
  def section(spark: SparkSession, workDir: String,
      smallDocs: Long = 5000L, bigDocs: Long = 500000L,
      smallVecs: Long = 2000L, bigVecs: Long = 200000L,
      smallConvs: Long = 400000L, bigConvs: Long = 6000000L): ScaleupResult = {
    val prevSplit = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    // 2m splits keep BOTH sides of the ratio fully parallel at 32 cores:
    // the 67 MB small input stays ~32 tasks (default 128m packing coalesced
    // it to ~3, leaving 29 cores idle and inflating the small-side time),
    // and the ~1 GB big input gets ~512 x 2 MB tasks (~0.1 s fixed cost per
    // task is noise on a tens-of-seconds job)
    val prevBatch = spark.conf.get("spark.sql.parquet.columnarReaderBatchSize", "4096")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2m")
    try sectionInner(spark, workDir, smallDocs, bigDocs, smallVecs, bigVecs,
      smallConvs, bigConvs)
    finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevSplit)
      spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", prevBatch)
    }
  }

  private def sectionInner(spark: SparkSession, workDir: String,
      smallDocs: Long, bigDocs: Long, smallVecs: Long, bigVecs: Long,
      smallConvs: Long, bigConvs: Long): ScaleupResult = {

    def docsAt(n: Long, files: Int) =
      materialize(spark, s"$workDir/docs_$n", files)(DataGen.documents(spark, n))
    def vecsAt(n: Long, files: Int) =
      materialize(spark, s"$workDir/vecs_$n", files)(DataGen.embeddings(spark, n))
    def convsAt(n: Long, files: Int) =
      materialize(spark, s"$workDir/transcripts_$n", files)(
        Transcripts.generate(spark, n, seed = 42L))

    val (smallD, bigD) = (docsAt(smallDocs, 4), docsAt(bigDocs, 64))
    val (smallV, bigV) = (vecsAt(smallVecs, 4), vecsAt(bigVecs, 32))
    val (smallT, bigT) = (convsAt(smallConvs, 32), convsAt(bigConvs, 64))
    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]

    // flagship parse -> route -> export, forced full-column evaluation
    val turnsSmall = smallT.count()
    val turnsBig = bigT.count()
    results += op("flagship", smallT, bigT, turnsSmall, turnsBig) { t =>
      ScaleRun.forceEval(Exporter.logsV2(
        Pipeline.compile(SparkEntry.transcriptPipeline)(Transcripts.toLogFrame(t))))
    }

    // dedup family
    results += op("dedup_exact", smallD, bigD, smallDocs, bigDocs) { d =>
      Dedup.exact(d).agg(count(lit(1)), sum(col("n_docs")))
        .collect().head.getLong(0)
    }
    results += op("dedup_minhash", smallD, bigD, smallDocs, bigDocs) { d =>
      Dedup.minhashCandidates(d, maxBandGroup = 256)
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    // per-stage attribution for the minhash big-side ratio (round-3 verdict
    // #2): the signature pass (exact-dup collapse + codegen banding kernel)
    // scales with ROWS; the band-join pass scales with CANDIDATE PAIRS —
    // separating them shows whether a high time ratio is output-driven
    // (pairs grow faster than rows on a denser corpus) or a plan pathology
    val minhashStages = {
      def sig() = Dedup.minhashBandRows(bigD)
        .agg(count(lit(1))).collect().head.getLong(0)
      def full() = Dedup.minhashCandidates(bigD, maxBandGroup = 256)
        .agg(count(lit(1))).collect().head.getLong(0)
      val (_, sigSec) = timed(sig()) // both stages warm from the op() above
      val (pairs, totSec) = timed(full())
      val joinSec = math.max(0.0, totSec - sigSec)
      System.err.println(f"[scaleup] dedup_minhash stages: sig=${sigSec}%.2fs " +
        f"join=${joinSec}%.2fs pairs=$pairs " +
        f"(${pairs / math.max(1e-9, joinSec)}%.0f pairs/s)")
      f""""dedup_minhash_stages":{"sig_sec":$sigSec%.2f,"join_sec":$joinSec%.2f,""" +
        f""""total_sec":$totSec%.2f,"pairs":$pairs,""" +
        f""""pairs_per_sec":${pairs / math.max(1e-9, joinSec)}%.0f}"""
    }
    results += op("dedup_simhash", smallD, bigD, smallDocs, bigDocs) { d =>
      Dedup.simhashPairs(d, maxDist = 8, maxChunkGroup = 256)
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    results += op("embedding_neardup", smallV, bigV, smallVecs, bigVecs) { v =>
      Dedup.embeddingNearDups(v, threshold = 0.25, planes = 12)
        .agg(count(lit(1))).collect().head.getLong(0)
    }

    // curation ops at 100x docs: decontamination is explode -> broadcast
    // semi-join -> per-doc count (the benchmark side is FIXED-size — the
    // scale test is the corpus pass); redaction is a pure scan-speed
    // projection (the ratio IS the linearity statement)
    // the benchmark side is pinned to the SAME doc_id slice at both scales
    // (a real eval set doesn't grow with the corpus) — the ratio isolates
    // the corpus pass
    results += op("decontaminate", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Curation.contaminated(
        d, d.filter(col("doc_id") < 5000 && col("doc_id") % 97 === 0), n = 5)
        .agg(count(lit(1)), sum(col("n_hits"))).collect().head.getLong(0)
    }
    results += op("pii_redact", smallD, bigD, smallDocs, bigDocs) { d =>
      d.select(xxhash64(graft.ops.Curation.redact(col("text"))).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    // pseudonymization: the same scan-pass shape as redact plus a per-match
    // md5 inside the kernel — per-row cost tracks matches, not corpus size
    results += op("pii_pseudo", smallD, bigD, smallDocs, bigDocs) { d =>
      d.select(xxhash64(graft.ops.Curation.pseudonymize(col("text"))).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    // epoch_mix: quality score + tier CASE + bounded sequence explode, zero
    // shuffle before the audit agg; checksum pins the exact expansion
    results += op("epoch_mix", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Curation.epochMix(d,
        Seq(("hi", 0.71, 2.5), ("mid", 0.66, 1.0), ("low", 0.0, 0.25)))
        .agg(count(lit(1)).as("n"), sum(col("doc_id") * col("copy_idx")).as("ck"))
        .select(col("n") + col("ck")).collect().head.getLong(0)
    }
    // blocklist: ONE Aho-Corasick automaton pass per doc — per-char cost
    // independent of phrase count, the k-pass contains/regex replacement
    results += op("blocklist", smallD, bigD, smallDocs, bigDocs) { d =>
      d.select(graft.functions.AcBlocklistStats(
          col("text"), TextQueries.blocklistPhrases).as("b"))
        .select((col("b.n_matches") + col("b.first_pos") * 7L +
          col("b.first_phrase")).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    // ann_recall: fixed 20-query harness at both scales so the ratio reads
    // per-corpus cost (truth cross-join is 20 x corpus, probe is bounded)
    results += op("ann_recall", smallV, bigV, smallVecs, bigVecs) { v =>
      val nRows = v.count()
      graft.ops.Similarity.ivfRecall(v, queryMod = math.max(1L, nRows / 20))
        .agg(sum(col("hits") * 1000L + col("n_cands"))).collect().head.getLong(0)
    }
    // dedup_spans: the ACTION step over substr_windows' detection — keeper
    // rank + position-union excision + ordered re-assembly; state per doc
    // bounded by its own token count
    results += op("dedup_spans", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Dedup.removeDuplicateSpans(d, w = 8)
        .agg(sum(col("n_removed_tokens") +
          xxhash64(col("kept_md5")) % 1000L)).collect().head.getLong(0)
    }
    // winnow: the selected-fraction (~2/(w+1)) inverted-index exchange vs
    // substr_windows' every-position shuffle — same md5-bound gram hashing,
    // ~4.5x less exchange volume by construction at k=16/w=8
    results += op("winnow", smallD, bigD, smallDocs, bigDocs) { d =>
      val fps = d.select(col("doc_id"),
        explode(graft.functions.WinnowFps(col("text"), 16, 8)).as("h"))
      val shared = fps.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"))
      fps.join(shared, "h").groupBy(col("doc_id"))
        .agg(sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("ns"))
        .agg(sum(col("ns"))).collect().head.getLong(0)
    }
    // round-5 quality/clustering additions at 100x docs/vecs:
    // gopher_repetition is a single-projection scan pass (the ratio IS the
    // linearity statement); lm_perplexity runs the FULL train (two aggs +
    // top-k collect) + broadcast score each time — the honest end-to-end
    // cost of a model whose size is capped independent of corpus scale;
    // kmeans is 2 Lloyd iterations = 2 broadcast assignment passes + one
    // k x dim-group shuffle whose state never grows with rows
    results += op("gopher_repetition", smallD, bigD, smallDocs, bigDocs) { d =>
      d.select(graft.functions.RepetitionStats(col("text")).as("r"))
        .select((col("r.n_lines") +
          (col("r.top_2gram_char_frac") * 1e6).cast("long") +
          (col("r.dup_5gram_frac") * 1e6).cast("long")).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    results += op("lm_perplexity", smallD, bigD, smallDocs, bigDocs) { d =>
      val lm = graft.ops.LmScore.train(d, col("text"))
      val cols = graft.ops.LmScore.scoreColumns(lm, col("text"))
      d.select(cols.map { case (n, c) => c.as(n) }: _*)
        .agg(sum(col("sum_logp_e6"))).collect().head.getLong(0)
    }
    // nb_classify = FULL train (three bounded aggs, (V+1) x K collected
    // model) + one broadcast codegen scoring pass — like lm_perplexity,
    // the honest end-to-end cost of a corpus-size-independent model
    results += op("nb_classify", smallD, bigD, smallDocs, bigDocs) { d =>
      import graft.ops.Classify
      // label synthesized like temp_sample's stratum: the generator has no
      // domain column
      val dd = d.withColumn("label",
        pmod(xxhash64(col("doc_id"), lit(11L)), lit(5L)).cast("string"))
      val m = Classify.nbTrain(dd, col("text"), col("label"), vocabSize = 24)
      val cols = Classify.nbScoreColumns(m, col("text"))
      dd.select(cols.map { case (n, c) => c.as(n) }: _*)
        .agg(sum(col("score_e6"))).collect().head.getLong(0)
    }
    results += op("kmeans", smallV, bigV, smallVecs, bigVecs) { v =>
      graft.ops.Clustering.kmeans(v, col("vec_id"), col("embedding"),
        k = 8, iters = 2)
        .agg(sum(col("dist_e6"))).collect().head.getLong(0)
    }
    // semdedup = the FULL SemDeDup pipeline (kmeans + capped within-cluster
    // cosine pairs + component closure + keeper): the cluster cap bounds
    // the pair join exactly like the minhash band cap, so the big side is
    // pair-output-bound, not cluster-size-quadratic
    results += op("semdedup", smallV, bigV, smallVecs, bigVecs) { v =>
      val m = graft.ops.Clustering.kmeansModel(v, col("vec_id"),
        col("embedding"), k = 8, iters = 2)
      graft.ops.Dedup.semDedup(m.assigned, threshold = 0.35)
        .agg(count(when(!col("keep"), lit(1))).as("dropped"))
        .collect().head.getLong(0)
    }
    // dup_clusters = the full near-dup pipeline + min-label propagation to
    // fixpoint: per round one id-keyed shuffle, and the round count tracks
    // component DIAMETER (which the capped star edges keep ~2 by
    // construction), not component size — so iterations stay flat as rows
    // grow 100x
    results += op("dup_clusters", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Dedup.dupClusters(
        graft.ops.Dedup.minhashCandidates(d, maxBandGroup = 256))
        .agg(count(lit(1)), sum(col("n_members")))
        .collect().head.getLong(0)
    }
    // bm25 = two bounded training aggs (term df via isin pushdown) + ONE
    // broadcast-model codegen scoring pass — the scoring side is scan-speed
    results += op("bm25", smallD, bigD, smallDocs, bigDocs) { d =>
      import graft.ops.Relevance
      val terms = Relevance.topDfTerms(d, col("text"), col("doc_id"), 8)
      val m = Relevance.bm25Train(d, col("text"), terms.toSeq)
      val base = d.select(col("doc_id"),
        graft.functions.OptimizerFence(split(trim(col("text")), "\\s+")).as("__ws"),
        graft.ops.TextOps.wsTokenCount(col("text")).as("__dl"))
      val cols = Relevance.bm25Columns(m, col("__ws"), col("__dl"))
      base.select(cols.map { case (n, c) => c.as(n) }: _*)
        .agg(sum(col("bm25_e6"))).collect().head.getLong(0)
    }
    // temp_sample = one count agg + one codegen hash-threshold filter (the
    // stratum is synthesized: the generator has no domain column)
    results += op("temp_sample", smallD, bigD, smallDocs, bigDocs) { d =>
      val dd = d.withColumn("stratum",
        pmod(xxhash64(col("doc_id"), lit(7L)), lit(20L)).cast("string"))
      graft.ops.Curation.temperatureSample(dd, col("doc_id"), col("stratum"), 0.5)
        .count()
    }
    // c4_gopher = the full heuristic cleaning battery: one C4Stats kernel
    // pass + column arithmetic, filter fused into the scan — scan speed
    results += op("c4_gopher", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.CleanFilters.cleanCorpus(d).count()
    }
    // substr_windows = the inherently shuffle-heavy op: rows x tokens
    // explode -> digest count -> digest join -> id regroup; the artifact
    // row shows whether the double digest shuffle stays linear at 100x
    results += op("substr_windows", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Dedup.duplicateWindowStats(d, w = 8)
        .agg(sum(col("n_dup_windows"))).collect().head.getLong(0)
    }
    // dsir = FULL train (ONE featurize pass, conditional target/raw
    // partials) + broadcast-table codegen scoring each run
    results += op("dsir", smallD, bigD, smallDocs, bigDocs) { d =>
      import graft.ops.Dsir
      val m = Dsir.trainSplit(d, pmod(col("doc_id"), lit(7)) === 0,
        col("text"), buckets = 1024)
      val sc = Dsir.scoreColumns(m, col("text"))
      d.select(sc.map { case (n, c) => c.as(n) }: _*)
        .agg(sum(col("logw_e6"))).collect().head.getLong(0)
    }
    // bpe = FULL train (one corpus word-dict pass + 6 bounded-dict merge
    // iterations) + one broadcast codegen encode pass; the row shows the
    // dict-iteration cost staying flat while encode scales with the scan
    results += op("bpe", smallD, bigD, smallDocs, bigDocs) { d =>
      val m = graft.ops.Bpe.train(d, col("text"), numMerges = 6)
      val sc = graft.ops.Bpe.encodeColumns(m, col("text"))
      d.select(sc.map { case (n, c) => c.as(n) }: _*)
        .agg(sum(col("n_tokens"))).collect().head.getLong(0)
    }
    // bloom_dedup = incremental dedup, full cycle each run: OR-bitset
    // filter BUILD over the even-id half (one fixed-buffer aggregation —
    // the exchange moves partitions x mBits/8 bytes regardless of rows) +
    // zero-shuffle codegen PROBE of the odd-id half + exact verify join
    // restricted to the flagged sliver. mBits=1<<24 (2 MiB) at both scales
    results += op("bloom_dedup", smallD, bigD, smallDocs, bigDocs) { d =>
      graft.ops.Dedup.bloomIncremental(
          d.filter(col("doc_id") % 2 === 1), d.filter(col("doc_id") % 2 === 0),
          mBits = 1 << 24, k = 4)
        .agg(count(when(col("maybe_dup"), 1)).as("n"))
        .collect().head.getLong(0)
    }
    // hll_distinct = vocabulary-per-stratum sketch over EXPLODED words
    // (rows x tokens input): the aggregation buffer is 512 bytes per
    // stratum, so the exchange after the map-side partials is groups x m
    // bytes — the row shows bounded-state distinct counting tracking the
    // explode's scan cost, where exact count(DISTINCT) would shuffle every
    // word occurrence
    // minhash_incremental = the recurring-crawl near-dup shape: the even-id
    // half is summarized ONCE into the capped band index (in production a
    // bucketed table written by the previous crawl's job), the odd-id half
    // computes only its OWN signatures and does one band-keyed join against
    // the index — old texts are never re-read, so the per-snapshot cost
    // tracks the NEW side's rows, not the corpus
    results += op("minhash_incremental", smallD, bigD, smallDocs, bigDocs) { d =>
      val idx = Dedup.minhashBandIndex(
        d.filter(col("doc_id") % 2 === 0), maxBandGroup = 256)
      Dedup.minhashIncremental(idx, d.filter(col("doc_id") % 2 === 1))
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    results += op("hll_distinct", smallD, bigD, smallDocs, bigDocs) { d =>
      val words = d
        .withColumn("stratum",
          pmod(xxhash64(col("doc_id"), lit(3L)), lit(16L)).cast("string"))
        .select(col("stratum"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
      graft.ops.TextOps.hllDistinct(words, Seq(col("stratum")), col("w"), m = 512)
        .agg(sum(round(col("estimate")).cast("long"))).collect().head.getLong(0)
    }
    // heavy_hitters = bounded-state top-token detection over exploded
    // words: ONE Misra-Gries aggregation (k-counter buffer, map-side
    // partials) + exact verification over the <=k candidate sliver —
    // the first-pass shape that replaces a full-vocabulary groupBy
    results += op("heavy_hitters", smallD, bigD, smallDocs, bigDocs) { d =>
      val words = d.select(explode(split(trim(col("text")), "\\s+")).as("w"))
      graft.ops.FreqStats.heavyHitters(words, col("w"), phi = 0.01, k = 256)
        .count()
    }
    // transcript_curation = the conversation-structured ops over the
    // FLAGSHIP transcript table itself: loop/alternation signals (one
    // conv_id-keyed shuffle, per-group sort bounded by one conversation's
    // turns) + corpus-wide keep-first turn dedup (one 16-byte-digest
    // shuffle) joined per conversation
    results += op("transcript_curation", smallT, bigT, turnsSmall, turnsBig) { t =>
      graft.ops.TranscriptOps.loopSignals(t)
        .join(graft.ops.TranscriptOps.turnDedupStats(t).drop("n_turns"),
          Seq("conv_id"))
        .agg(count(lit(1)), sum(col("n_dup_turns")))
        .collect().head.getLong(0)
    }

    // transcript_structure = the round-5 structure additions over the same
    // table: time-gap sessionization (one conv_id-keyed window pass),
    // tool-transition Markov edges (bounded |tools|^2 edge table), and
    // cross-conversation shared-prefix detection (depth-capped digest
    // explode + (depth, digest)-keyed count join)
    results += op("transcript_structure", smallT, bigT, turnsSmall, turnsBig) { t =>
      val sess = graft.ops.TranscriptOps.sessionStats(t, gapSeconds = 600)
        .agg(count(lit(1))).collect().head.getLong(0)
      val trans = graft.ops.TranscriptOps.toolTransitions(t)
        .agg(sum(col("n"))).collect().head.getLong(0)
      val pref = graft.ops.TranscriptOps.sharedPrefixStats(t, maxDepth = 8)
        .agg(sum(col("max_shared_depth"))).collect().head.getLong(0)
      sess + trans + pref
    }

    // sft_render = the training-sample format ops over the flagship
    // transcript table: SFT (prompt, response) pair extraction +
    // preference-pair mining (both ride ONE conv_id-keyed window pass)
    // and chat-template serialization (per-turn codegen concat + a
    // conv-sized bounded-buffer aggregate). Output rows are pairs/convs —
    // orders fewer than turns — so the digests/counts are what's forced.
    results += op("sft_render", smallT, bigT, turnsSmall, turnsBig) { t =>
      val pairs = graft.ops.TranscriptOps.sftPairs(t)
        .agg(count(lit(1)), sum(col("response_chars").cast("long")))
        .collect().head.getLong(0)
      val prefs = graft.ops.TranscriptOps.preferencePairs(t)
        .agg(count(lit(1))).collect().head.getLong(0)
      val rendered = graft.ops.TranscriptOps.renderChat(t)
        .agg(count(lit(1)), sum(col("n_chars")))
        .collect().head.getLong(0)
      pairs + prefs + rendered
    }

    // conv_embedding = mean-pool per-turn vectors into conversation
    // representations: explode rows x dims, ONE (conv, dim)-keyed
    // map-side-combined aggregation over quantized integers (group count
    // = convs x dims regardless of corpus size)
    results += op("conv_embedding", smallV, bigV, smallVecs, bigVecs) { v =>
      graft.ops.TranscriptOps.convEmbeddings(
        v.select(pmod(col("vec_id"), lit(10000L)).as("conv_id"),
          col("embedding")))
        .agg(sum(col("mean_e6"))).collect().head.getLong(0)
    }

    // the reference's own exporter benchmark workload
    // (exporter_benchmark_test.go:78 — plogsgen 100k-record batches with
    // default options) through the FULL 5-way logs fan-out: small = one
    // reference batch, big = 100 batches' worth in one plan. No pipeline
    // stage — the reference benchmark pushes straight to the exporter.
    def refLogsAt(n: Long, files: Int) =
      materialize(spark, s"$workDir/reflogs_$n", files)(
        graft.sources.PdataGen.logs(spark, n))
    val (smallRL, bigRL) = (refLogsAt(100000L, 4), refLogsAt(10000000L, 64))
    results += op("ref_logs_workload", smallRL, bigRL, 100000L, 10000000L) { t =>
      // shape once, persist, feed all five sinks — pushLogsData's
      // one-batch-many-writers shape. The main sink is a pure projection so
      // its computed columns are hashed (count() would prune them); the
      // other four are dedups/aggregates a count() already forces.
      val main = Exporter.logsV2(t).persist()
      try {
        val sinks = Exporter.fanOutFrom(main)
        val forcedMain = sinks("logs_v2").select(xxhash64(
          col("timestamp"), col("ts_bucket_start"),
          col("resource_fingerprint"), col("id"), length(col("body")),
          size(col("attributes_string"))).as("h"))
          .agg(sum(col("h"))).collect().head.getLong(0)
        forcedMain + (sinks - "logs_v2").values.map(_.count()).sum
      } finally main.unpersist()
    }

    // ANN family (planes=10: 1024 buckets — a scale-appropriate fan-out
    // that still leaves candidates at the small scale)
    def query(v: DataFrame) = v.filter(col("vec_id") === 0)
    def rest(v: DataFrame) = v.filter(col("vec_id") =!= 0)
    results += op("ann_brute", smallV, bigV, smallVecs, bigVecs) { v =>
      Similarity.bruteForceTopK(rest(v), query(v), 10).count()
    }
    results += op("ann_lsh", smallV, bigV, smallVecs, bigVecs) { v =>
      Similarity.lshTopK(rest(v), query(v), 10, planes = 10).count()
    }
    // index build is the one-time cost; the indexed query is the payoff
    val idxSmall = s"$workDir/sig_index_$smallVecs"
    val idxBig = s"$workDir/sig_index_$bigVecs"
    results += op("ann_index_build", smallV, bigV, smallVecs, bigVecs) { v =>
      val p = if (v eq smallV) idxSmall else idxBig
      Similarity.buildSigIndex(rest(v), p, planes = 10)
      1L
    }
    results += op("ann_indexed", smallV, bigV, smallVecs, bigVecs) { v =>
      val p = if (v eq smallV) idxSmall else idxBig
      Similarity.lshTopKIndexed(spark, p, query(v), 10, planes = 10).count()
    }
    // IVF ANN: build = quantizer train (2 broadcast Lloyd passes + k x dim
    // shuffle) + clustered partitioned write (one-time); query = probe
    // partition pruning + exact cosine on ~nprobe/kClusters of the corpus
    val ivfSmall = s"$workDir/ivf_index_$smallVecs"
    val ivfBig = s"$workDir/ivf_index_$bigVecs"
    results += op("ivf_index_build", smallV, bigV, smallVecs, bigVecs) { v =>
      val p = if (v eq smallV) ivfSmall else ivfBig
      Similarity.buildIvfIndex(rest(v), p, kClusters = 16, iters = 2)
      1L
    }
    results += op("ann_ivf", smallV, bigV, smallVecs, bigVecs) { v =>
      val p = if (v eq smallV) ivfSmall else ivfBig
      Similarity.ivfTopKIndexed(spark, p, query(v), 10, nprobe = 2).count()
    }

    // traces/metrics exporter slices over a 100x synthetic events table:
    // spansV3 is the span-shaping hot path (kind/status strings, attr
    // promotion, references JSON kernels); samplesV4 is the full
    // resource->scope->point FNV fingerprint chain + labels JSON. Both are
    // pure projections (+ one groupBy for the sample agg hash), so the
    // pass condition is near-linear time in rows.
    val smallEvents = smallConvs / 4L // 100k at defaults — the sf0.1 shape
    val bigEvents = smallEvents * 100L
    def eventsAt(n: Long, files: Int) =
      materialize(spark, s"$workDir/events_$n", files)(DataGen.events(spark, n))
    val (smallE, bigE) = (eventsAt(smallEvents, 4), eventsAt(bigEvents, 64))
    results += op("traces_spans", smallE, bigE, smallEvents, bigEvents) { e =>
      TraceExporter.spansV3(TraceQueries.spansFrom(e))
        .select(xxhash64(col("span_id"), col("trace_id"), col("ts_bucket_start"),
          col("duration_nano"), col("span_kind"), col("status_code_string"),
          col("is_remote"), col("http_host"), col("service_name"),
          col("resource_fingerprint"), col("references")).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    results += op("metrics_samples", smallE, bigE, smallEvents, bigEvents) { e =>
      MetricsExporter.samplesV4(
        MetricsExporter.scalarPoints(MetricQueries.gaugesFrom(e)))
        .select(xxhash64(col("env"), col("temporality"), col("metric_name"),
          col("fingerprint"), col("unix_milli"), col("value")).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    // firehose cwmetrics decode at 100x: JSON datum split/parse -> validity
    // gate -> full-datum distinct -> 4-stat explode -> fingerprint chain.
    // q_firehose_metrics is the slowest non-quadratic driver query at sf0.1;
    // this row shows the cost is per-query fixed overhead plus a linear
    // decode, not a degrading plan (the distinct is the one shuffle).
    results += op("firehose_cwmetrics", smallE, bigE, smallEvents, bigEvents) { e =>
      val frames = graft.sources.FirehoseMetrics.fromFirehoseCwMetrics(
        MetricQueries.firehoseRecordsFrom(e), col("record"))
      MetricsExporter.samplesV4(MetricsExporter.scalarPoints(frames))
        .select(xxhash64(col("temporality"), col("metric_name"),
          col("fingerprint"), col("unix_milli"), col("value")).as("h"))
        .agg(sum(col("h"))).collect().head.getLong(0)
    }
    // dependency graph at 100x with the APPROX quantile default (round-4
    // verdict #3): the pass condition is bounded aggregation state — the
    // sketch buffer is fixed by the accuracy parameter where exact
    // percentile's buffer grows with per-group span count. Edges enriched
    // exactly like q_dep_graph (TraceQueries.depGraphSpans).
    results += op("dep_graph", smallE, bigE, smallEvents, bigEvents) { e =>
      val spans = TraceQueries.depGraphSpans(TraceQueries.spansFrom(e))
      TraceExporter.dependencyGraph(TraceExporter.spansV3(spans))
        .agg(count(lit(1)).as("edges"),
          coalesce(sum(col("total_count")), lit(0L)).as("spans"))
        .collect().head.getLong(1)
    }

    // otlp_proto decode boundary (round-4 verdict #5): the Kafka-payload
    // decode enters the plan through a typed flatMap — measure its
    // bytes/s at 100x against a parquet-scan-class baseline over the SAME
    // binary column (sum of value lengths: scan + codegen, no decode).
    // Promotion to a Generator expression is warranted only if decode is
    // >2x off the scan class.
    // megabyte-scale binary rows need scan-side care: the vectorized
    // reader's default 4096-row columnar batch times 256 KB messages is
    // ~1 GB PER TASK (OnHeapColumnVector.appendBytes OOM at 32 tasks), and
    // tiny splits still decompress whole row groups. Default split size +
    // a 64-row columnar batch keeps a task's resident batch ~16 MB — the
    // same settings a production job reading a payload-bytes column needs.
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    spark.conf.set("spark.sql.parquet.columnarReaderBatchSize", "64")
    def kafkaAt(t: DataFrame, n: Long, files: Int) =
      materialize(spark, s"$workDir/kafka_logs_$n", files)(
        graft.sinks.KafkaExport.logsToKafka(
          graft.pipeline.Pipeline.compile(SparkEntry.transcriptPipeline)(
            Transcripts.toLogFrame(t)), maxMessageBytes = 262144).toDF)
    val (smallK, bigK) = (kafkaAt(smallT, smallConvs, 4), kafkaAt(bigT, bigConvs, 64))
    results += op("otlp_decode", smallK, bigK, turnsSmall, turnsBig) { k =>
      graft.sources.LogSources.fromKafka(k, "otlp_proto")
        .agg(count(lit(1)), sum(length(col("body"))))
        .collect().head.getLong(0)
    }
    val otlpDecodeStats = {
      val bytesBigK = bigK.agg(sum(length(col("value")))).collect().head.getLong(0)
      def scan() = bigK.agg(sum(length(col("value")))).collect().head.getLong(0)
      def decode() = graft.sources.LogSources.fromKafka(bigK, "otlp_proto")
        .agg(count(lit(1))).collect().head.getLong(0)
      scan(); decode() // warm
      val (_, scanSec) = timed(scan())
      val (recs, decSec) = timed(decode())
      System.err.println(f"[scaleup] otlp_decode: bytes=$bytesBigK " +
        f"decode=${decSec}%.2fs (${bytesBigK / 1e6 / decSec}%.1f MB/s) " +
        f"scan-baseline=${scanSec}%.2fs (${bytesBigK / 1e6 / scanSec}%.1f MB/s)")
      f""""otlp_decode_bytes":{"payload_bytes":$bytesBigK,"records":$recs,""" +
        f""""decode_sec":$decSec%.2f,"decode_mb_per_sec":${bytesBigK / 1e6 / decSec}%.1f,""" +
        f""""scan_baseline_sec":$scanSec%.2f,"scan_mb_per_sec":${bytesBigK / 1e6 / scanSec}%.1f,""" +
        f""""decode_vs_scan":${decSec / math.max(1e-9, scanSec)}%.2f}"""
    }

    val bytesBig = dirBytes(s"$workDir/transcripts_$bigConvs")
    val head = s"""{"turns_small":$turnsSmall,"turns_big":$turnsBig,""" +
      s""""transcripts_big_bytes":$bytesBig,""" +
      s""""docs_big":$bigDocs,"vecs_big":$bigVecs,"""
    ScaleupResult(
      full = head + (results.map(_.json) :+ minhashStages :+ otlpDecodeStats)
        .mkString(",") + "}",
      compact = head + (results.map(_.compactJson) :+ minhashStages :+ otlpDecodeStats)
        .mkString(",") + "}")
  }

  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkEntry.sessionBuilder(cores, "graft-scaleup")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val workDir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_scaleup"
    val bigDocs = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_DOCS", "500000").toLong
    val bigVecs = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_VECS", "200000").toLong
    val bigConvs = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_CONVS", "6000000").toLong
    println(section(spark, workDir, bigDocs = bigDocs, bigVecs = bigVecs,
      bigConvs = bigConvs).full)
    spark.stop()
  }
}
