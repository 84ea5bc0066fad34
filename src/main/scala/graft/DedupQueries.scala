package graft

import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.Query.read
import graft.ops.{Dedup, TextOps}

/** The dedup family over the documents/embeddings tables: exact, minhash,
  * simhash, embedding and semantic near-dup, span and paragraph dedup,
  * containment, and incremental (Bloom and band-index) dedup.
  */
object DedupQueries {

  val table: Seq[Query] = Seq(

    // exact dedup: hash-groupBy on content digest
    Query("q_dedup_exact", (s, d) => Dedup.exact(read(s, d, "documents")),
      """SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS exemplar
        |FROM documents GROUP BY 1""".stripMargin),

    // MinHash+LSH candidate pairs (the near-dup scale path); the hot-band
    // cap is ON (all-pairs within the first 256 per band + star edges to
    // the anchor beyond) and the oracle replicates it exactly
    Query("q_dedup_minhash", (s, d) =>
      Dedup.minhashCandidates(read(s, d, "documents"), shingleN = 3, k = 16, bands = 4,
        maxBandGroup = 256)
        .agg(count(lit(1)).as("n")),
      // the hot-band cap (256) is replicated: all-pairs among the first 256
      // per band + one star edge to the band anchor for every member beyond
      s"""WITH reps AS (SELECT min(doc_id) AS doc_id, text
         |              FROM documents GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |${minhashPairsSql("bands", "pairs AS (")})
         |SELECT count(*) AS n FROM (SELECT DISTINCT a, b FROM pairs)""".stripMargin),

    // duplicate clusters: minhash candidate pairs -> connected components
    // (min-label propagation to fixpoint) -> one row per cluster
    Query("q_dup_clusters", (s, d) =>
      Dedup.dupClusters(Dedup.minhashCandidates(read(s, d, "documents"), shingleN = 3,
        k = 16, bands = 4, maxBandGroup = 256)),
      // the q_dedup_minhash pairs CTE + a recursive-CTE transitive closure:
      // cluster label = min doc_id reachable (exactly what min-label
      // propagation converges to on the Spark side)
      s"""WITH RECURSIVE reps AS (SELECT min(doc_id) AS doc_id, text
         |              FROM documents GROUP BY text),
         |sh AS (SELECT doc_id,
         |            list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM reps),
         |${minhashPairsSql("bands", "pairs AS (")}),
         |edges AS (SELECT a AS s, b AS d FROM pairs
         |          UNION SELECT b, a FROM pairs),
         |reach(id, r) AS (
         |  SELECT s, d FROM edges
         |  UNION
         |  SELECT e.s, rr.r FROM edges e JOIN reach rr ON e.d = rr.id),
         |lbl AS (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
         |SELECT cluster, count(*) AS n_members,
         |       CAST(sum(id) AS BIGINT) AS sum_ids
         |FROM lbl GROUP BY cluster""".stripMargin),

    // exact n-gram Jaccard (verification-scale: all-pairs is quadratic, so
    // cap the input — at the oracle SF the cap keeps every row)
    Query("q_ngram_jaccard", (s, d) =>
      // input structurally capped (doc_id < 5000) -> explicit opt-out of
      // the verifier guard: the guard's own bounded count job costs more
      // than this whole query
      Dedup.ngramJaccardPairs(read(s, d, "documents").filter(col("doc_id") < 5000),
        shingleN = 3, threshold = 0.05, uncapped = true)
        .agg(count(lit(1)).as("n"),
          sum((col("jaccard") * 1000000).cast("long")).as("sum_jaccard_e6")),
      s"""WITH sh AS (SELECT doc_id, unnest($shinglesSql) AS s
         |           FROM documents WHERE doc_id < 5000),
         |${overlapSql("sh")} GROUP BY 1, 2),
         |j AS (SELECT round(CAST(i AS DOUBLE) / (sa.sz + sb.sz - i), 6) AS jac
         |      FROM inter JOIN sizes sa ON inter.a = sa.doc_id
         |                 JOIN sizes sb ON inter.b = sb.doc_id)
         |SELECT count(*) AS n,
         |       CAST(COALESCE(SUM(CAST(jac * 1000000 AS BIGINT)), 0) AS BIGINT) AS sum_jaccard_e6
         |FROM j WHERE jac >= 0.05""".stripMargin),

    // asymmetric containment dedup (Broder containment vs resemblance):
    // injected 20-word prefix children are contained (1.0) in their parents
    // while scoring low Jaccard — the superset/subset mode q_ngram_jaccard
    // misses; n_hidden counts exactly those pairs
    Query("q_containment", (s, d) => {
      val base = read(s, d, "documents").filter(col("doc_id") < 5000)
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
    },
      // containment = inter / min(|A|,|B|) over the same distinct-shingle
      // machinery as q_ngram_jaccard; prefix children replicated via the
      // word-slice injection
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 5000),
         |d0 AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT doc_id + 1000000,
         |         array_to_string(($toks)[1:20], ' ')
         |  FROM base WHERE doc_id % 31 = 0),
         |${containmentSql("0.5", "n_hidden")}""".stripMargin),

    // SimHash near-dup (input-capped like q_ngram_jaccard; the hot-chunk
    // group cap is ON and the oracle replicates it)
    Query("q_dedup_simhash", (s, d) =>
      Dedup.simhashPairs(read(s, d, "documents").filter(col("doc_id") < 5000), maxDist = 16,
        maxChunkGroup = 256)
        .agg(count(lit(1)).as("n")),
      // chunk-level candidate generation with the hot-chunk-group cap (256)
      // replicated exactly like q_dedup_minhash's band cap
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
         |SELECT count(*) AS n FROM dcand WHERE bit_count(xor(sa, sb)) <= 16""".stripMargin),

    // embedding cosine near-dup via hyperplane LSH buckets (threshold 0.25:
    // the synthetic embeddings are random, so production-grade thresholds
    // match nothing and would assert an empty set); hot-bucket cap ON and
    // replicated by the oracle
    Query("q_embedding_neardup", (s, d) =>
      Dedup.embeddingNearDups(read(s, d, "embeddings"), threshold = 0.25, planes = 6,
        maxBucketGroup = 256)
        .agg(count(lit(1)).as("n"),
          coalesce(sum((col("cosine") * 1000000).cast("long")), lit(0L))
            .as("sum_cos_e6")),
      {
        // hot-bucket cap (256) replicated: all-pairs among the first 256 per
        // sig bucket + one star edge to the bucket anchor beyond (pairs are
        // unique — one sig per row — so UNION ALL, no dedup needed)
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
      }),

    // the full SemDeDup pipeline: k-means -> within-cluster cosine pairs
    // -> transitive closure -> keep the member farthest from its centroid;
    // one audit row per duplicate component
    Query("q_semdedup", (s, d) => {
      val model = graft.ops.Clustering.kmeansModel(read(s, d, "embeddings"),
        col("vec_id"), col("embedding"), k = 8, iters = 2)
      Dedup.semDedup(model.assigned, threshold = 0.35)
        .filter(col("component").isNotNull)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          sum(col("vec_id")).as("sum_ids"),
          max(when(col("keep"), col("vec_id"))).as("kept_id"),
          max(when(col("keep"), col("dist_e6"))).as("kept_dist_e6"))
    }, {
      // the full SemDeDup pipeline in SQL: the q_kmeans Lloyd unroll, the
      // q_embedding_neardup capped within-cluster pairs, the q_dup_clusters
      // recursive closure, then the farthest-from-centroid keeper
      val cos = cosineSql("ea", "eb")
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
         |       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |     FROM embeddings),
         |${kmeansSql("vec_id, cl, dist_e6")},
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
    }),

    // paragraph-level exact dedup (keep-first) + doc reconstruction; the
    // docs table has no newlines, so paragraphs are constructed as 10-token
    // chunks (the splitter itself is regex-parameterized and spec-tested on
    // real \n\n text)
    Query("q_para_dedup", (s, d) => {
      // round 6: materialize the token array ONCE per row (fenced
      // projection — the LmScore/Dsir pattern): inlined into the chunk
      // lambda, `split(trim(text))` re-evaluated per chunk index
      val tokDf = read(s, d, "documents").select(col("doc_id"),
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
    },
      // 10-token chunk paragraphs -> keep-first dedup window -> per-doc rebuild
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
         |FROM k WHERE rn = 1 GROUP BY 1""".stripMargin),

    // exact-substring span dedup (Lee et al. 2022, distributed window-hash
    // shape): per-doc fraction of 8-token windows whose hash occurs at >=2
    // positions corpus-wide
    Query("q_substr_windows", (s, d) =>
      Dedup.duplicateWindowStats(read(s, d, "documents"), w = 8),
      // window-hash substring dedup: same stride-1 8-token md5 windows, a
      // window is duplicated iff its hash occurs at >=2 positions corpus-wide
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
         |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin),

    // exact duplicate-span REMOVAL (Lee et al. 2022): excise every repeated
    // 8-token window except its globally-first occurrence; kept_md5 pins
    // the exact surviving text per doc
    Query("q_dedup_spans", (s, d) =>
      Dedup.removeDuplicateSpans(read(s, d, "documents"), w = 8),
      // positional replica of keep-first span removal: window keeper by
      // (doc_id, pos) rank, removed-position union, run/island span count,
      // ordered re-assembly md5
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
         |LEFT JOIN spans s USING (doc_id) LEFT JOIN kept k USING (doc_id)""".stripMargin),

    // winnowing (MOSS) fingerprints + cross-doc shared-span detection:
    // k=16/w=8 selects ~2/(w+1) of gram positions (vs substr_windows'
    // every-position shuffle) with the >= k+w-1 shared-span guarantee;
    // deterministic injected tails create real cross-doc overlap classes
    Query("q_winnow", (s, d) => {
      import graft.functions.WinnowFps
      val injected = read(s, d, "documents").withColumn("text", concat(col("text"),
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
      read(s, d, "documents").select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_fps"), lit(0L)).as("n_fps"),
          coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
          coalesce(col("fp_sum"), lit(0L)).as("fp_sum"))
    },
      // positional replica of winnowing: per-window rightmost-tie argmin over
      // 48-bit md5 gram hashes, DISTINCT selected positions, then the shared
      // inverted-index aggregation
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
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin),

    // normalization-aware exact dedup: case/accent/punctuation variants of
    // the same doc collapse onto one normalized key — injected shouting
    // accented children are caught by the normalized pass only
    Query("q_dedup_normalized", (s, d) => {
      val base = read(s, d, "documents").select(col("doc_id"), col("text"))
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
    }, {
      // normalized-key dedup replicated with the identical translate table
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
    }),

    // Bloom-filter incremental dedup: filter built over the even-id
    // snapshot (one OR-bitset aggregation), probed by the odd-id snapshot
    // plus 50 injected true duplicates of even docs; flagged rows verified
    // with an exact fingerprint semi-join. mBits=2048 is sized so the
    // oracle SF exercises deterministic false positives too.
    Query("q_bloom_dedup", (s, d) => {
      val all = read(s, d, "documents")
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
    },
      // Bloom incremental dedup: the filter's exact bit membership is
      // replicated (same md5-derived positions, same mBits=2048 modulo), so
      // the flagged set — true dups AND deterministic false positives — is
      // reproduced bit-for-bit, then verified against the old fingerprints
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
        |FROM v""".stripMargin),

    // incremental near-dup: the NEW snapshot (odd ids + 50 re-logged
    // near-copies of old docs with a one-word tail) probes the OLD
    // snapshot's capped band index; the 50 re-logs must come out as
    // candidates without touching the old texts again
    Query("q_minhash_incremental", (s, d) => {
      val dd = read(s, d, "documents")
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
    },
      // incremental near-dup: old snapshot -> capped band index (row_number
      // over band by id, same cap), new snapshot bands -> one band join;
      // the flagged pair set hash-compares via the same sorted string form
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
         |${sigBandsSql("o", "obands")},
         |oidx AS (
         |  SELECT doc_id, band FROM (
         |    SELECT doc_id, band,
         |      row_number() OVER (PARTITION BY band ORDER BY doc_id) AS rn
         |    FROM obands) WHERE rn <= 256),
         |nreps AS (SELECT min(doc_id) AS doc_id, text FROM nw GROUP BY text),
         |nsh AS (SELECT doc_id,
         |          list_transform($shinglesSql, sh0 -> md5(sh0)) AS s FROM nreps),
         |${sigBandsSql("n", "nbands")},
         |pairs AS (
         |  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         |  FROM nbands n JOIN oidx o ON n.band = o.band)
         |SELECT count(*) AS n_pairs,
         |  count(DISTINCT new_id) AS n_new_flagged,
         |  md5(coalesce(string_agg(
         |    CAST(new_id AS VARCHAR) || ':' || CAST(old_id AS VARCHAR), ','
         |    ORDER BY CAST(new_id AS VARCHAR) || ':' || CAST(old_id AS VARCHAR)),
         |    '')) AS pairs_md5
         |FROM pairs""".stripMargin)
  )
}
