package graft

import org.apache.spark.sql.functions._

import graft.OracleSql._
import graft.Query.read
import graft.ops.Dedup

/** Evaluation harnesses: dedup precision/recall against exact Jaccard
  * truth, IVF recall against brute force, and held-out classifier
  * confusion counts.
  */
object HarnessQueries {

  val table: Seq[Query] = Seq(

    // dedup-quality evaluation harness: banding recall/precision vs exact
    // Jaccard truth at a threshold grid — integer TP/FN/FP per threshold,
    // the tuning loop (bands/rows/cap) a production dedup needs
    Query("q_dedup_pr", (s, d) => {
      val base = read(s, d, "documents").filter(col("doc_id") < 3000)
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
    }, {
      // banding-vs-truth PR harness: candidate machinery and exact-Jaccard
      // truth both replicated over the same capped rep universe
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
         |${minhashPairsSql("bandsx", "cand AS (SELECT DISTINCT a, b FROM (")})),
         |shw AS (SELECT doc_id, unnest($shinglesSql) AS s FROM reps),
         |${overlapSql("shw")}
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
    }),

    // ANN recall harness (the IVF twin of q_dedup_pr): per-query recall@10
    // of the nprobe=2 probe vs brute-force truth over a 1%-sample query
    // set, fully set-based — n_cands/corpus is the scan fraction bought
    Query("q_ann_recall", (s, d) =>
      graft.ops.Similarity.ivfRecall(read(s, d, "embeddings")),
      {
        // IVF recall harness replica: the q_kmeans model machinery trained on
        // ALL embeddings, per-query brute truth + probe-cluster candidates
        val cosTr = cosineSql("e.embedding", "q.qv")
        s"""WITH e AS (SELECT vec_id, embedding,
           |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |           FROM embeddings),
           |${kmeansSql("vec_id, cl")},
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
      }),

    // classifier evaluation harness (completes the harness trilogy with
    // q_dedup_pr / q_ann_recall): NB trained on the even half, confusion
    // counts on the held-out odd half
    Query("q_nb_eval", (s, d) => {
      import graft.ops.Classify
      val corpus = read(s, d, "documents")
      val train = corpus.filter(col("doc_id") % 2 === 0)
      val test = corpus.filter(col("doc_id") % 2 === 1)
      val m = Classify.nbTrain(train, col("text"), col("lang"), vocabSize = 24)
      val cols = Classify.nbScoreColumns(m, col("text"))
      test.select(col("lang") +: cols.map { case (n, c) => c.as(n) }: _*)
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
    },
      // held-out NB evaluation: train CTEs read the even half, scoring and
      // the confusion aggregation run over the odd half with the SAME
      // vocab/count machinery as q_nb_classify
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
         |GROUP BY te.lang, r.c""".stripMargin)
  )
}
