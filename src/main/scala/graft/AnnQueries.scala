package graft

import org.apache.spark.sql.functions._

import graft.OracleSql.{cosineSql, kmeansSql, sigSql}
import graft.Query.read
import graft.ops.Similarity

/** Approximate-nearest-neighbour and embedding queries over the embeddings
  * table: brute-force, LSH, indexed and IVF top-k, k-means, and the int8
  * and Johnson-Lindenstrauss projections.
  */
object AnnQueries {

  /** Top-10 by cosine to vec 0 among the vecs whose 6-plane signature is
    * within hamming distance 1 of vec 0's (Similarity.lshTopK's probe set).
    */
  private val lshTopSql: String = {
    val sig = sigSql("embedding", 6, 64)
    val cos = cosineSql("d.embedding", "(SELECT qv FROM q)")
    s"""WITH q AS (SELECT embedding AS qv, $sig AS qsig
       |           FROM embeddings WHERE vec_id = 0),
       |d AS (SELECT vec_id, embedding, $sig AS sig
       |      FROM embeddings WHERE vec_id <> 0)
       |SELECT vec_id, $cos AS cosine
       |FROM d WHERE bit_count(xor(d.sig, (SELECT qsig FROM q))) <= 1
       |ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  val table: Seq[Query] = Seq(

    // brute-force cosine top-k ANN (baseline)
    Query("q_ann_brute", (s, d) => {
      val e = read(s, d, "embeddings")
      Similarity.bruteForceTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10)
    },
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
        |FROM d ORDER BY cosine DESC, vec_id ASC LIMIT 10""".stripMargin),

    // LSH-bucketed ANN (scale path: driver-side probe buckets -> literal IN
    // filter, no crossJoin)
    Query("q_ann_lsh", (s, d) => {
      val e = read(s, d, "embeddings")
      Similarity.lshTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10, planes = 6)
    },
      lshTopSql),

    // ANN over the persisted signature index: the probe-bucket filter is a
    // partition-column predicate, so non-matching bucket files are never
    // read — the query path itself asserts inputFiles ⊆ probe buckets
    Query("q_ann_indexed", (s, d) => {
      val e = read(s, d, "embeddings")
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
    },
      // same result set as q_ann_lsh — membership in the probe-bucket set
      // (exact + hamming-1 multiprobe) is exactly hamming(sig, qsig) <= 1
      lshTopSql),

    // IVF ANN (faiss IVF-flat shape): deterministic k-means coarse
    // quantizer over the candidate set, the query probes the nprobe=2
    // nearest inverted lists, exact cosine inside — centroids, probe set,
    // lists and ranking all reproduce bit-for-bit in the oracle
    Query("q_ann_ivf", (s, d) => {
      val e = read(s, d, "embeddings")
      Similarity.ivfTopK(e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0), k = 10, kClusters = 8, iters = 2,
        nprobe = 2)
    }, {
      // the q_kmeans Lloyd unroll restricted to the candidate set
      // (vec_id <> 0), then: query->centroid distances by the same ordered
      // fold + e6 quantization, top-2 probe lists (tie to lower cluster),
      // exact cosine over the probed lists only
      val cos = cosineSql("e0.embedding", "(SELECT qv FROM qraw)")
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings WHERE vec_id <> 0),
         |${kmeansSql("vec_id, cl, dist_e6")},
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
    }),

    // SemDeDup-style semantic clustering: deterministic fixed-iteration
    // k-means over embeddings (broadcast centroid kernel, k x dim shuffle)
    Query("q_kmeans", (s, d) =>
      graft.ops.Clustering.kmeans(read(s, d, "embeddings"), col("vec_id"), col("embedding"),
        k = 8, iters = 2),
      // two unrolled Lloyd iterations; distances are bit-identical doubles
      // (ordered fold over float->double exact / 6-decimal-quantized
      // centroids), so the argmin compares exact e6 integers
      s"""WITH e AS (SELECT vec_id,
         |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |           FROM embeddings),
         |${kmeansSql("vec_id, cl, dist_e6")}
         |SELECT vec_id, cl AS cluster, dist_e6 FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id
         |     ORDER BY dist_e6 ASC, cl ASC) rn FROM a1)
         |WHERE rn = 1""".stripMargin),

    // per-vector symmetric int8 quantization: scale, quantized sum, and the
    // max reconstruction error (all 1e6-rounded for cross-engine compare)
    Query("q_embed_quantize", (s, d) => {
      import graft.ops.Quantize
      val scale = Quantize.int8Scale(col("embedding"))
      read(s, d, "embeddings")
        .withColumn("scale", scale)
        .withColumn("qv", Quantize.int8Quantize(col("embedding"), col("scale")))
        .select(
          col("vec_id"),
          round(col("scale") * 1e6, 0).cast("long").as("scale_e6"),
          aggregate(col("qv"), lit(0L), (a, x) => a + x).as("q_sum"),
          round(Quantize.maxAbsError(col("embedding"), col("qv"), col("scale")) * 1e6, 0)
            .cast("long").as("max_err_e6"))
    },
      // symmetric per-vector int8: float widened to double on BOTH engines,
      // round = half-away-from-zero on both
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
        |FROM q""".stripMargin),

    // Johnson-Lindenstrauss sign projection 64 -> 8 dims: exact BIGINT
    // arithmetic end-to-end (per-component e6 quantize, signed integer
    // sums), zero-shuffle codegen pass
    Query("q_jl_project", (s, d) => {
      import graft.functions.VectorKernels
      read(s, d, "embeddings")
        .select(col("vec_id"),
          VectorKernels.jlProject(col("embedding"), 8).as("p"))
        .select(col("vec_id") +:
          (0 until 8).map(j => element_at(col("p"), j + 1).as(s"p$j")): _*)
    }, {
      // JL sign projection: sign(i,j) from md5 first-hex-digit parity, e6
      // quantized components, exact BIGINT signed sums, pivoted to p0..p7
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
    })
  )
}
