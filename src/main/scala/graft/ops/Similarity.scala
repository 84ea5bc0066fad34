package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{VectorKernels, VectorKernelsImpl}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over embedding columns
  * (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the query vector and
  * one columnar pass (codegen'd single-loop cosine kernel), then a top-k
  * sort (TakeOrderedAndProject, no full sort).
  *
  * Scale path: LSH bucketing via deterministic hyperplanes. The signature is
  * a codegen kernel over a driver-precomputed plane matrix (round 1 paid
  * planes x dims md5 calls PER ROW). The query's probe buckets (exact +
  * hamming-1 multiprobe) are computed DRIVER-side from the query vector, so
  * the scan filter is a literal `sig IN (...)` — no crossJoin, and when the
  * signature is persisted as a partition column ([[buildSigIndex]]) the
  * filter prunes partitions/files before any vector is read.
  */
object Similarity {

  /** Dot product of two float-array columns (double math, codegen kernel). */
  def dot(a: Column, b: Column): Column = VectorKernels.dot(a, b)

  def norm(a: Column): Column = sqrt(VectorKernels.dot(a, a))

  def cosine(a: Column, b: Column): Column =
    round(VectorKernels.cosine(a, b), 6)

  /** Sign bits of `planes` hyperplane projections packed into a long. */
  def hyperplaneSignature(v: Column, planes: Int): Column =
    VectorKernels.hyperplaneSig(v, planes)

  /** Driver-side signature of one vector (for literal probe filters). */
  def signatureOf(vec: Seq[Float], planes: Int): Long = {
    val m = VectorKernelsImpl.planeMatrix(planes, vec.length)
    var bits = 0L
    var p = 0
    while (p < planes) {
      var proj = 0.0
      var i = 0
      while (i < vec.length) { proj += vec(i).toDouble * m(p)(i); i += 1 }
      if (proj >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Exact bucket + all hamming-distance-1 neighbors (multiprobe set). */
  def probeBuckets(sig: Long, planes: Int): Seq[Long] =
    sig +: (0 until planes).map(b => sig ^ (1L << b))

  /** Brute-force cosine top-k against a single query vector (broadcast). */
  def bruteForceTopK(embs: DataFrame, query: DataFrame, k: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val q = broadcast(query.select(col(vecCol).as("__q")))
    embs.crossJoin(q)
      .withColumn("cosine", cosine(col(vecCol), col("__q")))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** LSH-bucketed ANN: the query vector is collected (one row), its probe
    * buckets become a literal IN filter, and only bucket-matching vectors
    * pay the exact cosine. One scan, no join. With a persisted signature
    * column (see [[buildSigIndex]]) the IN filter is a pushed-down partition
    * predicate and non-matching files are never read.
    */
  def lshTopK(embs: DataFrame, query: DataFrame, k: Int, planes: Int = 8,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val qRow = query.select(col(vecCol)).head()
    val qVec = qRow.getSeq[Float](0)
    val buckets = probeBuckets(signatureOf(qVec, planes), planes)
    val qLit = typedlit(qVec.toArray)
    embs
      .withColumn("__sig", hyperplaneSignature(col(vecCol), planes))
      .filter(col("__sig").isin(buckets: _*))
      .withColumn("cosine", cosine(col(vecCol), qLit))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  /** One-time signature index: the embedding table rewritten partitioned by
    * its LSH bucket. Queries against it ([[lshTopKIndexed]]) turn the probe
    * set into partition pruning — at 100 TB, a 2^planes fan-out means each
    * query touches ~ (planes+1) / 2^planes of the data.
    *
    * The shuffle on `sig` before the write is load-bearing: without it,
    * EVERY write task holds writers for up to 2^planes dynamic partitions
    * (tasks x buckets small files, and the per-task writer churn measured
    * 20x+ super-linear on this host). Clustered by sig, each task writes
    * only its own buckets — total files = max(buckets, shuffle partitions).
    */
  def buildSigIndex(embs: DataFrame, path: String, planes: Int = 8,
      vecCol: String = "embedding"): Unit =
    embs.withColumn("sig", hyperplaneSignature(col(vecCol), planes))
      .repartition(col("sig"))
      .write.mode("overwrite").partitionBy("sig").parquet(path)

  /** ANN over a signature index: literal probe-bucket filter on the
    * partition column → Catalyst partition pruning. Verify it with the
    * executed scan's `numFiles` metric, which counts the pruned files, or
    * the scan's PartitionFilters in explain; `.inputFiles` ignores partition
    * filters and lists the whole index.
    */
  def lshTopKIndexed(spark: SparkSession, indexPath: String, query: DataFrame,
      k: Int, planes: Int = 8, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val qVec = query.select(col(vecCol)).head().getSeq[Float](0)
    val buckets = probeBuckets(signatureOf(qVec, planes), planes)
    val qLit = typedlit(qVec.toArray)
    Tables.parquet(spark, indexPath)
      .filter(col("sig").isin(buckets: _*))
      .withColumn("cosine", cosine(col(vecCol), qLit))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cosine"))
  }

  // ---- IVF (inverted-file) ANN ---------------------------------------------
  // The faiss-style coarse-quantizer layout (Jégou et al. 2011, "Product
  // Quantization for Nearest Neighbor Search" §IV — public): a deterministic
  // k-means partitions the corpus into kClusters inverted lists; a query
  // probes only the `nprobe` lists whose centroids are nearest, paying exact
  // cosine on ~nprobe/kClusters of the data. Complements the hyperplane-LSH
  // path: LSH buckets are query-independent bit patterns (great for
  // partition-pruned point lookups), IVF lists adapt to the data's actual
  // density so recall per probed fraction is higher on clustered corpora.

  /** In-memory IVF ANN: train the quantizer on `embs`, probe the `nprobe`
    * nearest inverted lists, exact cosine inside. Every step reuses the
    * deterministic k-means machinery, so the whole search — centroids,
    * probe set, candidate lists, final ranking — reproduces bit-for-bit in
    * the DuckDB oracle.
    */
  def ivfTopK(embs: DataFrame, query: DataFrame, k: Int, kClusters: Int = 8,
      iters: Int = 2, nprobe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val model = Clustering.kmeansModel(embs, col(idCol), col(vecCol),
      kClusters, iters)
    val qVec = query.select(col(vecCol)).head().getSeq[Float](0)
    val probes = Clustering.nearestClusters(model.centroids, qVec, nprobe)
    val qLit = typedlit(qVec.toArray)
    model.assigned
      .filter(col("cluster").isin(probes.map(Int.box): _*))
      .withColumn("cosine", cosine(col("v"), qLit))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
      .select(col("vec_id").as(idCol), col("cluster"), col("cosine"))
  }

  /** One-time IVF index: the corpus rewritten partitioned by its inverted
    * list, clustered before the write (same writer-churn argument as
    * [[buildSigIndex]]). Centroids persist next to the data as an
    * underscore-prefixed sidecar (invisible to parquet directory listing)
    * so queries re-derive the probe set without touching the quantizer.
    */
  def buildIvfIndex(embs: DataFrame, path: String, kClusters: Int = 8,
      iters: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): Unit = {
    val model = Clustering.kmeansModel(embs, col(idCol), col(vecCol),
      kClusters, iters)
    model.assigned
      .select(col("vec_id").as(idCol), col("v").as(vecCol), col("cluster"))
      .repartition(col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    val sidecar = new java.io.File(path, "_ivf_centroids")
    val w = new java.io.PrintWriter(sidecar, "UTF-8")
    try model.centroids.foreach { c =>
      // java.lang.Double.toString round-trips exactly via parseDouble
      w.println(c.map(java.lang.Double.toString).mkString(" "))
    } finally w.close()
  }

  private[graft] def loadIvfCentroids(path: String): Array[Array[Double]] = {
    val src = scala.io.Source.fromFile(new java.io.File(path, "_ivf_centroids"), "UTF-8")
    try src.getLines().map(_.split(" ").map(java.lang.Double.parseDouble)).toArray
    finally src.close()
  }

  /** ANN over a persisted IVF index: the probe-list filter is a partition
    * predicate, so unprobed inverted lists are never read — at 100 TB a
    * query touches ~nprobe/kClusters of the corpus files.
    */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String, query: DataFrame,
      k: Int, nprobe: Int = 2, vecCol: String = "embedding",
      idCol: String = "vec_id"): DataFrame = {
    val centroids = loadIvfCentroids(indexPath)
    val qVec = query.select(col(vecCol)).head().getSeq[Float](0)
    val probes = Clustering.nearestClusters(centroids, qVec, nprobe)
    val qLit = typedlit(qVec.toArray)
    Tables.parquet(spark, indexPath)
      .filter(col("cluster").isin(probes.map(Int.box): _*))
      .withColumn("cosine", cosine(col(vecCol), qLit))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cluster"), col("cosine"))
  }

  /** IVF recall harness — the ANN twin of the dedup PR harness: for a SET
    * of query vectors (corpus members), measure recall@k of the nprobe IVF
    * probe against brute-force truth, entirely set-based (no per-query
    * driver loop): truth = per-query top-k over a broadcast cross join;
    * probe clusters = top-nprobe of the CentroidDists kernel (the same
    * quantized (dist_e6, cluster) total order the assignment uses);
    * candidates = probe-cluster members. Self-matches excluded from both
    * sides. Returns one row per query: (qid, n_cands, hits) with hits =
    * |truth ∩ ivf-top-k| — recall@k = hits/k, and n_cands/corpus is the
    * scan fraction the probe bought.
    */
  def ivfRecall(embs: DataFrame, queryMod: Long = 100L, k: Int = 10,
      kClusters: Int = 8, iters: Int = 2, nprobe: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val model = Clustering.kmeansModel(embs, col(idCol), col(vecCol),
      kClusters, iters)
    val cents = model.centroids.map(_.toSeq).toSeq
    val q = embs.filter(pmod(col(idCol), lit(queryMod)) === 0)
      .select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col(idCol).asc)
    val truth = embs.crossJoin(broadcast(q))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("cos", cosine(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= k)
      .select(col("qid"), col(idCol))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("d").asc, col("cl").asc)
    val probes = q
      .select(col("qid"), col("qv"), posexplode(
        graft.functions.CentroidDists(col("qv"), cents)).as(Seq("cl", "d")))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("qv"), col("cl").cast("int").as("cl"))
    val cand = model.assigned.join(broadcast(probes),
        col("cluster") === col("cl") && col(idCol) =!= col("qid"))
      .withColumn("cos", cosine(col("v"), col("qv")))
    val nCands = cand.groupBy("qid").agg(count(lit(1)).as("n_cands"))
    val ivf = cand
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= k)
      .select(col("qid"), col(idCol))
    val hits = truth.join(ivf, Seq("qid", idCol))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    q.select(col("qid")).join(nCands, Seq("qid"), "left")
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }
}
