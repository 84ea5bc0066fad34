package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{DecimalRound, NearestCentroid}

/** SemDeDup-style semantic clustering for training-data curation (Abbas et
  * al. 2023 cluster corpus embeddings with k-means, then dedup/sample
  * within clusters; Lloyd's k-means itself per MacQueen/Lloyd, public):
  * fixed-iteration, deterministically-initialized k-means over an
  * embedding column.
  *
  * Scale shape: each iteration is ONE broadcast codegen pass (the k×dim
  * centroid table rides in the kernel reference object — never a join) +
  * one (cluster, dim) aggregation whose group count is k×dim regardless of
  * corpus size; map-side partial aggregation means the shuffle moves
  * O(partitions × k × dim) rows, not O(corpus). Driver state is k×dim
  * doubles. At 100 TB with k=64k SemDeDup-scale clusters the same plan
  * holds (the kernel loop is k×dim flops/row — IVF-index the centroids
  * inside the worker if k grows past ~10^5).
  *
  * Determinism across engines (oracle constraint):
  *  - init = the k lowest-id vectors (float->double, exact both engines);
  *  - per-(vec, centroid) distance folds squared diffs dimension-ASCENDING
  *    with plain IEEE adds -> bit-identical doubles vs DuckDB's ordered
  *    list_reduce; argmin compares round(dist*1e6) BIGINTs, ties to the
  *    lower cluster id;
  *  - updated centroid means quantize to 6 decimals (HALF_UP both
  *    engines) before the next pass, so cross-row float-sum order noise
  *    cannot propagate;
  *  - empty clusters keep their previous centroid.
  */
object Clustering {

  /** Trained quantizer: the final centroid table (driver-small, k×dim) plus
    * the final assignment frame `(vec_id, v, cluster, dist_e6)` — `v` keeps
    * the raw vector so downstream consumers (IVF search) avoid a re-join.
    */
  final case class KmeansModel(
      centroids: Array[Array[Double]],
      assigned: DataFrame)

  /** `iters` Lloyd iterations; returns centroids + final assignment. */
  def kmeansModel(
      embs: DataFrame,
      idCol: Column,
      vecCol: Column,
      k: Int = 8,
      iters: Int = 2): KmeansModel = {
    val init: Array[Array[Double]] = embs
      .select(idCol.as("vec_id"), vecCol.as("v"))
      .orderBy(col("vec_id").asc).limit(k)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

    var centroids = init
    var assigned: DataFrame = null
    var it = 0
    while (it < iters) {
      assigned = embs.select(
        idCol.as("vec_id"), vecCol.as("v"),
        NearestCentroid(vecCol, centroids.map(_.toSeq).toSeq).as("a"))
      if (it < iters - 1) {
        val sums = assigned
          .select(col("a.cluster").as("cl"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cl"), col("pos"))
          .agg(sum(col("x").cast("double")).as("s"), count(lit(1)).as("n"))
          .collect()
        val next = centroids.map(_.clone()) // empty clusters keep previous
        sums.foreach { r =>
          val cl = r.getInt(0)
          next(cl)(r.getInt(1)) = DecimalRound.round(r.getDouble(2) / r.getLong(3), 6)
        }
        centroids = next
      }
      it += 1
    }
    KmeansModel(centroids, assigned.select(col("vec_id"), col("v"),
      col("a.cluster").as("cluster"), col("a.dist_e6").as("dist_e6")))
  }

  /** Returns (vec_id, cluster, dist_e6) after `iters` Lloyd iterations. */
  def kmeans(
      embs: DataFrame,
      idCol: Column,
      vecCol: Column,
      k: Int = 8,
      iters: Int = 2): DataFrame =
    kmeansModel(embs, idCol, vecCol, k, iters)
      .assigned.select(col("vec_id"), col("cluster"), col("dist_e6"))

  /** Driver-side: the `nprobe` centroids nearest to one query vector, by
    * the same dimension-ascending fold + e6 HALF_UP quantization as the
    * [[NearestCentroid]] kernel (ties to the lower cluster id), so the
    * probe set is reproducible in plain SQL over the same centroid table.
    */
  def nearestClusters(
      centroids: Array[Array[Double]],
      qVec: Seq[Float],
      nprobe: Int): Seq[Int] = {
    val dists = centroids.zipWithIndex.map { case (cent, cl) =>
      var d = 0.0
      var i = 0
      val n = math.min(qVec.length, cent.length)
      while (i < n) {
        val diff = qVec(i).toDouble - cent(i)
        d += diff * diff
        i += 1
      }
      (DecimalRound.e6(d), cl)
    }
    dists.sortBy(identity).take(nprobe).map(_._2).toSeq
  }
}
