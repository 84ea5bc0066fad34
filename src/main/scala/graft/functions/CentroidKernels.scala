package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Nearest-centroid assignment kernel for k-means (ops/Clustering.scala).
  *
  * Cross-engine exactness argument: centroid coordinates are either raw
  * float->double casts (exact) or 6-decimal-quantized means (both engines
  * re-binarize the same decimal to the same double), and the squared-diff
  * sum folds dimension-ASCENDING with plain IEEE adds — so the distance
  * doubles are bit-identical to DuckDB's ordered `list_reduce`, and the
  * argmin can compare quantized e6 integers with a (dist, cluster) tie
  * order no float noise can flip.
  */
final class NearestCentroidWorker(centroids: Array[Array[Double]])
    extends Serializable {

  def compute(arr: ArrayData): GenericInternalRow = {
    if (arr == null) return new GenericInternalRow(Array[Any](-1, 0L))
    var best = -1
    var bestE6 = Long.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      // a dimension mismatch would otherwise silently truncate to a
      // plausible-looking partial distance (ADVICE round 6)
      require(arr.numElements() == cent.length,
        s"vector dim ${arr.numElements()} != centroid dim ${cent.length}")
      var d = 0.0
      var i = 0
      val n = math.min(arr.numElements(), cent.length)
      while (i < n) {
        val diff = arr.getFloat(i).toDouble - cent(i)
        d += diff * diff
        i += 1
      }
      val e6 = DecimalRound.e6(d)
      if (e6 < bestE6) { bestE6 = e6; best = c } // ties keep the lower cluster
      c += 1
    }
    new GenericInternalRow(Array[Any](best, bestE6))
  }
}

/** `nearest_centroid(vec)` -> struct(cluster, dist_e6). */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel =
    new NearestCentroidWorker(centroids.map(_.toArray).toArray)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = NearestCentroid.schema
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object NearestCentroid {
  val schema: StructType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist_e6", LongType, nullable = false)))

  def apply(c: Column, centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      NearestCentroid(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(c), centroids))
}

/** Per-cluster quantized distances — the multi-probe companion of
  * [[NearestCentroid]]: same dimension-ascending IEEE fold and e6 HALF_UP
  * quantization per cluster, returned as array<long> indexed by cluster id
  * so callers rank probe clusters with the identical (dist_e6, cluster)
  * total order the assignment uses.
  */
final class CentroidDistsWorker(centroids: Array[Array[Double]])
    extends Serializable {
  def compute(arr: ArrayData): ArrayData = {
    val out = new Array[Long](centroids.length)
    if (arr != null) {
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        require(arr.numElements() == cent.length,
          s"vector dim ${arr.numElements()} != centroid dim ${cent.length}")
        var d = 0.0
        var i = 0
        val n = math.min(arr.numElements(), cent.length)
        while (i < n) {
          val diff = arr.getFloat(i).toDouble - cent(i)
          d += diff * diff
          i += 1
        }
        out(c) = DecimalRound.e6(d)
        c += 1
      }
    } else { java.util.Arrays.fill(out, Long.MaxValue) }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `centroid_dists(vec)` -> array<bigint> of dist_e6 per cluster. */
case class CentroidDists(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new CentroidDistsWorker(centroids.map(_.toArray).toArray)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): CentroidDists =
    copy(child = newChild)
}

object CentroidDists {
  def apply(c: Column, centroids: Seq[Seq[Double]]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      CentroidDists(
        org.apache.spark.sql.graftbridge.GraftBridge.expression(c), centroids))
}
