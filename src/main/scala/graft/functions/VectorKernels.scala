package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen vector kernels for the ANN / embedding-dedup family.
  *
  * Why not `zip_with`/`aggregate`: Spark's higher-order functions are
  * interpreted (lambda per element, boxed accumulator, a fresh ArrayData per
  * step) — fine for occasional use, a scale-killer when every row of a
  * 100 TB embedding table pays it. These kernels are single-pass loops over
  * the unsafe array data, fully inside whole-stage codegen.
  *
  * Numeric contract: elements are read as float and widened to double;
  * accumulation is left-to-right from 0.0 — bit-identical to the previous
  * `aggregate(zip_with(...))` formulation and to the DuckDB oracle's
  * `list_sum(list_transform(list_zip(...)))`.
  */
object VectorKernelsImpl extends Serializable {

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** cosine = dot / (sqrt(dot(a,a)) * sqrt(dot(b,b))) in one pass. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var d = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      d += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic pseudo-random hyperplane matrix: component (p, i) =
    * md5("p$p-$i") first 6 hex digits scaled to [-0.5, 0.5). Same derivation
    * as an external SQL engine can replicate (and as round 1 computed
    * per-row — now computed exactly once here and embedded as literals).
    */
  def planeMatrix(planes: Int, dims: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes, dims) { (p, i) =>
      md.reset()
      val d = md.digest(s"p$p-$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 6 hex chars == first 3 digest bytes, big-endian
      val v = ((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)
      v.toDouble / 16777216.0 - 0.5
    }
  }

  // per-(planes, dims) matrix cache; vectors in a table share one dim, so
  // this holds one entry in practice (computeIfAbsent on a present key is
  // lock-free on JDK 9+)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  def signature(v: ArrayData, planes: Int): Long = {
    val dims = v.numElements()
    val m = cache.computeIfAbsent((planes, dims), { k: (Int, Int) =>
      planeMatrix(k._1, k._2)
    })
    var bits = 0L
    var p = 0
    while (p < planes) {
      val row = m(p)
      var proj = 0.0
      var i = 0
      while (i < dims) { proj += v.getFloat(i).toDouble * row(i); i += 1 }
      if (proj >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }
  /** Deterministic Johnson–Lindenstrauss sign matrix: sign(i, j) = +1 when
    * the first hex digit of md5("jl:i:j") is even, else -1 — a derivation a
    * SQL oracle replicates verbatim. Rows quantize each input component to
    * round(v * 1e6) (HALF_UP) once, then each output component is an exact
    * BIGINT signed sum — no floating-point accumulation anywhere, so the
    * projection is bit-identical on any engine and any row order.
    */
  def jlSigns(dIn: Int, dOut: Int): Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dIn, dOut) { (i, j) =>
      md.reset()
      val d = md.digest(s"jl:$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((((d(0) >> 4) & 0xf) & 1) == 0) 1 else -1
    }
  }

  private val jlCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Int]]]()

  def jlProject(v: ArrayData, dOut: Int): ArrayData = {
    val dIn = v.numElements()
    val m = jlCache.computeIfAbsent((dIn, dOut), { k: (Int, Int) =>
      jlSigns(k._1, k._2)
    })
    val out = new Array[Long](dOut)
    var i = 0
    while (i < dIn) {
      val q = DecimalRound.e6(v.getFloat(i).toDouble)
      val row = m(i)
      var j = 0
      while (j < dOut) { out(j) += row(j) * q; j += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}


case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with InvokeKernel {
  protected def kernel = VectorKernelsImpl
  protected def method = "dot"
  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with InvokeKernel {
  protected def kernel = VectorKernelsImpl
  protected def method = "cosine"
  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Sign bits of `planes` hyperplane projections packed into a long. The
  * plane matrix is derived deterministically (see planeMatrix) and shared —
  * NOT recomputed per row (round-1 paid ~planes x dims md5 calls per row).
  */
case class HyperplaneSig(child: Expression, planes: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = VectorKernelsImpl
  protected def method = "signature"
  override protected def arguments = Seq(child, Literal(planes))
  override def dataType: DataType = LongType
  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

/** Johnson–Lindenstrauss sign-matrix projection to `dOut` exact BIGINT
  * components (micro-units of the input scale). The standard cheap
  * embedding compressor ahead of ANN/dedup at corpus scale: one zero-shuffle
  * codegen pass, output dimension independent of the input width, distances
  * preserved to (1±eps) by the JL lemma. Integer arithmetic end-to-end (see
  * jlProject) keeps it bit-identical across engines.
  */
case class JlProject(child: Expression, dOut: Int)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = VectorKernelsImpl
  protected def method = "jlProject"
  override protected def arguments = Seq(child, Literal(dOut))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): JlProject =
    copy(child = newChild)
}

object VectorKernels {
  def dot(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def cosine(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSim(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def hyperplaneSig(v: Column, planes: Int): Column =
    ExpressionUtils.column(HyperplaneSig(ExpressionUtils.expression(v), planes))
  def jlProject(v: Column, dOut: Int): Column =
    ExpressionUtils.column(JlProject(ExpressionUtils.expression(v), dOut))
}
