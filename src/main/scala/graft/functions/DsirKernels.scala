package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass DSIR importance-weight kernel (see ops/Dsir.scala for the model
  * definition). The per-bucket log-ratio table rides in the broadcast
  * reference object as a dense Long array — the hot loop per feature is one
  * MD5 over a short string plus one array index, no hashing into unbounded
  * memo structures (features are corpus-vocabulary-sized, so memoizing them
  * would grow without bound at 100 TB; the table lookup is already O(1)).
  *
  * Bucketing definition shared by all three implementations (this kernel,
  * the Spark training aggregation, the DuckDB oracle): bucket(f) =
  * (unsigned int value of the first 8 hex chars of md5(f)) mod B.
  */
final class DsirScoreWorker(ratioE6: Array[Long]) extends Serializable {

  // one task = one thread: a plain per-object digest instance is safe
  // (Expression reference objects are deserialized per task)
  @transient private lazy val md =
    java.security.MessageDigest.getInstance("MD5")

  private def bucket(f: String): Int = {
    md.reset()
    val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 4 digest bytes == first 8 hex chars, as an unsigned 32-bit value
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (v % ratioE6.length).toInt
  }

  def compute(s: UTF8String): GenericInternalRow = {
    if (s == null) return new GenericInternalRow(Array[Any](0L, 0L))
    val toks = s.toString.split("\\s+").filter(_.nonEmpty)
    var n = 0L
    var sum = 0L
    var i = 0
    while (i < toks.length) {
      sum += ratioE6(bucket(toks(i)))
      n += 1
      if (i < toks.length - 1) {
        sum += ratioE6(bucket(toks(i) + ' ' + toks(i + 1)))
        n += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, sum))
  }
}

/** One-pass feature->bucket kernel for the TRAINING side (round 6): emits
  * the bucket id of every unigram+bigram feature of a document as one
  * array<long>. Bit-identical buckets to the composed column form
  * (`pmod(conv(substring(md5(f),1,8),16,10), B)` over `feats(text)`): the
  * composed form's interpreted `transform` lambdas re-evaluate the token
  * split per bigram position (quadratic in tokens, the shingle-kernel
  * pathology) and run the md5 through hex-string conv parsing.
  */
final class DsirBucketWorker(buckets: Int) extends Serializable {

  @transient private lazy val md =
    java.security.MessageDigest.getInstance("MD5")

  private def bucket(f: String): Long = {
    md.reset()
    val d = md.digest(f.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    v % buckets
  }

  def compute(s: UTF8String): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    if (s == null) return null
    val toks = s.toString.split("\\s+").filter(_.nonEmpty)
    val n = toks.length
    val out = new Array[Any](if (n >= 2) 2 * n - 1 else n)
    var i = 0
    while (i < n) {
      out(i) = bucket(toks(i))
      i += 1
    }
    i = 0
    while (i < n - 1) {
      out(n + i) = bucket(toks(i) + ' ' + toks(i + 1))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** `dsir_buckets(text)` -> array<long> of feature bucket ids. */
case class DsirBucketIds(child: Expression, buckets: Int)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new DsirBucketWorker(buckets)
  protected def method = "compute"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): DsirBucketIds =
    copy(child = newChild)
}

object DsirBucketIds {
  def apply(c: Column, buckets: Int): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      DsirBucketIds(org.apache.spark.sql.graftbridge.GraftBridge.expression(c), buckets))
}

/** `dsir_score(text)` -> struct(n_features, logw_e6). */
case class DsirScoreStats(child: Expression, ratioE6: Seq[Long])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new DsirScoreWorker(ratioE6.toArray)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = DsirScoreStats.schema
  override protected def withNewChildInternal(newChild: Expression): DsirScoreStats =
    copy(child = newChild)
}

object DsirScoreStats {
  val schema: StructType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("logw_e6", LongType, nullable = false)))

  def apply(c: Column, ratioE6: Array[Long]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      DsirScoreStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        ratioE6.toSeq))
}
