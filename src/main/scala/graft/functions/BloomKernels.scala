package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Bloom-filter kernels for incremental (cross-snapshot) dedup
  * (ops/Dedup.bloomBuild/bloomProbe).
  *
  * Scale shape: the BUILD side is a [[TypedImperativeAggregate]] whose
  * buffer is the fixed-size bitset itself (`mBits/64` longs) — map-side
  * partials OR per-partition bitsets, so one aggregation moves exactly
  * `partitions x mBits/8` bytes regardless of corpus size, where a
  * distinct-positions shuffle would move up to `mBits` rows. The PROBE
  * side is one whole-stage-codegen projection with the built filter riding
  * in the kernel reference object (broadcast with the task closure) — zero
  * joins, zero shuffle on the new snapshot.
  *
  * Cross-engine exactness: bit positions are md5-derived
  * (`conv(substr(md5(i || '|' || md5(text)), 1, 15), 16, 10) % mBits` —
  * 60 bits, sign-safe in a BIGINT on both engines), so the DuckDB oracle
  * reproduces the exact bit membership with `CAST('0x' || substr(...) AS
  * BIGINT)`; a Bloom filter's "false positives" are then a deterministic
  * function of the corpus, not an approximation to tolerate.
  */
final class BloomBitsetWorker(words: Array[Long]) extends Serializable {
  /** true iff every position's bit is set (maybe-duplicate). */
  def containsAll(arr: ArrayData): Boolean = {
    if (arr == null) return false
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val p = arr.getLong(i)
      if ((words((p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      i += 1
    }
    true
  }
}

/** `bloom_contains_all(positions)` -> boolean; the filter bytes are
  * driver-held (built by [[BloomBitsetAgg]]) and ride as a reference
  * object, exactly like the k-means centroid table.
  */
case class BloomContainsAll(child: Expression, filter: Array[Byte])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = {
    val bb = ByteBuffer.wrap(filter)
    val words = new Array[Long](filter.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    new BloomBitsetWorker(words)
  }
  protected def method = "containsAll"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = BooleanType
  override protected def withNewChildInternal(newChild: Expression): BloomContainsAll =
    copy(child = newChild)

  override def prettyName: String = "bloom_contains_all"

  /** The filter prints as its size and checksum, not its JVM identity, so
    * two builds over one input print the same plan.
    */
  override protected def stringArgs: Iterator[Any] = {
    val crc = new java.util.zip.CRC32()
    crc.update(filter)
    Iterator(child, s"${filter.length * 8L} bits crc32 ${java.lang.Long.toHexString(crc.getValue)}")
  }
}

object BloomContainsAll {
  def apply(positions: Column, filter: Array[Byte]): Column =
    ExpressionUtils.column(
      BloomContainsAll(ExpressionUtils.expression(positions), filter))
}

/** OR-bitset aggregate: consumes an array<long> of bit positions per row,
  * evaluates to the packed filter as binary (big-endian longs). The buffer
  * is created lazily-zeroed at fixed size so partial aggregation is a pure
  * in-place OR.
  */
final case class BloomBitsetAgg(child: Expression, mBits: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null) {
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val p = arr.getLong(i)
        buf((p >>> 6).toInt) |= (1L << (p & 63))
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = serialize(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = bb.getLong(); i += 1 }
    words
  }

  override def withNewMutableAggBufferOffset(o: Int): BloomBitsetAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBitsetAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BloomBitsetAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "bloom_bitset"
}

object BloomBitsetAgg {
  def apply(positions: Column, mBits: Int): Column =
    ExpressionUtils.column(new BloomBitsetAgg(
      ExpressionUtils.expression(positions), mBits).toAggregateExpression())
}
