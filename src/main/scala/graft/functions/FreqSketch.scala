package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded-state frequency sketches for corpus statistics
  * (ops/FreqStats.scala).
  *
  * MISRA-GRIES (heavy-hitter candidates): a k-counter summary with the
  * standard decrement step; merge follows Agarwal et al. 2012 ("Mergeable
  * Summaries") — sum counters, then subtract the (k+1)-largest count and
  * drop non-positive entries. The summary itself is arrival-order
  * dependent (any MG is), but it carries the PROOF obligation pipelines
  * rely on: every item with true frequency > n/(k+1) survives in the
  * candidate set under ANY partitioning/merge order. The deterministic
  * final answer comes from the exact-count verification pass over the ≤k
  * candidates (ops/FreqStats.heavyHitters) — the sketch bounds state, the
  * verify pass restores exactness, and the output is invariant.
  *
  * COUNT-MIN (frequency estimation): a d x w counter matrix, rows
  * md5-derived (`conv(substr(md5(r || '|' || token), 1, 15), 16, 10) % w`
  * — the Bloom position derivation, one row per r), fully deterministic:
  * updates are commutative adds, merges are matrix adds, so the sketch —
  * and every estimate read from it — is bit-identical under any
  * partitioning AND replicable in plain SQL (bounded d x w group-by).
  */
final case class MisraGriesAgg(child: Expression, k: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.HashMap[UTF8String, Long]] {

  require(k > 0, "MisraGriesAgg requires k > 0")

  private type Buf = scala.collection.mutable.HashMap[UTF8String, Long]

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MisraGriesAgg.outType

  override def createAggregationBuffer(): Buf = new Buf

  private def offer(buf: Buf, item: UTF8String, weight: Long): Unit = {
    buf.get(item) match {
      case Some(c) => buf.update(item, c + weight)
      case None =>
        if (buf.size < k) buf.update(item.clone(), weight)
        else {
          // decrement step: reduce every counter by the offered weight
          // (batch form); drop zeros; the remainder of the offered item,
          // if any, enters the freed space
          val dec = math.min(weight, buf.valuesIterator.min)
          val remaining = weight - dec
          val dead = buf.iterator.filter(_._2 == dec).map(_._1).toList
          buf.mapValuesInPlace((_, c) => c - dec)
          dead.foreach(buf.remove)
          if (remaining > 0 && buf.size < k) buf.update(item.clone(), remaining)
        }
    }
  }

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v != null) offer(buf, v, 1L)
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    // mergeable-summaries merge: sum counters, then keep only counts
    // above the (k+1)-largest and subtract it
    other.foreach { case (item, c) =>
      buf.get(item) match {
        case Some(x) => buf.update(item, x + c)
        case None    => buf.update(item, c)
      }
    }
    if (buf.size > k) {
      val counts = buf.valuesIterator.toArray.sorted(Ordering[Long].reverse)
      val cut = counts(k) // (k+1)-largest
      val dead = buf.iterator.filter(_._2 <= cut).map(_._1).toList
      buf.mapValuesInPlace((_, c) => c - cut)
      dead.foreach(buf.remove)
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    // candidates sorted (residual DESC, item ASC) for a stable display
    // order; callers treat this as a CANDIDATE set only
    val entries = buf.toSeq.sortBy { case (i, c) => (-c, i) }
    new GenericArrayData(entries.map { case (i, c) =>
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i, c))
    }.toArray[Any])
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (i, c) =>
      val b = i.getBytes
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt
    val buf = new Buf
    var i = 0
    while (i < n) {
      val len = in.getInt; val b = new Array[Byte](len); in.get(b)
      buf.update(UTF8String.fromBytes(b), in.getLong)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "misra_gries"
}

object MisraGriesAgg {
  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("residual", LongType, nullable = false))), containsNull = false)

  def apply(item: Column, k: Int): Column =
    ExpressionUtils.column(new MisraGriesAgg(
      ExpressionUtils.expression(item), k).toAggregateExpression())
}

/** Count-min sketch aggregate: consumes the token's precomputed d bucket
  * indices (array<long>, one per row of the matrix — ops/FreqStats
  * derives them with the md5/conv chain) and evaluates to the d x w
  * matrix as array<long> in row-major order. Fully deterministic:
  * commutative adds, matrix-add merges.
  */
final case class CountMinAgg(child: Expression, d: Int, w: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  require(d > 0 && w > 0, "CountMinAgg requires d > 0 and w > 0")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr != null && arr.numElements() == d) {
      var r = 0
      while (r < d) {
        buf(r * w + arr.getLong(r).toInt) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "count_min"
}

object CountMinAgg {
  def apply(bucketIndices: Column, d: Int, w: Int): Column =
    ExpressionUtils.column(new CountMinAgg(
      ExpressionUtils.expression(bucketIndices), d, w).toAggregateExpression())
}
