package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic HyperLogLog sketch for per-group distinct counting
  * (ops/TextOps.hllDistinct) — the bounded-state alternative to exact
  * `count(DISTINCT x)` when the group's value set doesn't fit a shuffle
  * (distinct URLs per domain, vocabulary per language, ... at 100 TB).
  *
  * Built on md5-derived register/rank so an external engine reproduces the
  * sketch BIT-FOR-BIT (unlike `approx_count_distinct`, whose HLL++ rides
  * on Spark-internal hashing): for `h = md5(value)` —
  *   register = hexToInt(h[0..3)) % m        (first 12 bits, folded to m)
  *   w        = hexToInt(h[3..16))           (next 52 bits)
  *   rank     = w == 0 ? 53 : 53 - bitlen(w) (leading-zero count + 1)
  * and the group's registers are the per-register max rank. `m` defaults
  * to 512 so `sum(2^(53-M_j))` — the harmonic-mean numerator scaled by
  * 2^53 to EXACT integer arithmetic — stays below 2^62 even for an
  * all-empty group (no float summation anywhere; DuckDB replicates with
  * `1::BIGINT << (53 - mj)`).
  *
  * Scale shape: a [[TypedImperativeAggregate]] whose buffer is the m-byte
  * register array — map-side partials reduce each partition to m bytes
  * per group before the exchange, so the shuffle moves `groups x m` bytes
  * regardless of how many distinct values each group holds.
  */
final case class HllRegistersAgg(child: Expression, m: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  require(m > 0 && m <= 4096, "m must be in (0, 4096] (register from 12 bits)")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](m)

  private def hexVal(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0' else b - 'a' + 10

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val h = child.eval(input).asInstanceOf[UTF8String]
    if (h != null && h.numBytes() >= 16) {
      val bytes = h.getBytes
      val reg = ((hexVal(bytes(0)) << 8) | (hexVal(bytes(1)) << 4) |
        hexVal(bytes(2))) % m
      var w = 0L
      var i = 3
      while (i < 16) { w = (w << 4) | hexVal(bytes(i)); i += 1 }
      val rank =
        if (w == 0L) 53
        else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rank > buf(reg)) buf(reg) = rank.toByte
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    var i = 0
    while (i < m) { if (other(i) > buf(i)) buf(i) = other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def withNewMutableAggBufferOffset(o: Int): HllRegistersAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllRegistersAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HllRegistersAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "hll_registers"
}

object HllRegistersAgg {
  def apply(md5Hex: Column, m: Int): Column =
    ExpressionUtils.column(new HllRegistersAgg(
      ExpressionUtils.expression(md5Hex), m).toAggregateExpression())
}

final class HllStatsWorker(m: Int) extends Serializable {
  def compute(regs: Array[Byte]): GenericInternalRow = {
    var nZero = 0
    var sumPow = 0L
    val sb = new java.lang.StringBuilder(m * 3)
    var i = 0
    while (i < m) {
      val mj = regs(i).toInt
      if (mj == 0) nZero += 1
      sumPow += 1L << (53 - mj)
      if (i > 0) sb.append(',')
      sb.append(mj)
      i += 1
    }
    // E = alpha_m * m^2 * 2^53 / sumPow, with the standard small-range
    // linear-counting correction. The op order below is replicated
    // verbatim by the DuckDB oracle so the double is bit-identical (the
    // only transcendental, ln(m/V), can differ by 1 ulp cross-engine —
    // absorbed by the 6-decimal round).
    val md = m.toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / md)
    val raw = alpha * md * md * 9007199254740992.0 / sumPow.toDouble
    val est =
      if (raw <= 2.5 * md && nZero > 0) md * math.log(md / nZero)
      else raw
    val rounded = DecimalRound.round(est, 6)
    new GenericInternalRow(Array[Any](nZero, sumPow,
      UTF8String.fromString(sb.toString), rounded))
  }
}

/** `hll_stats(registers)` -> struct(n_zero, sum_pow, registers_csv,
  * estimate) over the binary register array from [[HllRegistersAgg]].
  */
case class HllStats(child: Expression, m: Int)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new HllStatsWorker(m)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = HllStats.schema

  override def prettyName: String = "hll_stats"
  override protected def withNewChildInternal(newChild: Expression): HllStats =
    copy(child = newChild)
}

object HllStats {
  val schema: StructType = StructType(Seq(
    StructField("n_zero", IntegerType, nullable = false),
    StructField("sum_pow", LongType, nullable = false),
    StructField("registers_csv", StringType, nullable = false),
    StructField("estimate", DoubleType, nullable = false)))

  def apply(registers: Column, m: Int): Column =
    ExpressionUtils.column(
      HllStats(ExpressionUtils.expression(registers), m))
}
