package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass bigram-LM scoring kernel (see ops/LmScore.scala for the model
  * definition and the fixed-point determinism argument). The model maps are
  * built once per executor from the broadcast reference object; per-term
  * log-probs are memoized per distinct bigram so the hot loop is two hash
  * lookups.
  */
final class LmScoreWorker(
    vocab: Array[String],
    uniCounts: Array[(String, Long)],
    biCounts: Array[(String, Long)],
    vTot: Long) extends Serializable {

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val uni: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](uniCounts.length * 2)
    uniCounts.foreach { case (k, v) => m.put(k, v) }
    m
  }
  @transient private lazy val bi: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](biCounts.length * 2)
    biCounts.foreach { case (k, v) => m.put(k, v) }
    m
  }
  // memo: distinct bigrams are model-bounded, so this stays small
  @transient private lazy val memo =
    new java.util.HashMap[String, java.lang.Long]()

  private val LN2 = math.log(2.0)

  private def logpE6(w1: String, w2: String): Long = {
    val key = w1 + ' ' + w2
    val hit = memo.get(key)
    if (hit != null) return hit.longValue()
    val cb = { val v = bi.get(key); if (v == null) 0L else v.longValue() }
    val cu = { val v = uni.get(w1); if (v == null) 0L else v.longValue() }
    val lp = math.log((cb + 1.0) / (cu + vTot)) / LN2 // vTot = V + 1 (<unk>)
    val e6 = DecimalRound.e6(lp)
    memo.put(key, e6)
    e6
  }

  def compute(s: UTF8String): GenericInternalRow = {
    if (s == null) return new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L))
    val toks = s.toString.split("\\s+").filter(_.nonEmpty)
    var oov = 0L
    val mapped = new Array[String](toks.length)
    var i = 0
    while (i < toks.length) {
      if (vocabSet.contains(toks(i))) mapped(i) = toks(i)
      else { mapped(i) = "<unk>"; oov += 1 }
      i += 1
    }
    var sum = 0L
    i = 0
    while (i < toks.length - 1) {
      sum += logpE6(mapped(i), mapped(i + 1))
      i += 1
    }
    val nBigrams = math.max(toks.length - 1, 0).toLong
    new GenericInternalRow(Array[Any](toks.length.toLong, oov, nBigrams, sum))
  }
}

/** `lm_score(text)` -> struct(n_tokens, n_oov, n_bigrams, sum_logp_e6). */
case class LmScoreStats(
    child: Expression,
    vocab: Seq[String],
    uniCounts: Seq[(String, Long)],
    biCounts: Seq[(String, Long)],
    vTot: Long) extends UnaryExpression with InvokeKernel {
  protected lazy val kernel =
    new LmScoreWorker(vocab.toArray, uniCounts.toArray, biCounts.toArray, vTot)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = LmScoreStats.schema
  override protected def withNewChildInternal(newChild: Expression): LmScoreStats =
    copy(child = newChild)
}

object LmScoreStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_oov", LongType, nullable = false),
    StructField("n_bigrams", LongType, nullable = false),
    StructField("sum_logp_e6", LongType, nullable = false)))

  def apply(c: Column, lm: graft.ops.LmScore.BigramLm): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      LmScoreStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        lm.vocab.toSeq, lm.uniCounts.toSeq, lm.biCounts.toSeq, lm.vTot))
}
