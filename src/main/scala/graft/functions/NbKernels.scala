package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass multinomial-Naive-Bayes scoring kernel (see ops/Classify.scala
  * for the model definition and the fixed-point determinism argument). The
  * per-(token, class) log-likelihood vector is memoized per distinct mapped
  * token — the memo is bounded by |vocab|+1 — so the hot loop is one hash
  * lookup plus K integer adds per token.
  */
final class NbScoreWorker(
    classes: Array[String],
    priorsE6: Array[Long],
    vocab: Array[String],
    tokenCounts: Array[(String, Int, Long)], // (mapped token, class idx, count)
    classTokTotals: Array[Long],
    vTot: Long) extends Serializable {

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }
  @transient private lazy val counts: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]]()
    tokenCounts.foreach { case (w, c, n) =>
      var arr = m.get(w)
      if (arr == null) { arr = new Array[Long](classes.length); m.put(w, arr) }
      arr(c) = n
    }
    m
  }
  // memo: token -> per-class logp_e6 vector (bounded by |vocab|+1 entries)
  @transient private lazy val memo =
    new java.util.HashMap[String, Array[Long]]()

  private val LN2 = math.log(2.0)

  private def logpVec(w: String): Array[Long] = {
    val hit = memo.get(w)
    if (hit != null) return hit
    val cnt = counts.get(w) // null when the token never appears in training
    val out = new Array[Long](classes.length)
    var c = 0
    while (c < classes.length) {
      val n = if (cnt == null) 0L else cnt(c)
      val lp = math.log((n + 1.0) / (classTokTotals(c) + vTot)) / LN2
      out(c) = DecimalRound.e6(lp)
      c += 1
    }
    memo.put(w, out)
    out
  }

  def compute(s: UTF8String): GenericInternalRow = {
    val scores = priorsE6.clone()
    var nTok = 0L
    if (s != null) {
      val toks = s.toString.split("\\s+")
      var i = 0
      while (i < toks.length) {
        if (toks(i).nonEmpty) {
          nTok += 1
          val w = if (vocabSet.contains(toks(i))) toks(i) else "<unk>"
          val lp = logpVec(w)
          var c = 0
          while (c < scores.length) { scores(c) += lp(c); c += 1 }
        }
        i += 1
      }
    }
    var best = 0
    var c = 1
    while (c < scores.length) { // ties keep the lower (label-asc) class
      if (scores(c) > scores(best)) best = c
      c += 1
    }
    var second = Long.MinValue
    c = 0
    while (c < scores.length) {
      if (c != best && scores(c) > second) second = scores(c)
      c += 1
    }
    val margin = if (scores.length < 2) 0L else scores(best) - second
    new GenericInternalRow(Array[Any](
      nTok, UTF8String.fromString(classes(best)), scores(best), margin))
  }
}

/** `nb_score(text)` -> struct(n_tokens, pred, score_e6, margin_e6). */
case class NbScoreStats(
    child: Expression,
    classes: Seq[String],
    priorsE6: Seq[Long],
    vocab: Seq[String],
    tokenCounts: Seq[(String, Int, Long)],
    classTokTotals: Seq[Long],
    vTot: Long) extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new NbScoreWorker(classes.toArray,
    priorsE6.toArray, vocab.toArray, tokenCounts.toArray,
    classTokTotals.toArray, vTot)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = NbScoreStats.schema
  override protected def withNewChildInternal(newChild: Expression): NbScoreStats =
    copy(child = newChild)
}

object NbScoreStats {
  val schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("pred", StringType, nullable = false),
    StructField("score_e6", LongType, nullable = false),
    StructField("margin_e6", LongType, nullable = false)))

  def apply(c: Column, m: graft.ops.Classify.NbModel): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      NbScoreStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c),
        m.classes.toSeq, m.priorsE6.toSeq, m.vocab.toSeq,
        m.tokenCounts.toSeq, m.classTokTotals.toSeq, m.vTot))
}
