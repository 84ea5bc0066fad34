package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003; the MOSS
  * algorithm).
  *
  * Hash every character k-gram, then in each window of `w` consecutive gram
  * hashes select the minimum (RIGHTMOST position on ties) and keep the
  * DISTINCT selected positions. Guarantees: any shared substring of length
  * ≥ k + w - 1 produces at least one shared fingerprint, and the expected
  * selected fraction ("density") is 2/(w+1).
  *
  * The scale argument vs the stride-1 window-hash dedup (`substr_windows`):
  * that op shuffles EVERY window of every document; winnowing shuffles
  * ~2/(w+1) of them with the same ≥(k+w-1)-span detection guarantee, so the
  * inverted-index exchange shrinks ~(w+1)/2× at identical recall for long
  * overlaps — at 100 TB the exchange volume is the whole cost.
  *
  * The gram hash is the first 48 bits of md5(gram) — md5-bound by design,
  * the same oracle-portable-hash-as-shuffle-key tradeoff `substr_windows`
  * documents (DuckDB: `('0x' || substr(md5(g), 1, 12))::BIGINT`).
  */
final class WinnowWorker(k: Int, w: Int) extends Serializable {
  require(k >= 1 && w >= 1)

  @transient private lazy val md =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  private def gramHash(t: String, from: Int): Long = {
    val d = md.get()
    d.reset()
    val b = d.digest(t.substring(from, from + k)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 12 hex chars == first 6 digest bytes, big-endian (48 bits, ≥ 0)
    ((b(0) & 0xffL) << 40) | ((b(1) & 0xffL) << 32) | ((b(2) & 0xffL) << 24) |
      ((b(3) & 0xffL) << 16) | ((b(4) & 0xffL) << 8) | (b(5) & 0xffL)
  }

  /** Fingerprint hashes in selected-position order (one entry per DISTINCT
    * selected position; equal hashes at different positions are distinct
    * fingerprints). Empty for null/short input.
    */
  def compute(s: UTF8String): ArrayData = {
    if (s == null) return new GenericArrayData(Array.emptyLongArray)
    val t = s.toString
    val nGrams = t.length - k + 1
    if (nGrams < w) return new GenericArrayData(Array.emptyLongArray)
    val h = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) { h(i) = gramHash(t, i); i += 1 }
    // sliding-window min with RIGHTMOST tie: pop the back while its hash is
    // >= the incoming one, so among equals only the newest survives and the
    // front is the window's rightmost minimum
    val deque = new java.util.ArrayDeque[Integer]()
    val outPos = new scala.collection.mutable.ArrayBuffer[Int]()
    var lastSel = -1
    i = 0
    while (i < nGrams) {
      while (!deque.isEmpty && h(deque.peekLast().intValue()) >= h(i))
        deque.pollLast()
      deque.addLast(Integer.valueOf(i))
      if (deque.peekFirst().intValue() <= i - w) deque.pollFirst()
      if (i >= w - 1) {
        val sel = deque.peekFirst().intValue()
        if (sel != lastSel) { outPos += sel; lastSel = sel }
      }
      i += 1
    }
    new GenericArrayData(outPos.map(p => h(p)).toArray)
  }
}

/** `winnow_fps(text)` -> array<bigint> of winnowed fingerprint hashes. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new WinnowWorker(k, w)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {
  def apply(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      WinnowFps(org.apache.spark.sql.graftbridge.GraftBridge.expression(c), k, w))
}
