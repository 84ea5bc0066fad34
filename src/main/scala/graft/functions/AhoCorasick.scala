package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-phrase matcher for blocklist / safety tagging.
  *
  * The scale argument: filtering a corpus against a k-phrase blocklist with
  * per-phrase `contains`/`rlike` costs k passes over every document (and k
  * non-codegen regex objects); the automaton costs ONE pass per document
  * with per-character work independent of k, so at 100 TB the blocklist can
  * grow to thousands of phrases without touching the scan cost. The
  * automaton is built once on the driver from the phrase list and rides
  * into codegen as a reference object (same pattern as the NB / centroid
  * kernels).
  *
  * Match semantics (what the DuckDB oracle replicates positionally): a
  * match is every (start, phraseId) pair with
  * `text.substring(start, start + len(p)) == p` — all occurrences,
  * including overlapping and nested ones (the classic AC dictionary-suffix
  * enumeration). Phrase count is capped at 64 so the distinct-phrase set is
  * a Long bitset.
  */
final class AcWorker(phrases: Array[String]) extends Serializable {
  require(phrases.length <= 64, "phrase bitset is a Long: at most 64 phrases")
  require(phrases.forall(_.nonEmpty), "empty blocklist phrase")
  // a duplicate phrase would silently overwrite the earlier pid at the
  // shared trie node, making that phrase id unreachable (ADVICE round 6)
  require(phrases.distinct.length == phrases.length, "duplicate blocklist phrase")

  // Built lazily per executor. Trie over chars; fail links via BFS; each
  // node carries the phrase ending exactly there (-1) and a dictionary
  // (suffix-output) link to the nearest proper-suffix node that ends a
  // phrase, so enumeration at a text position walks only end nodes.
  @transient private lazy val automaton: (Array[java.util.HashMap[Character, Integer]], Array[Int], Array[Int], Array[Int]) = {
    val next = new scala.collection.mutable.ArrayBuffer[java.util.HashMap[Character, Integer]]()
    val endPid = new scala.collection.mutable.ArrayBuffer[Int]()
    def newNode(): Int = { next += new java.util.HashMap[Character, Integer](); endPid += -1; next.length - 1 }
    newNode() // root = 0
    var pid = 0
    while (pid < phrases.length) {
      var v = 0
      val p = phrases(pid)
      var i = 0
      while (i < p.length) {
        val c = Character.valueOf(p.charAt(i))
        var u = next(v).get(c)
        if (u == null) { u = Integer.valueOf(newNode()); next(v).put(c, u) }
        v = u.intValue()
        i += 1
      }
      endPid(v) = pid // phrases are distinct by construction of the query config
      pid += 1
    }
    val n = next.length
    val fail = new Array[Int](n)
    val dict = new Array[Int](n) // nearest suffix end node, 0 = none
    val queue = new java.util.ArrayDeque[Integer]()
    val rootIt = next(0).entrySet().iterator()
    while (rootIt.hasNext) { val e = rootIt.next(); fail(e.getValue) = 0; queue.add(e.getValue) }
    while (!queue.isEmpty) {
      val v = queue.poll().intValue()
      dict(v) = if (endPid(fail(v)) >= 0) fail(v) else dict(fail(v))
      val it = next(v).entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getKey
        val u = e.getValue.intValue()
        // resolve fail(u): deepest proper suffix of u with a c-transition.
        // f walks strictly shallower nodes, so the target can never be u.
        var f = fail(v)
        while (f != 0 && next(f).get(c) == null) f = fail(f)
        val t = next(f).get(c)
        fail(u) = if (t == null) 0 else t.intValue()
        queue.add(u)
      }
    }
    (next.toArray, fail, dict, endPid.toArray)
  }

  @transient private lazy val phraseLen: Array[Int] = phrases.map(_.length)

  /** struct(n_matches, n_phrases, first_pos, first_phrase) — first = the
    * minimal (start, phraseId) pair, both -1 when nothing matches.
    */
  def compute(s: UTF8String): GenericInternalRow = {
    var nMatches = 0L
    var bits = 0L
    var minCode = Long.MaxValue
    if (s != null) {
      val (next, fail, dict, endPid) = automaton
      val t = s.toString
      var v = 0
      var i = 0
      while (i < t.length) {
        val c = Character.valueOf(t.charAt(i))
        var step = next(v).get(c)
        while (step == null && v != 0) { v = fail(v); step = next(v).get(c) }
        v = if (step == null) 0 else step.intValue()
        // enumerate all phrases ending at position i
        var e = if (endPid(v) >= 0) v else dict(v)
        while (e != 0) {
          val p = endPid(e)
          nMatches += 1L
          bits |= (1L << p)
          val start = i - phraseLen(p) + 1
          val code = start.toLong * 1024L + p
          if (code < minCode) minCode = code
          e = dict(e)
        }
        i += 1
      }
    }
    val nPhrases = java.lang.Long.bitCount(bits).toLong
    val (fp, fid) =
      if (minCode == Long.MaxValue) (-1L, -1L)
      else (minCode / 1024L, minCode % 1024L)
    new GenericInternalRow(Array[Any](nMatches, nPhrases, fp, fid))
  }
}

/** `ac_blocklist(text)` -> struct(n_matches, n_phrases, first_pos, first_phrase). */
case class AcBlocklistStats(child: Expression, phrases: Seq[String])
    extends UnaryExpression with InvokeKernel {
  protected lazy val kernel = new AcWorker(phrases.toArray)
  protected def method = "compute"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = AcBlocklistStats.schema
  override protected def withNewChildInternal(newChild: Expression): AcBlocklistStats =
    copy(child = newChild)
}

object AcBlocklistStats {
  val schema: StructType = StructType(Seq(
    StructField("n_matches", LongType, nullable = false),
    StructField("n_phrases", LongType, nullable = false),
    StructField("first_pos", LongType, nullable = false),
    StructField("first_phrase", LongType, nullable = false)))

  def apply(c: Column, phrases: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      AcBlocklistStats(org.apache.spark.sql.graftbridge.GraftBridge.expression(c), phrases))
}
