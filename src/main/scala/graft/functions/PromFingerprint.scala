package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Coalesce, Expression, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The metrics-exporter fingerprint chain
  * (`internal/common/fingerprint/{fingerprint,hash,attribute,label}.go`):
  * a prometheus-style FNV-1a 64 over key-sorted `(key, 0xFF, value, 0xFF)`
  * pairs, seeded by an offset so resource -> scope -> point chain, with
  * `extras` appended last and winning duplicate keys (attribute.go:27-50
  * sortAndDedup keeps the LAST occurrence).
  *
  * Exposed as codegen expressions returning `struct(hash BIGINT, attrs
  * MAP<STRING,STRING>)` — the hash feeds the next chain level /
  * HashWithName, the merged-sorted map is `AttributesAsMap` (reused for the
  * time-series attrs columns and the labels JSON).
  */
object PromFingerprintKernel extends Serializable {

  val structType: StructType = StructType(Seq(
    StructField("hash", LongType, nullable = false),
    StructField("attrs", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** protectedLabels (rules.go:17-23) — never dropped in keep mode.
    * UTF8String-keyed so the drop check never materializes a Java String.
    */
  private val protectedLabels: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    Seq("le", "quantile", "__name__", "__temporality__", "deployment.environment")
      .foreach(l => s.add(UTF8String.fromString(l)))
    s
  }

  private def collect(base: MapData, extras: MapData): (Array[UTF8String], Array[UTF8String]) = {
    val nb = if (base == null) 0 else base.numElements()
    val ne = if (extras == null) 0 else extras.numElements()
    val ks = new Array[UTF8String](nb + ne)
    val vs = new Array[UTF8String](nb + ne)
    var i = 0
    while (i < nb) {
      ks(i) = base.keyArray().getUTF8String(i)
      vs(i) = if (base.valueArray().isNullAt(i)) UTF8String.EMPTY_UTF8
        else base.valueArray().getUTF8String(i)
      i += 1
    }
    var j = 0
    while (j < ne) {
      ks(nb + j) = extras.keyArray().getUTF8String(j)
      vs(nb + j) = if (extras.valueArray().isNullAt(j)) UTF8String.EMPTY_UTF8
        else extras.valueArray().getUTF8String(j)
      j += 1
    }
    (ks, vs)
  }

  /** Stable sort by key (UTF-8 byte order — Go string '<'), keep LAST
    * occurrence per key (extras appended after base -> extras win).
    */
  private def sortAndDedup(ks: Array[UTF8String], vs: Array[UTF8String])
      : (Array[UTF8String], Array[UTF8String], Int) = {
    val n = ks.length
    val idx = Array.range(0, n)
    // insertion sort, stable (attribute maps are small)
    var i = 1
    while (i < n) {
      val ii = idx(i)
      val ki = ks(ii)
      var j = i - 1
      while (j >= 0 && ks(idx(j)).compareTo(ki) > 0) { idx(j + 1) = idx(j); j -= 1 }
      idx(j + 1) = ii
      i += 1
    }
    val outK = new Array[UTF8String](n)
    val outV = new Array[UTF8String](n)
    var w = 0
    i = 0
    while (i < n) {
      // skip earlier duplicates: stable sort keeps append order within a key,
      // so the last same-key element wins (attribute.go:42-47)
      if (i + 1 < n && ks(idx(i)).equals(ks(idx(i + 1)))) ()
      else { outK(w) = ks(idx(i)); outV(w) = vs(idx(i)); w += 1 }
      i += 1
    }
    (outK, outV, w)
  }

  private val prime64 = 1099511628211L

  /** FNV-1a fold directly over the UTF8String's bytes — `toString` +
    * re-encode in this per-row hot loop was measured as the dominant
    * allocation (a Java String and a byte[] per key and value per chain
    * level); UTF8String already holds UTF-8 bytes.
    */
  def hashAddUtf8(h0: Long, s: UTF8String): Long = {
    var h = h0
    val n = s.numBytes()
    var i = 0
    while (i < n) {
      h ^= (s.getByte(i) & 0xffL)
      h *= prime64
      i += 1
    }
    h
  }

  private def hashSorted(offset: Long, ks: Array[UTF8String], vs: Array[UTF8String],
      n: Int, drop: UTF8String => Boolean): Long = {
    var h = offset
    var i = 0
    while (i < n) {
      if (drop == null || !drop(ks(i))) {
        h = hashAddUtf8(h, ks(i))
        h = Fingerprint.hashAddByte(h, 0xff)
        h = hashAddUtf8(h, vs(i))
        h = Fingerprint.hashAddByte(h, 0xff)
      }
      i += 1
    }
    h
  }

  private def result(hash: Long, ks: Array[UTF8String], vs: Array[UTF8String],
      n: Int, drop: UTF8String => Boolean): InternalRow = {
    var kept = n
    if (drop != null) {
      kept = 0
      var i = 0
      while (i < n) { if (!drop(ks(i))) kept += 1; i += 1 }
    }
    val outK = new Array[Any](kept)
    val outV = new Array[Any](kept)
    var w = 0
    var i = 0
    while (i < n) {
      if (drop == null || !drop(ks(i))) { outK(w) = ks(i); outV(w) = vs(i); w += 1 }
      i += 1
    }
    InternalRow(hash,
      new ArrayBasedMapData(new GenericArrayData(outK), new GenericArrayData(outV)))
  }

  // Memoized per distinct (offset, map content): metric attribute sets are
  // low-cardinality relative to datapoints (series count << sample count —
  // the same fact the reference's ttlcache-keyed fingerprint dedup exploits,
  // exporter.go:1110-1125), and the sort + struct build dominated a 36 M-row
  // chain profile. Bounded: past 2^17 distinct entries the cache stops
  // inserting (worst case for a genuinely high-cardinality stream is the
  // one-pass key build, ~10% of a miss). Shared across tasks -> concurrent.
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[String, InternalRow]()

  def compute(base: MapData, extras: MapData, offset: Long): InternalRow = {
    val sb = new java.lang.StringBuilder(48)
    sb.append(offset).append('\u0002')
    def add(m: MapData): Unit = if (m != null) {
      val ks = m.keyArray(); val vs = m.valueArray()
      var i = 0
      while (i < m.numElements()) {
        sb.append(ks.getUTF8String(i)).append('\u0000')
        if (!vs.isNullAt(i)) sb.append(vs.getUTF8String(i))
        sb.append('\u0001')
        i += 1
      }
    }
    add(base); add(extras)
    val key = sb.toString
    val hit = cache.get(key)
    if (hit != null) return hit
    val (ks, vs) = collect(base, extras)
    val (sk, sv, n) = sortAndDedup(ks, vs)
    val r = result(hashSorted(offset, sk, sv, n, null), sk, sv, n, null)
    // the fresh result references UTF8Strings backed by the INPUT row's
    // buffer (UnsafeMapData slices), which Spark reuses across rows — the
    // row being processed copies them out synchronously, but a cached copy
    // must own its bytes
    if (cache.size < (1 << 17)) cache.put(key, cloneRow(r))
    r
  }

  private def cloneRow(r: InternalRow): InternalRow = {
    val m = r.getMap(1)
    val n = m.numElements()
    val ks = new Array[Any](n)
    val vs = new Array[Any](n)
    var i = 0
    while (i < n) {
      ks(i) = m.keyArray().getUTF8String(i).clone()
      vs(i) = m.valueArray().getUTF8String(i).clone()
      i += 1
    }
    InternalRow(r.getLong(0),
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs)))
  }

  /** Rule encoding: element 0 is "keep" or "drop", the rest are the listed
    * keys (rules.go:40-49 drop()). Null rule -> null result (caller maps to
    * reduced_fingerprint = 0).
    */
  def computeReduced(base: MapData, extras: MapData, offset: Long,
      rule: ArrayData): InternalRow = {
    if (rule == null || rule.numElements() == 0) return null
    val keep = rule.getUTF8String(0).toString == "keep"
    val listed = new java.util.HashSet[UTF8String]()
    var i = 1
    while (i < rule.numElements()) { listed.add(rule.getUTF8String(i)); i += 1 }
    val drop: UTF8String => Boolean = { k =>
      if (keep) !protectedLabels.contains(k) && !listed.contains(k)
      else listed.contains(k)
    }
    val (ks, vs) = collect(base, extras)
    val (sk, sv, n) = sortAndDedup(ks, vs)
    result(hashSorted(offset, sk, sv, n, drop), sk, sv, n, drop)
  }

  /** `Fingerprint.HashWithName` (fingerprint.go:103-109): fold
    * `__name__`, 0xFF, name — note NO trailing separator after the name.
    */
  private val nameKey = UTF8String.fromString("__name__")

  def hashWithName(hash: Long, name: UTF8String): Long = {
    var h = hashAddUtf8(hash, nameKey)
    h = Fingerprint.hashAddByte(h, 0xff)
    if (name == null) h else hashAddUtf8(h, name)
  }
}

/** `prom_fingerprint(base, extras, offset)` -> struct(hash, attrs). */
case class PromFingerprint(base: Expression, extras: Expression, offset: Expression)
    extends Expression with InvokeKernel {
  protected def kernel = PromFingerprintKernel
  protected def method = "compute"
  override protected def arguments = Seq(base, extras, PromFingerprint.offsetOrDefault(offset))
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = PromFingerprintKernel.structType
  override def children: Seq[Expression] = Seq(base, extras, offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PromFingerprint =
    copy(base = newChildren(0), extras = newChildren(1), offset = newChildren(2))
}

object PromFingerprint {
  def apply(base: Column, extras: Column, offset: Column): Column =
    ExpressionUtils.column(PromFingerprint(
      ExpressionUtils.expression(base), ExpressionUtils.expression(extras),
      ExpressionUtils.expression(offset)))

  /** A NULL offset hashes as the FNV-64 offset basis. */
  private[functions] def offsetOrDefault(offset: Expression): Expression =
    Coalesce(Seq(offset, Literal(Fingerprint.offset64Public)))
}

/** `prom_fingerprint_reduced(base, extras, offset, rule)` -> struct or NULL
  * when rule is NULL (no matching rule).
  */
case class PromFingerprintReduced(base: Expression, extras: Expression,
    offset: Expression, rule: Expression) extends Expression with InvokeKernel {
  protected def kernel = PromFingerprintKernel
  protected def method = "computeReduced"
  override protected def arguments = Seq(base, extras, PromFingerprint.offsetOrDefault(offset), rule)
  override protected def propagateNull = false
  override def dataType: DataType = PromFingerprintKernel.structType
  override def children: Seq[Expression] = Seq(base, extras, offset, rule)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PromFingerprintReduced =
    copy(base = newChildren(0), extras = newChildren(1),
      offset = newChildren(2), rule = newChildren(3))
}

object PromFingerprintReduced {
  def apply(base: Column, extras: Column, offset: Column, rule: Column): Column =
    ExpressionUtils.column(PromFingerprintReduced(
      ExpressionUtils.expression(base), ExpressionUtils.expression(extras),
      ExpressionUtils.expression(offset), ExpressionUtils.expression(rule)))
}

/** `prom_hash_with_name(hash, name)` (fingerprint.go:103-109). */
case class PromHashWithName(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with InvokeKernel {
  protected def kernel = PromFingerprintKernel
  protected def method = "hashWithName"
  override def dataType: DataType = LongType
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PromHashWithName = copy(left = newLeft, right = newRight)
}

object PromHashWithName {
  def apply(hash: Column, name: Column): Column =
    ExpressionUtils.column(PromHashWithName(
      ExpressionUtils.expression(hash), ExpressionUtils.expression(name)))
}

/** `NewLabelsAsJSONString` (label.go:21-74): `__name__` + the three attr
  * maps rendered as ONE sorted-key JSON object; LATER maps win duplicate
  * keys (resource > scope > point); values escaped per
  * appendEscapedJSONValue — ONLY `\\ \" \n \r \t`, no HTML escaping, no
  * \\u00XX for other control bytes (deliberately different from
  * [[JsonCanon.quote]] — this is promtool-style, not encoding/json).
  */
object PromLabelsJsonKernel extends Serializable {
  private val NAME = UTF8String.fromString("__name__")

  private def escapeInto(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c => sb.append(c)
      }
      i += 1
    }
  }

  def render(name: UTF8String, point: MapData, scope: MapData,
      resource: MapData): UTF8String = {
    val ms = Array(point, scope, resource)
    var total = 1
    ms.foreach(m => if (m != null) total += m.numElements())
    val keys = new Array[UTF8String](total)
    keys(0) = NAME
    var w = 1
    ms.foreach { m =>
      if (m != null) {
        var i = 0
        while (i < m.numElements()) { keys(w) = m.keyArray().getUTF8String(i); w += 1; i += 1 }
      }
    }
    java.util.Arrays.sort(keys, 0, w,
      (a: UTF8String, b: UTF8String) => a.compareTo(b))

    def valueFor(k: UTF8String): String = {
      if (k.equals(NAME)) return if (name == null) "" else name.toString
      var mi = ms.length - 1
      while (mi >= 0) {
        val m = ms(mi)
        if (m != null) {
          var i = 0
          while (i < m.numElements()) {
            if (m.keyArray().getUTF8String(i).equals(k))
              return if (m.valueArray().isNullAt(i)) ""
                else m.valueArray().getUTF8String(i).toString
            i += 1
          }
        }
        mi -= 1
      }
      ""
    }

    val sb = new java.lang.StringBuilder(w * 24)
    sb.append('{')
    var prev: UTF8String = null
    var emitted = 0
    var i = 0
    while (i < w) {
      val k = keys(i)
      if (prev == null || !k.equals(prev)) {
        if (emitted > 0) sb.append(',')
        sb.append('"')
        escapeInto(sb, k.toString)
        sb.append("\":\"")
        escapeInto(sb, valueFor(k))
        sb.append('"')
        emitted += 1
      }
      prev = k
      i += 1
    }
    sb.append('}')
    UTF8String.fromString(sb.toString)
  }
}

/** `prom_labels_json(name, pointAttrs, scopeAttrs, resourceAttrs)`. */
case class PromLabelsJson(name: Expression, point: Expression,
    scope: Expression, resource: Expression) extends Expression with InvokeKernel {
  protected def kernel = PromLabelsJsonKernel
  protected def method = "render"
  override protected def propagateNull = false
  override protected def returnNullable = false
  override def dataType: DataType = StringType
  override def children: Seq[Expression] = Seq(name, point, scope, resource)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): PromLabelsJson =
    copy(name = newChildren(0), point = newChildren(1),
      scope = newChildren(2), resource = newChildren(3))
}

object PromLabelsJson {
  def apply(name: Column, point: Column, scope: Column, resource: Column): Column =
    ExpressionUtils.column(PromLabelsJson(
      ExpressionUtils.expression(name), ExpressionUtils.expression(point),
      ExpressionUtils.expression(scope), ExpressionUtils.expression(resource)))
}

/** Cumulative (prefix) sums of a LONG array as doubles — the histogram
  * bucket explode needs `cumulativeCount += BucketCounts[i]`
  * (exporter.go:595-601) and `aggregate()` is a CodegenFallback HOF.
  */
object PrefixSumsKernel extends Serializable {
  def sums(a: ArrayData): ArrayData = {
    if (a == null) return null
    val n = a.numElements()
    val out = new Array[Any](n)
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += (if (a.isNullAt(i)) 0L else a.getLong(i))
      out(i) = acc.toDouble
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class PrefixSums(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected def kernel = PrefixSumsKernel
  protected def method = "sums"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def withNewChildInternal(newChild: Expression): PrefixSums =
    copy(child = newChild)
}

object PrefixSums {
  def apply(c: Column): Column =
    ExpressionUtils.column(PrefixSums(ExpressionUtils.expression(c)))
}
