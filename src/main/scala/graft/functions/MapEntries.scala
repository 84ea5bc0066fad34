package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The entry loop every map kernel shares. The kernels stand in for
  * `map_filter` / `transform_keys` / `transform_values`, which are
  * CodegenFallback higher-order functions: one of them pulls the whole
  * enclosing projection out of whole-stage codegen.
  *
  * Three rules hold for [[filter]] and [[rewrite]]:
  *  - a null map in gives null out, without calling the kernel's function;
  *  - the input instance comes back, with no copy made, when nothing is
  *    dropped or changed (for [[rewrite]], unless `retype`);
  *  - the function runs exactly once per entry, in index order, so a
  *    stateful test such as `limit`'s budget sees each entry once.
  *
  * A new map is an `ArrayBasedMapData` in the input's key order.
  */
object MapEntries {

  /** Whether to keep entry `i` of map `m`. */
  trait Keep extends Serializable { def apply(m: MapData, i: Int): Boolean }

  /** The key of entry `i` of `m`. */
  def key(m: MapData, i: Int): UTF8String = m.keyArray().getUTF8String(i)

  /** The entries of `m` that `keep` passes, in their order. */
  def filter(m: MapData, valueType: DataType, keep: Keep): MapData = {
    if (m == null) return null
    val n = m.numElements()
    var i = 0
    while (i < n && keep(m, i)) i += 1
    if (i == n) return m
    // entry i is the first one dropped: decide the rest, then copy
    val kept = new Array[Boolean](n)
    java.util.Arrays.fill(kept, 0, i, true)
    var count = i
    i += 1
    while (i < n) {
      if (keep(m, i)) { kept(i) = true; count += 1 }
      i += 1
    }
    val ks = m.keyArray(); val vs = m.valueArray()
    val outK = new Array[Any](count)
    val outV = new Array[Any](count)
    var o = 0
    i = 0
    while (i < n) {
      if (kept(i)) {
        outK(o) = ks.getUTF8String(i)
        outV(o) = if (vs.isNullAt(i)) null else vs.get(i, valueType)
        o += 1
      }
      i += 1
    }
    pack(outK, outV)
  }

  /** Each entry of `m` with its key mapped by `key` and its non-null value
    * by `value(key, v)`; a null `key` or `value` leaves that side as it is
    * (and a null `value` leaves the values unread). An entry is unchanged
    * when each function returns the very instance it was given. `retype`
    * (the value type changes) always builds a new map.
    */
  def rewrite(m: MapData, valueType: DataType, key: UTF8String => UTF8String = null,
      value: (UTF8String, Any) => Any = null, retype: Boolean = false): MapData = {
    if (m == null) return null
    val n = m.numElements()
    val ks = m.keyArray(); val vs = m.valueArray()
    def valueAt(j: Int): Any = if (vs.isNullAt(j)) null else vs.get(j, valueType)
    var outK: Array[Any] = if (retype) new Array[Any](n) else null
    var outV: Array[Any] = if (retype) new Array[Any](n) else null
    var i = 0
    while (i < n) {
      val k = ks.getUTF8String(i)
      val nk = if (key == null) k else key(k)
      val v = if (value == null || vs.isNullAt(i)) null else vs.get(i, valueType)
      val nv = if (v == null) null else value(k, v)
      if (outK == null && ((nk ne k) || (nv.asInstanceOf[AnyRef] ne v.asInstanceOf[AnyRef]))) {
        // entry i is the first one changed: copy the ones before it as they are
        outK = new Array[Any](n); outV = new Array[Any](n)
        var j = 0
        while (j < i) { outK(j) = ks.getUTF8String(j); outV(j) = valueAt(j); j += 1 }
      }
      if (outK != null) { outK(i) = nk; outV(i) = if (value == null) valueAt(i) else nv }
      i += 1
    }
    if (outK == null) m else pack(outK, outV)
  }

  /** The entries of `a`, then `b`, then `c` (a null map counts as empty). */
  def concat(valueType: DataType, a: MapData, b: MapData, c: MapData = null): MapData = {
    def size(m: MapData) = if (m == null) 0 else m.numElements()
    val outK = new Array[Any](size(a) + size(b) + size(c))
    val outV = new Array[Any](outK.length)
    def copy(m: MapData, from: Int): Int = {
      var o = from
      if (m != null) {
        val ks = m.keyArray(); val vs = m.valueArray()
        var i = 0
        while (i < m.numElements()) {
          outK(o) = ks.getUTF8String(i)
          outV(o) = if (vs.isNullAt(i)) null else vs.get(i, valueType)
          o += 1; i += 1
        }
      }
      o
    }
    copy(c, copy(b, copy(a, 0)))
    pack(outK, outV)
  }

  /** The constant keys `keys` as a lookup set. */
  def keySet(keys: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](keys.length * 2)
    keys.foreach(k => s.add(UTF8String.fromString(k)))
    s
  }

  /** The keys of up to three maps (a null map adds none) as a lookup set. */
  def keySet(a: MapData, b: MapData, c: MapData): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    def add(m: MapData): Unit = if (m != null) {
      val ks = m.keyArray()
      var i = 0
      while (i < m.numElements()) { s.add(ks.getUTF8String(i)); i += 1 }
    }
    add(a); add(b); add(c)
    s
  }

  private def pack(keys: Array[Any], values: Array[Any]): MapData =
    new ArrayBasedMapData(new GenericArrayData(keys), new GenericArrayData(values))
}
