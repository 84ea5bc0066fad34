package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Field addressing for pipeline operators.
  *
  * The reference addresses entry data with a small path language —
  * `body.x.y`, `attributes.foo`, `resource["k8s.pod.name"]`, bracket-quoted
  * keys — parsed by a state machine (`stanza/entry/field.go:86-205`), with
  * SigNoz's fork adding reads *through* a JSON string body
  * (`stanza/entry/body_field.go:58-127`).
  *
  * In this engine a field reference resolves statically (at plan build) to
  * Spark `Column` reads/writes over the [[graft.model.LogRow]] columns:
  *  - `attributes.*` / `resource.*` -> the typed attribute maps (nested path
  *    segments join with '.' — the same flattened-dotted-key convention the
  *    reference's own JSON flattener uses, `operators/json/parser.go:65-92`);
  *  - `body` -> the body string; `body.x.y` -> a JSON read through the body
  *    (`get_json_object`), Catalyst's equivalent of the reference's lazy
  *    cached body parse; body-path WRITES (set/remove) edit the body JSON
  *    with the stanza `BodyField.Set/Delete/Merge` semantics via the
  *    [[graft.functions.BodyEdit]] kernels;
  *  - bare names (`severity_text`, `trace_id`, ...) -> top-level columns.
  */
sealed trait FieldRef
object FieldRef {
  case object Body extends FieldRef
  /** Read-through-JSON-body path (SigNoz `ParseBodyJson` semantics). */
  final case class BodyPath(keys: Seq[String]) extends FieldRef
  /** Attribute map entry; nested keys are dot-joined into one flat key. */
  final case class Attr(keys: Seq[String]) extends FieldRef
  final case class Resource(keys: Seq[String]) extends FieldRef
  /** Top-level entry field: severity_text, severity_number, timestamp,
    * observed_timestamp, trace_id, span_id, trace_flags, scope_name, plus the
    * transcript provenance columns (conv_id, turn_idx, role, tool).
    */
  final case class Top(name: String) extends FieldRef

  /** Whole-attributes / whole-resource roots (for `remove: attributes`). */
  case object AttrsRoot extends FieldRef
  case object ResourceRoot extends FieldRef

  private val topLevel = Set(
    "severity_text", "severity_number", "timestamp", "observed_timestamp",
    "trace_id", "span_id", "trace_flags", "scope_name", "scope_version",
    "conv_id", "turn_idx", "role", "tool")

  /** Split `a.b["c.d"].e` into segments, honoring bracket-quoted keys. */
  private[operators] def segments(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var i = 0
    def flush(): Unit = { if (cur.nonEmpty || out.isEmpty) out += cur.toString; cur.clear() }
    while (i < s.length) {
      s.charAt(i) match {
        case '.' => flush(); i += 1
        case '[' =>
          val q = s.charAt(i + 1)
          require(q == '"' || q == '\'', s"expected quote after '[' in field: $s")
          val end = s.indexOf(q, i + 2)
          require(end > 0 && end + 1 < s.length && s.charAt(end + 1) == ']',
            s"malformed bracketed key in field: $s")
          if (cur.nonEmpty) { out += cur.toString; cur.clear() }
          out += s.substring(i + 2, end)
          i = end + 2
          if (i < s.length && s.charAt(i) == '.') i += 1
        case c => cur.append(c); i += 1
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq
  }

  def parse(path: String): FieldRef = {
    val segs = segments(path.trim)
    segs.head match {
      case "attributes" => if (segs.tail.isEmpty) AttrsRoot else Attr(segs.tail)
      case "resource" | "resources" => if (segs.tail.isEmpty) ResourceRoot else Resource(segs.tail)
      case "body" => if (segs.tail.isEmpty) Body else BodyPath(segs.tail)
      case n if topLevel.contains(n) && segs.tail.isEmpty => Top(n)
      // stanza default root is body when no recognized prefix is given
      case _ => BodyPath(segs)
    }
  }
}

/** Column-level read/write resolution for [[FieldRef]]s. */
object FieldCols {
  import FieldRef._
  import graft.functions.{HashTypedMaps, LimitTypedMaps, MapFilterKeys, MapKeysIn, MergeMaps}

  def attrKey(keys: Seq[String]): String = keys.mkString(".")

  private def jsonPath(keys: Seq[String]): String =
    "$." + keys.map(k => if (k.exists(c => c == '.' || c == ' ')) s"['$k']" else k).mkString(".")

  /** `get_json_object` behind a cheap looks-like-a-JSON-object guard:
    * `$.x` paths only ever match object bodies, but the evaluator still
    * pays a full Jackson parser setup per call on every non-JSON row
    * (profiled ~7% of flagship CPU for a usually-absent field). The anchored
    * regex fails on the first byte for non-`{` bodies.
    */
  private def bodyJson(keys: Seq[String]): Column =
    when(col("body").rlike("^\\s*\\{"),
      get_json_object(col("body"), jsonPath(keys)))

  /** Read a field as STRING (stringify-on-read, like `fmt.Sprintf("%v")`
    * call sites in the reference). Null when absent.
    */
  def readString(f: FieldRef): Column = f match {
    case Body => col("body")
    case BodyPath(keys) => bodyJson(keys)
    case Attr(keys) =>
      val k = attrKey(keys)
      val flat = coalesce(
        col("attributes_string").getItem(k),
        stringifyNumber(col("attributes_number").getItem(k)),
        col("attributes_bool").getItem(k).cast("string"))
      // nested path fallback: a non-flattened json_parser stores nested
      // objects as serialized JSON under the head key (JsonExprs put);
      // the reference keeps real map[string]any entries that field refs
      // traverse — read through the serialized value to match
      if (keys.length == 1) flat
      else coalesce(flat,
        get_json_object(col("attributes_string").getItem(keys.head),
          jsonPath(keys.tail)))
    case Resource(keys) => col("resources_string").getItem(attrKey(keys))
    case Top(n) => col(n).cast("string")
    case AttrsRoot | ResourceRoot =>
      throw new IllegalArgumentException("cannot read whole attributes/resource as string")
  }

  /** A number attribute read as a string: the stanza entry's
    * `fmt.Sprintf("%v")` of the value (SURVEY row 358), which is
    * [[graft.functions.GoFloat.int64Or]] `percentV` (`0.0001`,
    * `1.23456785e+07`, `1e+21`). The number map holds int64 and float64
    * values alike, so an integral value prints as the int64 it may have been
    * (`3`, not Go's float64 `%v` of 1234567, `1.234567e+06`). Null stays
    * null.
    */
  def stringifyNumber(c: Column): Column =
    graft.functions.GoNumberText(c, graft.functions.GoFloat.PercentV, int64 = true)

  /** Read as DOUBLE where available (attributes_number first). */
  def readNumber(f: FieldRef): Column = f match {
    case Attr(keys) =>
      val k = attrKey(keys)
      coalesce(col("attributes_number").getItem(k), col("attributes_string").getItem(k).cast("double"))
    case Top(n) => col(n).cast("double")
    case other => readString(other).cast("double")
  }

  /** Presence under the WRITE-side semantics the move/copy/remove operators
    * gate on (`BodyField.Get/Delete` walk, body_field.go:101-199): a strict
    * object walk where a JSON `null` leaf IS present. The expression
    * language's `exists`/nil tests keep [[exists]]'s get_json_object
    * semantics (expr-lang `body.x == nil` is true for a null leaf).
    */
  def existsStrict(f: FieldRef): Column = f match {
    case BodyPath(keys) => graft.functions.BodyEdit.exists(col("body"), keys)
    case other => exists(other)
  }

  /** Presence test (reference `entry.Get(field)` ok-flag). */
  def exists(f: FieldRef): Column = f match {
    case Body => col("body").isNotNull
    case BodyPath(keys) => bodyJson(keys).isNotNull
    case Attr(keys) =>
      val k = attrKey(keys)
      val flat = map_contains_key(col("attributes_string"), k) ||
        map_contains_key(col("attributes_number"), k) ||
        map_contains_key(col("attributes_bool"), k)
      if (keys.length == 1) flat
      else flat || get_json_object(col("attributes_string").getItem(keys.head),
        jsonPath(keys.tail)).isNotNull
    case Resource(keys) => map_contains_key(col("resources_string"), attrKey(keys))
    case Top(n) => col(n).isNotNull
    case AttrsRoot | ResourceRoot => lit(true)
  }

  /** The dynamic type name of a field value, mirroring expr-lang `type()`:
    * "string" | "float" | "bool" | "nil" (our numbers are all float64,
    * exactly like values that round-tripped JSON in the reference).
    */
  def typeName(f: FieldRef): Column = f match {
    case Attr(keys) =>
      val k = attrKey(keys)
      when(map_contains_key(col("attributes_string"), k), "string")
        .when(map_contains_key(col("attributes_number"), k), "float")
        .when(map_contains_key(col("attributes_bool"), k), "bool")
        .otherwise("nil")
    case Resource(keys) =>
      when(map_contains_key(col("resources_string"), attrKey(keys)), "string").otherwise("nil")
    case Top("severity_number") | Top("trace_flags") | Top("turn_idx") => lit("int")
    case Top("timestamp") | Top("observed_timestamp") => lit("int")
    case f0 => when(readString(f0).isNotNull, "string").otherwise("nil")
  }

  // ---- writes -------------------------------------------------------------
  // A record's attributes are one pcommon.Map in the reference, one value
  // per key. Here they are three typed maps, and every write below keeps
  // each key in exactly one of them (SURVEY §1); this object is the only
  // code that knows that layout.

  private val typedMaps = Seq("attributes_string", "attributes_number", "attributes_bool")

  // codegen kernel, not map_filter: a CodegenFallback HOF here would drag
  // the whole operator-chain projection out of whole-stage codegen
  private def mapWithout(m: Column, key: String): Column =
    MapFilterKeys(m, Seq(key), keep = false)

  private def mapSet(m: Column, key: String, v: Column): Column =
    map_concat(mapWithout(m, key), map(lit(key), v))

  /** Set attribute `keys` in typed map `m`, removing it from the other two. */
  private def setAttr(keys: Seq[String], m: String, v: Column): Seq[(String, Column)] = {
    val k = attrKey(keys)
    (m -> mapSet(col(m), k, v)) +: typedMaps.filter(_ != m).map(o => o -> mapWithout(col(o), k))
  }

  /** All column updates needed to set `f` to string value `v`. */
  def setString(f: FieldRef, v: Column): Seq[(String, Column)] = f match {
    case Attr(keys) => setAttr(keys, "attributes_string", v)
    case Resource(keys) =>
      Seq("resources_string" -> mapSet(col("resources_string"), attrKey(keys), v))
    case Body => Seq("body" -> v)
    case BodyPath(keys) =>
      // string scalar write through the JSON body (BodyField.Set semantics
      // via BodyEdit; the value keeps its string type even if it looks
      // numeric/JSON — Go stores the string value as-is)
      Seq("body" -> graft.functions.BodyEdit.setRaw(col("body"), keys, v))
    case Top(n) => Seq(n -> v.cast(topType(n)))
    case other => throw new IllegalArgumentException(s"cannot set field $other")
  }

  /** All column updates needed to set `f` to number value `v`. A string
    * destination (body, resource) takes the number as [[stringifyNumber]]
    * prints it, a LONG `v` (an OTTL int64, time or duration) as its exact
    * digits; a body path parses that text back as a JSON number leaf.
    */
  def setNumber(f: FieldRef, v: Column): Seq[(String, Column)] = f match {
    case Attr(keys) => setAttr(keys, "attributes_number", v.cast("double"))
    case Top(n) => Seq(n -> v.cast(topType(n)))
    case BodyPath(keys) =>
      Seq("body" -> graft.functions.BodyEdit.set(col("body"), keys, stringifyNumber(v)))
    case other => setString(other, stringifyNumber(v))
  }

  def setBool(f: FieldRef, v: Column): Seq[(String, Column)] = f match {
    case Attr(keys) => setAttr(keys, "attributes_bool", v.cast("boolean"))
    case BodyPath(keys) =>
      Seq("body" -> graft.functions.BodyEdit.set(col("body"), keys,
        v.cast("boolean").cast("string")))
    case other => setString(other, v.cast("string"))
  }

  def remove(f: FieldRef): Seq[(String, Column)] = f match {
    case Attr(keys) => typedMaps.map(m => m -> mapWithout(col(m), attrKey(keys)))
    case Resource(keys) =>
      Seq("resources_string" -> mapWithout(col("resources_string"), attrKey(keys)))
    case AttrsRoot => Seq(
      "attributes_string" -> map().cast(graft.model.LogSchema.mapSS),
      "attributes_number" -> map().cast(graft.model.LogSchema.mapSD),
      "attributes_bool" -> map().cast(graft.model.LogSchema.mapSB))
    case ResourceRoot => Seq("resources_string" -> map().cast(graft.model.LogSchema.mapSS))
    case Body => Seq("body" -> lit(null).cast("string"))
    case BodyPath(keys) =>
      // no-op (body passes through) when the body is not a JSON object or
      // the path is absent — BodyField.Delete's !exist; operators that must
      // route that to on_error gate on existsStrict
      Seq("body" -> graft.functions.BodyEdit.delete(col("body"), keys))
    case Top(n) => Seq(n -> lit(null).cast(topType(n)))
    case other => throw new IllegalArgumentException(s"cannot remove field $other")
  }

  /** An empty merge argument: nothing wins, nothing is evicted. */
  private def none: Column = map()

  /** The one typed merge: `strings`, `numbers` and `bools` land in their
    * typed maps and each of their keys leaves the other two. `upsert`
    * merges every source key, `insert` only keys the record lacks, and
    * `update` only keys it has (value and type move). Single-pass
    * [[MergeMaps]] kernels, not map_filter/map_concat chains: Spark's
    * higher-order functions run their lambdas interpreted per entry per
    * row and were a top profiled cost.
    */
  def mergeAttrs(strings: Column = none, numbers: Column = none, bools: Column = none,
      strategy: String = "upsert"): Seq[(String, Column)] = {
    val (tS, tN, tB) = (col("attributes_string"), col("attributes_number"), col("attributes_bool"))
    def pick(src: Column) = strategyFilter(src, strategy, tS, tN, tB)
    val (s, n, b) = (pick(strings), pick(numbers), pick(bools))
    Seq(
      "attributes_string" -> MergeMaps(tS, s, n, b),
      "attributes_number" -> MergeMaps(tN, n, s, b),
      "attributes_bool" -> MergeMaps(tB, b, s, n))
  }

  /** [[mergeAttrs]] into the resource root, a single string map. */
  def mergeResources(strings: Column, strategy: String): Seq[(String, Column)] = {
    val rs = col("resources_string")
    val e = map().cast(graft.model.LogSchema.mapSS)
    Seq("resources_string" -> MergeMaps(rs, strategyFilter(strings, strategy, rs, e, e), e, e))
  }

  private def strategyFilter(src: Column, strategy: String,
      t1: Column, t2: Column, t3: Column): Column = strategy match {
    case "upsert" => src
    case "insert" => MapKeysIn(src, t1, t2, t3, present = false)
    case "update" => MapKeysIn(src, t1, t2, t3, present = true)
  }

  /** Apply a map-valued edit to a whole root: the attributes root spans the
    * three typed maps (`typed` says whether the number and bool maps take
    * part), the resource root is one string map.
    */
  def editMaps(root: FieldRef, f: Column => Column, typed: Boolean): Seq[(String, Column)] =
    root match {
      case AttrsRoot => typedMaps.take(if (typed) 3 else 1).map(m => m -> f(col(m)))
      case ResourceRoot => Seq("resources_string" -> f(col("resources_string")))
      case other => throw new IllegalArgumentException(s"needs a map root, got $other")
    }

  /** The three typed maps from one `struct(strings, numbers, bools)` kernel
    * result; subexpression elimination shares the struct across the three
    * updates.
    */
  private def typedFields(s: Column): Seq[(String, Column)] =
    typedMaps.zip(Seq("strings", "numbers", "bools")).map { case (m, f) => m -> s.getField(f) }

  /** OTTL `limit(root, n, priority)`: at most `n` keys stay, priority keys
    * always. The attributes root is one joint budget across the three typed
    * maps (one logical pcommon.Map in the reference).
    */
  def limit(root: FieldRef, n: Int, priority: Seq[String]): Seq[(String, Column)] = root match {
    case AttrsRoot => typedFields(LimitTypedMaps(
      col("attributes_string"), col("attributes_number"), col("attributes_bool"), n, priority))
    case ResourceRoot =>
      val limited = LimitTypedMaps(col("resources_string"),
        map().cast(graft.model.LogSchema.mapSD), map().cast(graft.model.LogSchema.mapSB), n, priority)
      Seq("resources_string" -> limited.getField("strings"))
    case other => throw new IllegalArgumentException(s"needs a map root, got $other")
  }

  /** The attributes processor's pattern `hash`: each attribute whose key
    * matches `pattern` becomes the SHA-256 hex of its string form, in the
    * string map ([[HashTypedMaps]]).
    */
  def hashMatching(pattern: String): Seq[(String, Column)] = typedFields(HashTypedMaps(
    col("attributes_string"), col("attributes_number"), col("attributes_bool"), pattern))

  /** Copy (`move = false`) or move one attribute to another key: the target
    * joins the typed map that holds the source's value and leaves the other
    * two. For a step gated on the source's presence: a row without the
    * source only loses the target.
    */
  def copyAttr(from: Attr, to: Attr, move: Boolean): Seq[(String, Column)] = {
    val fkey = attrKey(from.keys)
    val tkey = attrKey(to.keys)
    typedMaps.map { m =>
      val hasFrom = map_contains_key(col(m), fkey)
      val dropSet = if (move) Seq(fkey, tkey) else Seq(tkey)
      m -> when(hasFrom,
        map_concat(MapFilterKeys(col(m), dropSet, keep = false),
          map(lit(tkey), col(m).getItem(fkey))))
        .otherwise(MapFilterKeys(col(m), Seq(tkey), keep = false))
    }
  }

  private def topType(n: String): String = n match {
    case "severity_number" | "trace_flags" | "turn_idx" => "int"
    case "timestamp" | "observed_timestamp" => "long"
    case _ => "string"
  }

  /** Is this top-level column numeric? (single source of truth for the
    * typed-value dispatch in AddOp / copyMove)
    */
  def isNumericTop(n: String): Boolean = topType(n) != "string"

  /** Apply a batch of column updates, optionally gated per-row: when `gate`
    * is false the original column value is kept (the reference's `if:` skip
    * and `on_error: send` pass-the-original-entry semantics,
    * `helper/transformer.go:96-147`).
    */
  def applyUpdates(df: DataFrame, updates: Seq[(String, Column)], gate: Option[Column]): DataFrame = {
    if (updates.isEmpty) return df
    val gated = gate match {
      case Some(g) => updates.map { case (name, c) => name -> when(g, c).otherwise(col(name)) }
      case None => updates
    }
    df.withColumns(gated.toMap)
  }
}
