package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-side analysis of a regex with named capture groups.
  *
  * The reference's `regex_parser` matches an RE2 pattern with `(?P<name>...)`
  * named groups and emits a `map[name -> captured string]`
  * (`stanza/operator/operators/regex/parser.go:30-67`; match semantics =
  * leftmost search, all named groups present with "" for non-participating
  * groups, no-match is an error).
  *
  * Java's `Pattern` forbids `_` in group names (fixtures use
  * `k8s_namespace_name` etc.) and uses `(?<name>)` syntax, so instead of
  * relying on Java named groups we rewrite every named group to a plain
  * capturing group at the driver and track `name -> group index` ourselves.
  */
object RegexNamedGroups {

  /** Result of scanning a pattern: the rewritten (names-stripped) Java regex
    * and the capture-group names by index (1-based; None = unnamed group).
    */
  final case class Scanned(javaPattern: String, namesByIndex: Seq[Option[String]]) {
    def names: Seq[String] = namesByIndex.flatten
    require(names.distinct.size == names.size, s"duplicate group names in pattern")
  }

  /** Scan an RE2/Java pattern: count capturing groups, collect names, strip
    * name syntax (`(?P<n>` and `(?<n>` -> `(`). Handles escapes and character
    * classes; `(?<=` / `(?<!` lookbehinds are left untouched and not counted.
    */
  def scan(pattern: String): Scanned = {
    val out = new StringBuilder
    val names = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    var i = 0
    var inClass = false
    val n = pattern.length
    while (i < n) {
      val c = pattern.charAt(i)
      if (c == '\\' && i + 1 < n) { out.append(c).append(pattern.charAt(i + 1)); i += 2 }
      else if (inClass) { if (c == ']') inClass = false; out.append(c); i += 1 }
      else if (c == '[') { inClass = true; out.append(c); i += 1 }
      else if (c == '(') {
        if (i + 1 < n && pattern.charAt(i + 1) == '?') {
          val isP = i + 2 < n && pattern.charAt(i + 2) == 'P' && i + 3 < n && pattern.charAt(i + 3) == '<'
          val isAngle = i + 2 < n && pattern.charAt(i + 2) == '<' &&
            i + 3 < n && pattern.charAt(i + 3) != '=' && pattern.charAt(i + 3) != '!'
          if (isP || isAngle) {
            val start = i + (if (isP) 4 else 3)
            val end = pattern.indexOf('>', start)
            require(end > start, s"malformed named group at offset $i in: $pattern")
            names += Some(pattern.substring(start, end))
            out.append('(')
            i = end + 1
          } else { out.append(c); i += 1 } // non-capturing / lookaround: not counted
        } else {
          names += None
          out.append(c)
          i += 1
        }
      } else if (c == '$' && i == n - 1) {
        // Go RE2 '$' (no `m` flag) is END OF TEXT; Java '$' also matches
        // before a final line terminator. Rewrite the trailing unescaped
        // anchor to \z so "x$" does NOT match "x\n" — reference semantics,
        // and what the delimiter-split fast path and the `matches` literal
        // tiering (endsWith/equality) already implement.
        out.append("\\z")
        i += 1
      } else { out.append(c); i += 1 }
    }
    Scanned(out.toString, names.toSeq)
  }

  def namedGroupCount(pattern: String): Int = scan(pattern).names.size

  /** Detects the very common delimiter-split extraction shape
    * `^(?P<a>[^D]*)D(?P<b>[^D]*)D...(?P<z>[^D]*)$` (all groups named, one
    * consistent single-byte delimiter `D`, e.g. the tab-separated flagship
    * pattern) and returns the delimiter byte, or -1. Such a pattern is
    * byte-for-byte equivalent to "split on D into exactly k parts": no
    * group can span a delimiter and the anchors pin both ends, so
    * [[NamedGroupMatcher]] can extract with one byte scan — no
    * java.util.regex machinery, no char decoding (regex search measured
    * ~10% of flagship CPU, concentrated here).
    */
  def splitDelim(pattern: String): Int = {
    // one literal char, possibly escaped; None on regex machinery
    def decode(s: String, i: Int): Option[(Char, Int)] =
      if (i >= s.length) None
      else if (s.charAt(i) == '\\' && i + 1 < s.length) {
        val e = s.charAt(i + 1)
        val c = e match {
          case 't' => '\t'
          case 'n' => '\n'
          case 'r' => '\r'
          case x if !Character.isLetterOrDigit(x) => x
          case _ => return None
        }
        Some((c, i + 2))
      } else if (".[]{}()*+?|^$\\".indexOf(s.charAt(i).toInt) >= 0) None
      else Some((s.charAt(i), i + 1))

    val p = pattern
    if (p.length < 2 || p.charAt(0) != '^' || p.charAt(p.length - 1) != '$') return -1
    var i = 1
    val end = p.length - 1
    var delim = -2 // not chosen yet
    var expectGroup = true
    var groups = 0
    while (i < end) {
      if (expectGroup) {
        if (!p.startsWith("(?P<", i)) return -1
        val gt = p.indexOf('>', i)
        if (gt < 0 || gt >= end) return -1
        i = gt + 1
        if (!p.startsWith("[^", i)) return -1
        val (c, ni) = decode(p, i + 2).getOrElse(return -1)
        i = ni
        if (!p.startsWith("]*)", i)) return -1
        i += 3
        if (delim == -2) delim = c.toInt
        else if (delim != c.toInt) return -1
        groups += 1
        expectGroup = false
      } else {
        val (c, ni) = decode(p, i).getOrElse(return -1)
        if (c.toInt != delim) return -1
        i = ni
        expectGroup = true
      }
    }
    if (expectGroup || groups < 2 || delim < 0 || delim >= 128) -1 else delim
  }
}

/** Serializable per-task matcher: compiled once, reused across rows. */
final class NamedGroupMatcher(val pattern: String) extends Serializable {
  @transient private lazy val scanned = RegexNamedGroups.scan(pattern)
  @transient private lazy val compiled = Pattern.compile(scanned.javaPattern)
  @transient private lazy val keyArray: Array[UTF8String] = {
    // keys are emitted in group-index order, mirroring SubexpNames iteration
    scanned.namesByIndex.flatten.map(UTF8String.fromString).toArray
  }
  @transient private lazy val namedIdx: Array[Int] =
    scanned.namesByIndex.zipWithIndex.collect { case (Some(_), i) => i + 1 }.toArray

  // delimiter-split fast path (see RegexNamedGroups.splitDelim); -1 = regex
  @transient private lazy val fastDelim: Int = RegexNamedGroups.splitDelim(pattern)

  /** Leftmost match; null if no match (caller maps that to the error path).
    * All named groups are present; non-participating groups get "".
    */
  def extract(input: UTF8String): MapData = {
    if (input == null) return null
    if (fastDelim >= 0) return extractSplit(input)
    val m = compiled.matcher(input.toString)
    if (!m.find()) return null
    val vals = new Array[Any](namedIdx.length)
    var i = 0
    while (i < namedIdx.length) {
      val g = m.group(namedIdx(i))
      vals(i) = UTF8String.fromString(if (g == null) "" else g)
      i += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(keyArray.asInstanceOf[Array[Any]]),
      new GenericArrayData(vals))
  }

  /** One pass over the UTF-8 bytes: split on the delimiter into exactly
    * k parts (more OR fewer delimiters than k-1 means the equivalent
    * anchored regex would not match -> null). The delimiter is ASCII
    * (enforced by splitDelim), so byte scanning is UTF-8 safe, and parts
    * are zero-decode byte slices.
    */
  private def extractSplit(input: UTF8String): MapData = {
    val n = keyArray.length
    val bytes = input.getBytes
    val d = fastDelim.toByte
    val vals = new Array[Any](n)
    var part = 0
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == d) {
        if (part >= n - 1) return null // more delimiters than groups
        vals(part) = UTF8String.fromBytes(bytes, start, i - start)
        part += 1
        start = i + 1
      }
      i += 1
    }
    if (part != n - 1) return null // too few delimiters
    vals(part) = UTF8String.fromBytes(bytes, start, bytes.length - start)
    new ArrayBasedMapData(
      new GenericArrayData(keyArray.asInstanceOf[Array[Any]]),
      new GenericArrayData(vals))
  }
}

/** `regex_extract_groups(str)` -> `MAP<STRING,STRING>` of all named capture
  * groups of a constant pattern; NULL when the pattern does not match (or the
  * input is NULL). Codegen-friendly: generated code calls the shared
  * per-task matcher, keeping the surrounding stage in whole-stage codegen.
  */
case class RegexExtractNamedGroups(child: Expression, pattern: String)
    extends UnaryExpression with InvokeKernel {

  require(RegexNamedGroups.namedGroupCount(pattern) > 0,
    s"regex pattern must contain at least one named group: $pattern")

  protected lazy val kernel = new NamedGroupMatcher(pattern)
  protected def method = "extract"
  override def dataType: DataType = MapType(StringType, StringType, valueContainsNull = true)
  override protected def withNewChildInternal(newChild: Expression): RegexExtractNamedGroups =
    copy(child = newChild)
}

object RegexExtractNamedGroups {
  /** Column API: extract all named groups of `pattern` from `c`. */
  def apply(c: Column, pattern: String): Column =
    ExpressionUtils.column(RegexExtractNamedGroups(ExpressionUtils.expression(c), pattern))
}
