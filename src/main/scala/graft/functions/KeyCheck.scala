package graft.functions

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** "Does this attribute key look randomly generated?" heuristic used to gate
  * tag-metadata emission, replicating `pkg/keycheck/keycheck.go:31-151`:
  * UUIDs, >=16-char hex, base64 blobs, 13-digit timestamps and ULIDs (any
  * dot-separated segment) are random; short lowercase / letter-heavy keys
  * with separators are meaningful.
  */
object KeyCheck extends Serializable {
  private val MaxKeyLength = 256
  private val ShortKeyLength = 15
  private val MediumKeyLength = 25
  private val LetterThreshold = 0.7

  private val uuidRe = Pattern.compile(
    "(?i)^[0-9a-f]{8}-[0-9a-f]{4}-[1-5][0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
  private val hexRe = Pattern.compile("(?i)^[0-9a-f]{16,}$")
  private val base64Re = Pattern.compile("^[A-Za-z0-9+/]{16,}={0,2}$")
  private val timestampRe = Pattern.compile("^\\d{13}$")

  def isRandomKey(key: UTF8String): Boolean = isRandomKey(key.toString)

  def isRandomKey(key: String): Boolean = {
    val length = key.length
    if (length > MaxKeyLength) return true
    if (length <= ShortKeyLength && isAlphaLower(key)) return false
    if (length <= MediumKeyLength && (key.contains('_') || key.contains('-')) &&
      isMostlyLetters(key)) return false
    key.split("\\.", -1).exists(seg => seg.nonEmpty && isRandomSegment(seg))
  }

  private def isRandomSegment(seg: String): Boolean =
    seg.length > MaxKeyLength ||
      uuidRe.matcher(seg).matches() ||
      hexRe.matcher(seg).matches() ||
      isBase64(seg) ||
      timestampRe.matcher(seg).matches() ||
      isULID(seg)

  private def isBase64(s: String): Boolean =
    containsNonAlpha(s) && base64Re.matcher(s).matches()

  private def isMostlyLetters(s: String): Boolean =
    s.count(_.isLetter).toDouble / s.length > LetterThreshold

  private def isAlphaLower(s: String): Boolean =
    s.forall(c => c.isLower || c.isLetter)

  private def containsNonAlpha(s: String): Boolean = s.exists(!_.isLetter)

  private def isULID(s: String): Boolean =
    s.length == 26 && s.forall(c =>
      ((c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')) &&
        c != 'I' && c != 'L' && c != 'O' && c != 'U')

  // `pkg/keycheck/cardinality.go:10-11` — the JSON-key symbol whitelist
  private val jsonKeyAllowedSymbols = Set('_', '.', ':', '@', '-', '$', '#', '{', '}', '/')

  private def hasNonAllowedSymbols(s: String): Boolean =
    s.exists(c => !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || jsonKeyAllowedSymbols.contains(c)))

  /** `pkg/keycheck/cardinality.go:14-37 IsCardinal` — the JSON-body map-key
    * gate of the metadata json walker: [[isRandomKey]]'s chain plus a
    * non-whitelisted-symbol check up front.
    */
  def isCardinal(key: String): Boolean = {
    val length = key.length
    if (length > MaxKeyLength) return true
    if (hasNonAllowedSymbols(key)) return true
    if (length <= ShortKeyLength && isAlphaLower(key)) return false
    if (length <= MediumKeyLength && (key.contains('_') || key.contains('-')) &&
      isMostlyLetters(key)) return false
    key.split("\\.", -1).exists(seg => seg.nonEmpty && isRandomSegment(seg))
  }
}

/** `is_random_key(str)` as a codegen expression — the exporter's tag sinks
  * apply this predicate to every exploded tag row
  * (`exporter/clickhouselogsexporter/exporter.go:893`); a Scala UDF here
  * forces a BatchEvalUDF node and breaks whole-stage codegen on the hot
  * explode path.
  */
case class IsRandomKey(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with InvokeKernel {
  protected def kernel = KeyCheck
  protected def method = "isRandomKey"
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): IsRandomKey =
    copy(child = newChild)
}

object IsRandomKey {
  def apply(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.GraftBridge.column(
      IsRandomKey(org.apache.spark.sql.graftbridge.GraftBridge.expression(c)))
}
