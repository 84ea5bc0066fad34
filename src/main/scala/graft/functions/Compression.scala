package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** GZIP decompression for receiver payloads. The firehose cwlogs receiver
  * gunzips every delivered record before parsing
  * (`receiver/signozawsfirehosereceiver/internal/unmarshaler/cwlog/
  * unmarshaler.go:44-50` via `compression.Unzip`); a record that fails to
  * unzip is skipped (logged) — mirrored here as NULL so the adapter's filter
  * drops it.
  */
object GunzipKernel extends Serializable {
  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    if (bytes == null) return null
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val out = new java.io.ByteArrayOutputStream(math.max(64, bytes.length * 4))
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } catch { case _: java.io.IOException => null }
  }
}

/** `gunzip(binary)` -> binary; NULL on corrupt input. */
case class Gunzip(child: Expression)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = GunzipKernel
  protected def method = "gunzip"
  override def dataType: DataType = BinaryType
  override protected def withNewChildInternal(newChild: Expression): Gunzip =
    copy(child = newChild)
}

object Gunzip {
  def apply(c: Column): Column =
    ExpressionUtils.column(Gunzip(ExpressionUtils.expression(c)))
}

/** Charset decode for the Kafka `text_<encoding>` log unmarshaler
  * (`receiver/signozkafkareceiver/text_unmarshaler.go` +
  * `internal/coreinternal/textutils/encoding.go`): the encoding name after
  * `text_` resolves through the reference's override table first —
  * `utf-16`/`utf16` mean LITTLE-endian (x/text `unicode.UTF16(LittleEndian,
  * IgnoreBOM)`), `ascii`/`us-ascii` decode as UTF-8, `nop` passes bytes
  * through raw — then the IANA registry (Java `Charset.forName` covers the
  * same names). Malformed input replaces with U+FFFD, matching x/text
  * decoder behavior.
  */
object CharsetDecodeKernel extends Serializable {
  private def resolve(name: String): java.nio.charset.Charset = {
    name.toLowerCase match {
      case "utf-16" | "utf16" => java.nio.charset.Charset.forName("UTF-16LE")
      case "utf-8" | "utf8" | "ascii" | "us-ascii" | "" =>
        java.nio.charset.StandardCharsets.UTF_8
      case "nop" => java.nio.charset.StandardCharsets.ISO_8859_1 // byte-preserving
      case other => java.nio.charset.Charset.forName(other)
    }
  }

  def decode(bytes: Array[Byte], name: UTF8String): UTF8String = {
    if (bytes == null) return null
    UTF8String.fromString(new String(bytes, resolve(name.toString)))
  }
}

/** `charset_decode(binary, 'utf-16')` -> string. */
case class CharsetDecode(child: Expression, charset: String)
    extends UnaryExpression with InvokeKernel {
  protected def kernel = CharsetDecodeKernel
  protected def method = "decode"
  override protected def arguments = Seq(child, Literal(charset))
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): CharsetDecode =
    copy(child = newChild)
}

object CharsetDecode {
  def apply(c: Column, charset: String): Column =
    ExpressionUtils.column(CharsetDecode(ExpressionUtils.expression(c), charset))
}
