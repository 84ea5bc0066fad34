package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{GraftBridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Staged stable-token rewrite: for each `(tag, regex)` class in order,
  * every match `m` in the (progressively rewritten) text is replaced by the
  * deterministic pseudonym `<TAG:h>` where `h` = first 8 hex chars of
  * `md5(utf8(m))`. The same surface form maps to the same token corpus-wide
  * and run-over-run — unlike static redaction (`<EMAIL>`), pseudonymization
  * preserves cross-document entity linkage (same contact in N docs stays
  * countable) while removing the content itself.
  *
  * Class staging matches `Curation.redact`: class i+1 matches against the
  * text AFTER class i's rewrite, so one class's spans are never double
  * counted by the next (an email's digits are not also a phone number).
  * Pseudonym tokens themselves are inert to every later class by
  * construction (no `@`, `.`-separated digit runs, `+` or `-` sequences).
  *
  * One imperative pass per class over the row's text — a per-row codegen
  * kernel (no HOFs, no UDF); md5 via a thread-local digest so the kernel is
  * safe under whole-stage-codegen instance sharing. The DuckDB oracle
  * replays the exact semantics with `regexp_split_to_array` +
  * `regexp_extract_all` + a `list_transform` rebuild per stage (patterns
  * live in the Java-regex ∩ RE2 subset).
  */
final class StableTokenRewriteWorker(tags: Array[String], patterns: Array[String])
    extends Serializable {

  @transient private lazy val compiled: Array[Pattern] = patterns.map(Pattern.compile)
  @transient private lazy val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private def hex8(s: String): String = {
    val d = md.get()
    d.reset()
    val bytes = d.digest(s.getBytes(StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(8)
    var i = 0
    while (i < 4) {
      val b = bytes(i) & 0xff
      sb.append(Character.forDigit(b >>> 4, 16)).append(Character.forDigit(b & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  def rewrite(in: UTF8String): UTF8String = {
    var s = in.toString
    var ci = 0
    while (ci < compiled.length) {
      val m = compiled(ci).matcher(s)
      if (m.find()) {
        val sb = new java.lang.StringBuilder(s.length + 16)
        var last = 0
        do {
          sb.append(s, last, m.start())
            .append('<').append(tags(ci)).append(':')
            .append(hex8(s.substring(m.start(), m.end()))).append('>')
          last = m.end()
        } while (m.find())
        sb.append(s, last, s.length)
        s = sb.toString
      }
      ci += 1
    }
    UTF8String.fromString(s)
  }
}

/** `stable_token_rewrite(text)` — see [[StableTokenRewriteWorker]]. */
case class StableTokenRewrite(child: Expression, classes: Seq[(String, String)])
    extends UnaryExpression with InvokeKernel {
  @transient protected lazy val kernel =
    new StableTokenRewriteWorker(classes.map(_._1).toArray, classes.map(_._2).toArray)
  protected def method = "rewrite"
  override protected def returnNullable = false
  override def dataType: DataType = StringType
  override protected def withNewChildInternal(newChild: Expression): StableTokenRewrite =
    copy(child = newChild)

  override def prettyName: String = "stable_token_rewrite"
}

object StableTokenRewrite {
  def apply(text: Column, classes: Seq[(String, String)]): Column =
    ExpressionUtils.column(
      StableTokenRewrite(ExpressionUtils.expression(text), classes))
}
