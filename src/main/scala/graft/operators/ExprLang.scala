package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.RegexNamedGroups

/** Translator for the reference's route/if/value expression language into
  * Catalyst `Column` trees.
  *
  * The reference compiles expr-lang expressions once at pipeline build
  * (`stanza/operator/helper/expr.go:21-107`) over an env of
  * body/attributes/resource/severity/trace fields plus helpers; we do the
  * same compile-once translation at plan build, so per-row evaluation is
  * whole-stage-codegen'd Catalyst. Supported surface (everything the
  * reference's own configs/tests use, `processor_test.go`,
  * `testdata/pipeline_test_config.yaml`):
  * `== != < <= > >= && || ! and or not in matches`, nil literals, string /
  * number / bool literals, lists, `?.` nil-safe access, bracket keys,
  * `type(x)`, `int(x)`, `float(x)`, `string(x)`, `len(x)`,
  * `like(s, pat)` / `ilike(s, pat)` (SQL LIKE, `helper/like.go`), `env(n)`.
  *
  * `matches` patterns are RE2; named groups are rewritten to Java syntax via
  * [[RegexNamedGroups.scan]].
  */
object ExprLang {

  // ---- lexer ---------------------------------------------------------------
  sealed trait Tok
  private case class TIdent(s: String) extends Tok
  private case class TStr(s: String) extends Tok
  private case class TNum(s: String) extends Tok
  private case class TOp(s: String) extends Tok

  private def lex(src: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = src.length
    while (i < n) {
      val c = src.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '"' || c == '\'') {
        val sb = new StringBuilder
        i += 1
        while (i < n && src.charAt(i) != c) {
          if (src.charAt(i) == '\\' && i + 1 < n) {
            val e = src.charAt(i + 1)
            e match {
              case 'n' => sb.append('\n'); case 't' => sb.append('\t')
              case 'r' => sb.append('\r')
              case '\\' | '"' | '\'' => sb.append(e)
              // unknown escape: PRESERVE the backslash (Go strconv.Unquote
              // rejects these loudly; silently dropping it corrupted
              // single-escaped regex classes like \s and \d in `matches`)
              case other => sb.append('\\').append(other)
            }
            i += 2
          } else { sb.append(src.charAt(i)); i += 1 }
        }
        require(i < n, s"unterminated string in expr: $src")
        i += 1
        out += TStr(sb.toString)
      }
      else if (c.isDigit || (c == '.' && i + 1 < n && src.charAt(i + 1).isDigit)) {
        val start = i
        while (i < n && (src.charAt(i).isDigit || src.charAt(i) == '.')) i += 1
        out += TNum(src.substring(start, i))
      }
      else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (src.charAt(i).isLetterOrDigit || src.charAt(i) == '_')) i += 1
        out += TIdent(src.substring(start, i))
      }
      else {
        val two = if (i + 1 < n) src.substring(i, i + 2) else ""
        if (Set("==", "!=", "<=", ">=", "&&", "||", "?.").contains(two)) { out += TOp(two); i += 2 }
        else { out += TOp(c.toString); i += 1 }
      }
    }
    out.toList
  }

  // ---- typed values --------------------------------------------------------
  /** A translated sub-expression: either a field reference (so comparisons
    * can pick the right typed read) or an already-materialized Column of a
    * known kind.
    */
  sealed trait V
  private case class Field(ref: FieldRef) extends V
  private case class CStr(c: Column) extends V
  private case class CNum(c: Column) extends V
  private case class CBool(c: Column) extends V
  private case class LStr(s: String) extends V // string literal (kept for `matches`/`in`)
  private case class LNum(d: Double, isInt: Boolean) extends V
  private case class LList(vs: Seq[V]) extends V
  private case object LNil extends V
  private case class CTypeName(c: Column) extends V // result of type(x)

  /** Render any V as a string Column, as expr-lang's `string(x)` does with
    * `fmt.Sprintf("%v")`: an int literal as its int, a float literal as
    * [[graft.functions.GoFloat.percentV]] (`1e-4` is `0.0001`), a number
    * Column as [[FieldCols.stringifyNumber]].
    */
  private def asStr(v: V): Column = v match {
    case Field(r) => FieldCols.readString(r)
    case CStr(c) => c
    case CNum(c) => FieldCols.stringifyNumber(c)
    case CBool(c) => c.cast("string")
    case LStr(s) => lit(s)
    case LNum(d, true) => lit(d.toLong.toString)
    case LNum(d, false) => lit(graft.functions.GoFloat.percentV(d))
    case CTypeName(c) => c
    case LNil => lit(null).cast("string")
    case LList(_) => throw new IllegalArgumentException("list not usable as string")
  }

  private def asNum(v: V): Column = v match {
    case Field(r) => FieldCols.readNumber(r)
    case CNum(c) => c
    case CStr(c) => c.cast("double")
    case LNum(d, _) => lit(d)
    case other => asStr(other).cast("double")
  }

  private def asBool(v: V): Column = v match {
    case CBool(c) => c
    case Field(r) => FieldCols.readString(r).cast("boolean")
    case other => asStr(other).cast("boolean")
  }

  // -- parser (recursive descent) --------------------------------------------
  /** A pattern that is just anchors + literal text (escapes like \t or
    * escaped punctuation allowed) -> (anchoredStart, anchoredEnd, literal).
    * Anything with real regex machinery (classes, quantifiers, alternation,
    * \s-style escapes) returns None and takes the rlike path.
    */
  def literalizeRegex(pat: String): Option[(Boolean, Boolean, String)] = {
    var i = 0
    var j = pat.length
    var aStart = false
    var aEnd = false
    if (i < j && pat.charAt(i) == '^') { aStart = true; i += 1 }
    if (j > i && pat.charAt(j - 1) == '$') {
      // only an UNESCAPED trailing $ anchors
      var k = j - 2
      var bs = 0
      while (k >= i && pat.charAt(k) == '\\') { bs += 1; k -= 1 }
      if (bs % 2 == 0) { aEnd = true; j -= 1 }
    }
    val sb = new StringBuilder
    val meta = ".[]{}()*+?|^$"
    while (i < j) {
      val c = pat.charAt(i)
      if (c == '\\') {
        if (i + 1 >= j) return None
        val e = pat.charAt(i + 1)
        e match {
          case 't' => sb.append('\t')
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case _ if !java.lang.Character.isLetterOrDigit(e) => sb.append(e)
          case _ => return None // \s \d \w \b \1 ... are real regex
        }
        i += 2
      } else if (meta.indexOf(c.toInt) >= 0) return None
      else { sb.append(c); i += 1 }
    }
    Some((aStart, aEnd, sb.toString))
  }

  private class P(var toks: List[Tok], src: String) {
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = { val t = toks.head; toks = toks.tail; t }
    def expectOp(s: String): Unit = next() match {
      case TOp(`s`) => ()
      case other => fail(s"expected '$s' but got $other")
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"expr parse error: $msg in: $src")

    def parseExpr(): V = parseOr()

    def parseOr(): V = {
      var l = parseAnd()
      while (peek.contains(TOp("||")) || peek.contains(TIdent("or"))) {
        next(); val r = parseAnd(); l = CBool(asBool(l) || asBool(r))
      }
      l
    }

    def parseAnd(): V = {
      var l = parseNot()
      while (peek.contains(TOp("&&")) || peek.contains(TIdent("and"))) {
        next(); val r = parseNot(); l = CBool(asBool(l) && asBool(r))
      }
      l
    }

    def parseNot(): V = peek match {
      case Some(TOp("!")) =>
        next(); CBool(!asBool(parseNot()))
      case Some(TIdent("not")) => next(); CBool(!asBool(parseNot()))
      case _ => parseCmp()
    }

    def parseCmp(): V = {
      val l = parseAdd()
      peek match {
        case Some(TOp(op)) if Set("==", "!=", "<", "<=", ">", ">=").contains(op) =>
          next(); val r = parseAdd(); CBool(compare(l, op, r))
        case Some(TIdent("matches")) =>
          next()
          val pat = parseAtom() match {
            case LStr(s) => s
            case other => fail(s"matches needs a literal pattern, got $other")
          }
          // regex-free tiering for literal-only patterns (the same spirit as
          // RE2's literal optimizations and the reference's LIKE fast paths):
          // route predicates like `body matches "\t"` / `"^status: "` run as
          // contains/startsWith instead of a per-row Pattern search — regex
          // search was ~10% of flagship CPU, mostly on these predicates
          val s = asStr(l)
          CBool(ExprLang.literalizeRegex(pat) match {
            case Some((true, true, litr)) => s === lit(litr)
            case Some((true, false, litr)) => s.startsWith(litr)
            case Some((false, true, litr)) => s.endsWith(litr)
            case Some((false, false, litr)) => s.contains(litr)
            case None => s.rlike(RegexNamedGroups.scan(pat).javaPattern)
          })
        case Some(TIdent("in")) =>
          next(); val r = parseAtom(); CBool(inOp(l, r))
        case _ => l
      }
    }

    /** expr-lang `+`/`-` (add/transformer_test.go `EXPR(body.key +
      * "_suffix")`): `+` concatenates when either side is a known string
      * (Go expr string+string), adds when either side is known numeric.
      * Field+field is dynamically typed in the reference; here it resolves
      * PER ROW — when both sides are attribute refs and both keys sit in
      * the number map, float64 addition, else string concat (Go %v
      * rendering for the numeric result). `-` is always numeric.
      */
    def parseAdd(): V = {
      def knownStr(v: V) = v match { case LStr(_) | CStr(_) => true; case _ => false }
      def knownNum(v: V) = v match { case LNum(_, _) | CNum(_) => true; case _ => false }
      def numKey(v: V): Option[Column] = v match {
        case Field(FieldRef.Attr(keys)) =>
          Some(map_contains_key(col("attributes_number"), keys.mkString(".")))
        case _ => None
      }
      var l = parseAtom()
      var go = true
      while (go) peek match {
        case Some(TOp("+")) =>
          next(); val r = parseAtom()
          l = (l, r) match {
            case (LNum(a, ai), LNum(b, bi)) => LNum(a + b, ai && bi)
            case _ if knownStr(l) || knownStr(r) => CStr(concat(asStr(l), asStr(r)))
            case _ if knownNum(l) || knownNum(r) => CNum(asNum(l) + asNum(r))
            case _ => (numKey(l), numKey(r)) match {
              case (Some(ln), Some(rn)) =>
                CStr(when(ln && rn, FieldCols.stringifyNumber(asNum(l) + asNum(r)))
                  .otherwise(concat(asStr(l), asStr(r))))
              case _ => CStr(concat(asStr(l), asStr(r)))
            }
          }
        case Some(TOp("-")) =>
          next(); val r = parseAtom()
          l = (l, r) match {
            case (LNum(a, ai), LNum(b, bi)) => LNum(a - b, ai && bi)
            case _ => CNum(asNum(l) - asNum(r))
          }
        case _ => go = false
      }
      l
    }

    def parseAtom(): V = next() match {
      case TStr(s) => LStr(s)
      case TNum(s) => LNum(s.toDouble, !s.contains('.'))
      case TOp("-") => parseAtom() match { // unary minus
        case LNum(d, i) => LNum(-d, i)
        case v => CNum(-asNum(v))
      }
      case TOp("(") => val e = parseExpr(); expectOp(")"); e
      case TOp("[") =>
        val items = scala.collection.mutable.ListBuffer.empty[V]
        if (!peek.contains(TOp("]"))) {
          items += parseExpr()
          while (peek.contains(TOp(","))) { next(); items += parseExpr() }
        }
        expectOp("]")
        LList(items.toSeq)
      case TIdent("true") => CBool(lit(true))
      case TIdent("false") => CBool(lit(false))
      case TIdent("nil") => LNil
      case TIdent(fn) if peek.contains(TOp("(")) && isFunc(fn) =>
        next()
        val args = scala.collection.mutable.ListBuffer.empty[V]
        if (!peek.contains(TOp(")"))) {
          args += parseExpr()
          while (peek.contains(TOp(","))) { next(); args += parseExpr() }
        }
        expectOp(")")
        applyFuncN(fn, args.toSeq)
      case TIdent(root) => parsePath(root)
      case other => fail(s"unexpected token $other")
    }

    private def isFunc(n: String): Boolean =
      Set("type", "int", "float", "string", "len", "isJSON", "unquote",
        "like", "ilike", "env", "HexToInt").contains(n)

    private def applyFuncN(fn: String, args: Seq[V]): V = (fn, args) match {
      // like/ilike: SQL LIKE tiering — the reference pre-compiles constant
      // patterns into exact/prefix/suffix/contains fast paths with an RE2
      // fallback (helper/like.go:37-128, ilike.go:17-60); Catalyst's
      // LikeSimplification rule performs exactly that tiering on the
      // built-in like/ilike operators, so translation is all that's needed
      case ("like", Seq(s, LStr(pat))) => CBool(asStr(s).like(toSparkLike(pat)))
      case ("ilike", Seq(s, LStr(pat))) => CBool(asStr(s).ilike(toSparkLike(pat)))
      case ("like" | "ilike", other) =>
        fail(s"$fn needs (value, literal pattern), got $other")
      // env(): resolved at plan build like the reference's os.Getenv slot
      // (helper/expr.go:24); unset -> "" exactly like Go
      case ("env", Seq(LStr(name))) => LStr(sys.env.getOrElse(name, ""))
      case ("env", other) => fail(s"env needs a literal name, got $other")
      // OTTL HexToInt (`signoztransformprocessor/ottlfunctions/func_hex_to_int.go`):
      // lowercase, strip one "0x" prefix, ParseInt base 16; invalid -> null
      // (the statement's error path). Like Go's ParseInt(s,16,64), 16-digit
      // values are accepted up to 7fffffffffffffff (overflow -> error -> null).
      // Domain deviation (documented): this expression language is
      // double-valued throughout, so results above 2^53 lose low-bit
      // precision relative to the reference's int64.
      case ("HexToInt", Seq(arg)) =>
        // leading zeros are value-neutral (Go ParseInt accepts any number of
        // them and only errors on actual overflow) — strip them before the
        // 15/16-digit range gate so "00ffffffffffffffff" etc. parse
        val raw = regexp_replace(graft.functions.FastLower(asStr(arg)), "^0x", "")
        val norm = regexp_replace(raw, "^0+(?=[0-9a-f])", "")
        val inRange = norm.rlike("^[0-9a-f]{1,15}$") ||
          (norm.rlike("^[0-9a-f]{16}$") && norm <= lit("7fffffffffffffff"))
        CNum(when(inRange, conv(norm, 16, 10).cast("long")).cast("double"))
      case (_, Seq(arg)) => applyFunc(fn, arg)
      case (_, other) => fail(s"$fn expects one argument, got ${other.size}")
    }

    /** LIKE-pattern escape translation (helper/like.go:37): the reference
      * accepts `\x` as literal x for ANY x; Spark's LIKE rejects escapes
      * other than \% \_ \\, so unescape the rest driver-side.
      */
    private def toSparkLike(p: String): String = {
      val sb = new StringBuilder
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        if (c == '\\' && i + 1 < p.length) {
          val e = p.charAt(i + 1)
          if (e == '%' || e == '_' || e == '\\') sb.append('\\').append(e)
          else sb.append(e)
          i += 2
        } else if (c == '\\') { sb.append("\\\\"); i += 1 } // trailing lone \
        else { sb.append(c); i += 1 }
      }
      sb.toString
    }

    private def applyFunc(fn: String, arg: V): V = fn match {
      case "type" => arg match {
        case Field(r) => CTypeName(FieldCols.typeName(r))
        case LStr(_) | CStr(_) => CTypeName(lit("string"))
        case LNum(_, true) => CTypeName(lit("int"))
        case LNum(_, false) | CNum(_) => CTypeName(lit("float"))
        case CBool(_) => CTypeName(lit("bool"))
        case LNil => CTypeName(lit("nil"))
        case _ => CTypeName(lit("string"))
      }
      case "int" => CNum(asNum(arg).cast("long").cast("double"))
      case "float" => CNum(asNum(arg))
      case "string" => CStr(asStr(arg))
      case "len" => CNum(length(asStr(arg)).cast("double"))
      case "isJSON" => CBool(asStr(arg).rlike("^\\s*(\\{.*\\}|\\[.*\\])\\s*$"))
      case "unquote" => CStr(graft.functions.TextKernels.unquote(asStr(arg)))
    }

    /** Parse a dotted/bracketed path after its root identifier. */
    private def parsePath(root: String): V = {
      val sb = new StringBuilder(root)
      var done = false
      while (!done) {
        peek match {
          case Some(TOp(".")) | Some(TOp("?.")) =>
            next()
            next() match {
              case TIdent(seg) => sb.append('.').append(seg)
              case other => fail(s"expected identifier after '.', got $other")
            }
          case Some(TOp("[")) =>
            next()
            next() match {
              case TStr(k) => sb.append("[\"").append(k).append("\"]")
              case other => fail(s"expected string key in brackets, got $other")
            }
            expectOp("]")
          case _ => done = true
        }
      }
      Field(FieldRef.parse(sb.toString))
    }

    private def compare(l: V, op: String, r: V): Column = {
      // nil comparisons = presence tests (expr-lang `x != nil`)
      (l, r) match {
        case (Field(f), LNil) => if (op == "==") !FieldCols.exists(f) else FieldCols.exists(f)
        case (LNil, Field(f)) => if (op == "==") !FieldCols.exists(f) else FieldCols.exists(f)
        case _ =>
          val (lc, rc) = coerce(l, r)
          op match {
            // null-safe (<=>): expr-lang compares nil like a value — nil ==
            // nil is true, nil != non-nil is TRUE (a plain =!= would yield
            // NULL, coalesced to false, silently excluding rows the
            // reference's negative route/if filters include)
            case "==" => lc <=> rc
            case "!=" => !(lc <=> rc)
            case "<" => lc < rc
            case "<=" => lc <= rc
            case ">" => lc > rc
            case ">=" => lc >= rc
          }
      }
    }

    /** Pick comparison representation: numeric if either side is numeric. */
    private def coerce(l: V, r: V): (Column, Column) = (l, r) match {
      case (_, LNum(_, _)) | (_, CNum(_)) => (asNum(l), asNum(r))
      case (LNum(_, _), _) | (CNum(_), _) => (asNum(l), asNum(r))
      case (_, CBool(_)) | (CBool(_), _) => (asBool(l), asBool(r))
      case _ => (asStr(l), asStr(r))
    }

    private def inOp(l: V, r: V): Column = r match {
      case LList(items) =>
        val strs = items.collect { case LStr(s) => s }
        if (strs.size == items.size) asStr(l).isin(strs: _*)
        else asNum(l).isin(items.map {
          case LNum(d, _) => d
          case other => fail(s"mixed list in 'in': $other")
        }: _*)
      case Field(FieldRef.AttrsRoot) =>
        val k = l match {
          case LStr(s) => s
          case other => fail(s"'in attributes' needs a literal key, got $other")
        }
        FieldCols.exists(FieldRef.Attr(Seq(k)))
      case Field(FieldRef.ResourceRoot) =>
        val k = l match { case LStr(s) => s; case other => fail(s"need literal key, got $other") }
        FieldCols.exists(FieldRef.Resource(Seq(k)))
      case other => fail(s"unsupported 'in' target: $other")
    }
  }

  /** Compile an expression to a boolean Column (route/if contexts).
    * Null results are false-y, matching expr-lang guard behavior.
    */
  def boolExpr(src: String): Column = {
    val p = new P(lex(src), src)
    val v = p.parseExpr()
    require(p.toks.isEmpty, s"trailing tokens in expr: $src")
    coalesce(v match {
      case CBool(c) => c
      case Field(r) => FieldCols.exists(r)
      case other => asBool(other)
    }, lit(false))
  }

  /** Compile an expression to a string-valued Column (`add` value EXPR(...)). */
  def stringExpr(src: String): Column = {
    val p = new P(lex(src), src)
    val v = p.parseExpr()
    require(p.toks.isEmpty, s"trailing tokens in expr: $src")
    asStr(v)
  }
}
