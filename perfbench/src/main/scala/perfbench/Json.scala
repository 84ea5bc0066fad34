package perfbench

/** Minimal JSON values for the run artifact; no external dependency. */
object Json {
  sealed trait Value { def render: String }
  case object Null extends Value { def render = "null" }
  final case class Bool(b: Boolean) extends Value { def render: String = b.toString }
  final case class Num(d: Double) extends Value {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Str(s: String) extends Value { def render: String = quote(s) }
  final case class Arr(xs: Seq[Value]) extends Value {
    def render: String = xs.map(_.render).mkString("[", ", ", "]")
  }
  final case class Obj(fields: Seq[(String, Value)]) extends Value {
    def render: String =
      fields.map { case (k, v) => s"${quote(k)}: ${v.render}" }.mkString("{", ", ", "}")
  }

  def num(d: Double): Value = Num(d)

  /** Build an object from pairs; plain Scala values are converted. */
  def obj(fields: (String, Any)*): Obj = Obj(fields.map { case (k, v) => k -> of(v) })

  def of(v: Any): Value = v match {
    case j: Value => j
    case null => Null
    case b: Boolean => Bool(b)
    case i: Int => Num(i.toDouble)
    case l: Long => Num(l.toDouble)
    case d: Double => Num(d)
    case s: String => Str(s)
    case o: Option[_] => o.map(of).getOrElse(Null)
    case m: scala.collection.Map[_, _] => Obj(m.toSeq.map { case (k, x) => k.toString -> of(x) })
    case xs: Iterable[_] => Arr(xs.map(of).toSeq)
    case other => Str(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
