package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Int], a: Long, b: Long, name: String = "s") =
    Span(id, name, parent, "run", a, b)

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      span(1, None, 0, 100, "parent"),
      span(2, Some(1), 10, 30),
      span(3, Some(1), 20, 40), // overlaps span 2: counted once
      span(4, Some(1), 90, 120)) // overhangs the parent: clipped at 100
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - (30 + 10))
    assert(self(2) == 20 && self(3) == 20 && self(4) == 30)
  }

  test("grandchildren count against their own parent only") {
    val spans = Seq(
      span(1, None, 0, 100),
      span(2, Some(1), 0, 50),
      span(3, Some(2), 10, 40))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 50 && self(2) == 20 && self(3) == 30)
  }

  test("a span with no children keeps its whole duration; names sum") {
    val spans = Seq(span(1, None, 0, 2000000000L, "a"), span(2, None, 0, 1000000000L, "a"))
    assert(Trace.selfSecondsByName(spans)("a") == 3.0)
  }

  test("tracer nests spans per thread and is inert when disabled") {
    val t = new Tracer("r", enabled = true)
    t.span("outer")(t.span("inner")(()))
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("inner").parent.contains(byName("outer").id))
    assert(byName("outer").parent.isEmpty)
    val off = new Tracer("r", enabled = false)
    assert(off.span("x")(42) == 42 && off.spans.isEmpty)
  }
}
