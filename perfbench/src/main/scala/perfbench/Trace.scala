package perfbench

import scala.collection.mutable

/** One timed call into a layer. Times are `System.nanoTime` values. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: String,
    startNs: Long, endNs: Long) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest per thread; a span opened on another
  * thread (a streaming micro-batch) takes an explicit parent. Nothing is
  * written until [[Tracer.spans]] is read at the end of the run.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def current: Option[Int] = stack.get.headOption

  /** Time `body` as a span named `name`; a no-op wrapper when disabled. */
  def span[T](name: String, parent: Option[Int] = None)(body: => T): T =
    if (!enabled) body
    else {
      val id = newId()
      val par = parent.orElse(current)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { recorded += Span(id, name, par, runId, t0, t1) }
      }
    }

  /** Record a span whose interval was measured elsewhere (for example a
    * planning phase reported by Spark's own tracker).
    */
  def record(name: String, parent: Option[Int], startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = newId()
      synchronized { recorded += Span(id, name, parent, runId, startNs, endNs) }
    }

  def spans: Seq[Span] = synchronized(recorded.toList)
}

object Trace {

  /** Self time of every span: its duration minus the part of its interval
    * covered by the union of its children (clipped to the parent, so
    * overlapping or overhanging children are not counted twice).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.id -> (s.durationNs - covered)
    }.toMap
  }

  /** Total self time in seconds per span name. */
  def selfSecondsByName(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum / 1e9 }
  }

  def json(spans: Seq[Span], originNs: Long): Json.Arr = Json.Arr(spans.sortBy(_.startNs).map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
      "start_s" -> (s.startNs - originNs) / 1e9, "end_s" -> (s.endNs - originNs) / 1e9)
  })
}
