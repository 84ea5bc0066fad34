package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** `queries`: closed-loop passes over a fixed selection of
  * `SparkEntry.queries` on the bundled sf0.01 tables, one shared session,
  * `count()` as the action. The seed fixes the query order.
  */
object QueriesWorkload {

  /** The five slowest queries at 4 cores (they set `latency_p90_s`). */
  val Tail: Seq[String] = Seq("q_firehose_metrics", "q_ann_indexed", "q_containment", "q_dedup_pr",
    "q_attr_metadata")

  /** The query that keeps an index between calls. */
  val AnnIndexed = "q_ann_indexed"

  /** How many of the other queries join the tail: an even, name-ordered
    * sample, so the body keeps every family's share.
    */
  val BodySample = 5

  def selection(all: Iterable[String]): Seq[String] = {
    val rest = all.toSeq.filterNot(Tail.contains).sorted
    val step = rest.size.toDouble / BodySample
    Tail.filter(all.toSet.contains) ++ (0 until BodySample).map(i => rest((i * step).toInt)).distinct
  }

  def family(q: String): String =
    if (graft.Queries.all.contains(q)) "logs"
    else if (graft.DataQueries.all.contains(q)) "data"
    else if (graft.TraceQueries.all.contains(q)) "traces"
    else "metrics"


  def run(ctx: RunContext, sessionS: Double): Unit = {
    val spark = ctx.spark
    val data = ctx.args.data.getAbsolutePath
    val queries = SparkEntry.queries
    val order = new Random(ctx.args.seed).shuffle(selection(queries.keys))
    ctx.details("order") = Json.of(order)

    // `q_ann_indexed` builds its signature index under java.io.tmpdir on
    // first use, and run.py gives every run an empty one: one untimed call
    // builds it here, so set-up never includes the build
    if (order.contains(AnnIndexed))
      attempt(ctx, AnnIndexed, "index")(queries(AnnIndexed)(spark, data).count())

    // set-up pass: every result is written once for the oracle compare in
    // run.py; it plans and compiles each query like the first user would
    val results = ctx.dir("results")
    val setup = order.map { q =>
      ctx.attempted += 1
      val (ok, s) = Main.timed(attempt(ctx, q, "setup") {
        queries(q)(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(new File(results, q).getAbsolutePath)
      }.isDefined)
      if (!ok) ctx.failed += 1
      q -> s
    }
    ctx.metric("setup_s", sessionS + setup.map(_._2).sum, "s")
    val oracles = SparkEntry.oracleSql.filter { case (q, _) => order.contains(q) }
    Files.write(new File(results, "oracle_sql.json").toPath,
      Json.of(oracles).render.getBytes(StandardCharsets.UTF_8))
    val expectedRows = order.flatMap { q =>
      attempt(ctx, q, "rows")(spark.read.parquet(new File(results, q).getAbsolutePath).count()).map(q -> _)
    }.toMap

    val passes = Main.window(ctx.args.seconds, minIterations = 2) { _ => pass(ctx, order, data, expectedRows) }
    report(ctx, passes.map(_.toMap), order)
    ctx.details("setup_query_s") = Json.of(setup.toMap)

    if (ctx.tracer.enabled) traced(ctx, order, data)
  }

  private def attempt[T](ctx: RunContext, q: String, what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        ctx.check(s"queries.$q.$what", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }

  /** One timed pass: builder call and `count()` both inside the timing. */
  private def pass(ctx: RunContext, order: Seq[String], data: String,
      expectedRows: Map[String, Long]): Seq[(String, Double)] = order.map { q =>
    ctx.attempted += 1
    val (rows, s) = Main.timed(attempt(ctx, q, "count")(SparkEntry.queries(q)(ctx.spark, data).count()))
    if (rows.isEmpty || !ctx.check(s"queries.$q.rows", rows == expectedRows.get(q),
        s"count $rows != written result ${expectedRows.get(q)}")) ctx.failed += 1
    q -> s
  }

  private def report(ctx: RunContext, passes: Seq[Map[String, Double]], order: Seq[String]): Unit = {
    val passS = passes.map(_.values.sum)
    val latencies = passes.flatMap(_.values)
    val sum = Stats.summarize(latencies)
    ctx.metric("throughput_per_s", order.size / Stats.median(passS), "1/s")
    ctx.metric("latency_p50_s", sum.p50, "s")
    ctx.metric("latency_p90_s", Stats.quantile(latencies, 0.9), "s")
    ctx.metric("queries.pass_s", Stats.median(passS), "s")
    ctx.details("pass_s") = Json.of(passS)
    ctx.details("latency") = sum.json
    // every query's time, not only the slowest
    val perQuery = order.map(q => q -> Stats.median(passes.flatMap(_.get(q)))).toMap
    ctx.details("query_s") = Json.of(passes)
    Seq("logs", "data", "traces", "metrics").foreach { f =>
      ctx.metric(s"queries.${f}_s", perQuery.filter(kv => family(kv._1) == f).values.sum, "s")
    }
    Tail.foreach(q => ctx.metric(s"queries.${q}_s", perQuery.getOrElse(q, 0.0), "s"))
  }

  /** One traced pass: spans for build, analyze (`groupBy().count()` is
    * analyzed eagerly), and execute, with optimize and plan as children of
    * execute from the query's own planning tracker. Each traced query is
    * paired with an untraced run of the same query (taking turns at going
    * first) for the overhead.
    */
  private def traced(ctx: RunContext, order: Seq[String], data: String): Unit = {
    val spark: SparkSession = ctx.spark
    val inst = Instruments.attach(ctx)
    val times = order.zipWithIndex.map { case (q, i) =>
      def plain() = Main.timed(attempt(ctx, q, "paired")(SparkEntry.queries(q)(spark, data).count()))._2
      def traced() = Main.timed(inst.measure(ctx.tracer.span(s"query.$q") {
        attempt(ctx, q, "traced") {
          val df: DataFrame = ctx.layer("queries.build")(SparkEntry.queries(q)(spark, data))
          val counted = ctx.layer("queries.analyze")(df.groupBy().count())
          ctx.layer("queries.execute") {
            counted.collect()
            val parent = ctx.tracer.current
            val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
            counted.queryExecution.tracker.phases.foreach { case (phase, s) =>
              if (phase != "analysis")
                ctx.tracer.record(s"queries.$phase", parent,
                  s.startTimeMs * 1000000L + wallToNano, s.endTimeMs * 1000000L + wallToNano)
            }
          }
        }
      }))._2
      val (p, t) = Main.inTurns(i, plain(), traced())
      (q, p, t)
    }
    inst.detach()
    val spans = Trace.selfSecondsByName(ctx.tracer.spans.map(_.copy(parent = None)))
    ctx.metric("queries.build_s", spans.getOrElse("queries.build", 0.0), "s")
    ctx.metric("queries.execute_s", spans.getOrElse("queries.execute", 0.0), "s")
    ctx.metric("queries.hidden_jobs",
      inst.listener.byGroup.get("queries.build").map(_.jobs.toDouble).getOrElse(0.0), "count")
    inst.report(ctx, ops = 1)
    ctx.metric("trace.overhead_ratio", times.map(_._3).sum / times.map(_._2).sum - 1.0, "ratio")
    ctx.details("paired_query_s") = Json.of(times.map { case (q, p, t) => q -> Seq(p, t) }.toMap)
  }
}
