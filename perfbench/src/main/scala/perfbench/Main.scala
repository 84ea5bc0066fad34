package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  * `perfbench.Main --workload <ingest|queries|stream> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --data <dir> --out <artifact.json>`.
  * Writes the run artifact (metrics, checks, settings, samples, spans) to
  * `--out`; `run.py` turns it into the one-line result.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val args = Args.parse(argv)
    args.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val mem = new MemSampler
    mem.start()
    val spark = RunContext.session(args, cores)
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    val ctx = new RunContext(args, spark, cores, new Tracer(s"${args.workload}-${args.seed}", args.trace))
    val error = try {
      args.workload match {
        case "ingest" => IngestWorkload.run(ctx, sessionS)
        case "queries" => QueriesWorkload.run(ctx, sessionS)
        case "stream" => StreamWorkload.run(ctx, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      None
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    mem.stop()
    ctx.metric("jvm.peak_mem_mb", mem.peakMb, "MB")
    ctx.metric("session_s", sessionS, "s")
    val artifact = Json.obj(
      "workload" -> args.workload,
      "error" -> error,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> Json.Obj(ctx.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u)
      }),
      "checks" -> Json.Arr(ctx.checks.toSeq.map { case (n, ok, d) => Json.obj("name" -> n, "ok" -> ok, "detail" -> d) }),
      "settings" -> RunContext.settings(ctx),
      "details" -> Json.Obj(ctx.details.toSeq),
      "spans" -> Trace.json(ctx.tracer.spans, mainStart))
    Files.write(args.out.toPath, artifact.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(if (error.isEmpty) 0 else 1)
  }

  /** Past this point a closed loop stops adding iterations beyond its first,
    * so a slow host still finishes within the run time limit. Every other
    * step of a run, the traced layers included, always runs.
    */
  private val deadlineNs = System.nanoTime() + 120L * 1000000000L

  def pastDeadline: Boolean = System.nanoTime() > deadlineNs

  /** Closed loop: run `body` back to back until `seconds` have passed and at
    * least `minIterations` ran (only one once past the run deadline);
    * returns each iteration's result.
    */
  def window[T](seconds: Double, minIterations: Int)(body: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer.empty[T]
    def more = if (pastDeadline) out.isEmpty
      else out.size < minIterations || (System.nanoTime() - t0) / 1e9 < seconds
    while (more) out += body(out.size)
    out.toSeq
  }

  /** `body`'s result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run both sides of pair `i`, `a` first on even pairs and `b` first on
    * odd ones; returns (a, b).
    */
  def inTurns[A, B](i: Int, a: => A, b: => B): (A, B) =
    if (i % 2 == 0) { val x = a; (x, b) }
    else { val y = b; (a, y) }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Peak retained JVM memory: the largest heap occupancy seen right after a
  * garbage collection (the live set, which does not depend on when the
  * collector happens to run) plus the largest non-heap use (metaspace and
  * code cache, which grow with generated classes), sampled every 20 ms.
  */
final class MemSampler {
  @volatile private var running = true
  @volatile private var heapPeak = 0L
  @volatile private var nonHeapPeak = 0L
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
  private val thread = new Thread(() => {
    while (running) { sample(); Thread.sleep(20) }
  }, "perfbench-mem")
  thread.setDaemon(true)

  private def sample(): Unit = {
    val heap = pools.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    val nonHeap = pools.filter(_.getType == MemoryType.NON_HEAP).map(_.getUsage.getUsed).sum
    heapPeak = math.max(heapPeak, heap)
    nonHeapPeak = math.max(nonHeapPeak, nonHeap)
  }

  def start(): Unit = thread.start()

  def stop(): Unit = {
    running = false
    thread.join()
    sample()
  }

  def peakMb: Double = (heapPeak + nonHeapPeak) / (1024.0 * 1024.0)
}
