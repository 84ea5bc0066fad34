package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Executor-side work per job group. The benchmark sets a job group around
  * each layer call; every job started under it, and every stage and task of
  * those jobs, is attributed to that group (jobs with no group fall under
  * [[ExecListener.Ungrouped]]).
  */
final class ExecListener extends SparkListener {
  import ExecListener._

  private val groupOfJob = mutable.Map.empty[Int, String]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val submittedMs = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stats = mutable.LinkedHashMap.empty[String, Totals]

  private def totals(group: String): Totals = stats.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse(Ungrouped)
    groupOfJob(e.jobId) = g
    e.stageIds.foreach(s => groupOfStage.getOrElseUpdate(s, g))
    jobStartMs(e.jobId) = e.time
    totals(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach { t0 =>
      totals(groupOfJob.getOrElse(e.jobId, Ungrouped)).jobMs += math.max(0L, e.time - t0)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submittedMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(groupOfStage.getOrElse(e.stageId, Ungrouped))
    val info = e.taskInfo
    t.tasks += 1
    if (info.failed || e.reason != Success) t.failedTasks += 1
    submittedMs.get(e.stageId).foreach(s => t.waitMs += math.max(0L, info.launchTime - s))
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    val t = totals(groupOfStage.getOrElse(id, Ungrouped))
    t.stages += 1
    taskMs.remove(id).foreach { ds =>
      if (ds.size >= 2) {
        val med = math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
        t.stageSkews += ds.max / med
      }
    }
  }

  /** Snapshot of the totals per group. */
  def byGroup: Map[String, Totals] = synchronized(stats.map { case (g, t) => g -> t.copy() }.toMap)

  /** Totals over every named group (jobs started with no group left out). */
  def total: Totals = byGroup.filter(_._1 != Ungrouped).values.foldLeft(new Totals)(_ merge _)
}

object ExecListener {
  val JobGroupKey = "spark.jobGroup.id"
  val Ungrouped = "(none)"

  final class Totals {
    var jobs = 0L
    var jobMs = 0L
    var stages = 0L
    var tasks = 0L
    var failedTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var waitMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    val stageSkews = mutable.ArrayBuffer.empty[Double]

    def copy(): Totals = new Totals().merge(this)

    def merge(o: Totals): Totals = {
      jobs += o.jobs; jobMs += o.jobMs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
      runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; waitMs += o.waitMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
      stageSkews ++= o.stageSkews
      this
    }

    /** Largest per-stage max/median task-time ratio (1 = perfectly even). */
    def maxSkew: Double = if (stageSkews.isEmpty) 1.0 else stageSkews.max

    /** The `exec.*` metrics; `busy_ratio` needs the wall time and cores. */
    def metrics(prefix: String, wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
      s"$prefix.jobs" -> jobs.toDouble,
      s"$prefix.stages" -> stages.toDouble,
      s"$prefix.tasks" -> tasks.toDouble,
      s"$prefix.failed_tasks" -> failedTasks.toDouble,
      s"$prefix.run_s" -> runMs / 1e3,
      s"$prefix.cpu_s" -> cpuNs / 1e9,
      s"$prefix.gc_s" -> gcMs / 1e3,
      s"$prefix.task_wait_s" -> waitMs / 1e3,
      s"$prefix.busy_ratio" -> (if (wallS > 0) runMs / 1e3 / (wallS * cores) else 0.0),
      s"$prefix.task_skew" -> maxSkew,
      s"$prefix.shuffle_write_bytes" -> shuffleWrite.toDouble,
      s"$prefix.shuffle_read_bytes" -> shuffleRead.toDouble,
      s"$prefix.spill_bytes" -> spill.toDouble)
  }
}
