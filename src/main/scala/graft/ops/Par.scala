package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scale-adaptive parallelism helper (guide §2: derive partitioning from
  * the input, never a constant tuned for one deployment).
  *
  * A small parquet input (single row group) plans as ONE scan task, so a
  * compute-heavy per-row kernel stage (shingling, md5 featurization,
  * decode) serializes on one core of the whole host. `widen` repartitions
  * by a deterministic key ONLY when the planned scan parallelism is below
  * the session's default parallelism; on a production-sized input the scan
  * is already wide and this is a no-op — no constant partition counts, no
  * behavior change at scale. Hash partitioning on the id keeps the
  * row-to-partition map deterministic under task retry (no round-robin /
  * rand keys, SPARK-38388).
  *
  * The decision reads the physical plan and never runs it:
  *  - an input whose plan holds no exchange (scans, filters, projections,
  *    explodes) counts its partitions from the RDD that same plan builds —
  *    the scan's file splits, which no job computes;
  *  - an input whose plan holds an exchange (it ends in a shuffle, or reads
  *    a broadcast) is returned as it is. Its partition count is known only
  *    after its upstream stages have run (AQE coalesces a shuffle toward
  *    the session's parallelism, see `SparkEntry.configure`), and asking
  *    for it under AQE runs those stages.
  */
object Par {
  def widen(df: DataFrame, by: Column): DataFrame = {
    val qe = df.queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (plan.exists(_.isInstanceOf[Exchange])) df
    else if (qe.toRdd.getNumPartitions * 2 <= target) df.repartition(target, by)
    else df
  }
}
