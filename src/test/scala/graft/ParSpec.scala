package graft

import org.apache.spark.sql.functions._

import graft.ops.Par

/** `Par.widen` decides from the physical plan and starts no job. */
class ParSpec extends SparkSuite {

  test("widen: a one-partition scan is repartitioned to the session's parallelism") {
    val target = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val (widened, jobs) = JobCount(spark)(Par.widen(narrow, col("id")))
    assert(jobs == 0)
    assert(widened.rdd.getNumPartitions == target)
    val wide = spark.range(0, 100, 1, target).toDF("id")
    assert(Par.widen(wide, col("id")) eq wide)
  }

  test("widen: a shuffle-ended input is returned as it is, and no job runs") {
    val grouped = spark.range(0, 100, 1, 2).groupBy((col("id") % 3).as("k")).count()
    val (out, jobs) = JobCount(spark)(Par.widen(grouped, col("k")))
    assert(jobs == 0)
    assert(out eq grouped)
  }
}
