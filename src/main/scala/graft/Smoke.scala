package graft
/** Local smoke runner: flagship entry + per-query row counts. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.sessionBuilder(8, "graft-smoke").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val e = SparkEntry.entry(spark)
    e.show(50, false)
    SparkEntry.queries.foreach { case (n, f) =>
      val t0 = System.nanoTime()
      val c = f(spark, "/root/testdata/sf0.001").count()
      println(f"[smoke] $n rows=$c (${(System.nanoTime()-t0)/1e9}%.2fs)")
    }
    spark.stop()
  }
}
