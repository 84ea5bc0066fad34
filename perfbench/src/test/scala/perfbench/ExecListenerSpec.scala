package perfbench

import org.apache.spark.sql.functions._

class ExecListenerSpec extends SparkSuite {

  test("stages and tasks are attributed to the job group that started them") {
    val sc = spark.sparkContext
    val l = new ExecListener
    sc.addSparkListener(l)
    try {
      sc.setJobGroup("layer.a", "a")
      // a shuffle: two stages in one job group
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count().collect()
      sc.setJobGroup("layer.b", "b")
      spark.range(0, 100, 1, 3).collect()
      sc.clearJobGroup()
      spark.range(0, 10, 1, 1).collect()
      org.apache.spark.ListenerBusAccess.drain(sc)
    } finally sc.removeSparkListener(l)
    val g = l.byGroup
    assert(g.keySet == Set("layer.a", "layer.b", ExecListener.Ungrouped))
    assert(g("layer.b").jobs == 1 && g("layer.b").stages == 1 && g("layer.b").tasks == 3)
    assert(g(ExecListener.Ungrouped).tasks == 1)
    val a = g("layer.a")
    assert(a.stages >= 2, "the map and reduce stages both land in layer.a")
    assert(a.shuffleWrite > 0 && a.shuffleRead > 0)
    assert(a.tasks >= 4 + 1)
    assert(l.total.tasks == a.tasks + 3, "ungrouped jobs stay out of the total")
  }
}
