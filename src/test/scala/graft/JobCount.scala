package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts on the calling thread (and threads
  * it spawns), by a local property set around the block.
  */
object JobCount {
  private val Key = "graft.test.jobTag"

  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { tag =>
        counts.computeIfAbsent(tag, _ => new AtomicInteger).incrementAndGet()
      }
  }

  private var registered = false

  /** The block's result and the number of jobs it started. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    synchronized {
      if (!registered) { spark.sparkContext.addSparkListener(listener); registered = true }
    }
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    val result = try body finally sc.setLocalProperty(Key, prev)
    ListenerBusDrain(sc)
    val n = Option(counts.remove(tag)).map(_.get).getOrElse(0)
    (result, n)
  }
}
