package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, local mode). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkEntry.sessionBuilder(4, "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Collect a single-row map-ish view of attrs for golden assertions. */
  def attrs(df: DataFrame): Seq[(Map[String, String], Map[String, Double], Map[String, Boolean])] =
    df.select("attributes_string", "attributes_number", "attributes_bool")
      .collect().toSeq.map { r =>
        (r.getMap[String, String](0).toMap, r.getMap[String, Double](1).toMap,
          r.getMap[String, Boolean](2).toMap)
      }
}
