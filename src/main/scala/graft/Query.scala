package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.Tables

/** One oracle-checked query: `build` runs it on Spark over the testdata
  * tables in a directory (`<dir>/<table>.parquet`), and `oracle` is DuckDB
  * SQL that returns the same rows over the same tables. Each family object
  * declares its queries once, in one list; [[SparkEntry.queries]] and
  * [[SparkEntry.oracleSql]] are both read from those lists.
  */
final case class Query(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** The testdata table `table` under `dir`. */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    Tables.parquet(spark, s"$dir/$table.parquet")

  /** `f` of every query, keyed by name. A name declared twice fails here;
    * as a map key the later declaration would silently replace the first.
    */
  def byName[A](queries: Seq[Query])(f: Query => A): Map[String, A] = {
    val twice = queries.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"queries declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    queries.map(q => q.name -> f(q)).toMap
  }
}
