package graft.sources

import java.io.FileNotFoundException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.DataSource
import org.apache.spark.sql.sources.BaseRelation

/** The engine's one table reader. `spark.read.parquet` resolves its input on
  * every call: it lists the path and infers the schema from a footer, and
  * both run driver-side jobs (a one-task schema job per file; a listing job
  * once a directory has more than 32 entries). A query builder that reads
  * the same immutable table on every call pays that again each time, like a
  * collector that re-parsed its config per batch. This reader resolves each
  * table once per session and reuses the resolved relation (the schema and
  * the file listing) while the table is unchanged.
  *
  * The memo key is (session, qualified path, stamp). The stamp is the
  * length and modification time of the file, or for a directory of its
  * `_SUCCESS` marker, which every committed Spark write rewrites. A
  * directory without `_SUCCESS` is never memoized: nothing tells when its
  * listing went stale. So a rewrite is seen by the next call; a reader that
  * already holds a DataFrame keeps the listing it was built on, as with
  * `spark.read`. The schema is inferred under the session's settings at the
  * first read; changing a setting that steers inference (such as
  * `spark.sql.parquet.binaryAsString`) later in the session reaches an
  * unchanged table only once it is evicted.
  *
  * Every call returns a new DataFrame over the shared relation, so each read
  * gets fresh attribute ids and two reads of one table join like two
  * `spark.read` calls do (no ambiguous self-join).
  */
object Tables {

  /** Resolved tables kept; the least recently used is dropped beyond this,
    * and with it the only reference the memo holds to a stopped session.
    */
  private val Capacity = 64

  private final case class Key(spark: SparkSession, path: String, length: Long, modified: Long)

  private val memo = new java.util.LinkedHashMap[Key, BaseRelation](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, BaseRelation]): Boolean =
      size > Capacity
  }

  /** The parquet table at `path`, as `spark.read.parquet(path)` reads it. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val rel = key(spark, path) match {
      case Some(k) =>
        memo.synchronized(Option(memo.get(k))).getOrElse {
          val r = resolve(spark, path)
          memo.synchronized(memo.put(k, r))
          r
        }
      case None => resolve(spark, path)
    }
    spark.baseRelationToDataFrame(rel)
  }

  /** The same relation `DataFrameReader.load` resolves for one path. */
  private def resolve(spark: SparkSession, path: String): BaseRelation =
    DataSource(spark, className = "parquet", options = Map("path" -> path)).resolveRelation()

  /** The memo key, or None when the table cannot be stamped: a directory
    * without `_SUCCESS`, or a path that does not exist (or is a glob), which
    * `resolve` then reports as `spark.read` would.
    */
  private def key(spark: SparkSession, path: String): Option[Key] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def status(p: Path) =
      try Some(fs.getFileStatus(p)) catch { case _: FileNotFoundException => None }
    val qualified = fs.makeQualified(p)
    status(qualified)
      .flatMap(s => if (s.isDirectory) status(new Path(qualified, "_SUCCESS")) else Some(s))
      .map(s => Key(spark, qualified.toString, s.getLen, s.getModificationTime))
  }
}
