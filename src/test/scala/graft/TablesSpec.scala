package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation

import graft.sources.Tables

/** The memoizing table reader: a warm read of an unchanged table starts no
  * job, every read still gets its own attribute ids, and a changed table is
  * seen by the next read.
  */
class TablesSpec extends SparkSuite {

  private def tmp(name: String): File = {
    val d = Files.createTempDirectory("graft-tables").toFile
    d.deleteOnExit()
    new File(d, name)
  }

  private def docs(n: Int): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), concat(lit("d"), col("id")).as("text"))

  /** `df` written as one bare parquet file at `to` (not a directory). */
  private def writeFile(df: DataFrame, to: File): Unit = {
    val dir = tmp("out")
    df.coalesce(1).write.parquet(dir.getPath)
    val part = dir.listFiles().filter(f => f.getName.startsWith("part-") &&
      f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, to.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private def relation(df: DataFrame): BaseRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }.get

  test("a second read of an unchanged file starts no job and has the same schema") {
    val f = tmp("docs.parquet")
    writeFile(docs(10), f)
    val (cold, coldJobs) = JobCount(spark)(Tables.parquet(spark, f.getPath).schema)
    val (warm, warmJobs) = JobCount(spark)(Tables.parquet(spark, f.getPath).schema)
    assert(coldJobs > 0, "the cold read infers the schema with a job")
    assert(warmJobs == 0)
    assert(warm == cold && warm == spark.read.parquet(f.getPath).schema)
  }

  test("two reads of one table join as two tables") {
    val f = tmp("docs.parquet")
    writeFile(docs(10), f)
    val a = Tables.parquet(spark, f.getPath)
    val b = Tables.parquet(spark, f.getPath).filter(col("doc_id") < 4)
    assert(relation(a) eq relation(b))
    assert(a.queryExecution.analyzed.outputSet.intersect(b.queryExecution.analyzed.outputSet)
      .isEmpty)
    // were b derived from a's DataFrame, b's doc_id would be a's and the
    // condition doc_id = doc_id + 1 true for no row
    assert(a.join(b, a("doc_id") === b("doc_id") + 1).count() == 4)
  }

  test("a file rewritten with a new schema is read with the new schema") {
    val f = tmp("docs.parquet")
    writeFile(docs(10), f)
    assert(Tables.parquet(spark, f.getPath).columns.toSeq == Seq("doc_id", "text"))
    writeFile(docs(20).withColumn("lang", lit("en")), f)
    val again = Tables.parquet(spark, f.getPath)
    assert(again.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(again.count() == 20)
  }

  test("an overwritten directory with _SUCCESS is listed again") {
    val d = tmp("docs")
    docs(10).repartition(2).write.parquet(d.getPath)
    assert(Tables.parquet(spark, d.getPath).count() == 10)
    val (_, warmJobs) = JobCount(spark)(Tables.parquet(spark, d.getPath))
    assert(warmJobs == 0)
    docs(30).repartition(3).write.mode("overwrite").parquet(d.getPath)
    assert(Tables.parquet(spark, d.getPath).count() == 30)
  }

  test("a directory without _SUCCESS is never memoized: an added file is seen") {
    val d = tmp("docs")
    docs(10).withColumn("p", col("doc_id") % 2).write.partitionBy("p").parquet(d.getPath)
    assert(new File(d, "_SUCCESS").delete())
    val first = Tables.parquet(spark, d.getPath)
    assert(first.count() == 10)
    // into a partition directory: the table directory's own timestamp stays
    writeFile(docs(5), new File(d, "p=0/part-added.parquet"))
    val second = Tables.parquet(spark, d.getPath)
    assert(relation(second) ne relation(first))
    assert(second.count() == 15)
  }

  test("two sessions share no entry") {
    val f = tmp("docs.parquet")
    writeFile(docs(10), f)
    val other = spark.newSession()
    val mine = relation(Tables.parquet(spark, f.getPath))
    val theirs = relation(Tables.parquet(other, f.getPath))
    assert(mine ne theirs)
    assert((mine.sqlContext.sparkSession eq spark) && (theirs.sqlContext.sparkSession eq other))
    assert(relation(Tables.parquet(other, f.getPath)) eq theirs)
  }
}
