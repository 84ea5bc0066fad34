package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data-pipeline queries (dedup family, ANN, text analysis,
  * transcripts, sketches and evaluation harnesses) over the
  * documents/embeddings tables, with DuckDB oracles for every query:
  * md5-derived hashing keeps signatures engine-portable, the hyperplane
  * matrix is embedded as SQL literals (it is driver-precomputed on the
  * Spark side too), and the simhash / fake decode kernels are replicated
  * with DuckDB HUGEINT mod-2^64 arithmetic. Each family object declares its
  * queries beside their oracles; this is their union.
  */
object DataQueries {

  val table: Seq[Query] = DedupQueries.table ++ AnnQueries.table ++
    TextQueries.table ++ TranscriptQueries.table ++ SketchQueries.table ++
    HarnessQueries.table

  val all: Map[String, (SparkSession, String) => DataFrame] = Query.byName(table)(_.build)
}
