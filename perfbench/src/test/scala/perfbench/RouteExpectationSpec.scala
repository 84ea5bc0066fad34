package perfbench

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.pipeline.Pipeline
import graft.sources.Transcripts

class RouteExpectationSpec extends SparkSuite {

  test("generator-derived route counts equal a brute-force recount of the text") {
    val seed = 7L
    val transcripts = Transcripts.generate(spark, 300, seed).cache()
    val expected = IngestWorkload.expectedRouteCounts(transcripts, seed)

    // brute force: the router's predicates applied row by row to the text
    val brute = transcripts.select("text").collect().map(_.getString(0)).groupBy { t =>
      if (t.contains("\t")) "parse_hotrod"
      else if ("^\\s*\\{".r.findFirstIn(t).isDefined) "parse_json"
      else if (t.startsWith("status: ")) "parse_status"
      else if (t.startsWith("a=")) "parse_kv"
      else "noop"
    }.map { case (k, v) => k -> v.length.toLong }
    assert(expected == brute)
    assert(expected.keySet == IngestWorkload.Routes.toSet, "every route is exercised")

    // and the pipeline itself routes the same way
    val routed = Pipeline.compile(SparkEntry.transcriptPipeline)(Transcripts.toLogFrame(transcripts))
      .groupBy("route").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(routed == expected)
  }

  test("the expectation depends on the seed") {
    val a = IngestWorkload.expectedRouteCounts(Transcripts.generate(spark, 300, 1L), 1L)
    val b = IngestWorkload.expectedRouteCounts(Transcripts.generate(spark, 300, 2L), 2L)
    assert(a != b && a.values.sum > 0)
  }
}
