package graft

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The query table without a Spark session: every query is declared once,
  * each has an oracle, the families keep their sizes, and the oracle SQL
  * keeps its bytes. A refactor of the query files that changes any oracle
  * string by one byte fails here.
  */
class QueryTableSpec extends AnyFunSuite {

  test("128 queries, each declared once and each with an oracle") {
    val names = Seq(Queries.table, DataQueries.table, TraceQueries.table,
      MetricQueries.table).flatten.map(_.name)
    assert(names.size === 128)
    assert(names.distinct.size === 128, names.diff(names.distinct))
    assert(SparkEntry.queries.keySet === names.toSet)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("family maps keep their sizes") {
    assert(Seq(Queries.all, DataQueries.all, TraceQueries.all, MetricQueries.all)
      .map(_.size) === Seq(26, 76, 16, 10))
  }

  test("a repeated query name fails instead of replacing the first") {
    val q = Query("q_x", (_, _) => null, "SELECT 1")
    val e = intercept[IllegalArgumentException](Query.byName(Seq(q, q))(_.oracle))
    assert(e.getMessage.contains("q_x"))
  }

  test("oracle SQL keeps its bytes") {
    // SHA-256 over (name, 0, sql, 0) for each query in name order
    val sha = MessageDigest.getInstance("SHA-256")
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      sha.update(name.getBytes(StandardCharsets.UTF_8)); sha.update(0.toByte)
      sha.update(sql.getBytes(StandardCharsets.UTF_8)); sha.update(0.toByte)
    }
    assert(sha.digest().map(b => f"${b & 0xff}%02x").mkString ===
      "5b60a15c609985ce3fae9e830a72f3e8adc9061881b0321a11f3901bd79471c0")
  }
}
