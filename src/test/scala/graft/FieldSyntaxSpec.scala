package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FieldCols
import graft.operators.FieldRef
import graft.operators.FieldRef._

/** Ports the stanza field-syntax tables
  * (`stanza/entry/field_test.go:14-163` TestFieldUnmarshalJSON +
  * `:242-284` TestFromJSONDot + `:285-296`): dotted paths, bracket-quoted
  * keys with embedded dots, mixed bracket/dot forms, and malformed-syntax
  * errors. Bare paths (no recognized root) default to the body, like the
  * stanza default root.
  */
class FieldSyntaxSpec extends AnyFunSuite {

  test("dotted and bracketed field forms (field_test.go:14-163)") {
    assert(FieldRef.parse("body") == Body)
    assert(FieldRef.parse("body.test1") == BodyPath(Seq("test1")))
    assert(FieldRef.parse("body.test1.test2") == BodyPath(Seq("test1", "test2")))
    assert(FieldRef.parse("body.test1['file.name']") ==
      BodyPath(Seq("test1", "file.name")))
    assert(FieldRef.parse("body.test1['file.details']['file.name']") ==
      BodyPath(Seq("test1", "file.details", "file.name")))
    assert(FieldRef.parse("body.test1['file.details'].name") ==
      BodyPath(Seq("test1", "file.details", "name")))
    assert(FieldRef.parse("attributes.test1") == Attr(Seq("test1")))
    assert(FieldRef.parse("attributes.test1.test2") == Attr(Seq("test1", "test2")))
    assert(FieldRef.parse("attributes.test1['file.name']") ==
      Attr(Seq("test1", "file.name")))
    assert(FieldRef.parse("attributes.test1['file.details'].name") ==
      Attr(Seq("test1", "file.details", "name")))
    assert(FieldRef.parse("resource.test1") == Resource(Seq("test1")))
    assert(FieldRef.parse("""resource["test"]""") == Resource(Seq("test")))
    assert(FieldRef.parse("attributes") == AttrsRoot)
    assert(FieldRef.parse("resource") == ResourceRoot)
  }

  test("fromJSONDot forms: double quotes, bracket-then-dot, dots in brackets") {
    assert(FieldRef.parse("""body["test"]""") == BodyPath(Seq("test")))
    assert(FieldRef.parse("""body["test1"].test2""") == BodyPath(Seq("test1", "test2")))
    assert(FieldRef.parse("""body["test1"]["test2"]""") == BodyPath(Seq("test1", "test2")))
    assert(FieldRef.parse("""body.test1["test2"]""") == BodyPath(Seq("test1", "test2")))
    assert(FieldRef.parse("""body["test1.test2"]""") == BodyPath(Seq("test1.test2")))
    // stanza default root is body
    assert(FieldRef.parse("test") == BodyPath(Seq("test")))
    assert(FieldRef.parse("test.case") == BodyPath(Seq("test", "case")))
  }

  test("malformed syntax errors (field_test.go:261-269, 285-289)") {
    for (bad <- Seq(
        """body["test1.test2""", // UnclosedBrackets
        """body["test1.test2]""", // UnclosedQuotes
        """body["test1.test2']""", // UnmatchedQuotes
        "body[", // BracketAtEnd
        "body['", // SingleQuoteAtEnd
        """body["""", // DoubleQuoteAtEnd
        "body[test]", // BracketMissingQuotes
        "resource[test]")) { // TestFieldFromStringInvalidSplit
      assert(scala.util.Try(FieldRef.parse(bad)).isFailure, s"expected failure: $bad")
    }
  }

  test("readString of a number attribute prints Go's %v") {
    val spark = TestSpark.spark
    import spark.implicits._
    val keys = Seq("small", "mid", "big", "whole")
    val df = graft.model.LogFrames.withDefaults(Seq(
      Map("small" -> 1e-4, "mid" -> 12345678.5, "big" -> 1e21, "whole" -> 3.0))
      .toDF("attributes_number"))
    val row = df.select(keys.map(k => FieldCols.readString(Attr(Seq(k)))): _*).head()
    assert(keys.indices.map(row.getString) == Seq("0.0001", "1.23456785e+07", "1e+21", "3"))
  }

  test("setNumber into a string field prints Go's %v") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val df = graft.model.LogFrames.withDefaults(Seq("b").toDF("body"))
    val updates = FieldCols.setNumber(Resource(Seq("whole")), lit(3.0)) ++
      FieldCols.setNumber(Resource(Seq("small")), lit(1e-4)) ++
      FieldCols.setNumber(Body, lit(12345678.5))
    val row = updates.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
      .select("resources_string", "body").head()
    assert(row.getMap[String, String](0).toMap == Map("whole" -> "3", "small" -> "0.0001"))
    assert(row.getString(1) == "1.23456785e+07")
  }

  test("setNumber of a LONG into a string field prints its exact int64") {
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val df = graft.model.LogFrames.withDefaults(Seq("b").toDF("body"))
    val big = 9007199254740993L // 2^53 + 1, not a float64
    val updates = FieldCols.setNumber(Resource(Seq("big")), lit(big)) ++
      FieldCols.setNumber(Body, lit(-5808556873153909620L))
    val row = updates.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
      .select("resources_string", "body").head()
    assert(row.getMap[String, String](0).toMap == Map("big" -> "9007199254740993"))
    assert(row.getString(1) == "-5808556873153909620")
  }

  test("stringifyNumber is GoFloat.int64Or under percentV") {
    val spark = TestSpark.spark
    import spark.implicits._
    val expected = Seq(3.0 -> "3", 1e-4 -> "0.0001", 12345678.5 -> "1.23456785e+07",
      1e21 -> "1e+21", math.pow(2, 63) -> "9223372036854775807", -0.0 -> "-0",
      Double.NaN -> "NaN", Double.PositiveInfinity -> "+Inf", Double.NegativeInfinity -> "-Inf")
    val values = expected.map(_._1)
    val got = values.toDF("d").select(FieldCols.stringifyNumber(org.apache.spark.sql.functions.col("d")))
      .collect().map(_.getString(0)).toSeq
    assert(got == expected.map(_._2))
    assert(got == values.map(graft.functions.GoFloat.int64Or(_, graft.functions.GoFloat.percentV)))
  }
}
