package graft

import org.apache.spark.sql.functions._

import graft.functions.{GoFloat, TypedAttrsGoJson}
import graft.model.LogSchema

/** Goldens for the billing-sizer kernels: every expected string below is the
  * exact output of Go `json.Marshal` (encoding/json with default HTML
  * escaping) on the equivalent `map[string]any` — the byte source of
  * `recordSize` in clickhouselogsexporter/exporter.go:719,745 and of the
  * meter connector's sizer (pkg/metering/json.go:46-68).
  */
class UsageSizeSpec extends SparkSuite {
  import spark.implicits._

  private def goFloat(d: Double): String = GoFloat.json(d)

  test("GoJsonFloat matches Go json.Marshal float64 rendering") {
    assert(goFloat(5.0) == "5")            // json.Marshal(5.0) == "5"
    assert(goFloat(0.0) == "0")
    assert(goFloat(-12.5) == "-12.5")
    assert(goFloat(6.55) == "6.55")
    assert(goFloat(490.02) == "490.02")
    assert(goFloat(1e20) == "100000000000000000000")   // 'f' branch upper edge
    assert(goFloat(1e21) == "1e+21")                    // 'g' branch
    assert(goFloat(1.5e22) == "1.5e+22")
    assert(goFloat(1e-6) == "0.000001")                 // 'f' branch lower edge
    assert(goFloat(1.5e-7) == "1.5e-7")                 // e-07 -> e-7 cleanup
    assert(goFloat(2e-10) == "2e-10")
    assert(goFloat(Double.NaN) == null)
    assert(goFloat(Double.PositiveInfinity) == null)
  }

  test("TypedAttrsGoJson: sorted keys, typed rendering, Go escaping") {
    val df = Seq(1).toDF("i").select(
      TypedAttrsGoJson(
        map(lit("b"), lit("x<y&z>w"), lit("d"), lit("plain")),
        map(lit("a"), lit(1.5), lit("e"), lit(7.0)),
        map(lit("c"), lit(true))).as("j"))
    // Go json.Marshal HTML-escapes < > & (escapeHTML=true in Marshal)
    assert(df.head.getString(0) ==
      "{\"a\":1.5,\"b\":\"x\\u003cy\\u0026z\\u003ew\",\"c\":true,\"d\":\"plain\",\"e\":7}")
  }

  test("TypedAttrsGoJson: empty maps -> {} and NaN -> null (marshal error)") {
    val empty = Seq(1).toDF("i").select(
      TypedAttrsGoJson(
        map().cast(LogSchema.mapSS), map().cast(LogSchema.mapSD),
        map().cast(LogSchema.mapSB)).as("j"))
    assert(empty.head.getString(0) == "{}")

    val nan = Seq(1).toDF("i").select(
      TypedAttrsGoJson(
        map(lit("k"), lit("v")),
        map(lit("bad"), lit(Double.NaN)),
        map().cast(LogSchema.mapSB)).as("j"))
    assert(nan.head.isNullAt(0))
  }

  test("reference logs sizer goldens (pkg/metering/v1/logs_test.go): " +
      "10 records x 8 resource attrs -> 3910; workspace attr excluded") {
    import graft.model.LogFrames
    import graft.pipeline.Exporter
    // plogsgen.Generate: resource.N keys (10 bytes), 20-byte value, 100-byte
    // body, no record attributes. Expected 10*(8*(10+20+5)+7+2+2+100).
    val body = "Lorem ipsum dolor sit amet consectetur adipiscing elit, " +
      "enim suscipit nullam aenean mattis senectus."
    val res = (0 until 8).map(i => s"resource.$i" -> "Lorem ipsum euismod.").toMap
    def frame(resources: Map[String, String]) = LogFrames.withDefaults(
      (0 until 10).map(i => (s"c$i", 0, body, 1704067200L * 1000000000L, resources))
        .toDF("conv_id", "turn_idx", "body", "timestamp", "resources_string"))
    val expected = 10L * (8 * (10 + 20 + 5) + 7 + 2 + 2 + 100)
    assert(Exporter.logsV2(frame(res)).agg(sum(col("record_size")))
      .head.getLong(0) == expected)
    // signoz.workspace.* resource attrs don't change the billed size
    assert(Exporter.logsV2(frame(res + ("signoz.workspace.internal.test" -> "signoz-test")))
      .agg(sum(col("record_size"))).head.getLong(0) == expected)
  }

  test("record_size formula: body bytes + attrs Go-JSON + workspace-excluded resources") {
    import graft.functions.{MapDropKeyPrefix, MapSortedJson}
    val df = Seq(1).toDF("i").select(
      lit("héllo").as("body"), // 6 bytes in UTF-8, 5 chars
      map(lit("event_type"), lit("error")).as("attributes_string"),
      map(lit("value"), lit(42.0)).as("attributes_number"),
      map(lit("signoz.workspace.id"), lit("w1"), lit("user_id"), lit("7")).as("resources_string"))
    val sized = df.select(
      (coalesce(octet_length(col("body")).cast("long"), lit(0L)) +
        coalesce(octet_length(TypedAttrsGoJson(col("attributes_string"),
          col("attributes_number"),
          map().cast(LogSchema.mapSB))).cast("long"), lit(0L)) +
        coalesce(octet_length(MapSortedJson(
          MapDropKeyPrefix(col("resources_string"), "signoz.workspace"))).cast("long"),
          lit(2L))).as("record_size"))
    // body 6 + {"event_type":"error","value":42} (33) + {"user_id":"7"} (15)
    assert(sized.head.getLong(0) == 6L + 33L + 15L)
  }
}
