package graft

import graft.functions._
import graft.ops.FakeDecode
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Generated code and interpreted `eval` of every row kernel agree.
  *
  * Each kernel runs over a parquet fixture holding typical, empty and NULL
  * inputs, once with `spark.sql.codegen.factoryMode=CODEGEN_ONLY` (whole-stage
  * codegen on) and once with `NO_CODEGEN` (whole-stage codegen off), and the
  * two result sets must be identical. The fixture is read from parquet because
  * a projection over a local relation is evaluated interpreted on the driver
  * and never reaches generated code.
  */
class KernelParitySpec extends SparkSuite {

  private def e(name: String): Expression = GraftBridge.expression(col(name))
  private def k(kernel: Expression): Column = GraftBridge.column(kernel)

  private val vecs = Seq(Seq(0.0, 0.0, 0.0), Seq(1.0, 0.5, 0.25))

  /** One column per kernel class; a class may appear with several settings. */
  private val kernels: Seq[(String, Column)] = Seq(
    "AcBlocklistStats" -> k(AcBlocklistStats(e("s"), Seq("quick brown", "lazy", "o"))),
    "BloomContainsAll" -> k(BloomContainsAll(e("arr_l"), Array.tabulate[Byte](16)(i => (i * 37).toByte))),
    "BodyJsonSet" -> k(BodyJsonSet(e("s"), e("s2"), Seq("b", "c"), raw = false)),
    "BodyJsonSet raw" -> k(BodyJsonSet(e("s"), e("s2"), Seq("z"), raw = true)),
    "BodyJsonDelete" -> k(BodyJsonDelete(e("s"), Seq("a"))),
    "BodyJsonMove" -> k(BodyJsonMove(e("s"), Seq("a"), Seq("m", "n"))),
    "BodyJsonCopy" -> k(BodyJsonCopy(e("s"), Seq("b", "c"), Seq("y"))),
    "BodyJsonExists" -> k(BodyJsonExists(e("s"), Seq("b", "c"))),
    "BodyJsonGet" -> k(BodyJsonGet(e("s"), Seq("b"))),
    "BodyPromoted" -> k(BodyPromoted(e("s"), Seq("msg", "a"))),
    "BpeStats" -> k(BpeStats(e("s"), Seq(("h", "e"), ("l", "l"), ("he", "ll")))),
    "BpePairs" -> k(BpePairs(e("s"), Seq(("h", "e"), ("l", "l")))),
    // a vector whose dimension differs from the centroids' fails by design
    "NearestCentroid" -> k(NearestCentroid(e("emb"), vecs)),
    "CentroidDists" -> k(CentroidDists(e("emb"), vecs)),
    "C4Stats" -> k(C4Stats(e("s"))),
    "Gunzip" -> k(Gunzip(e("b"))),
    "CharsetDecode" -> k(CharsetDecode(e("b"), "ISO-8859-1")),
    "DictLookupInt" -> k(DictLookupInt(e("s"), Seq(("INFO", 9), ("", 1)))),
    "DsirBucketIds" -> k(DsirBucketIds(e("s"), 16)),
    "DsirScoreStats" -> k(DsirScoreStats(e("s"), (1L to 16L).map(_ * 1000L))),
    "FastLower" -> k(FastLower(e("s"))),
    "FnvOverBytes" -> k(FnvOverBytes(e("b"), 1234L)),
    "AttrsMeta" -> AttrsMeta.of(col("ms"), col("md"), col("mb"), Seq("z")),
    "ResourceFingerprint" -> k(ResourceFingerprint(e("ms"))),
    // registers come from HllRegistersAgg, which always emits m bytes
    "HllStats" -> k(HllStats(e("regs"), 16)),
    "JsonTypedMaps" -> k(JsonTypedMaps(e("s"))),
    "JsonTypedMaps flatten" -> k(JsonTypedMaps(e("s"), flatten = true, maxDepth = 3,
      enablePaths = true, pathPrefix = "p.", flattenArrays = true)),
    "NormalizeBody" -> k(NormalizeBody(e("s"))),
    "JsonPathTypes" -> k(JsonPathTypes(e("s"))),
    "IsRandomKey" -> k(IsRandomKey(e("s2"))),
    "LmScoreStats" -> k(LmScoreStats(e("s"), Seq("hello", "world", "the"),
      Seq(("hello", 3L), ("the", 5L)), Seq(("hello world", 2L)), 10L)),
    "MergeMaps" -> k(MergeMaps(e("ms"), e("ms2"), e("ms2"), e("ms"))),
    "MapSortedJson" -> k(MapSortedJson(e("ms"))),
    "MapToTagRows string" -> k(MapToTagRows(e("ms"), "tag", "string", 0)),
    "MapToTagRows number" -> k(MapToTagRows(e("md"), "tag", "float64", 1)),
    "MapFilterKeys" -> k(MapFilterKeys(e("ms"), Seq("a"), keep = false)),
    "MapGrokNumeric" -> k(MapGrokNumeric(e("ms"), Seq("a"))),
    "MapDropNullValues" -> k(MapDropNullValues(e("ms"))),
    "StringifyTypedMaps" -> k(StringifyTypedMaps(e("ms"), e("md"), e("mb"))),
    "AnyKeyContains" -> k(AnyKeyContains(e("ms"), Seq("servi"))),
    "MapRenameKeys" -> k(MapRenameKeys(e("ms"), Seq(("cd", "renamed")))),
    "MinHashBands" -> k(MinHashBands(e("s"), 3, 8, 4)),
    "NbScoreStats" -> k(NbScoreStats(e("s"), Seq("x", "y"), Seq(400000L, 600000L),
      Seq("hello", "world"), Seq(("hello", 0, 3L), ("world", 1, 2L)), Seq(3L, 2L), 2L)),
    "GoDurationParse" -> k(GoDurationParse(e("s2"))),
    "KeyValueMap" -> k(KeyValueMap(e("s"), "=", " ")),
    "MapKeysIn" -> k(MapKeysIn(e("ms"), e("ms2"), e("ms2"), e("ms"), present = true)),
    "MapKeysRegex" -> k(MapKeysRegex(e("ms"), "^[ab]", keep = true)),
    "MapReplacePatterns" -> k(MapReplacePatterns(e("ms"), "value", "[0-9]+", "N")),
    "MapTruncateValues" -> k(MapTruncateValues(e("ms"), 1)),
    "LimitTypedMaps" -> k(LimitTypedMaps(e("ms"), e("md"), e("mb"), 2, Seq("b"))),
    "PromFingerprint" -> k(PromFingerprint(e("ms"), e("ms2"), e("lng"))),
    "PromFingerprintReduced" -> k(PromFingerprintReduced(e("ms"), e("ms2"), e("lng"), e("rule"))),
    "PromHashWithName" -> k(PromHashWithName(e("lng"), e("s2"))),
    "PromLabelsJson" -> k(PromLabelsJson(e("s2"), e("ms"), e("ms2"), e("ms"))),
    "PrefixSums" -> k(PrefixSums(e("arr_l"))),
    // GoFormatFloat(c) is this expression
    "GoFormatFloat" -> k(GoNumberText(e("dbl"), GoFloat.Fixed, int64 = false)),
    "GoNumberText percentV" -> k(GoNumberText(e("dbl"), GoFloat.PercentV, int64 = true)),
    "GoNumberText json" -> k(GoNumberText(e("dbl"), GoFloat.Json, int64 = true)),
    "GoNumberText json long" -> k(GoNumberText(e("lng"), GoFloat.Json, int64 = true)),
    "QualityStats" -> k(QualityStats(e("s"), Seq("the", "a"))),
    "RegexExtractNamedGroups" -> k(RegexExtractNamedGroups(e("s"), "(?P<word>[a-z]+) (?P<num>[0-9]+)")),
    "RepetitionStats" -> k(RepetitionStats(e("s"))),
    "ShingleArray" -> k(ShingleArray(e("s"), 3)),
    "WindowHashes" -> k(WindowHashes(e("s"), 4)),
    // token arrays come from a split, which never yields a NULL token
    "KeptStats" -> k(KeptStats(e("toks"), e("arr_l"))),
    "SimHash64" -> k(SimHash64(e("s"))),
    "SpanEventsJson" -> k(SpanEventsJson(e("events"))),
    "SpanReferences" -> SpanReferences(col("s2"), col("s2"), col("links")),
    "GoJsonQuote" -> k(GoJsonQuote(e("s"))),
    "MapDropKeyPrefix" -> k(MapDropKeyPrefix(e("ms"), "c")),
    "StableTokenRewrite" -> k(StableTokenRewrite(e("s"), Seq(("NUM", "[0-9]+"), ("FOX", "quick")))),
    "OctetSplit" -> k(OctetSplit(e("s"))),
    "CountInSet" -> k(CountInSet(e("arr_s"), Seq("a", "c"))),
    "CharEntropyStats" -> k(CharEntropyStats(e("s"))),
    "GoTimeParse" -> k(GoTimeParse(e("s2"), "yyyy-MM-dd HH:mm:ss", "UTC")),
    "JsonStringArraySize" -> k(JsonStringArraySize(e("arr_s"))),
    "TypedAttrsGoJson" -> k(TypedAttrsGoJson(e("ms"), e("md"), e("mb"))),
    "TypedAttrsGoJson dropNonFinite" -> k(TypedAttrsGoJson(e("ms"), e("md"), e("mb"), dropNonFinite = true)),
    "DotProduct" -> k(DotProduct(e("vec"), e("vec2"))),
    "CosineSim" -> k(CosineSim(e("vec"), e("vec2"))),
    "HyperplaneSig" -> k(HyperplaneSig(e("vec"), 8)),
    "JlProject" -> k(JlProject(e("vec"), 4)),
    "WinnowFps" -> k(WinnowFps(e("s"), 3, 4)),
    "FakeDecode" -> k(FakeDecode(e("b"), 4)))

  private val schema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("s", StringType),
    StructField("s2", StringType),
    StructField("b", BinaryType),
    StructField("regs", BinaryType),
    StructField("ms", MapType(StringType, StringType)),
    StructField("ms2", MapType(StringType, StringType)),
    StructField("md", MapType(StringType, DoubleType)),
    StructField("mb", MapType(StringType, BooleanType)),
    StructField("arr_s", ArrayType(StringType)),
    StructField("arr_l", ArrayType(LongType)),
    StructField("vec", ArrayType(FloatType)),
    StructField("vec2", ArrayType(FloatType)),
    StructField("emb", ArrayType(FloatType)),
    StructField("toks", ArrayType(StringType)),
    StructField("dbl", DoubleType),
    StructField("lng", LongType),
    StructField("rule", ArrayType(StringType)),
    StructField("events", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("ts_ns", LongType),
      StructField("attrs", MapType(StringType, StringType)))))),
    StructField("links", ArrayType(StructType(Seq(
      StructField("trace_id", StringType),
      StructField("span_id", StringType)))))))

  private def gzip(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }

  private val regs = Array.tabulate[Byte](16)(i => (i % 5).toByte)

  private val rows = Seq(
    Row(0, "Hello World the quick brown fox 123 jumps over the lazy dog hello world",
      "0af7651916cd43dd8448eb211c80319c", gzip("hello gzip"), regs,
      Map("a" -> "1", "b" -> null, "c d" -> "x7", "service.name" -> "svc"),
      Map("a" -> "9", "z" -> "1"), Map("n" -> 1.5, "i" -> 2.0), Map("t" -> true, "f" -> false),
      Seq("a", "b", null), Seq(1L, 2L, 3L), Seq(0.1f, 0.2f, 0.3f), Seq(0.3f, 0.2f, 0.1f),
      Seq(0.1f, 0.2f, 0.3f), Seq("the", "quick", "fox"), 1.5e10, 42L, Seq("keep", "a", "service.name"),
      Seq(Row("exception", 5L, Map("k" -> "v")), Row("evt", 6L, null)),
      Seq(Row("t1", "s1"), Row(null, "s2"))),
    Row(1, "", "", Array.emptyByteArray, regs, Map.empty, Map.empty, Map.empty, Map.empty,
      Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq(0.0f, 0.0f, 0.0f), Seq.empty, 0.0, 0L, Seq.empty, Seq.empty, Seq.empty),
    Row(2, null, null, null, regs, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null),
    Row(3, """{"a":1,"b":{"c":"x"},"msg":"hi é","arr":[1,2.5,true,null],"n":null}""",
      "2024-01-02 03:04:05", "café".getBytes("ISO-8859-1"), regs,
      Map("c" -> "9", "cx" -> null), Map("c" -> "1"), Map("x" -> -0.25, "big" -> 1e300),
      Map("b" -> true), Seq("c", "c", "d"), Seq(2L, 4L), Seq(1.0f, 0.0f, -1.0f),
      Seq(0.5f, 0.5f), Seq(1.0f, 0.0f, -1.0f), Seq("a", "", "b"), -3.25, -7L, Seq("drop", "c"), Seq(Row(null, null, null)),
      Seq(Row("t3", null))),
    Row(4, "k=v a=\"x y\" 1h30m INFO 2024 café", "1h30m", Array[Byte](1, 2, 3), regs,
      Map("a" -> "12", "b" -> "33"), Map.empty, Map("n" -> Double.NaN, "p" -> Double.PositiveInfinity),
      Map.empty, Seq(null), Seq(5L), Seq(0.0f), Seq(0.0f),
      Seq(1.0f, 0.5f, 0.25f), Seq("x"), Double.NaN, Long.MaxValue,
      Seq("keep"), Seq.empty, Seq.empty),
    Row(5, "5 hello6 world", "INFO", gzip(""), regs, Map("cd" -> "x"), Map("cd" -> "y"),
      Map.empty, Map("cd" -> false), Seq("", "a"), Seq(7L, 7L), Seq(2.0f, 2.0f, 2.0f),
      Seq(1.0f, 1.0f, 1.0f), Seq(2.0f, 2.0f, 2.0f), Seq("p", "q", "r", "s"), 1e-7, 1L, Seq.empty, Seq.empty, Seq(Row("", ""))))

  private lazy val fixture: String = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft-kernel-parity").toString
    spark.createDataFrame(rows.asJava, schema).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Row rendering that compares byte arrays by content and NaN equal to NaN. */
  private def render(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.map { case (key, value) => s"${render(key)}->${render(value)}" }.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  private def evaluate(kernel: Column, factoryMode: String, wholeStage: Boolean): Seq[String] = {
    val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
    val saved = keys.map(key => key -> spark.conf.getOption(key))
    spark.conf.set(keys(0), factoryMode)
    spark.conf.set(keys(1), wholeStage.toString)
    try spark.read.parquet(fixture).select(col("id"), kernel.as("out"))
      .collect().toSeq.sortBy(_.getInt(0)).map(render)
    finally saved.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  kernels.foreach { case (name, kernel) =>
    test(s"$name: generated code and interpreted eval return identical rows") {
      val generated = evaluate(kernel, "CODEGEN_ONLY", wholeStage = true)
      val interpreted = evaluate(kernel, "NO_CODEGEN", wholeStage = false)
      assert(generated.size == rows.size)
      assert(generated == interpreted)
    }
  }
}
