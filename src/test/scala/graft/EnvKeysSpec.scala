package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every environment variable the main sources read is on a reviewed list
  * with the reason it exists, so a new knob fails here rather than slipping
  * in unnoticed. The keys are collected with the same pattern the verify
  * notes use to count them.
  */
class EnvKeysSpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "SPARK_GRAFT_SF_DIR" -> "Bench: the sf table directory the query pass reads",
    "SPARK_GRAFT_CPUS" -> "Bench / ScaleUp / Verify: local[N] task slots of the session",
    "SPARK_GRAFT_SCALE_N" -> "Bench: N of the N -> 4N scaling measurement",
    "SPARK_GRAFT_BENCH_CONVS" -> "Bench: conversations in the shared scaling input",
    "SPARK_GRAFT_REGEN" -> "Bench: regenerate the cached scaling input",
    "SPARK_GRAFT_SCALE_REPS" -> "Bench: rounds of the ABBA scaling measurement",
    "SPARK_GRAFT_SCALE_INNER" -> "Bench: timed passes per scaling JVM",
    "SPARK_GRAFT_SCALE_MEM" -> "Bench: heap of each pinned scaling JVM",
    "SPARK_GRAFT_SCALEUP" -> "Bench: 0 skips the scale-up section",
    "SPARK_GRAFT_SCALEUP_DOCS" -> "Bench / ScaleUp: documents at the 100x scale",
    "SPARK_GRAFT_SCALEUP_VECS" -> "Bench / ScaleUp: vectors at the 100x scale",
    "SPARK_GRAFT_SCALEUP_CONVS" -> "Bench / ScaleUp: conversations at the 100x scale",
    "SPARK_GRAFT_BENCH_OUT" -> "Bench: where the full result JSON is written",
    "SPARK_GRAFT_MAXSPLIT" -> "ScaleRun: maxPartitionBytes of the scaling split sizing")

  private val envRead = """sys\.env\.(get|getOrElse|contains)\("([A-Za-z_]+)""".r

  test("the env keys read under src/main are exactly the reviewed list") {
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val keys = files.flatMap { f =>
      envRead.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)).map(_.group(2))
    }.toSet
    assert(keys.diff(allowed.keySet).isEmpty,
      s"unreviewed env keys (add each with its reason): ${keys.diff(allowed.keySet)}")
    assert(allowed.keySet.diff(keys).isEmpty,
      s"listed env keys no main source reads: ${allowed.keySet.diff(keys)}")
  }
}
