package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A float becomes text in one module: `functions/GoFloat.scala` decides
  * the digits and Go's layout, and `functions/DecimalRound.scala` is the one
  * fixed-point quantizer. Elsewhere under `src/main`, code that turns a
  * double into decimal text (`Double.toString`, `toPlainString`, a
  * `BigDecimal` built from a double) fails here unless it is on the reviewed
  * list below with its reason. Comments are not code and are skipped.
  */
class NumberTextSiteSpec extends AnyFunSuite {

  private val modules = Set("functions/GoFloat.scala", "functions/DecimalRound.scala")

  /** (file under src/main/scala/graft, text of the line) -> why it stays. */
  private val allowed: Map[(String, String), String] = Map(
    ("ops/Similarity.scala", "w.println(c.map(java.lang.Double.toString).mkString(\" \"))") ->
      "IVF centroid sidecar: Java text that parseDouble reads back bit-exactly, never Go text",
    ("streaming/TailSampler.scala", "val ratio = BigDecimal(samplingPercentage / 100.0)") ->
      "sampling threshold arithmetic on the ratio's decimal; a number, not text",
    ("streaming/TailSampler.scala", "val max = BigDecimal(BigInt(\"18446744073709551615\"))") ->
      "a BigDecimal of an integer (MaxUint64), not of a double")

  private val site = """Double\.toString|toPlainString|BigDecimal(\.valueOf|\.decimal)?\(""".r

  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else { val c = t.indexOf("//"); if (c < 0) t else t.substring(0, c).trim }
  }

  test("only the number-text module and the quantizer turn a double into decimal text") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        if (modules.contains(rel)) Nil
        else Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq.map(code)
          .filter(site.findFirstIn(_).isDefined).map(rel -> _)
      }
    val unreviewed = hits.filterNot(allowed.contains)
    assert(unreviewed.isEmpty, unreviewed.map { case (f, l) => s"$f: $l" }
      .mkString("float-to-text outside functions/GoFloat.scala (route it there, or list it " +
        "with its reason): ", "; ", ""))
    val stale = allowed.keySet.diff(hits.toSet)
    assert(stale.isEmpty, s"listed sites no main source has: $stale")
    modules.foreach(m => assert(Files.isRegularFile(root.resolve(m)), m))
  }
}
