package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The typed merge has one site: outside the kernels in `functions/`,
  * `MergeMaps(` and `MapKeysIn(` appear under `src/main` only in
  * `operators/FieldRef.scala`, where `FieldCols` keeps each attribute key
  * in exactly one typed map. A processor that merges into the typed maps
  * by itself fails here.
  */
class AttrWriterSiteSpec extends AnyFunSuite {

  test("MergeMaps( and MapKeysIn( appear outside functions/ only in operators/FieldRef.scala") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val kernels = root.resolve(Paths.get("scala", "graft", "functions"))
    val sites = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(kernels)).toSeq.flatMap { f =>
        val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
        lines.indices.filter(i => lines(i).contains("MergeMaps(") || lines(i).contains("MapKeysIn("))
          .map(i => (f, i + 1))
      }
    assert(sites.nonEmpty)
    val elsewhere = sites.filterNot(_._1.endsWith(Paths.get("operators", "FieldRef.scala")))
    assert(elsewhere.isEmpty, elsewhere.map { case (f, l) => s"$f:$l" }.mkString("\n"))
  }

  test("LimitTypedMaps( and HashTypedMaps( appear outside functions/ only in operators/FieldRef.scala") {
    val root = Paths.get("src/main")
    val kernels = root.resolve(Paths.get("scala", "graft", "functions"))
    val sites = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(kernels)).toSeq.flatMap { f =>
        val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
        lines.indices.filter(i => lines(i).contains("LimitTypedMaps(") || lines(i).contains("HashTypedMaps("))
          .map(i => (f, i + 1))
      }
    assert(sites.nonEmpty)
    val elsewhere = sites.filterNot(_._1.endsWith(Paths.get("operators", "FieldRef.scala")))
    assert(elsewhere.isEmpty, elsewhere.map { case (f, l) => s"$f:$l" }.mkString("\n"))
  }
}
