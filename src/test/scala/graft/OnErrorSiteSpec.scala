package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The on_error decision has one site: `OnError.Drop` appears under
  * `src/main` on exactly one line, inside `Ops.step`, the function every
  * stanza operator's updates go through. A second operator that decides
  * on_error for itself fails here.
  */
class OnErrorSiteSpec extends AnyFunSuite {

  test("OnError.Drop appears on one line of src/main, inside Ops.step") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val lines = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
        lines.indices.filter(i => lines(i).contains("OnError.Drop")).map(i => (f, lines, i))
      }
    val sites = hits.map { case (f, _, i) => s"$f:${i + 1}" }
    assert(sites.size == 1)
    val (file, lines, at) = hits.head
    assert(file.endsWith(Paths.get("operators", "Ops.scala")), file)
    val enclosing = lines.take(at).reverse.find(_.trim.matches("""(private\s+)?def\s+\w+.*"""))
    assert(enclosing.exists(_.trim.matches("""(private\s+)?def\s+step\b.*""")), enclosing)
  }
}
