package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md maps reference behaviour to this engine's code with
  * `dir/File.scala` and `dir/File.member` references. Each one whose `dir`
  * is a package under `src/main/scala/graft/` must name a file that exists
  * and, for `File.member`, a member declared in that file, so a rename or
  * deletion that leaves a SURVEY row behind fails here. Every query name
  * (`q_...`) in SURVEY.md and README.md must be a key of
  * [[SparkEntry.queries]], and a `FamilyQueries q_name` reference must name
  * the top-level file that declares that query.
  */
class SurveyRefsSpec extends AnyFunSuite {

  private val graftRoot = Paths.get("src/main/scala/graft")

  private def read(p: Path) = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("every SURVEY.md reference into src/main resolves to a file and a declared member") {
    assert(Files.isDirectory(graftRoot), s"run from the repo root: $graftRoot")
    val packages = Files.list(graftRoot).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSeq
    val ref = ("""(?<![\w/])(""" + packages.mkString("|") +
      """)/([A-Za-z_]\w*)\.([A-Za-z_]\w*)""").r
    val refs = ref.findAllMatchIn(read(Paths.get("SURVEY.md")))
      .map(m => (m.group(1), m.group(2), m.group(3))).toSeq
    assert(refs.size > 100, s"found only ${refs.size} references")
    val unresolved = refs.distinct.filterNot { case (dir, file, member) =>
      val src = graftRoot.resolve(dir).resolve(s"$file.scala")
      Files.isRegularFile(src) && (member == "scala" ||
        ("""\b(def|val|object|class|trait)\s+""" + java.util.regex.Pattern.quote(member) +
          """\b""").r.findFirstIn(read(src)).isDefined)
    }
    assert(unresolved.isEmpty, unresolved.map { case (d, f, m) => s"$d/$f.$m" }
      .mkString("stale SURVEY.md references: ", ", ", ""))
  }

  test("every q_ name in SURVEY.md and README.md is a query, in the file it is placed in") {
    val docs = Seq("SURVEY.md", "README.md").map(f => read(Paths.get(f))).mkString("\n")
    val names = """\bq_[a-z0-9_]+""".r.findAllIn(docs).toSet
    assert(names.size > 100, s"found only ${names.size} query names")
    val unknown = names -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, unknown.toSeq.sorted.mkString("unknown query names: ", ", ", ""))
    // `FamilyQueries q_name` places a query in a top-level query file
    val placed = """\b([A-Z]\w*Queries) (q_[a-z0-9_]+)""".r.findAllMatchIn(docs)
      .map(m => (m.group(1), m.group(2))).toSeq.distinct
    val misplaced = placed.filterNot { case (file, q) =>
      val src = graftRoot.resolve(s"$file.scala")
      Files.isRegularFile(src) && read(src).contains("Query(\"" + q + "\"")
    }
    assert(misplaced.isEmpty, misplaced.map { case (f, q) => s"$f $q" }
      .mkString("query placed in the wrong file: ", ", ", ""))
  }
}
