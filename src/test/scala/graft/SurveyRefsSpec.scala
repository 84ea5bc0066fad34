package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md maps reference behaviour to this engine's code with
  * `dir/File.scala` and `dir/File.member` references. Each one whose `dir`
  * is a package under `src/main/scala/graft/` must name a file that exists
  * and, for `File.member`, a member declared in that file, so a rename or
  * deletion that leaves a SURVEY row behind fails here.
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
}
