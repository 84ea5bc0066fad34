package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Iceberg-style table layer: a directory of immutable Parquet files plus a
  * JSON snapshot chain with per-partition lineage and row-count metrics.
  *
  * The Iceberg runtime is not on this classpath (offline build), so the
  * snapshot/manifest mechanics are implemented directly — the guarantees are
  * the ones the pipeline needs (SURVEY.md §7.2 step 2, BASELINE.json
  * north_rule "resumable from checkpoint with per-partition lineage +
  * metrics"):
  *
  *  - **atomic commit**: a snapshot becomes visible only when the `CURRENT`
  *    pointer is atomically renamed over; readers never see partial writes;
  *  - **lineage**: each snapshot records its parent, the written files, the
  *    partition value and row count per file, and a free-form `stage` label;
  *  - **resume**: `completedPartitions` exposes which partition values are
  *    already committed so a re-run appends only the missing ones
  *    (`appendMissingPartitions`).
  *
  * Layout:
  * {{{
  * table/
  *   data/<seq>/part=<v>/...parquet   (spark partitioned write, immutable)
  *   meta/snapshot-<seq>.json
  *   meta/CURRENT                      (contains "snapshot-<seq>.json")
  * }}}
  */
object GraftTable {

  final case class FileEntry(path: String, partition: String, rows: Long)
  final case class Snapshot(seq: Long, parent: Long, stage: String, files: Seq[FileEntry]) {
    def partitions: Set[String] = files.map(_.partition).toSet
    def rowCount: Long = files.map(_.rows).sum
  }

  private def metaDir(table: String): Path = Paths.get(table, "meta")

  // ---- tiny JSON (de)serialization — no external deps ----------------------
  // control characters and surrogates go out as JSON unicode escapes, so a
  // snapshot file is lossless UTF-8 whatever its strings hold
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' || Character.isSurrogate(c) => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[graft] def render(s: Snapshot): String = {
    val files = s.files.map(f =>
      s"""{"path": "${esc(f.path)}", "partition": "${esc(f.partition)}", "rows": ${f.rows}}""")
      .mkString("[", ", ", "]")
    s"""{"seq": ${s.seq}, "parent": ${s.parent}, "stage": "${esc(s.stage)}", "files": $files}"""
  }

  private val fileRe =
    """\{"path": "((?:[^"\\]|\\.)*)", "partition": "((?:[^"\\]|\\.)*)", "rows": (\d+)\}""".r
  private val headRe = """"seq": (\d+), "parent": (-?\d+), "stage": "((?:[^"\\]|\\.)*)"""".r

  /** Inverse of `esc`, one left-to-right pass: every escape is decoded
    * exactly once, so an escaped backslash never pairs with the character
    * after it.
    */
  private def unesc(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != '\\') { out.append(c); i += 1 }
      else {
        s.charAt(i + 1) match {
          case 'u' =>
            out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case e =>
            out.append(if (e == 'n') '\n' else e) // else '"' or '\\'
            i += 2
        }
      }
    }
    out.toString
  }

  private[graft] def parse(json: String): Snapshot = {
    val head = headRe.findFirstMatchIn(json).getOrElse(
      throw new IllegalStateException(s"bad snapshot json: $json"))
    val files = fileRe.findAllMatchIn(json).map { m =>
      FileEntry(unesc(m.group(1)), unesc(m.group(2)), m.group(3).toLong)
    }.toSeq
    Snapshot(head.group(1).toLong, head.group(2).toLong, unesc(head.group(3)), files)
  }

  // ---- snapshot chain -------------------------------------------------------

  def current(table: String): Option[Snapshot] = {
    val cur = metaDir(table).resolve("CURRENT")
    if (!Files.exists(cur)) None
    else {
      val name = new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim
      val snap = metaDir(table).resolve(name)
      Some(parse(new String(Files.readAllBytes(snap), StandardCharsets.UTF_8)))
    }
  }

  def completedPartitions(table: String): Set[String] =
    current(table).map(_.partitions).getOrElse(Set.empty)

  /** Atomically publish `snapshot`: write snapshot file, then rename a temp
    * CURRENT over the real one (rename is the commit point).
    */
  private def commit(table: String, snapshot: Snapshot): Snapshot = {
    val meta = metaDir(table)
    Files.createDirectories(meta)
    val name = s"snapshot-${snapshot.seq}.json"
    Files.write(meta.resolve(name), render(snapshot).getBytes(StandardCharsets.UTF_8))
    val tmp = meta.resolve(s".CURRENT.tmp-${snapshot.seq}")
    Files.write(tmp, name.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, meta.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    snapshot
  }

  private def listParquet(dir: Path): Seq[Path] = {
    if (!Files.exists(dir)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Path]
    Files.walk(dir).iterator().asScala.foreach { p =>
      if (p.toString.endsWith(".parquet") && Files.isRegularFile(p)) out += p
    }
    out.toSeq
  }

  private def partitionOf(file: Path, dataRoot: Path, partitionCol: Option[String]): String =
    partitionCol match {
      case None => ""
      case Some(c) =>
        val rel = dataRoot.relativize(file).toString
        // Spark escapes the value in the directory name (`a:b` -> `a%3Ab`)
        rel.split('/').find(_.startsWith(s"$c="))
          .map(d => ExternalCatalogUtils.unescapePathName(d.substring(c.length + 1))).getOrElse("")
    }

  /** Write `df` as a new snapshot of `table`. `overwrite=false` appends to
    * the parent snapshot's file list (new data files live under a fresh
    * `data/<seq>/` dir, so existing files are never touched).
    */
  def write(df: DataFrame, table: String, partitionCol: Option[String] = None,
      stage: String = "", overwrite: Boolean = true): Snapshot = {
    val parent = current(table)
    val seq = parent.map(_.seq + 1).getOrElse(0L)
    val dataDir = Paths.get(table, "data", seq.toString)
    val writer0 = df.write.mode("overwrite")
    val writer = partitionCol.fold(writer0)(writer0.partitionBy(_))
    writer.parquet(dataDir.toString)

    // per-partition lineage: rows per written file from the parquet footers,
    // read concurrently
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val newFiles = Await.result(Future.traverse(listParquet(dataDir)) { p =>
      Future(blocking(
        FileEntry(p.toString, partitionOf(p, dataDir, partitionCol), footerRowCount(conf, p))))
    }, Duration.Inf)
    val files =
      if (overwrite) newFiles
      else parent.map(_.files).getOrElse(Nil) ++ newFiles
    commit(table, Snapshot(seq, parent.map(_.seq).getOrElse(-1L), stage, files))
  }

  private def footerRowCount(conf: Configuration, file: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  /** Run every `(table, write)` pair at once, `write(table)` on its own new
    * thread, and return the snapshots in input order. The threads are made per
    * call so they inherit the caller's Spark local properties (job group,
    * description). Waits for every write; if any failed, then throws the
    * first failure in input order with the others attached as suppressed.
    * Tables must be distinct: two writes to one table would pick the same
    * `seq`.
    */
  def writeAll(writes: Seq[(String, String => Snapshot)]): Seq[Snapshot] = {
    val tables = writes.map { case (t, _) => Paths.get(t).toAbsolutePath.normalize }
    require(tables.distinct.size == tables.size, s"writeAll needs distinct tables: ${writes.map(_._1)}")
    val results = new Array[Either[Throwable, Snapshot]](writes.size)
    val threads = writes.zipWithIndex.map { case ((table, write), i) =>
      val t = new Thread(() => results(i) = try Right(write(table)) catch { case e: Throwable => Left(e) },
        s"graft-sink-${Paths.get(table).getFileName}")
      t.setDaemon(true)
      t.start()
      t
    }
    // no early exit, not even on interrupt: every write ends before we return
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    results.collect { case Left(e) => e }.toList match {
      case Nil => results.toSeq.map(_.toOption.get)
      case first :: others =>
        others.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
    }
  }

  /** Resume helper: write only the partitions of `df` whose value is not yet
    * committed; returns the new snapshot (or the current one when nothing is
    * missing). This is the per-stage checkpoint/restart story.
    */
  def appendMissingPartitions(df: DataFrame, table: String, partitionCol: String,
      stage: String = ""): Snapshot = {
    val done = completedPartitions(table)
    val remaining =
      if (done.isEmpty) df
      else df.filter(!col(partitionCol).isin(done.toSeq: _*))
    if (done.nonEmpty && remaining.isEmpty) current(table).get
    else write(remaining, table, Some(partitionCol), stage, overwrite = false)
  }

  /** Read the table as of its current snapshot (readers only ever see
    * committed files).
    */
  def read(spark: SparkSession, table: String): DataFrame = {
    current(table) match {
      case None => throw new IllegalStateException(s"no committed snapshot in $table")
      case Some(s) =>
        if (s.files.isEmpty) spark.emptyDataFrame
        else {
          // group files by their data/<seq>/ root so hive-style partition
          // columns are inferred per root (basePath), then union
          val bySeqRoot = s.files.groupBy { f =>
            val p = Paths.get(f.path)
            // .../data/<seq>/[part=v/]file.parquet -> root = .../data/<seq>
            var root = p.getParent
            while (root != null && root.getParent != null &&
              !root.getParent.getFileName.toString.equals("data")) root = root.getParent
            if (root != null && root.getParent != null &&
              root.getParent.getFileName.toString.equals("data")) root.toString
            else p.getParent.toString
          }
          bySeqRoot.map { case (root, files) =>
            spark.read.option("basePath", root).parquet(files.map(_.path): _*)
          }.reduce(_.unionByName(_, allowMissingColumns = true))
        }
    }
  }
}
