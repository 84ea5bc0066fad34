package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalacheck.{Arbitrary, Gen, Prop, Test}

import graft.sinks.GraftTable
import graft.sinks.GraftTable.{FileEntry, Snapshot}

/** The snapshot table layer on its own: snapshot JSON, escaped partition
  * values and the concurrent `writeAll` fan-out.
  */
class GraftTableSpec extends SparkSuite {
  import spark.implicits._

  private def tempTable(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("snapshot JSON round-trips arbitrary paths, partition values and stage labels") {
    // arbitrary strings plus the characters the escaper treats specially,
    // so backslash/quote/control runs come up often
    val tricky = Gen.oneOf('\\', '"', 'n', 'u', '\n', '\t', '\u0000', '\u001f', '\ud83d', '\ude00', '{', ':')
    val text = Gen.oneOf(Arbitrary.arbitrary[String], Gen.listOf(tricky).map(_.mkString))
    val entry = for { p <- text; v <- text; n <- Gen.chooseNum(0L, Long.MaxValue) } yield FileEntry(p, v, n)
    val snapshot = for {
      seq <- Gen.chooseNum(0L, Long.MaxValue)
      parent <- Gen.chooseNum(-1L, Long.MaxValue)
      stage <- text
      files <- Gen.listOf(entry)
    } yield Snapshot(seq, parent, stage, files)
    // through UTF-8 bytes, as a commit writes and `current` reads them
    def roundTrip(s: Snapshot): Snapshot = GraftTable.parse(
      new String(GraftTable.render(s).getBytes(StandardCharsets.UTF_8), StandardCharsets.UTF_8))
    val prop = Prop.forAll(snapshot)(s => roundTrip(s) == s)
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(result.passed, result.status.toString)
    // the cases the old chained replace got wrong
    for (s <- Seq("a\\nb", "\u0001", "\\\"", "\\" + "u0041")) {
      val snap = Snapshot(0L, -1L, s, Seq(FileEntry(s, s, 1L)))
      assert(roundTrip(snap) == snap)
    }
  }

  test("resume matches partition values that Spark escapes in directory names") {
    val table = tempTable("graft-escaped")
    val routes = Seq("a:b", "x%y", "t\tb", "plain")
    val df = routes.flatMap(r => Seq((r, 1L), (r, 2L))).toDF("route", "v")
    GraftTable.appendMissingPartitions(df, table, "route")
    assert(GraftTable.completedPartitions(table) == routes.toSet)
    val again = GraftTable.appendMissingPartitions(df, table, "route")
    assert(again.rowCount == df.count())
    val back = GraftTable.read(spark, table)
    assert(back.count() == df.count())
    assert(back.select("route").distinct().as[String].collect().toSet == routes.toSet)
  }

  test("writeAll: snapshots in input order, one per table") {
    val base = tempTable("graft-writeall")
    val tables = (1 to 4).map(i => s"$base/t$i")
    val snaps = GraftTable.writeAll(tables.zipWithIndex.map { case (t, i) =>
      t -> ((table: String) => GraftTable.write(spark.range(i + 1).toDF(), table))
    })
    assert(snaps.map(_.rowCount) == Seq(1L, 2L, 3L, 4L))
    assert(tables.map(GraftTable.current(_).map(_.rowCount)) == Seq(Some(1L), Some(2L), Some(3L), Some(4L)))
  }

  test("writeAll refuses two writes to one table") {
    val base = tempTable("graft-writeall-dup")
    val w = (t: String) => GraftTable.write(spark.range(1).toDF(), t)
    intercept[IllegalArgumentException] {
      GraftTable.writeAll(Seq(s"$base/t" -> w, s"$base/./t" -> w))
    }
    assert(GraftTable.current(s"$base/t").isEmpty) // refused before any write started
  }

  test("writeAll: throws the first failure, others suppressed, after every write ends") {
    val base = tempTable("graft-writeall-fail")
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writes = Seq[(String, String => Snapshot)](
      s"$base/ok" -> (t => { Thread.sleep(1500); val s = GraftTable.write(spark.range(3).toDF(), t); slowDone.set(true); s }),
      s"$base/bad1" -> (_ => throw new IllegalStateException("bad1")),
      s"$base/bad2" -> (_ => throw new IllegalStateException("bad2")))
    val e = intercept[IllegalStateException](GraftTable.writeAll(writes))
    assert(e.getMessage == "bad1")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("bad2"))
    assert(slowDone.get, "writeAll returned before the slow write finished")
    assert(GraftTable.current(s"$base/ok").map(_.rowCount).contains(3L))
  }

  test("writeAll threads inherit the caller's Spark local properties") {
    val base = tempTable("graft-writeall-props")
    val sc = spark.sparkContext
    sc.setJobGroup("graft-fanout-test", "fan-out")
    try {
      val seen = GraftTable.writeAll(Seq(s"$base/a", s"$base/b").map { t =>
        t -> ((table: String) => {
          assert(sc.getLocalProperty("spark.jobGroup.id") == "graft-fanout-test")
          GraftTable.write(spark.range(1).toDF(), table)
        })
      })
      assert(seen.size == 2)
    } finally sc.clearJobGroup()
  }
}
