package graft.mutation

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Source lint for VersionedTable's one read path: every parquet read of a
  * segment goes through `readSegments`, which takes the schema from the
  * footer instead of launching a schema-inference job. A raw
  * `spark.read...parquet(` anywhere else in the file would bring the
  * per-read inference job back. */
class SegmentReadLintSpec extends AnyFunSuite with Matchers {

  private val source =
    Paths.get("src/main/scala/graft/mutation/VersionedTable.scala")

  private lazy val lines = Files.readAllLines(source).asScala.toIndexedSeq

  private lazy val text = lines.mkString("\n")

  /** The helper's lines: its `def` line through the line before the next
    * blank line (defs in this file are separated by blank lines). */
  private lazy val helper: Range = {
    val start = lines.indexWhere(_.contains("private def readSegments("))
    val end = lines.indexWhere(_.trim.isEmpty, start)
    start until end
  }

  /** A parquet read chain — `<x>.read`, optional `.schema(..)` /
    * `.option(..)` style calls, then `.parquet(` — possibly across line
    * breaks. Returns the 0-based line of each chain's start. */
  private lazy val parquetReads: Seq[Int] =
    """\.read\b(?:\s*\.\s*\w+\([^()]*\))*\s*\.\s*parquet\(""".r
      .findAllMatchIn(text).map(m => text.substring(0, m.start).count(_ == '\n'))
      .toSeq

  test("the lint finds the helper and its parquet reads") {
    helper.start should be >= 0
    helper.length should be > 3
    parquetReads.count(helper.contains) should be >= 2
  }

  test("parquet reads appear in VersionedTable only inside readSegments") {
    parquetReads.filterNot(helper.contains).map(i => s"$source:${i + 1}") shouldBe empty
  }
}
