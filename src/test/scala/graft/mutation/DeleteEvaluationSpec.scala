package graft.mutation

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

/** `morDelete` and `posDelete` evaluate their victims exactly once: the
  * delete segment is written first and its row count read from the
  * footers. A victim predicate that bumps an accumulator per row it sees
  * counts the scans; a count-then-write would scan the table twice. */
class DeleteEvaluationSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** 20 rows: ids 0..9, each twice. */
  private def freshTable(): String = {
    import spark.implicits._
    val root = graft.Scratch.dir("graft_delete_eval_spec") + "/t"
    VersionedTable.create(spark, root,
      (0L until 20L).map(i => (i % 10, i)).toDF("id", "seq"))
    root
  }

  /** A per-row predicate on `id` that counts its evaluations. */
  private def counted(keep: Long => Boolean) = {
    val acc = spark.sparkContext.longAccumulator("victim_rows")
    val f = udf { (id: Long) => acc.add(1L); keep(id) }.asNondeterministic()
    (acc, (c: String) => f(col(c)))
  }

  private def deleteDirs(root: String): Seq[String] =
    new java.io.File(root).list().toSeq
      .filter(n => n.startsWith("del_") || n.startsWith("pdel_"))

  test("morDelete scans its victims once and stages nothing for zero victims") {
    val root = freshTable()
    val (none, noneOf) = counted(_ => false)
    VersionedTable.morDelete(spark, root, Seq("id"),
      _.where(noneOf("id"))) shouldBe ((0L, 0L))
    none.value shouldBe 20L
    VersionedTable.currentVersion(spark, root) shouldBe Some(0L)
    deleteDirs(root) shouldBe empty

    val (some, someOf) = counted(_ % 4 == 0)
    // ids 0, 4, 8: six rows, three distinct keys
    VersionedTable.morDelete(spark, root, Seq("id"),
      _.where(someOf("id"))) shouldBe ((1L, 3L))
    some.value shouldBe 20L
    VersionedTable.read(spark, root).count() shouldBe 14L
  }

  test("posDelete scans its victims once and stages nothing for zero victims") {
    val root = freshTable()
    val (none, noneOf) = counted(_ => false)
    VersionedTable.posDelete(spark, root, noneOf("id")) shouldBe ((0L, 0L))
    none.value shouldBe 20L
    VersionedTable.currentVersion(spark, root) shouldBe Some(0L)
    deleteDirs(root) shouldBe empty

    val (some, someOf) = counted(_ % 4 == 0)
    // six rows match, each its own (file, position)
    VersionedTable.posDelete(spark, root, someOf("id")) shouldBe ((1L, 6L))
    some.value shouldBe 20L
    VersionedTable.read(spark, root).count() shouldBe 14L
  }
}
