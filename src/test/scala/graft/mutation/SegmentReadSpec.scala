package graft.mutation

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

/** Building a VersionedTable read frame is driver-side metadata only: the
  * segment schema comes from the footer Spark wrote, so `read`,
  * `readPruned`, `incrementalRead` and `changelog` launch no Spark job
  * before an action — except one schema-inference job for a segment
  * group headed by an imported file that carries no Spark schema. Each
  * frame has the schema and rows of the same read composed from plain,
  * inferring `spark.read.parquet` calls. */
class SegmentReadSpec extends AnyFunSuite with Matchers with SparkSuite {

  /** v0 create, v1–v3 appends, v4 morDelete, v5 posDelete, v6 rename
    * grp → bucket, v7 importDir of a parquet-mr file without Spark's
    * schema entry. */
  private lazy val root: String = {
    import spark.implicits._
    val w = graft.Scratch.dir("graft_segread_spec")
    val root = s"$w/t"
    def batch(lo: Long) =
      (lo until lo + 10L).map(i => (i, i % 3, s"k$i")).toDF("id", "grp", "name")
    VersionedTable.create(spark, root, batch(0L), statCols = Seq("id"))
    Seq(10L, 20L, 30L).foreach(lo =>
      VersionedTable.append(spark, root, batch(lo), statCols = Seq("id")))
    VersionedTable.morDelete(spark, root, Seq("id"),
      _.where(col("id") % 7 === 0)) shouldBe ((4L, 6L))
    VersionedTable.posDelete(spark, root, col("id") % 5 === 1) shouldBe ((5L, 7L))
    VersionedTable.renameColumn(spark, root, "grp", "bucket") shouldBe 6L
    writeExternal(s"$w/external", 100L to 104L)
    VersionedTable.importDir(spark, root, s"$w/external",
      statCols = Seq("id")) shouldBe 7L
    root
  }

  // build the table before any test counts jobs
  override def beforeAll(): Unit = { super.beforeAll(); root; () }

  /** A parquet file written by parquet-mr's example writer: no
    * `org.apache.spark.sql.parquet.row.metadata` entry in its footer. */
  private def writeExternal(dir: String, ids: Seq[Long]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType(
      "message ext { required int64 id; required int64 bucket; " +
        "optional binary name (UTF8); }")
    val out = HadoopOutputFile.fromPath(new Path(dir, "part-0.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    try ids.foreach(i =>
      w.write(groups.newGroup().append("id", i).append("bucket", i % 3)
        .append("name", s"k$i")))
    finally w.close()
  }

  /** Jobs launched while `body` runs, counted by job group behind a FIFO
    * fence job (PlanAuditSpec's manifest-only gate): once the fence's
    * event lands, every event `body` could have produced has landed. */
  private def jobsIn[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        groups.add(Option(s.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(s"build_$tag", "frame construction")
      val out = body
      sc.setJobGroup(s"fence_$tag", "bus fence")
      spark.range(1).count()
      val deadline = System.currentTimeMillis() + 30000L
      while (!groups.contains(s"fence_$tag") &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      groups.contains(s"fence_$tag") shouldBe true
      (out, groups.asScala.count(_ == s"build_$tag"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def plain(segs: Seq[VersionedTable.Segment]): DataFrame =
    spark.read.parquet(segs.map(s => new Path(root, s.name).toString): _*)

  private def renamed(
      df: DataFrame, chain: Seq[(Long, String, String)], seq: Long): DataFrame =
    chain.filter(_._1 > seq).foldLeft(df) { case (d, (_, from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }

  /** Version `v` composed segment by segment from inferring reads:
    * position deletes anti-joined on file provenance, the rename chain
    * applied, then each data segment's strictly-newer equality deletes. */
  private def plainRead(v: Long): DataFrame = {
    val snap = VersionedTable.snapshotAt(spark, root, v)
    val (pdels, rest) = snap.segments.partition(_.isPosDelete)
    val (dels, datas) = rest.partition(_.isDelete)
    datas.map { d =>
      val raw = plain(Seq(d))
      val alive =
        if (pdels.isEmpty) raw
        else raw.withColumn("__pd_file", col("_metadata.file_path"))
          .withColumn("__pd_pos", col("_metadata.row_index"))
          .join(plain(pdels), Seq("__pd_file", "__pd_pos"), "left_anti")
          .select(raw.columns.map(col): _*)
      val live = renamed(alive, snap.renames, d.seq)
      dels.filter(_.seq > d.seq) match {
        case Seq() => live
        case ds    => live.join(plain(ds), ds.head.keys, "left_anti")
      }
    }.reduce(_.unionByName(_))
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  private def sameAs(frame: DataFrame, reference: DataFrame): Unit = {
    frame.schema shouldBe reference.schema
    sortedRows(frame) shouldBe sortedRows(reference)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("read builds with zero jobs; the imported segment keeps its one inference job") {
    val (beforeImport, j6) = jobsIn {
      val df = VersionedTable.read(spark, root, Some(6L)); df.schema; df
    }
    j6 shouldBe 0
    sameAs(beforeImport, plainRead(6L))
    val deleted = (0L until 40L).filter(i => i % 7 == 0 || i % 5 == 1).toSet
    ids(beforeImport) shouldBe (0L until 40L).toSet -- deleted

    val (head, j7) = jobsIn {
      val df = VersionedTable.read(spark, root); df.schema; df
    }
    j7 shouldBe 1
    sameAs(head, plainRead(7L))
    ids(head) shouldBe (0L until 40L).toSet -- deleted ++ (100L to 104L)
    head.columns.toSeq shouldBe Seq("id", "bucket", "name")
  }

  test("readPruned builds with zero jobs") {
    // the import's `id` stats (100..104) prune it out of [10, 29]
    val (pruned, jobs) = jobsIn {
      val df = VersionedTable.readPruned(spark, root, "id", 10.0, 29.0)
      df.schema; df
    }
    jobs shouldBe 0
    sameAs(pruned, plainRead(7L).where(col("id").between(10L, 29L)))
    ids(pruned) shouldBe (10L to 29L).filterNot(i => i % 7 == 0 || i % 5 == 1).toSet
  }

  test("incrementalRead builds with zero jobs, one with the imported segment") {
    def reference(fromV: Long, toV: Long): DataFrame = {
      val snap = VersionedTable.snapshotAt(spark, root, toV)
      val old = VersionedTable.segmentsOf(spark, root, fromV).map(_.name).toSet
      snap.segments.filter(s => !old(s.name) && !s.isDelete && !s.isPosDelete)
        .map(s => renamed(plain(Seq(s)), snap.renames, s.seq))
        .reduce(_.unionByName(_))
    }
    val (native, j6) = jobsIn {
      val df = VersionedTable.incrementalRead(spark, root, 0L, 6L).get
      df.schema; df
    }
    j6 shouldBe 0
    sameAs(native, reference(0L, 6L))
    val (withImport, j7) = jobsIn {
      val df = VersionedTable.incrementalRead(spark, root, 0L, 7L).get
      df.schema; df
    }
    j7 shouldBe 1
    sameAs(withImport, reference(0L, 7L))
  }

  test("changelog builds with zero jobs, one with the imported segment") {
    def check(fromV: Long, toV: Long, expectedJobs: Int): Unit = {
      val (changes, jobs) = jobsIn {
        val cs = VersionedTable.changelog(spark, root, fromV, toV)
        cs.foreach { c =>
          (c.inserted ++ c.deletedKeys ++ c.posDeleted).foreach(_.schema)
        }
        cs
      }
      jobs shouldBe expectedJobs
      changes.map(_.version) shouldBe (fromV + 1 to toV).filterNot(_ == 6L)
      changes.foreach { c =>
        val prev = VersionedTable.segmentsOf(spark, root, c.version - 1)
          .map(_.name).toSet
        val added = VersionedTable.segmentsOf(spark, root, c.version)
          .filterNot(s => prev(s.name))
        def ref(segs: Seq[VersionedTable.Segment]) =
          if (segs.isEmpty) None else Some(plain(segs))
        withClue(s"v${c.version}: ") {
          Seq(
            c.inserted -> ref(added.filter(s => !s.isDelete && !s.isPosDelete)),
            c.deletedKeys -> ref(added.filter(_.isDelete)),
            c.posDeleted -> ref(added.filter(_.isPosDelete))
              .map(_.select("__pd_file", "__pd_pos"))
          ).foreach {
            case (Some(f), Some(r)) => sameAs(f, r)
            case (f, r)             => (f.isEmpty, r.isEmpty) shouldBe ((true, true))
          }
        }
      }
    }
    check(0L, 6L, 0)
    check(0L, 7L, 1)
  }
}
