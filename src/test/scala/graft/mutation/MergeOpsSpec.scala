package graft.mutation

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

/** Join-and-rewrite MERGE/UPDATE/DELETE emulation over parquet (A6–A8). */
class MergeOpsSpec extends AnyFunSuite with Matchers with SparkSuite {

  private def freshTable(): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    (1 to 10).map(i => (s"e$i", s"bssid${i % 3}", i * 1.0, Option.empty[Boolean]))
      .toDF("event_id", "bssid", "value", "is_global_outlier")
      .write.parquet(dir)
    dir
  }

  test("labelOutliers sets the global_* columns only for the hit keys") {
    import spark.implicits._
    val path = freshTable()
    // add the full global_* column set the labeler touches
    val widened = spark.read.parquet(path)
      .withColumn("global_outlier_distance", lit(null).cast("double"))
      .withColumn("global_outlier_threshold", lit(null).cast("double"))
      .withColumn("global_detection_algorithm", lit(null).cast("string"))
      .withColumn("global_detection_timestamp", lit(null).cast("timestamp"))
      .withColumn("global_detection_version", lit(null).cast("string"))
    widened.write.mode("overwrite").parquet(path + "2")

    val outliers = Seq(("e2", 812.5), ("e7", 431.0)).toDF("event_id", "distance")
    MergeOps.labelOutliers(spark, path + "2", outliers, threshold = 300.0)

    val t = spark.read.parquet(path + "2")
    t.where("is_global_outlier = true").count() shouldBe 2
    val e2 = t.where("event_id = 'e2'").head
    e2.getAs[Double]("global_outlier_distance") shouldBe 812.5
    e2.getAs[Double]("global_outlier_threshold") shouldBe 300.0
    e2.getAs[String]("global_detection_algorithm") shouldBe "MAD"
    t.where("event_id = 'e1'").head.isNullAt(
      t.schema.fieldIndex("global_detection_algorithm")) shouldBe true
  }

  test("deleteWhere removes exactly the predicate hits (A7 outlier purge shape)") {
    val path = freshTable()
    MergeOps.deleteWhere(spark, path, col("bssid") === "bssid0")
    val t = spark.read.parquet(path)
    t.count() shouldBe 7
    t.where("bssid = 'bssid0'").count() shouldBe 0
  }

  private def freshPartitionedTable(): String = {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_merge_part")
      .toString + "/fact"
    (0 until 40).map(i => (s"e$i", i % 4, s"bssid${i % 5}", i.toDouble))
      .toDF("event_id", "day", "bssid", "value")
      .write.partitionBy("day").parquet(path)
    path
  }

  /** (relative path, length) of every data file per partition dir. */
  private def partitionFiles(path: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(path)
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(d => d.getName ->
        d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).toSet)
      .toMap
  }

  test("deleteWherePartitioned rewrites only affected partitions, byte-identical elsewhere") {
    val path = freshPartitionedTable()
    val before = partitionFiles(path)
    // hits live only in day=2 (values 2,6,...38 with day = i%4 == 2 and value > 30)
    val affected = MergeOps.deleteWherePartitioned(
      spark, path, "day", col("day") === 2 && col("value") > 30.0)
    affected shouldBe Seq("2")
    val after = partitionFiles(path)
    after.keySet shouldBe before.keySet
    // untouched partitions: same files, same sizes — never rewritten
    (before.keySet - "day=2").foreach { d => after(d) shouldBe before(d) }
    after("day=2") should not be before("day=2")
    val t = spark.read.parquet(path)
    t.count() shouldBe 38 // e34, e38 purged
    t.where("day = 2").count() shouldBe 8
    t.where("day = 1").count() shouldBe 10
  }

  test("mergeByKeyPartitioned upserts within the named partitions only") {
    import spark.implicits._
    val path = freshPartitionedTable()
    val before = partitionFiles(path)
    val updates = Seq(
      ("e5", 1, "bssid0", 500.0),   // existing key in day=1 → replaced
      ("e99", 1, "bssid9", 999.0))  // new key → appended into day=1
      .toDF("event_id", "day", "bssid", "value")
    val affected = MergeOps.mergeByKeyPartitioned(
      spark, path, "day", updates, "event_id", insertUnmatched = true)
    affected shouldBe Seq("1")
    val after = partitionFiles(path)
    (before.keySet - "day=1").foreach { d => after(d) shouldBe before(d) }
    val t = spark.read.parquet(path)
    t.count() shouldBe 41
    t.where("event_id = 'e5'").head.getAs[Double]("value") shouldBe 500.0
    t.where("event_id = 'e99'").head.getAs[Int]("day") shouldBe 1
  }

  test("mergeByKeyPartitioned creates a brand-new partition on upsert") {
    import spark.implicits._
    val path = freshPartitionedTable()
    val updates = Seq(("e200", 9, "bssid9", 200.0)) // day=9 does not exist yet
      .toDF("event_id", "day", "bssid", "value")
    MergeOps.mergeByKeyPartitioned(
      spark, path, "day", updates, "event_id", insertUnmatched = true) shouldBe Seq("9")
    val t = spark.read.parquet(path)
    t.count() shouldBe 41
    t.where("day = 9").count() shouldBe 1
    // pure UPDATE must refuse to invent partitions
    an[IllegalArgumentException] should be thrownBy
      MergeOps.mergeByKeyPartitioned(
        spark, path, "day",
        Seq(("e300", 12, "b", 1.0)).toDF("event_id", "day", "bssid", "value"),
        "event_id")
  }

  test("labelOutliersPartitioned labels hit keys, byte-identical elsewhere") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_label_part")
      .toString + "/fact"
    (0 until 40).map(i => (s"e$i", i % 4, i.toDouble, Option.empty[Boolean]))
      .toDF("event_id", "day", "value", "is_global_outlier")
      .withColumn("global_outlier_distance", lit(null).cast("double"))
      .withColumn("global_outlier_threshold", lit(null).cast("double"))
      .withColumn("global_detection_algorithm", lit(null).cast("string"))
      .withColumn("global_detection_timestamp", lit(null).cast("timestamp"))
      .withColumn("global_detection_version", lit(null).cast("string"))
      .write.partitionBy("day").parquet(path)
    val before = partitionFiles(path)

    // hits name only day=2 → only that directory may be rewritten
    val hits = Seq(("e2", 812.5, 2), ("e6", 431.0, 2))
      .toDF("event_id", "distance", "day")
    MergeOps.labelOutliersPartitioned(
      spark, path, "day", hits, threshold = 300.0) shouldBe Seq("2")

    val after = partitionFiles(path)
    after.keySet shouldBe before.keySet
    (before.keySet - "day=2").foreach { d => after(d) shouldBe before(d) }
    after("day=2") should not be before("day=2")

    val t = spark.read.parquet(path)
    t.count() shouldBe 40 // UPDATE never changes cardinality
    t.where("is_global_outlier = true").count() shouldBe 2
    val e2 = t.where("event_id = 'e2'").head
    e2.getAs[Double]("global_outlier_distance") shouldBe 812.5
    e2.getAs[String]("global_detection_algorithm") shouldBe "MAD"
    t.where("event_id = 'e3'").head.isNullAt(
      t.schema.fieldIndex("global_detection_algorithm")) shouldBe true
  }

  test("compaction: oversized partitions found and merged, byte-identical elsewhere") {
    import spark.implicits._
    val path = freshPartitionedTable()
    // Accrete small files in day=1 the way the streaming sink does: three
    // single-key merges → three rewrites, each writing its own file set.
    for (i <- Seq(1, 5, 9)) {
      MergeOps.mergeByKeyPartitioned(
        spark, path, "day",
        Seq((s"e$i", 1, "bssidX", i * 100.0)).toDF("event_id", "day", "bssid", "value"),
        "event_id")
    }
    val before = partitionFiles(path)
    val rowsBefore = spark.read.parquet(path).where("day = 1").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[Double]("value"))).toSet

    val oversized = MergeOps.oversizedPartitions(spark, path, "day", maxFiles = 2)
    oversized should contain("1")
    MergeOps.compactPartitions(spark, path, "day", oversized, numFiles = 1)

    val after = partitionFiles(path)
    after("day=1").size shouldBe 1
    (before.keySet -- oversized.map("day=" + _)).foreach { d => after(d) shouldBe before(d) }
    // content-preserving: same rows, same values
    spark.read.parquet(path).where("day = 1").collect()
      .map(r => (r.getAs[String]("event_id"), r.getAs[Double]("value")))
      .toSet shouldBe rowsBefore
    MergeOps.oversizedPartitions(spark, path, "day", maxFiles = 2) shouldBe empty
  }

  test("wide rewrite: >8 partitions rewritten concurrently, correct and artifact-free") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_merge_wide")
      .toString + "/fact"
    (0 until 120).map(i => (s"e$i", i % 12, i.toDouble))
      .toDF("event_id", "day", "value")
      .write.partitionBy("day").parquet(path)
    // every one of the 12 partitions is affected -> exceeds the pool width
    // (each day holds values d, d+12, ..., d+108; value<60 hits 5 of each)
    val affected = MergeOps.deleteWherePartitioned(
      spark, path, "day", col("value") < 60)
    affected shouldBe (0 until 12).map(_.toString).sorted
    val t = spark.read.parquet(path)
    t.count() shouldBe 60
    t.where("value < 60").count() shouldBe 0
    (0 until 12).foreach(d => t.where(s"day = $d").count() shouldBe 5)
    // no swap artifacts left behind by any concurrent branch
    new java.io.File(path).listFiles().map(_.getName)
      .filter(n => n.endsWith(".tmp_rewrite") || n.endsWith(".tmp_old")) shouldBe empty
  }

  test("wide rewrite failure isolation: one bad partition fails after siblings settle") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_merge_fail")
      .toString + "/fact"
    (0 until 40).map(i => (s"e$i", i % 10, i.toDouble))
      .toDF("event_id", "day", "value")
      .write.partitionBy("day").parquet(path)
    val boom = intercept[RuntimeException] {
      MergeOps.rewritePartitions(spark, path, "day",
        (0 until 10).map(_.toString), { (df, v) =>
          if (v == "3") throw new RuntimeException("partition 3 boom")
          df.where(col("value") < 1000) // no-op rewrite
        })
    }
    boom.getMessage should include("partition 3 boom")
    // every partition is still complete and readable: failed ones untouched,
    // successful ones swapped cleanly
    val t = spark.read.parquet(path)
    t.count() shouldBe 40
    (0 until 10).foreach(d => t.where(s"day = $d").count() shouldBe 4)
  }

  test("a crashed partition rewrite is recovered before the next partitioned mutation") {
    val path = freshPartitionedTable()
    // simulate a rewrite of day=2 that died between its renames: the
    // partition lives only at the hidden backup
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(
      new org.apache.hadoop.fs.Path(path + "/day=2"),
      new org.apache.hadoop.fs.Path(
        MergeOps.swapArtifact(path + "/day=2", ".tmp_old"))))
    spark.read.parquet(path).count() shouldBe 30 // reader alone skips the hidden dir

    // the next partitioned mutation must restore day=2 BEFORE planning, so
    // its rows are visible and mutable again
    val affected = MergeOps.deleteWherePartitioned(
      spark, path, "day", col("day") === 2 && col("value") > 30.0)
    affected shouldBe Seq("2")
    val t = spark.read.parquet(path)
    t.count() shouldBe 38
    t.where("day = 2").count() shouldBe 8
  }

  test("partition swap artifacts are hidden from directory discovery") {
    MergeOps.swapArtifact("/tables/fact/day=3", ".tmp_old") shouldBe
      "/tables/fact/.day=3.tmp_old"
  }

  test("rewrite is a swap: table remains readable and complete after mutation") {
    val path = freshTable()
    MergeOps.deleteWhere(spark, path, col("value") > 8.0)
    val t = spark.read.parquet(path)
    t.count() shouldBe 8
    t.columns should contain allOf ("event_id", "bssid", "value")
  }

  test("schema evolution: mergeSchema unifies mixed-version partitions and " +
    "partition-scoped ops preserve each era's own schema") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_schema_evo_spec")
      .toString + "/fact"
    // v1 era (day=0): no quality_weight column; v2 era (day=1): adds it
    Seq(("e0", 0, 10.0), ("e1", 0, 20.0))
      .toDF("event_id", "day", "value")
      .withColumn("data_version", lit("1.0"))
      .write.partitionBy("day").parquet(path)
    Seq(("e2", 1, 30.0, 3.0), ("e3", 1, 40.0, 4.0))
      .toDF("event_id", "day", "value", "quality_weight")
      .withColumn("data_version", lit("2.0"))
      .write.mode("append").partitionBy("day").parquet(path)

    // merged read: union schema, v1 rows surface the added column as NULL
    val unified = spark.read.option("mergeSchema", "true").parquet(path)
    unified.columns should contain allOf
      ("event_id", "value", "data_version", "quality_weight", "day")
    unified.where("data_version = '1.0' AND quality_weight IS NULL").count() shouldBe 2
    unified.where("data_version = '2.0' AND quality_weight IS NOT NULL").count() shouldBe 2

    // a partition-scoped mutation on the v1 partition must not invent the
    // v2 column there (each era keeps its own physical schema — adding
    // nullable columns never forces old-partition rewrites)...
    MergeOps.deleteWherePartitioned(
      spark, path, "day", col("day") === 0 && col("event_id") === "e0")
    spark.read.parquet(path + "/day=0").columns should not contain "quality_weight"
    // ...and compaction preserves the v2 partition's widened schema
    MergeOps.compactPartitions(spark, path, "day", Seq("1"), numFiles = 1)
    val v2 = spark.read.parquet(path + "/day=1")
    v2.columns should contain ("quality_weight")
    v2.count() shouldBe 2
    // merged read after both mutations still unifies
    val after = spark.read.option("mergeSchema", "true").parquet(path)
    after.count() shouldBe 3
    after.where("quality_weight IS NULL").count() shouldBe 1
  }
}
