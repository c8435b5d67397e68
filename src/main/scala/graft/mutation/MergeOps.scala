package graft.mutation

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** A6–A8 — row-level mutation of the fact table, emulated over plain parquet.
  *
  * The reference relies on Iceberg merge-on-read UPDATE/DELETE
  * (`documents/wifi_measurement_s3_table_schema.md:111-143,69-76`). No
  * Delta/Iceberg jars ship in this environment (checked /opt/spark/jars), so
  * these are documented join-and-rewrite emulations:
  *
  *   UPDATE … WHERE key IN (…)   →  anti-join out the hits, union the
  *                                   updated rows, atomic swap rewrite
  *   DELETE … WHERE pred          →  filtered rewrite
  *
  * Scale notes: a full-table rewrite per mutation is exactly what
  * copy-on-write table formats do; at 100 TB use the partition-scoped
  * variants below (`deleteWherePartitioned` / `mergeByKeyPartitioned`),
  * which rewrite only the affected `partitionCol=value` directories of the
  * ingestion-date layout (`years/months/days(ingestion_timestamp)`). Keep
  * mutations OUT of hot paths; the outlier labeling job (A6) runs
  * periodically, not per-query.
  *
  * The swap is write-new → rename, never read+overwrite in place (a failed
  * overwrite of the file being read would lose the table).
  */
object MergeOps {

  /** Swap artifacts live as DOT-PREFIXED siblings (`.name.tmp_rewrite`,
    * `.name.tmp_old`): Spark/Hadoop readers skip hidden paths, so a stale
    * artifact next to a partition directory can never be mistaken for a
    * partition by directory discovery. */
  private[graft] def swapArtifact(path: String, suffix: String): String = {
    val p = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    new org.apache.hadoop.fs.Path(p.getParent, "." + p.getName + suffix).toString
  }

  /** Atomically replace the directory tree at `path` with whatever
    * `prepare` writes under the hidden staging path it is handed — the
    * two-rename swap every mutation and compaction in this module rides:
    * stale staging from a previous crash is cleared first, then
    * target→backup, staging→target, delete backup.
    *
    * Hadoop's FileSystem.rename reports failure by returning FALSE, not
    * throwing — every step is checked, and a failed staging→target swap
    * rolls the backup straight back so the data is never lost. A crash
    * between the renames leaves the data ONLY at `.name.tmp_old`, which
    * [[recoverIfNeeded]] restores before any read. */
  private[graft] def swapDir(spark: SparkSession, path: String)(
      prepare: String => Unit): Unit = {
    val tmp = swapArtifact(path, ".tmp_rewrite")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    fs.delete(tmpPath, true) // stale staging from a previous crash
    prepare(tmp)
    val target = new org.apache.hadoop.fs.Path(path)
    val backup = new org.apache.hadoop.fs.Path(swapArtifact(path, ".tmp_old"))
    if (fs.exists(backup) && fs.exists(target))
      fs.delete(backup, true) // stale leftover alongside an intact table
    if (!fs.rename(target, backup))
      throw new java.io.IOException(s"rewrite aborted: cannot move $path aside (table untouched)")
    if (!fs.rename(tmpPath, target)) {
      val restored = fs.rename(backup, target) // roll back
      throw new java.io.IOException(
        s"rewrite failed swapping in $tmp" +
          (if (restored) "; original table restored"
           else s"; RESTORE FAILED — original data preserved at $backup"))
    }
    fs.delete(backup, true)
  }

  /** Atomically replace the parquet table at `path` with `updated`. */
  private def rewrite(spark: SparkSession, path: String, updated: DataFrame): Unit =
    swapDir(spark, path)(tmp => updated.write.mode(SaveMode.Overwrite).parquet(tmp))

  /** Crash recovery, run before ANY read of the table: if a previous rewrite
    * died between its two renames, the `.tmp_old` backup IS the table —
    * restore it (deleting it, or reading past it, would lose the data).
    *
    * Public because any caller that gates on `fs.exists(table)` (e.g. the
    * streaming sink's create-vs-merge dispatch) must recover first: the
    * crashed state has the table living only at `.tmp_old`, so a bare
    * existence check would re-create the table and silently drop history. */
  def recoverIfNeeded(spark: SparkSession, path: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val backup = new org.apache.hadoop.fs.Path(swapArtifact(path, ".tmp_old"))
    if (fs.exists(backup) && !fs.exists(target) && !fs.rename(backup, target))
      throw new java.io.IOException(
        s"recovery failed: backup $backup exists but cannot be restored to $path")
  }

  private def readTable(spark: SparkSession, path: String): DataFrame = {
    recoverIfNeeded(spark, path)
    spark.read.parquet(path)
  }

  /** Left-join `hits` (event_id, distance) onto `target` and set the
    * global-outlier columns on the matched rows
    * (`wifi_measurement_s3_table_schema.md:111-126`). No broadcast hint:
    * the hit set is a FRACTION OF THE DATA (it scales with table volume,
    * not with a dimension), so forcing it driver-side is the 100 TB OOM
    * pattern — AQE broadcasts when the set is actually small. */
  private[graft] def applyLabels(
      target: DataFrame,
      hits: DataFrame,
      threshold: Double,
      algorithm: String,
      detectionVersion: String): DataFrame =
    target.join(
      hits.select(col("event_id"), col("distance").as("__dist")),
      Seq("event_id"), "left")
      .withColumn("is_global_outlier",
        when(col("__dist").isNotNull, lit(true)).otherwise(col("is_global_outlier")))
      .withColumn("global_outlier_distance",
        when(col("__dist").isNotNull, col("__dist")).otherwise(col("global_outlier_distance")))
      .withColumn("global_outlier_threshold",
        when(col("__dist").isNotNull, lit(threshold)).otherwise(col("global_outlier_threshold")))
      .withColumn("global_detection_algorithm",
        when(col("__dist").isNotNull, lit(algorithm)).otherwise(col("global_detection_algorithm")))
      .withColumn("global_detection_timestamp",
        when(col("__dist").isNotNull, current_timestamp())
          .otherwise(col("global_detection_timestamp")))
      .withColumn("global_detection_version",
        when(col("__dist").isNotNull, lit(detectionVersion))
          .otherwise(col("global_detection_version")))
      .drop("__dist")

  /** A6 outlier labeling — the schema doc's canonical UPDATE: set the
    * global-outlier columns for the given (event_id → distance) map.
    * Full-table form; prefer `labelOutliersPartitioned` on the
    * ingestion-date layout. */
  def labelOutliers(
      spark: SparkSession,
      path: String,
      outlierDistances: DataFrame, // (event_id, distance)
      threshold: Double,
      algorithm: String = "MAD",
      detectionVersion: String = "1.0"): Unit = {
    val target = readTable(spark, path)
    rewrite(spark, path,
      applyLabels(target, outlierDistances, threshold, algorithm, detectionVersion))
  }

  /** A7/A8 — DELETE WHERE pred (outlier purge / hotspot purge:
    * `wifi_measurement_s3_table_schema.md:130-143`). */
  def deleteWhere(spark: SparkSession, path: String, pred: Column): Unit = {
    val target = readTable(spark, path)
    rewrite(spark, path, target.where(!coalesce(pred, lit(false))))
  }

  // ---- partition-scoped copy-on-write ---------------------------------------
  //
  // The production shape at 100 TB: the fact table is laid out by ingestion
  // date (`years/months/days(ingestion_timestamp)`, schema doc :49-57) and a
  // mutation batch touches a handful of recent partitions — rewriting the
  // whole table per UPDATE is the scale-killer these variants remove. Only
  // the affected `partitionCol=value` directories are read and swapped; every
  // other partition is untouched (no read, no write, files bit-identical).

  /** Partition-level crash recovery, run before ANY read of a partitioned
    * table: if a previous partition rewrite died between its two renames,
    * that partition lives ONLY at its hidden `.name.tmp_old` sibling — every
    * normal read skips hidden paths, so without this sweep the partition
    * would silently vanish, and `affectedPartitions` (seeing no rows) would
    * never even name it for per-directory recovery. Lists the table root
    * once; cost is O(partition count). */
  def recoverPartitionsIfNeeded(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val Backup = "^\\.(.+)\\.tmp_old$".r
    fs.listStatus(root).foreach { st =>
      st.getPath.getName match {
        case Backup(orig) =>
          val target = new org.apache.hadoop.fs.Path(root, orig)
          if (!fs.exists(target) && !fs.rename(st.getPath, target))
            throw new java.io.IOException(
              s"recovery failed: backup ${st.getPath} cannot be restored to $target")
        case _ => ()
      }
    }
  }

  /** Distinct `partitionCol` values holding rows that match `pred`. The scan
    * is partition-pruned when `pred` constrains `partitionCol` and
    * column-pruned always; the result is driver-side but partition-count
    * sized (dates, not rows). */
  def affectedPartitions(
      spark: SparkSession, path: String, partitionCol: String, pred: Column): Seq[String] = {
    recoverPartitionsIfNeeded(spark, path)
    readTable(spark, path)
      .where(pred)
      .select(col(partitionCol).cast("string"))
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
      // code-point order (graft.functions.Collation): partition VALUES are
      // user strings; engine-collation order keeps the processing /
      // first-failure order consistent with every engine-side sort of the
      // same values
      .sorted(graft.functions.Collation.ordering)
  }

  /** Apply `transform` to exactly the named partition directories, each via
    * the same write-new → atomic-swap → recover protocol as full rewrites.
    * `transform` sees the partition column (basePath read) and its output
    * may drop it — the directory name IS the value.
    *
    * Partition rewrites run CONCURRENTLY on a bounded pool
    * (`maxConcurrency` driver threads): each partition's
    * read→transform→write→swap is independent of every other (disjoint
    * directories, disjoint swap artifacts), and Spark schedules jobs
    * submitted from multiple threads side by side — so a wide purge
    * touching 30 dates overlaps its 30 commit waits instead of paying
    * them serially (a real table format parallelizes its manifest
    * commits the same way). An ordinary task FAILURE doesn't abort
    * siblings mid-swap — each of those partitions still completes or
    * rolls back on its own — and the first failure (in partition order,
    * for determinism) is rethrown after all have settled. CANCELLATION is
    * weaker: an interrupt can land on a sibling between its two renames,
    * leaving that partition only at its hidden `.tmp_old` backup — a
    * CRASH-EQUIVALENT state, not data loss: the next
    * `recoverPartitionsIfNeeded` / `recoverIfNeeded` sweep (run before
    * any read) restores it, exactly as if the process had died there. */
  def rewritePartitions(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      values: Seq[String],
      transform: (DataFrame, String) => DataFrame,
      maxConcurrency: Int = 8): Unit = {
    if (values.isEmpty) return
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(values.length, maxConcurrency)))
    try {
      val tasks = values.map { v =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val dir = s"${path.stripSuffix("/")}/$partitionCol=$v"
            recoverIfNeeded(spark, dir)
            val cur = spark.read.option("basePath", path).parquet(dir)
            val out = transform(cur, v)
            val dropped =
              if (out.columns.contains(partitionCol)) out.drop(partitionCol) else out
            rewrite(spark, dir, dropped)
          }
        })
      }
      var firstFailure: Throwable = null
      var interrupted = false
      tasks.foreach { t =>
        try t.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstFailure == null) firstFailure = e.getCause
          case e @ (_: InterruptedException |
                    _: java.util.concurrent.CancellationException) =>
            // don't escape mid-loop: cancel the siblings, keep settling,
            // and restore interrupt status after the pool is torn down.
            // cancel(true) may interrupt a sibling between its two
            // renames — that partition is then parked at .tmp_old until
            // the pre-read recovery sweep, the same state a crash leaves
            if (firstFailure == null) firstFailure = e
            interrupted = interrupted || e.isInstanceOf[InterruptedException]
            tasks.foreach(_.cancel(true))
        }
      }
      if (firstFailure != null) {
        if (interrupted) {
          pool.shutdownNow()
          try pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
          catch { case _: InterruptedException => () }
          Thread.currentThread().interrupt()
        }
        throw firstFailure
      }
    } finally {
      pool.shutdown(); ()
    }
  }

  /** DELETE WHERE pred, rewriting only partitions that contain matches. */
  def deleteWherePartitioned(
      spark: SparkSession, path: String, partitionCol: String, pred: Column): Seq[String] = {
    val affected = affectedPartitions(spark, path, partitionCol, pred)
    rewritePartitions(spark, path, partitionCol, affected,
      (df, _) => df.where(!coalesce(pred, lit(false))))
    affected
  }

  /** Keyed UPDATE/MERGE scoped to the partitions named in `updates`, which
    * must carry `partitionCol`. Assumes keys are partition-local (an event
    * is written under one ingestion date, never two) — the layout the
    * schema doc prescribes. Unmatched update rows are appended into their
    * partition when `insertUnmatched`. */
  def mergeByKeyPartitioned(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      updates: DataFrame,
      key: String,
      insertUnmatched: Boolean = false): Seq[String] = {
    recoverPartitionsIfNeeded(spark, path)
    val affected = updates.select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
      .sorted(graft.functions.Collation.ordering)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (existing, fresh) = affected.partition(v =>
      fs.exists(new org.apache.hadoop.fs.Path(s"${path.stripSuffix("/")}/$partitionCol=$v")))
    // Brand-new partition values (today's date in the upsert flow): nothing
    // to merge with — create the directory from the update slice. Same
    // write-hidden-tmp → atomic-rename protocol as rewrite(): a direct write
    // that crashes mid-flight would leave a partial final directory that the
    // replayed batch classifies as 'existing', and the merge then fails on a
    // schemaless read with nothing recoverPartitionsIfNeeded can restore. A
    // crashed tmp is hidden (readers skip it) and simply overwritten on
    // replay; a crash after the rename replays as an idempotent upsert merge.
    fresh.foreach { v =>
      if (!insertUnmatched)
        throw new IllegalArgumentException(
          s"mergeByKeyPartitioned: partition $partitionCol=$v does not exist and " +
            "insertUnmatched = false (pure UPDATE cannot create partitions)")
      val dir = s"${path.stripSuffix("/")}/$partitionCol=$v"
      val tmp = swapArtifact(dir, ".tmp_rewrite")
      updates.where(col(partitionCol).cast("string") === v)
        .drop(partitionCol)
        .write.mode(SaveMode.Overwrite)
        .parquet(tmp)
      if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir)))
        throw new java.io.IOException(
          s"mergeByKeyPartitioned: cannot move fresh partition $tmp into place at $dir")
    }
    rewritePartitions(spark, path, partitionCol, existing, { (cur, v) =>
      val slice = updates.where(col(partitionCol).cast("string") === v)
      val untouched = cur.join(slice.select(col(key)).distinct(), Seq(key), "left_anti")
      val matched =
        if (insertUnmatched) slice
        else slice.join(cur.select(col(key)).distinct(), Seq(key), "left_semi")
      untouched.unionByName(matched.select(cur.columns.map(col): _*))
    })
    affected
  }

  /** Partitions whose data-file count exceeds `maxFiles` — the compaction
    * candidates. The streaming sink's per-micro-batch merges (and any
    * repeated point mutations) accrete one file set per rewrite; at 100 TB
    * unchecked small files dominate scan open/seek cost, so a periodic
    * maintenance job compacts them (the reference's Iceberg counterpart is
    * `rewrite_data_files`). Listing is O(files in partition dirs), driver-
    * side but partition-count bounded. */
  def oversizedPartitions(
      spark: SparkSession, path: String, partitionCol: String, maxFiles: Int): Seq[String] = {
    recoverPartitionsIfNeeded(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = partitionCol + "="
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .filter { st =>
        fs.listStatus(st.getPath).count(f =>
          f.isFile && !f.getPath.getName.startsWith("_")) > maxFiles
      }
      .map(_.getPath.getName.stripPrefix(prefix))
      .sorted(graft.functions.Collation.ordering)
  }

  /** Compact the named partitions to `numFiles` files each — a
    * content-preserving rewrite through the same atomic-swap protocol
    * (readers never see a partial partition; untouched partitions stay
    * byte-identical). `coalesce`, not `repartition`: compaction must not
    * pay a shuffle to merge files. */
  def compactPartitions(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      values: Seq[String],
      numFiles: Int = 1): Unit =
    rewritePartitions(spark, path, partitionCol, values,
      (df, _) => df.coalesce(numFiles))

  /** A6 outlier labeling scoped to the partitions named in the hit set —
    * the production shape: detection runs over a recent ingestion-date
    * window, so `outlierDistances` (event_id, distance, partitionCol)
    * names a handful of partitions and ONLY those directories are
    * rewritten; every other partition's files stay byte-identical.
    * Returns the rewritten partition values. */
  def labelOutliersPartitioned(
      spark: SparkSession,
      path: String,
      partitionCol: String,
      outlierDistances: DataFrame, // (event_id, distance, partitionCol)
      threshold: Double,
      algorithm: String = "MAD",
      detectionVersion: String = "1.0"): Seq[String] = {
    recoverPartitionsIfNeeded(spark, path)
    val affected = outlierDistances.select(col(partitionCol).cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
      .sorted(graft.functions.Collation.ordering)
    rewritePartitions(spark, path, partitionCol, affected, { (cur, v) =>
      val hits = outlierDistances.where(col(partitionCol).cast("string") === v)
      applyLabels(cur, hits, threshold, algorithm, detectionVersion)
    })
    affected
  }
}
