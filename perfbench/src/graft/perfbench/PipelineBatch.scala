package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.analytics.Lof
import graft.ingest.ScanIngest
import graft.localize.{BatchLocalizer, RefineLoop}
import graft.mutation.VersionedTable

/** `pipeline_batch`: the paper's chain as daily rounds. Each round ingests
  * and dedups one wire file, appends it to a merge-on-read table, purges
  * LOF-isolated rows with an equality delete, and refines the golden record
  * against the persisted state; every [[PipelineBatch.CompactEvery]]th round
  * then bin-packs the table. An epoch is [[PipelineBatch.Days]] rounds on
  * fresh tables. Set-up runs the first epoch's first round, which creates
  * the tables; the timed run goes on from the second round, into further
  * epochs, until the time is up and at least [[PipelineBatch.MinRounds]]
  * rounds are timed. So timed rounds read merge-on-read segments as they
  * build up, and after a compaction a compacted table. */
final class PipelineBatch(ctx: Ctx) extends Workload {
  import PipelineBatch._
  private val spark = ctx.spark
  private val cfg = ScanIngest.Config(nowMillis = Some(World.T0 + 30 * World.DayMs))

  private var plan: Plan = _

  def setup(rep: Int): Unit = {
    val world = World(ctx.seed, Sites)
    val scans = world.scans(i => World.T0 + i * 5000L)
    val rng = new scala.util.Random(ctx.seed * 31L + 7L)
    val perDay = scans.grouped((scans.length + Days - 1) / Days).toIndexedSeq
    val dir = ctx.work.resolve(s"setup$rep")
    java.nio.file.Files.createDirectories(dir)
    val files = perDay.zipWithIndex.map { case (day, d) =>
      val wf = WireFile.build(world, day, rng)
      require(wf.lines.length <= MaxLinesPerFile,
        s"day $d has ${wf.lines.length} lines, over $MaxLinesPerFile")
      val p = dir.resolve(s"day$d.txt")
      java.nio.file.Files.write(p, wf.lines.mkString("\n").getBytes("UTF-8"))
      (p.toString, wf)
    }
    plan = Plan(world, files, expect(world, files.map(_._2)))
    // the first epoch's first round; the last set-up's tables are measured
    epochs.clear()
    epochs += mutable.ArrayBuffer(runRound(dir.resolve("epoch"), files(0)._1, "setup",
      compact = false).copy(day = 0, timed = false))
    // the first, cold set-up also warms on its own tables what round 1
    // leaves cold: an append, a refine against existing state, compaction
    if (rep == 0 && setupReps > 1) {
      val table = dir.resolve("epoch").resolve("table").toString
      VersionedTable.append(spark, table,
        ScanIngest.dedup(ScanIngest.ingest(spark.read.text(files(1)._1), cfg)))
      RefineLoop.run(spark, BatchLocalizer.fromColumns(VersionedTable.read(spark, table),
        "bssid", "latitude", "longitude", "rssi", "quality_weight")(spark),
        dir.resolve("epoch").resolve("state").toString)
      VersionedTable.compactBinpack(spark, table, 8L << 20, 32L << 20)
    }
    epochRoot = dir.resolve("epoch")
  }

  private final case class RoundOut(day: Int, timed: Boolean, ms: Double,
      appendVersion: Long, purged: Long, readVersion: Long, refined: DataFrame)

  private def runRound(root: java.nio.file.Path, file: String, tag: String,
      compact: Boolean): RoundOut = {
    val table = root.resolve("table").toString
    val state = root.resolve("state").toString
    val t0 = System.nanoTime()
    val out = ctx.tracer.span("round", tag) {
      val v = ctx.tracer.span("ingest.append") {
        val rows = ScanIngest.dedup(ScanIngest.ingest(spark.read.text(file), cfg))
        if (VersionedTable.currentVersion(spark, table).isEmpty)
          VersionedTable.create(spark, table, rows)
        else VersionedTable.append(spark, table, rows)
      }
      val (purged, readVersion) = ctx.tracer.span("analytics.lof") {
        val visible = VersionedTable.read(spark, table)
        val isolated = Lof.score(visible.select(col("bssid"),
            xxhash64(col("event_id")).as("point_id"), col("latitude"), col("longitude")))
          .where(col("k_used") === 0).select("point_id").localCheckpoint()
        val (version, n) = VersionedTable.morDelete(spark, table, Seq("event_id"), vis =>
          vis.join(isolated, xxhash64(vis("event_id")) === isolated("point_id"),
            "left_semi"))
        (n, version)
      }
      val refined = ctx.tracer.span("localize.refine") {
        val ms = BatchLocalizer.fromColumns(VersionedTable.read(spark, table),
          "bssid", "latitude", "longitude", "rssi", "quality_weight")(spark)
        RefineLoop.run(spark, ms, state)
      }
      if (compact) ctx.tracer.span("mutation.compact") {
        VersionedTable.compactBinpack(spark, table, 8L << 20, 32L << 20)
      }
      RoundOut(-1, timed = true, 0, v, purged, readVersion, refined)
    }
    out.copy(ms = (System.nanoTime() - t0) / 1e6)
  }

  /** Rounds run, by epoch, and where each epoch keeps its tables. */
  private val epochs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[RoundOut]]
  private var epochRoot: java.nio.file.Path = _
  private val epochRoots = mutable.ArrayBuffer.empty[java.nio.file.Path]

  def measure(seconds: Double): Outcome = {
    val rows = plan.files.map(_._2.validKeys.distinct.length.toLong)
    epochRoots.clear(); epochRoots += epochRoot
    val t0 = System.nanoTime()
    var n = 0
    while (n < MinRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val d = epochs.last.length % Days
      if (d == 0) {
        epochs += mutable.ArrayBuffer.empty
        epochRoots += ctx.work.resolve(s"epoch${epochs.length - 1}")
      }
      epochs.last += runRound(epochRoots.last, plan.files(d)._1, s"e${epochs.length - 1}-d$d",
        compact = (d + 1) % CompactEvery == 0).copy(day = d)
      n += 1
    }
    val rounds = epochs.toSeq.flatten.filter(_.timed)
    Outcome(
      opMs = rounds.map(_.ms),
      rows = rounds.map(r => rows(r.day)).sum.toDouble,
      rowsSeconds = rounds.map(_.ms).sum / 1e3,
      check = () => check(rows),
      info = Seq("days" -> Days, "sites" -> Sites, "aps" -> plan.world.aps.length,
        "timed_rounds" -> rounds.map(r => s"d${r.day}"),
        "round_ms" -> rounds.map(_.ms), "epochs" -> epochs.length,
        "wire_lines_per_day" -> plan.files.map(_._2.lines.length),
        "measurement_rows_per_day" -> rows))
  }

  /** Counts the engine reported, summed over the checked rounds. */
  private var appendedTotal = 0L
  private var purgedTotal = 0L
  private var apsTotal = 0L
  private var appliedTotal = 0L
  private var relocatedTotal = 0L

  private def lastEpoch = epochRoots.last

  private def check(rows: Seq[Long]): Check = {
    val ex = plan.expected
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    epochs.zipWithIndex.foreach { case (rounds, e) =>
      val table = epochRoots(e).resolve("table").toString
      var liveBefore = 0L
      rounds.foreach { r =>
        val d = r.day
        val n = VersionedTable.read(spark, table, Some(r.appendVersion)).count()
        appendedTotal += n - liveBefore
        liveBefore = n - r.purged
        purgedTotal += r.purged
        if (n != ex.afterAppend(d)) {
          failed += math.abs(n - ex.afterAppend(d))
          notes += s"epoch $e round $d: $n rows committed, expected ${ex.afterAppend(d)}"
        }
        if (r.purged != ex.purged(d)) {
          failed += math.abs(r.purged - ex.purged(d))
          notes += s"epoch $e round $d: purged ${r.purged}, expected ${ex.purged(d)}"
        }
        val byMethod = r.refined.groupBy("method").agg(count(lit(1)),
            sum(col("applied").cast("long")), sum(col("relocated").cast("long")))
          .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2), x.getLong(3)))
        val tiers = byMethod.map { case (m, c) => m -> c._1 }.toMap
        apsTotal += tiers.values.sum
        appliedTotal += byMethod.map(_._2._2).sum
        relocatedTotal += byMethod.map(_._2._3).sum
        Seq("wcl", "mle", "bayesian").foreach { m =>
          val got = tiers.getOrElse(m, 0L); val want = ex.tiers(d).getOrElse(m, 0L)
          if (got != want) {
            failed += math.abs(got - want)
            notes += s"epoch $e round $d: $got $m APs, expected $want"
          }
        }
      }
    }
    val lastDay = epochs.last.last.day
    val errs = goldenErrors(lastEpoch.resolve("state").toString)
    val p50 = Stats.quantile(errs, 0.5); val p90 = Stats.quantile(errs, 0.9)
    if (errs.length != ex.localized(lastDay) || p50 > GoldenP50BoundM ||
        p90 > GoldenP90BoundM) {
      failed += 1
      notes += f"golden record: ${errs.length} APs (expected ${ex.localized(lastDay)}), " +
        f"p50 $p50%.1f m (bound $GoldenP50BoundM), p90 $p90%.1f m (bound $GoldenP90BoundM)"
    }
    Check(attempted = epochs.flatten.map(r => rows(r.day)).sum, failed = failed,
      notes = notes.toSeq,
      perLayer = Seq("localize.golden_err_p50_m" -> p50, "localize.golden_err_p90_m" -> p90))
  }

  /** Haversine distance from each golden-record AP to its true position. */
  private def goldenErrors(state: String): IndexedSeq[Double] = {
    val truth = plan.world.aps.map(a => a.mac -> a).toMap
    RefineLoop.readState(spark, state).collect().toIndexedSeq.map { s =>
      val a = truth(s.bssid)
      World.haversine(s.lat, s.lon, a.lat, a.lon)
    }.sorted
  }

  def traced(): Seq[(String, Double)] = {
    val t = ctx.tracer
    val table = lastEpoch.resolve("table").toString
    val appendC = t.countersOf(t.named("ingest.append"))
    // read amplification of the last round's refine read (before that
    // round's compaction): records in its data and delete segments over the
    // rows it saw
    val v = epochs.last.last.readVersion
    val stored = VersionedTable.segmentsOf(spark, table, v)
      .map(s => spark.read.parquet(s"$table/${s.name}").count()).sum
    val live = VersionedTable.read(spark, table, Some(v)).count()
    // bytes written by every stage over the live bytes of every epoch's
    // table and state
    val liveBytes = epochRoots.toSeq.flatMap { root =>
      VersionedTable.segmentBytes(spark, root.resolve("table").toString) ++
        VersionedTable.segmentBytes(spark, root.resolve("state").toString)
    }.map(_._2).sum
    val written = t.countersOf(t.spans.filter(s => s.name != "round")).bytesWritten
    val compact = t.named("mutation.compact")
    val refineSpans = t.named("localize.refine")
    t.stageMetrics("ingest.append", t.named("ingest.append")) ++
      Seq("ingest.append.rows_in" -> appendC.recordsRead.toDouble,
        "ingest.append.rows_out" -> appendedTotal.toDouble) ++
      t.stageMetrics("analytics.lof", t.named("analytics.lof")) ++
      Seq("analytics.lof.outliers" -> purgedTotal.toDouble) ++
      t.stageMetrics("localize.refine", refineSpans) ++
      Seq("localize.refine.aps" -> apsTotal.toDouble,
        "localize.refine.applied" -> appliedTotal.toDouble,
        "localize.refine.relocated" -> relocatedTotal.toDouble,
        "mutation.read_amp" -> stored.toDouble / math.max(1L, live),
        "mutation.compact.s" -> compact.map(_.ms).sum / 1e3,
        "mutation.compact.mb_rewritten" -> t.countersOf(compact).bytesWritten / 1e6,
        "mutation.write_amp" -> written.toDouble / math.max(1L, liveBytes))
  }
}

object PipelineBatch {
  /** With the generator's tier mix, 20 sites give about 2,600 scans, so
    * [[Days]] files of at most [[MaxLinesPerFile]] lines. */
  val Sites = 20
  val Days = 8
  val CompactEvery = 3
  val MinRounds = 3
  /** A day's wire file is one delivery batch of the reference's stream
    * writer, which caps a batch at 500 records (BASELINE.md). */
  val MaxLinesPerFile = 500
  /** Accuracy bounds fixed from the generator's physics before the first
    * run: device fixes lie within 60 m of a site centre and APs within 30 m,
    * so a golden record further out than that has lost its evidence. */
  val GoldenP50BoundM = 30.0
  val GoldenP90BoundM = 60.0

  final case class Expected(afterAppend: IndexedSeq[Long], purged: IndexedSeq[Long],
      tiers: IndexedSeq[Map[String, Long]], localized: IndexedSeq[Int])
  final case class Plan(world: World, files: IndexedSeq[(String, WireFile)],
      expected: Expected)

  /** Replay the rounds on the generator's own rows: append each day's valid
    * distinct rows, drop rows with no same-AP neighbour in their 3×3 LOF
    * cell block, and bucket APs by live N into the localizer's tiers. */
  def expect(world: World, files: Seq[WireFile]): Expected = {
    val live = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val after = mutable.ArrayBuffer.empty[Long]
    val purged = mutable.ArrayBuffer.empty[Long]
    val tiers = mutable.ArrayBuffer.empty[Map[String, Long]]
    val localized = mutable.ArrayBuffer.empty[Int]
    var total = 0L
    files.foreach { f =>
      val seen = mutable.HashSet.empty[(Long, String)]
      f.scans.foreach { sc =>
        sc.validRows.foreach { o =>
          if (seen.add((sc.ts, o.bssid))) {
            live.getOrElseUpdate(o.bssid, mutable.ArrayBuffer.empty) += ((sc.lat, sc.lon))
            total += 1
          }
        }
      }
      after += total
      var p = 0L
      live.foreach { case (_, pts) =>
        def cell(pt: (Double, Double)) =
          (math.floor(pt._1 / World.CellDegrees).toLong,
            math.floor(pt._2 / World.CellDegrees).toLong)
        val counts = pts.groupBy(cell).view.mapValues(_.length).toMap
        val keep = pts.filter { pt =>
          val (cx, cy) = cell(pt)
          val around = (for (dx <- -1L to 1L; dy <- -1L to 1L)
            yield counts.getOrElse((cx + dx, cy + dy), 0)).sum
          around > 1
        }
        p += pts.length - keep.length
        pts.clear(); pts ++= keep
      }
      total -= p
      purged += p
      tiers += live.values.map(_.length).collect {
        case n if n >= BatchLocalizer.BayesianThreshold => "bayesian"
        case n if n >= BatchLocalizer.MleThreshold => "mle"
        case n if n >= BatchLocalizer.BootstrapThreshold => "wcl"
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      localized += live.values.count(_.length >= BatchLocalizer.BootstrapThreshold)
    }
    Expected(after.toIndexedSeq, purged.toIndexedSeq, tiers.toIndexedSeq,
      localized.toIndexedSeq)
  }
}
