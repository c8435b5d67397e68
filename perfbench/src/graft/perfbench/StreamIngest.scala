package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ingest.ScanIngest
import graft.streaming.IngestStream

/** `stream_ingest`: open-loop file arrival into `IngestStream.fromFiles` →
  * `IngestStream.writer` (MergeOps partition merges) under a processing-time
  * trigger, then a pre-staged backlog drained with the writer's own
  * AvailableNow trigger. A generator thread stages one wire file every
  * 1/[[StreamIngest.FilesPerSecond]] s on a fixed schedule; it never waits
  * for the engine. Each file holds exactly [[StreamIngest.LinesPerFile]]
  * lines and a tenth of the files replay an earlier file (at-least-once
  * delivery). Scan times trail an upload clock that advances ten minutes per
  * file: most scans by under ten minutes, [[StreamIngest.LateShare]] of them
  * by up to six hours (device upload delay). */
final class StreamIngest(ctx: Ctx) extends Workload {
  import StreamIngest._
  private val spark = ctx.spark
  private val cfg = ScanIngest.Config(nowMillis = Some(World.T0 + 60 * World.DayMs))

  /** The files staged in the open loop and in the backlog, in order; a
    * replay is the same [[WireFile]] as the file it repeats. */
  private final case class Plan(openLoop: IndexedSeq[WireFile], backlog: IndexedSeq[WireFile])

  private def plan(seed: Long, nOpen: Int, nBacklog: Int): Plan = {
    val perFile = ScansPerFile
    val world = World(seed, Sites, tierWeights = Seq(0.2, 0.25, 0.25, 0.3, 0.0))
    val rng = new scala.util.Random(seed * 6151L + 11L)
    // upload delay: most scans arrive within minutes, a share hours late
    val scans = world.scans { i =>
      val delayMs =
        if (rng.nextDouble() < LateShare) 600000L + (rng.nextDouble() * 5.5 * 3600000L).toLong
        else (rng.nextDouble() * 600000L).toLong
      World.T0 + (i / perFile) * UploadStepMs - delayMs
    }
    val fresh = mutable.ArrayBuffer.empty[WireFile]
    val slots = (0 until nOpen + nBacklog).map { k =>
      if (k > 0 && rng.nextDouble() < ReplayShare) fresh(rng.nextInt(fresh.length))
      else {
        val off = fresh.length * perFile
        require(off + perFile <= scans.length, "world too small for the stream plan")
        fresh += WireFile.build(world, scans.slice(off, off + perFile), rng,
          dups = 2, padTo = LinesPerFile)
        fresh.last
      }
    }
    Plan(slots.take(nOpen), slots.drop(nOpen))
  }

  private def stage(f: WireFile, dir: Path, name: String): Unit = {
    val tmp = ctx.work.resolve("staging").resolve(name)
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, f.lines.mkString("\n").getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private final case class Progress(runId: String, batchId: Long, rows: Long,
      endMs: Long, durations: Map[String, Long])

  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      progress.add(Progress(p.runId.toString, p.batchId, p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L),
        d))
      ()
    }
  })

  private def start(in: Path, root: Path, trigger: Option[Trigger]) = {
    val w = IngestStream.writer(
      IngestStream.fromFiles(spark, in.toString, MaxFilesPerTrigger, cfg),
      root.resolve("table").toString, root.resolve("checkpoint").toString)
    trigger.fold(w)(w.trigger).start()
  }

  def setup(rep: Int): Unit = {
    // warm-up: a small world's files drained once through the shipped writer
    val p = plan(ctx.seed + 7777L * (rep + 1), 0, WarmFiles)
    val root = ctx.work.resolve(s"warm$rep")
    val in = root.resolve("in")
    Files.createDirectories(in)
    p.backlog.zipWithIndex.foreach { case (f, k) => stage(f, in, f"w$k%04d.txt") }
    start(in, root, None).awaitTermination()
  }

  private var measured: Plan = _
  private var root: Path = _
  private var openRuns: Set[String] = Set.empty
  private var drainRun = ""
  private var lateMs = IndexedSeq.empty[Long]
  private var backlogMax = 0L
  private var unconsumed = 0

  /** File name → micro-batch id, from the file source's metadata log. */
  private def sourceLog(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    val entry = """\{"path":"[^"]*/([^"/]+)".*"batchId":(\d+)""".r.unanchored
    if (!Files.isDirectory(dir)) Map.empty
    else Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .collect { case entry(name, b) => name -> b.toLong }.toMap
  }

  def measure(seconds: Double): Outcome = {
    val nOpen = math.max(1, math.round(seconds * FilesPerSecond).toInt)
    measured = plan(ctx.seed, nOpen, BacklogFiles)
    root = ctx.work.resolve("stream")
    val in = root.resolve("in")
    Files.createDirectories(in)
    progress.clear()

    // open loop: the schedule is fixed up front and never waits for the engine
    val openSpan = ctx.tracer.open("streaming.open_loop")
    val q = start(in, root, Some(Trigger.ProcessingTime(TriggerMs)))
    val periodMs = 1000.0 / FilesPerSecond
    val t0 = System.currentTimeMillis() + 200
    val due = (0 until nOpen).map(k => t0 + math.round(k * periodMs))
    val written = new Array[Long](nOpen)
    val gen = new Thread(() => {
      measured.openLoop.zipWithIndex.foreach { case (f, k) =>
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        stage(f, in, f"f$k%05d.txt")
        written(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    // let the engine catch up: the batch holding the last file has reported
    val last = f"f${nOpen - 1}%05d.txt"
    val deadline = System.currentTimeMillis() + CatchUpMs
    def caughtUp = sourceLog(root.resolve("checkpoint")).get(last).exists(b =>
      progress.asScala.exists(p => p.runId == q.runId.toString && p.batchId == b))
    while (!caughtUp && System.currentTimeMillis() < deadline) Thread.sleep(50)
    q.stop()
    ctx.tracer.close(openSpan)
    val stoppedMs = System.currentTimeMillis()
    openRuns = Set(q.runId.toString)
    lateMs = due.indices.map(k => written(k) - due(k))

    // delivery latency: file k is done when the micro-batch that read it
    // ends; the file source's log names each file's batch
    val batchOf = sourceLog(root.resolve("checkpoint"))
    val endOf = progress.asScala.filter(_.runId == q.runId.toString)
      .map(p => p.batchId -> p.endMs).toMap
    val doneMs = (0 until nOpen).map(k =>
      batchOf.get(f"f$k%05d.txt").flatMap(endOf.get).getOrElse(stoppedMs))
    val latency = due.indices.map(k => (doneMs(k) - due(k)).toDouble)
    backlogMax = endOf.values.map { end =>
      written.count(w => w > 0 && w <= end) - doneMs.count(_ <= end)
    }.foldLeft(0)(math.max).toLong
    unconsumed = (0 until nOpen).count(k => !batchOf.contains(f"f$k%05d.txt"))

    // backlog: staged while nothing runs, then drained with AvailableNow
    measured.backlog.zipWithIndex.foreach { case (f, k) =>
      stage(f, in, f"f${nOpen + k}%05d.txt")
    }
    val before = tableRows()
    val td = System.nanoTime()
    val dq = ctx.tracer.span("streaming.drain") {
      val dq = start(in, root, None)
      dq.awaitTermination()
      dq
    }
    val drainS = (System.nanoTime() - td) / 1e9
    drainRun = dq.runId.toString
    val drained = tableRows() - before
    Outcome(
      opMs = latency,
      rows = drained.toDouble,
      rowsSeconds = drainS,
      check = () => check(),
      info = Seq("sites" -> Sites, "open_loop_files" -> nOpen,
        "backlog_files" -> BacklogFiles, "lines_per_file" -> LinesPerFile,
        "files_per_s" -> FilesPerSecond, "trigger_ms" -> TriggerMs,
        "max_files_per_trigger" -> MaxFilesPerTrigger,
        "replay_files" -> (measured.openLoop ++ measured.backlog).distinct.length,
        "staged_rows" -> expectedIds.size, "drain_rows" -> drained,
        "open_loop_unconsumed_files" -> unconsumed))
  }

  private def tableRows(): Long = {
    val t = root.resolve("table")
    if (Files.exists(t)) spark.read.parquet(t.toString).count() else 0L
  }

  private lazy val expectedIds: Set[String] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (measured.openLoop ++ measured.backlog).distinct.flatMap(_.validKeys).map {
      case (ts, bssid) =>
        md.digest(s"$ts:$bssid".getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
    }.toSet
  }

  private var lossRatio = 0.0

  /** Committed event_ids against the staged valid distinct ones: missing,
    * unexpected and duplicated ids all count as failed rows. */
  private def check(): Check = {
    val ids = spark.read.parquet(root.resolve("table").toString)
      .select(col("event_id")).collect().map(_.getString(0))
    val got = ids.toSet
    val missing = expectedIds.count(id => !got.contains(id))
    val extra = got.count(id => !expectedIds.contains(id))
    val dups = ids.length - got.size
    lossRatio = missing.toDouble / expectedIds.size
    val notes =
      if (missing + extra + dups == 0) Nil
      else Seq(s"stream table: $missing of ${expectedIds.size} staged rows missing, " +
        s"$extra unexpected, $dups duplicated")
    Check(expectedIds.size.toLong, (missing + extra + dups).toLong, notes,
      Seq("streaming.loss_ratio" -> lossRatio))
  }

  def traced(): Seq[(String, Double)] = {
    val t = ctx.tracer
    val open = progress.asScala.filter(p => openRuns(p.runId) && p.rows > 0).toSeq
    def p50(k: String) = Stats.median(open.map(_.durations.getOrElse(k, 0L).toDouble))
    val runs = openRuns + drainRun
    val groups = t.foreignGroups.filter(runs)
    val c = new Counters
    groups.foreach(g => c.add(t.countersOfGroup(g)))
    val tableBytes = Files.walk(root.resolve("table")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum
    Seq(
      "streaming.batch_ms_p50" -> p50("triggerExecution"),
      "streaming.batch_ms_max" ->
        open.map(_.durations.getOrElse("triggerExecution", 0L).toDouble).foldLeft(0.0)(math.max),
      "streaming.add_batch_ms_p50" -> p50("addBatch"),
      "streaming.planning_ms_p50" -> p50("queryPlanning"),
      "streaming.source_ms_p50" ->
        Stats.median(open.map(b => (b.durations.getOrElse("latestOffset", 0L) +
          b.durations.getOrElse("getBatch", 0L)).toDouble)),
      "streaming.batches" -> progress.asScala.count(p => runs(p.runId) && p.rows > 0).toDouble,
      "streaming.backlog_files_max" -> backlogMax.toDouble,
      "streaming.jobs" -> c.jobs.toDouble,
      "streaming.task_s" -> c.taskMs / 1e3,
      "streaming.shuffle_mb" -> c.shuffleBytes / 1e6,
      "mutation.merge_write_amp" -> c.bytesWritten.toDouble / math.max(1L, tableBytes),
      "bench.gen_late_ms_max" -> lateMs.foldLeft(0L)(math.max).toDouble)
  }
}

object StreamIngest {
  val Sites = 30
  val ScansPerFile = 16
  val LinesPerFile = 20
  /** Upload clock advance per fresh file, and the share of scans uploaded
    * more than ten minutes (up to six hours) after they were taken. */
  val UploadStepMs = 600000L
  val LateShare = 0.3
  val ReplayShare = 0.1
  val FilesPerSecond = 2.0
  val TriggerMs = 500L
  val MaxFilesPerTrigger = 10
  val BacklogFiles = 20
  val WarmFiles = 10
  val CatchUpMs = 30000L
}
