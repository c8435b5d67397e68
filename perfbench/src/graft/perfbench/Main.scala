package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

import graft.plans.GraftSession

/** What a workload hands every other part of the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
    args: Map[String, String])

/** The outcome of the measured phase. `opMs` are the latencies of the
  * workload's unit operation; `rows` items were processed in
  * `rowsSeconds` of wall time. `check` runs after timing stops. */
final case class Outcome(opMs: Seq[Double], rows: Double, rowsSeconds: Double,
    check: () => Check, info: Seq[(String, Any)])

final case class Check(attempted: Long, failed: Long, notes: Seq[String],
    perLayer: Seq[(String, Double)] = Nil)

trait Workload {
  /** Generate inputs and warm up; called [[setupReps]] times, the last
    * call's inputs are measured. */
  def setup(rep: Int): Unit
  def setupReps: Int = Main.SetupReps
  def measure(seconds: Double): Outcome
  /** Per-layer metrics from the tracer, after the check. */
  def traced(): Seq[(String, Double)]
}

object Stats {
  /** Linear-interpolated quantile of a sample (0 for an empty one). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> [--launch-ms <epoch ms>]`. Prints one JSON
  * line, the last on stdout. */
object Main {
  val SetupReps = 3

  /** Per-layer metrics of a traced run of the workloads in BENCHMARK.json,
    * in its order; a layer a workload leaves idle reads 0. */
  val PerLayer: Seq[String] = {
    val stage = Seq("s", "jobs", "tasks", "task_s", "cpu_s", "shuffle_mb", "spill_mb",
      "driver_gap_s")
    stage.map("ingest.append." + _) ++ Seq("ingest.append.rows_in", "ingest.append.rows_out") ++
      stage.map("analytics.lof." + _) ++ Seq("analytics.lof.outliers") ++
      stage.map("localize.refine." + _) ++
      Seq("localize.refine.aps", "localize.refine.applied", "localize.refine.relocated",
        "localize.golden_err_p50_m", "localize.golden_err_p90_m",
        "mutation.read_amp", "mutation.compact.s", "mutation.compact.mb_rewritten",
        "mutation.write_amp",
        "serve.small.jobs_per_call", "serve.small.tasks_per_call", "serve.small.plan_ms_p50",
        "serve.small.driver_gap_ms_p50", "serve.small.task_ms_p50") ++
      stage.map("serve.bulk." + _) ++
      Seq("serve.score_err_p50_m", "algo.position_us_p50", "algo.position_us_p95",
        "bench.trace_overhead_ratio")
  }

  val workloads: Map[String, Ctx => Workload] = Map(
    "pipeline_batch" -> (c => new PipelineBatch(c)),
    "positioning" -> (c => new Positioning(c)),
    "stream_ingest" -> (c => new StreamIngest(c)),
    "query_canary" -> (c => new QueryCanary(c)))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    require(workloads.contains(name), s"unknown workload $name")
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val launchMs = args.get("launch-ms").map(_.toLong)
    val nproc = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)

    val tSession = System.nanoTime()
    val spark = GraftSession.builder(nproc)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // JVM start (from the launcher's clock when given) to a usable session
    val sessionS = launchMs.map(l => (System.currentTimeMillis() - l) / 1e3)
      .getOrElse((System.nanoTime() - tSession) / 1e9)

    try {
      val tracer = new Tracer(spark, trace)
      val ctx = Ctx(spark, tracer, work, args("seed").toLong, args)
      val w = workloads(name)(ctx)
      val setupS = (0 until w.setupReps).map { rep =>
        val t0 = System.nanoTime()
        w.setup(rep)
        (System.nanoTime() - t0) / 1e9
      }
      tracer.clear()
      val tMeasure = System.nanoTime()
      val out = w.measure(seconds)
      val measureS = (System.nanoTime() - tMeasure) / 1e9
      val heapMb = liveHeapMb()
      val tCheck = System.nanoTime()
      val check = out.check()
      val checkS = (System.nanoTime() - tCheck) / 1e9
      tracer.flush()
      val layer = if (trace) check.perLayer ++ w.traced() else Nil
      // the N-thread job takes seconds, so only traced runs pay for it
      val (calib1t, calibNt) = calibrate(spark, withJob = trace)

      val e2e = Seq(
        ("setup_s", sessionS + Stats.median(setupS), "s"),
        ("op_p50_ms", Stats.median(out.opMs), "ms"),
        ("rows_per_s", out.rows / out.rowsSeconds, "rows/s"),
        ("heap_live_mb", heapMb, "MB"))
      val metrics =
        if (!trace) e2e.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }
        else {
          val got = (layer :+ ("bench.trace_overhead_ratio" ->
            tracer.overheadMs / math.max(1.0, tracer.spans.filter(_.parent == 0)
              .map(_.ms).sum))).toMap
          val names = PerLayer ++ layer.map(_._1).filterNot(PerLayer.contains)
          names.map(k => k -> ListMap("value" -> got.getOrElse(k, 0.0), "unit" -> unitOf(k)))
        }
      if (trace) tracer.writeTo(work.resolve("spans.jsonl"))
      val info = Seq("workload" -> name, "seed" -> ctx.seed, "nproc" -> nproc,
        "calib_1t" -> calib1t, s"calib_${nproc}t" -> calibNt,
        "setup_session_s" -> sessionS, "setup_reps_s" -> setupS,
        "measure_s" -> measureS, "check_s" -> checkS,
        "op_count" -> out.opMs.length,
        "op_p90_ms" -> Stats.quantile(out.opMs, 0.9), "end_to_end" -> e2e.map(x => x._1 -> x._2).toMap,
        "check_notes" -> check.notes.take(20)) ++ out.info
      println(Json.obj(Seq("info" -> ListMap(info: _*))))
      println(Json.obj(Seq("correct" -> (check.failed == 0),
        "attempted" -> math.max(1L, check.attempted), "failed" -> check.failed,
        "metrics" -> ListMap(metrics: _*))))
    } finally spark.stop()
  }

  private def unitOf(k: String): String = {
    val last = k.split('.').last
    if (last == "s" || last.endsWith("_s")) "s"
    else if (last.endsWith("_ms") || last.contains("_ms_")) "ms"
    else if (last.contains("_us_")) "us"
    else if (last.endsWith("_mb") || last.endsWith("mb_rewritten")) "MB"
    else if (last.endsWith("_m")) "m"
    else if (last.contains("ratio") || last.endsWith("_amp")) "ratio"
    else "count"
  }

  /** Driver heap in use after full collections. Each collection lets the
    * context cleaner drop the blocks of checkpoints it found unreachable,
    * so collect until the figure stops falling. */
  private def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = {
      System.gc(); Thread.sleep(300)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }
    var last = collect()
    var now = collect()
    var n = 2
    while (now < last - 1.0 && n < 8) { last = now; now = collect(); n += 1 }
    now
  }

  /** Host speed at measurement time: the same single-thread spin and
    * `range(1.5e9)` job as `graft.Bench`'s calibration. */
  private def calibrate(spark: SparkSession, withJob: Boolean): (Double, Double) = {
    def spin(): Double = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0L
      while (i < 400000000L) { x += i * 2654435761L; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    spin()
    val oneT = spin()
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    def job(): Double = {
      val t0 = System.nanoTime()
      spark.range(1500000000L).select(sum(pmod(xxhash64(col("id")), lit(1000L)))).head()
      (System.nanoTime() - t0) / 1e9
    }
    if (!withJob) (oneT, -1.0)
    else {
      job()
      (oneT, job())
    }
  }
}
