package graft.perfbench

import java.nio.file.Files

import scala.collection.mutable

import graft.SparkEntry

/** `query_canary`: a fixed subset of `graft.Bench`'s frozen canary, on the
  * sf0.001 tables shipped with the benchmark (`--sf-dir` names them). Each
  * set-up is one pass over the subset; the first is cold, so JIT, codegen
  * and scan set-up land there. The measured phase repeats warm passes, each
  * in its own seed-shuffled order, until the time is up. Each result is
  * then dumped as parquet with the oracle SQL beside it for the launcher's
  * DuckDB compare. */
final class QueryCanary(ctx: Ctx) extends Workload {
  import QueryCanary._
  private val spark = ctx.spark
  private val sfDir = ctx.args.getOrElse("sf-dir",
    throw new IllegalArgumentException("query_canary needs --sf-dir <sf tables>"))
  private val rng = new scala.util.Random(ctx.seed)

  private def run(n: String): Long = {
    val rows = SparkEntry.queries(n)(spark, sfDir).count()
    // as in Bench: release the previous query's checkpoint blocks
    System.gc()
    rows
  }

  def setup(rep: Int): Unit = rng.shuffle(Subset).foreach(run)

  private var timed: Seq[(String, Double, Long)] = Nil

  def measure(seconds: Double): Outcome = {
    val buf = mutable.ArrayBuffer.empty[(String, Double, Long)]
    val t0 = System.nanoTime()
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      rng.shuffle(Subset).foreach { n =>
        val q0 = System.nanoTime()
        val rows = ctx.tracer.span(s"queries.$n") { run(n) }
        buf += ((n, (System.nanoTime() - q0) / 1e6, rows))
      }
      passes += 1
    }
    timed = buf.toSeq
    val ms = timed.map(_._2)
    Outcome(
      opMs = ms,
      rows = timed.length.toDouble,
      rowsSeconds = ms.sum / 1e3,
      check = () => check(),
      info = Seq("sf_dir" -> java.nio.file.Paths.get(sfDir).getFileName.toString,
        "queries" -> Subset, "passes" -> passes, "pass_s" -> ms.sum / 1e3 / passes))
  }

  /** Dump each query's result once for the launcher's DuckDB compare;
    * every timed run of a query must give the dump's row count, and a
    * rows-only entry (no oracle SQL) a non-zero one. `attempted` counts
    * timed query runs. */
  private def check(): Check = {
    val dir = ctx.work.resolve("canary")
    val oracle = SparkEntry.oracleSql
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    timed.groupBy(_._1).foreach { case (n, runs) =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val rows =
        if (oracle.contains(n)) {
          df.write.parquet(dir.resolve(n).toString)
          spark.read.parquet(dir.resolve(n).toString).count()
        } else df.count()
      val bad = runs.count(r => r._3 != rows || rows == 0)
      if (bad > 0) {
        failed += bad
        notes += s"$n: timed runs gave ${runs.map(_._3).distinct.mkString("/")} rows, " +
          s"the checked run $rows"
      }
    }
    Files.createDirectories(dir)
    Files.write(dir.resolve("oracle_sql.json"), Json.value(
      oracle.filter { case (n, _) => Subset.contains(n) }).getBytes("UTF-8"))
    Check(timed.length.toLong, failed, notes.toSeq)
  }

  /** Per query its median warm wall; the canary's counters per pass. */
  def traced(): Seq[(String, Double)] = {
    val t = ctx.tracer
    val spans = t.spans.filter(_.name.startsWith("queries."))
    val c = t.countersOf(spans)
    val passes = timed.length.toDouble / Subset.length
    val s = spans.map(_.ms).sum / 1e3
    Subset.map(n => s"queries.$n.s" ->
      Stats.median(spans.filter(_.name == s"queries.$n").map(_.ms / 1e3))) ++ Seq(
      "queries.canary.jobs" -> c.jobs / passes,
      "queries.canary.task_s" -> c.taskMs / 1e3 / passes,
      "queries.canary.driver_gap_s" -> math.max(0.0, s - c.jobWallMs / 1e3) / passes,
      "queries.canary.shuffle_mb" -> c.shuffleBytes / 1e6 / passes)
  }
}

object QueryCanary {
  val MinPasses = 2
  /** The canary's two TPC-H queries, one join, one operator and two llm
    * queries of `graft.Bench`'s frozen 30-query canary. One warm pass takes
    * about 5 s at sf0.001 on 4 cores, so a run holds several. */
  val Subset: Seq[String] = Seq("q1_pricing_summary", "q18_large_orders",
    "j1_broadcast_join", "o26_count_min", "llm_minhash_neardup", "llm_bpe_k")
}
