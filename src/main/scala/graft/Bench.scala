package graft

import graft.plans.GraftSession

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line with per-query wall seconds. A query that throws is
  * recorded as -1 (never mistaken for "fast") and listed in "errors". */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Per-query cold + warm pass: the first run absorbs JIT/codegen/scan-init
    // cost (historically read as phantom regressions on 5-row queries); the
    // WARM run is the reported figure. Queries ordered by name for a stable
    // report.
    // Optional first arg: comma-separated query-name filter (local
    // iteration on one hot query without paying the full sweep).
    val wanted = args.headOption.map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.forall(_.contains(n)))

    // ADDITIVE per-query EXECUTOR TASK-TIME (r18 verdict "what's wrong"
    // #2): at sf0.1 wall time is fixed-overhead-bound, so 8-vs-32-core
    // wall ratios cannot distinguish serial code from overhead-bound
    // queries. Summed executor run time (ms, across all tasks of the warm
    // run) is the scalable-work signal: it is core-count-invariant for
    // parallel work, so task_time/wall ≈ effective parallelism. Collected
    // by a listener; informational field, never the headline.
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) { taskTimeMs.addAndGet(m.executorRunTime); () }
        }
      })

    def timeAll(list: Seq[String]): Seq[(String, Double, Double, Boolean, Double)] =
      list.map { name =>
        val fn = SparkEntry.queries(name)
        def once(): (Double, Boolean) = {
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch {
              case e: Throwable =>
                System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                false
            }
          ((System.nanoTime() - t0) / 1e9, ok)
        }
        val (coldSec, coldOk) = once()
        val taskT0 = taskTimeMs.get()
        val (warmSec, warmOk) = if (coldOk) once() else (-1.0, false)
        // the listener bus drains asynchronously; the warm action has
        // joined its jobs, so remaining lag is sub-ms and informational
        val warmTaskSec = (taskTimeMs.get() - taskT0) / 1e3
        // Several queries localCheckpoint multi-consumer intermediates; the
        // blocks are only released when the driver GCs the RDD handles
        // (ContextCleaner), so without this, query N pays query N-1's
        // executor-memory pressure and late-run timings drift run-to-run.
        System.gc()
        val ok = coldOk && warmOk
        (name, if (ok) warmSec else -1.0, if (coldOk) coldSec else -1.0, ok,
          if (ok) warmTaskSec else -1.0)
      }

    // CANARY PROTOCOL: a FIXED 30-query subset timed FIRST, in the fresh
    // JVM, before the full-surface sweep builds up co-residency pressure
    // (code cache, old-gen, shuffle scratch). Round 12 showed the shared
    // run inflating ~1.13x uniformly on code that got FASTER in exclusive
    // re-measurement; the canary pins round-over-round comparison to
    // equivalent-pressure conditions. The list is frozen — do not edit it
    // when queries get faster/slower, or the baseline breaks.
    val canaryNames = Seq(
      "q1_pricing_summary", "q18_large_orders", "f_ingest_chain",
      "a1_candidate_selection", "a6_merge_label_purge", "a9_lof_local",
      "a10_hotspot_full", "a11_dbscan_relocation", "a34_ivm_join",
      "j1_broadcast_join", "j4_pair_self_join", "j8_salted_join",
      "o26_count_min", "r7_batch_localize", "r7_refine_loop",
      "c1_haversine_distance", "c7_geodesic_ops",
      "llm_exact_dedup", "llm_minhash_neardup", "llm_dup_clusters",
      "llm_incremental_clusters", "llm_containment_sampled",
      "llm_ann_ivfpq", "llm_bpe_k", "llm_drift_chi2", "llm_stream_neardup",
      "s10_stream_dedup", "s13_stream_join", "s21_stream_median",
      "s25_stream_scd2")
    val canary =
      if (wanted.isDefined) Seq.empty // filtered local runs skip the canary
      else timeAll(canaryNames.filter(SparkEntry.queries.contains))

    // HOST-SPEED CALIBRATION (round 16): this machine's effective speed
    // swung ±35% WITHIN one session (canary 90.6 vs 67.5 s on identical
    // code; an idle-host q1 probe drifted 0.185→0.333 s in an hour), so
    // cross-round wall-clock deltas conflate code and hypervisor. Two
    // fixed workloads — a single-thread integer spin and one
    // deterministic 32-way Spark job — pin the host's speed AT
    // MEASUREMENT TIME into the artifact; divide query times by
    // (calib/reference-calib) before reading cross-round deltas.
    def calibrate(): (Double, Double) = {
      def spin(): Double = {
        val t0 = System.nanoTime()
        var x = 0L; var i = 0L
        while (i < 400000000L) { x += i * 2654435761L; i += 1 }
        if (x == 42L) System.err.println("") // defeat dead-code elim
        (System.nanoTime() - t0) / 1e9
      }
      spin() // JIT warm
      val oneT = spin()
      import org.apache.spark.sql.functions.{col, pmod, lit, sum, xxhash64}
      def job(): Double = {
        val t0 = System.nanoTime()
        // pmod bounds the terms so the ANSI sum cannot overflow long
        spark.range(1500000000L)
          .select(sum(pmod(xxhash64(col("id")), lit(1000L)))).head()
        (System.nanoTime() - t0) / 1e9
      }
      job() // warm
      (oneT, job())
    }
    val (calib1t, calibNt) =
      if (wanted.isDefined && !sys.env.contains("GRAFT_CALIB")) (-1.0, -1.0)
      else calibrate()

    val timed = timeAll(names)

    // ADDITIVE distributed-path graph timings (r18 verdict #1 / next #5):
    // at bench scale every shipped graph fits the 2M-edge driver bound,
    // so the 100 TB code path (star loop, power iteration, frontier walk)
    // had correctness coverage but zero performance measurement. Re-run
    // the five graph queries with the fast-path probes disabled
    // (spark.graft.graph.forceDistributed) and report them in a SEPARATE
    // field — never part of the headline total, and run AFTER the main
    // sweep so the comparable sections see identical pressure.
    val distNames = Seq("llm_dup_chain_clusters", "llm_linkrank",
      "llm_community_lpa", "o41_bfs_levels", "o46_bounded_sssp")
    val dist =
      if (wanted.isDefined) Seq.empty
      else {
        spark.conf.set(graft.operators.GraphFastPath.ConfKey, "true")
        try timeAll(distNames.filter(SparkEntry.queries.contains))
        finally spark.conf.set(graft.operators.GraphFastPath.ConfKey, "false")
      }

    val qs = timed.map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val cold = timed.map { case (k, _, v, _, _) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    val taskT = timed.map { case (k, _, _, _, t) => "\"" + k + "\":" + f"$t%.2f" }
      .mkString("{", ",", "}")
    val distQ = dist.map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val errors = timed.filterNot(_._4).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = timed.filter(_._4).map(_._2).sum
    val totalCold = timed.filter(_._4).map(_._3).sum
    // Metric renamed total→total_warm the round warm timings became the
    // headline (r4): cross-round deltas against the old cold-inclusive
    // "total" would conflate the methodology change with real speedups.
    // Field ORDER is deliberate: the harness keeps only the last ~2KB of
    // stdout, truncating this line from the FRONT — cold map first
    // (sacrificial), warm per-query map next, headline scalars last so the
    // totals always survive the cut.
    val cq = canary.map { case (k, v, _, _, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val canaryTotal = canary.filter(_._4).map(_._2).sum
    // HOST-NORMALIZED totals (round 17): divide out the measured host
    // slowdown against the FROZEN round-16 anchor (BENCH_NORM.md) so a
    // round's verdict reads one comparable number instead of re-deriving
    // the canary ratio. The query sweep is N-way-parallel Spark work, so
    // the N-way calibration is the scaler. -1 when calibration didn't run.
    val calibNtRef = 0.85 // frozen anchor — see BENCH_NORM.md before touching
    def norm(x: Double): Double = if (calibNt <= 0) -1.0 else x * calibNtRef / calibNt
    // task_time and dist_queries are ADDITIVE fields (r19): placed in the
    // sacrificial front zone before the warm map so the tail-truncation
    // contract (headline scalars last) is unchanged.
    val line =
      s"""{"cold_queries":$cold,"task_time":$taskT,"canary_queries":$cq,"dist_queries":$distQ,"queries":$qs,"errors":$errors,"sf":"$sfDir","unit":"sec","metric":"total_warm","total_cold":$totalCold,"calib_1t":${f"$calib1t%.2f"},"calib_${cpus}t":${f"$calibNt%.2f"},"canary_total":${f"$canaryTotal%.1f"},"canary_norm":${f"${norm(canaryTotal)}%.1f"},"value_norm":${f"${norm(total)}%.1f"},"value":$total}"""
    println(line)
    // TINY SUMMARY LINE (r18 verdict "what's wrong" #6): the big line is
    // ~20 KB and a 2000-char tail capture cuts it mid-dict (round 17's
    // driver comparison was lost exactly this way). Printing a second,
    // small record AFTER it guarantees any tail capture ends with a
    // complete parseable JSON carrying the headline scalars. Additive
    // only — the big line above is unchanged.
    val errN = timed.count(!_._4)
    println(
      s"""{"bench_summary":1,"metric":"total_warm","unit":"sec","sf":"$sfDir","errors":$errN,"calib_${cpus}t":${f"$calibNt%.2f"},"canary_total":${f"$canaryTotal%.1f"},"value_norm":${f"${norm(total)}%.1f"},"value":$total}""")
    // Full machine-readable artifact: stdout gets truncated to ~2KB by the
    // harness, losing most of the per-query map; write the whole JSON to a
    // file so per-query times stay diffable round-over-round.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath),
        line.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full per-query JSON written to $outPath")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
