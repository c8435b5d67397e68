package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.plans.GraftSession

/** Per-JOB time accounting for one registered query — the guide-§1 "where
  * does the wall clock go" probe the SQL tab would give if the UI were on.
  * Runs the query cold then warm with a listener recording every job's
  * start offset, duration, and call site, then prints the warm run's job
  * log plus a by-call-site rollup. The gap between summed job time and
  * wall time is DRIVER work (planning, manifest I/O, file staging) —
  * exactly the split that decides whether to attack job count or driver
  * overhead.
  * Usage: sbt "runMain graft.ProfileJobs <queryName> [queryName2 ...]" */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.envCores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class Job(id: Int, t0: Long, var t1: Long = -1L,
      site: String = "", var stages: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (recording) {
          val site = Option(s.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          val j = Job(s.jobId, System.nanoTime(), site = site)
          j.stages = s.stageInfos.size
          jobs.put(s.jobId, j); ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // cold: JIT/codegen absorbed, not recorded
      System.gc()
      jobs.clear()
      recording = true
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - w0) / 1e9
      recording = false
      Thread.sleep(500) // let the listener bus drain
      val js = jobs.values().toArray(Array.empty[Job]).sortBy(_.t0)
      println(s"== $name warm wall ${f"$wall%.2f"}s, ${js.length} jobs ==")
      js.foreach { j =>
        val off = (j.t0 - w0) / 1e9
        val dur = if (j.t1 < 0) Double.NaN else (j.t1 - j.t0) / 1e9
        println(f"  +$off%6.2f  ${dur}%6.3f  stages=${j.stages}%2d  ${j.site}")
      }
      val bySite = js.groupBy(_.site).map { case (s, g) =>
        (s, g.length, g.map(j => (j.t1 - j.t0) / 1e9).sum)
      }.toSeq.sortBy(-_._3)
      println("  -- by call site --")
      bySite.foreach { case (s, n, t) => println(f"  $t%7.2f s  n=$n%3d  $s") }
      val jobSum = js.map(j => (j.t1 - j.t0) / 1e9).sum
      println(f"  job time $jobSum%.2f s of $wall%.2f s wall " +
        f"(driver/gaps ${wall - jobSum}%.2f s)")
    }
    spark.stop()
  }
}
