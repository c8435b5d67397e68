package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsRead = 0L
  /** Job (start, end) wall intervals, epoch ms. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    bytesWritten += o.bytesWritten; recordsRead += o.recordsRead
    jobIntervals ++= o.jobIntervals
  }

  /** Wall time covered by at least one job, ms. */
  def jobWallMs: Long = {
    var covered = 0L; var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

final case class Span(id: Long, name: String, parent: Long, request: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** The benchmark's tracer. Disabled, every method is a pass-through. Enabled,
  * [[span]] records (name, start, end, parent, request id) around a call into
  * a layer and sets a job group `bench:<span id>`, and a listener attributes
  * job, task, shuffle and spill counters to that group. Spans stay in memory
  * until [[writeTo]]. Only the client thread opens spans. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Long, String, String, Long)] = Nil // id, name, req, start
  private var nextId = 1L
  private val groups = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  /** Time the tracer spent on the client thread and in listener callbacks. */
  @volatile private var selfNs = 0L
  private val listenerNs = new java.util.concurrent.atomic.AtomicLong(0L)

  private def counters(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val t0 = System.nanoTime()
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      jobGroup.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val c = counters(g)
      c.synchronized { c.jobs += 1 }
      listenerNs.addAndGet(System.nanoTime() - t0)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = System.nanoTime()
      Option(jobGroup.remove(e.jobId)).foreach { case (g, start) =>
        val c = counters(g)
        c.synchronized { c.jobIntervals += ((start, e.time)) }
      }
      listenerNs.addAndGet(System.nanoTime() - t0)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t0 = System.nanoTime()
      val m = e.taskMetrics
      val c = counters(Option(stageGroup.get(e.stageId)).getOrElse("none"))
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
          c.recordsRead += m.inputMetrics.recordsRead
        }
      }
      listenerNs.addAndGet(System.nanoTime() - t0)
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  def span[T](name: String, request: String = "")(body: => T): T = {
    val id = open(name, request)
    try body
    finally close(id)
  }

  /** Open a span (its job group applies to jobs this thread starts);
    * returns its id, 0 when disabled. Spans close in reverse order. */
  def open(name: String, request: String = ""): Long =
    if (!enabled) 0L
    else {
      val t0 = System.nanoTime()
      val id = nextId; nextId += 1
      spark.sparkContext.setJobGroup(s"bench:$id", name, interruptOnCancel = false)
      val start = System.nanoTime()
      stack = (id, name, request, start) :: stack
      selfNs += start - t0
      id
    }

  def close(id: Long): Unit =
    if (enabled) {
      val end = System.nanoTime()
      val (sid, name, request, start) = stack.head
      require(sid == id, s"span $id closed out of order")
      stack = stack.tail
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      spansBuf += Span(id, name, parent, request, start, end)
      stack.headOption match {
        case Some((pid, pname, _, _)) =>
          spark.sparkContext.setJobGroup(s"bench:$pid", pname, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
      selfNs += System.nanoTime() - end
    }

  /** Drain the listener bus so every finished job's counters are in. */
  def flush(): Unit =
    if (enabled) {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      ()
    }

  /** Forget spans and counters so far (set-up work is not measured). */
  def clear(): Unit = {
    flush(); spansBuf.clear(); groups.clear(); selfNs = 0L; listenerNs.set(0L)
  }

  def spans: Seq[Span] = spansBuf.toSeq
  def named(name: String): Seq[Span] = spansBuf.filter(_.name == name).toSeq

  /** Counters of the spans' own job groups. */
  def countersOf(ss: Seq[Span]): Counters = {
    val c = new Counters
    ss.foreach(s => Option(groups.get(s"bench:${s.id}")).foreach(c.add))
    c
  }
  /** Counters of job groups set by someone else (e.g. a streaming query). */
  def countersOfGroup(g: String): Counters = Option(groups.get(g)).getOrElse(new Counters)
  def foreignGroups: Seq[String] =
    groups.keySet().toArray.map(_.toString).filterNot(_.startsWith("bench:")).toSeq

  /** A span's duration minus the part of it its child spans cover (children
    * of one client thread run one after another). */
  def selfMs(s: Span): Double =
    s.ms - spansBuf.filter(_.parent == s.id).map(_.ms).sum

  def overheadMs: Double = (selfNs + listenerNs.get()) / 1e6

  /** The standard counter set of a stage: s, jobs, tasks, task_s, cpu_s,
    * shuffle_mb, spill_mb, driver_gap_s (wall minus time jobs ran). */
  def stageMetrics(prefix: String, ss: Seq[Span]): Seq[(String, Double)] = {
    val c = countersOf(ss)
    val s = ss.map(_.ms).sum / 1e3
    Seq(s"$prefix.s" -> s, s"$prefix.jobs" -> c.jobs.toDouble,
      s"$prefix.tasks" -> c.tasks.toDouble, s"$prefix.task_s" -> c.taskMs / 1e3,
      s"$prefix.cpu_s" -> c.cpuNs / 1e9, s"$prefix.shuffle_mb" -> c.shuffleBytes / 1e6,
      s"$prefix.spill_mb" -> c.spillBytes / 1e6,
      s"$prefix.driver_gap_s" -> math.max(0.0, s - c.jobWallMs / 1e3))
  }

  def writeTo(path: java.nio.file.Path): Unit = {
    val lines = spansBuf.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ms" -> selfMs(s)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    ()
  }
}

/** Minimal JSON writer for the result line. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
