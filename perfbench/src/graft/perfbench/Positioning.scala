package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.algo.{AccessPoint, Positioner, WifiScan}
import graft.serve.RequestScoring
import graft.serve.RequestScoring.{Request, Response, ScanInput}

/** `positioning`: one client calling `RequestScoring.score` serially
  * (closed loop) against a golden AP dimension. Most calls are small: one
  * request of 1–10 visible APs, some with unknown MACs, some with only
  * unknown MACs. Every [[Positioning.BulkEvery]]th call is a bulk call of
  * [[Positioning.BulkRequests]] requests. */
final class Positioning(ctx: Ctx) extends Workload {
  import Positioning._
  private val spark = ctx.spark
  private var world: World = _
  private var dim: DataFrame = _

  private final case class Call(bulk: Boolean, reqs: IndexedSeq[Req])
  private final case class Req(req: Request, trueLat: Double, trueLon: Double, known: Int)
  private final case class Done(call: Call, ms: Double, out: Array[Response],
      planMs: Double)

  /** Call `i` of the run: its requests depend only on the seed and `i`. */
  private def call(i: Int, salt: Long): Call = {
    val rng = new scala.util.Random(ctx.seed * 1000003L + i * 7919L + salt)
    val bulk = i % BulkEvery == BulkEvery - 1
    val n = if (bulk) BulkRequests else 1
    Call(bulk, (0 until n).map(j => request(rng, s"c$i-r$j")))
  }

  private def request(rng: scala.util.Random, id: String): Req = {
    val site = world.sites(rng.nextInt(world.sites.length))
    val r = 60.0 * math.sqrt(rng.nextDouble()); val th = rng.nextDouble() * 2 * math.Pi
    val (lat, lon) = World.offset(site.lat, site.lon, r * math.cos(th), r * math.sin(th))
    val unknownOnly = rng.nextDouble() < UnknownOnlyShare
    val nKnown = if (unknownOnly) 0 else 1 + rng.nextInt(math.min(MaxVisible, site.aps.length))
    val known = rng.shuffle(site.aps).take(nKnown).map { a =>
      val ap = world.aps(a)
      val d = World.haversine(lat, lon, ap.lat, ap.lon)
      val rssi = math.round(World.expectedRssi(d) + 4.0 * rng.nextGaussian()).toDouble
      ScanInput(ap.mac, rssi.max(-88.0).min(-45.0), if (rng.nextBoolean()) 2412 else 5180)
    }
    val unknown = (0 until (if (unknownOnly) 1 + rng.nextInt(3) else rng.nextInt(3))).map { _ =>
      ScanInput("0a:" + (0 until 5).map(_ => f"${rng.nextInt(256)}%02x").mkString(":"),
        -60.0 - rng.nextInt(25), 2412)
    }
    Req(Request(id, rng.shuffle(known ++ unknown)), lat, lon, nKnown)
  }

  private def score(c: Call, name: String, req: String): Done = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val (out, ds) = ctx.tracer.span(name, req) {
      val ds = RequestScoring.score(spark, spark.createDataset(c.reqs.map(_.req)), dim)
      (ds.collect(), ds)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val plan = ds.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
    Done(c, ms, out, plan)
  }

  def setup(rep: Int): Unit = {
    world = World(ctx.seed, Sites)
    val schema = StructType(Seq(
      StructField("mac_addr", StringType), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("altitude", DoubleType),
      StructField("horizontal_accuracy", DoubleType), StructField("confidence", DoubleType),
      StructField("vendor", StringType), StructField("status", StringType)))
    val rows = world.aps.map(a => Row(a.mac, a.lat, a.lon, null, 10.0, 0.9, null, "active"))
    dim = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .localCheckpoint()
    // warm-up outside the measured set: one cycle of calls, and on the
    // first, cold set-up [[WarmCycles]] of them, since the calls keep getting
    // faster for about that long
    (0 until BulkEvery * (if (rep == 0) WarmCycles else 1))
      .foreach(i => score(call(i, salt = 100L + rep), "warmup", ""))
  }

  private var done: IndexedSeq[Done] = IndexedSeq.empty

  def measure(seconds: Double): Outcome = {
    val buf = mutable.ArrayBuffer.empty[Done]
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i % BulkEvery != 0 ||
        i < MinCycles * BulkEvery) {
      val c = call(i, salt = 0L)
      buf += score(c, if (c.bulk) "serve.bulk" else "serve.small", s"c$i")
      i += 1
    }
    done = buf.toIndexedSeq
    val (bulk, small) = done.partition(_.call.bulk)
    Outcome(
      opMs = small.map(_.ms),
      rows = bulk.map(_.call.reqs.length).sum.toDouble,
      rowsSeconds = bulk.map(_.ms).sum / 1e3,
      check = () => check(),
      info = Seq("sites" -> Sites, "aps" -> world.aps.length, "calls" -> done.length,
        "small_calls" -> small.length, "bulk_calls" -> bulk.length,
        "small_call_ms" -> small.map(_.ms), "bulk_call_ms" -> bulk.map(_.ms),
        "bulk_requests" -> BulkRequests,
        "requests" -> done.map(_.call.reqs.length).sum))
  }

  /** One Response per request; `ok` exactly when the request names at least
    * one known AP; positions near the device's true fix. The fix error is
    * taken over the first [[MinCycles]] cycles, which every run makes, so it
    * repeats at a fixed seed. */
  private def check(): Check = {
    var failed = 0L
    val notes = mutable.ArrayBuffer.empty[String]
    val e = mutable.ArrayBuffer.empty[Double]
    done.zipWithIndex.foreach { case (d, i) =>
      val byId = d.out.groupBy(_.requestId)
      d.call.reqs.foreach { r =>
        byId.get(r.req.requestId) match {
          case Some(Array(resp)) =>
            if (resp.ok != (r.known > 0)) {
              failed += 1
              if (notes.length < 10)
                notes += s"${r.req.requestId}: ok=${resp.ok} with ${r.known} known APs (${resp.error})"
            } else if (resp.ok && i < MinCycles * BulkEvery)
              e += World.haversine(resp.latitude, resp.longitude, r.trueLat, r.trueLon)
          case other =>
            failed += 1
            if (notes.length < 10)
              notes += s"${r.req.requestId}: ${other.map(_.length).getOrElse(0)} responses"
        }
      }
      if (d.out.length != d.call.reqs.length) failed += math.abs(d.out.length - d.call.reqs.length)
    }
    val p50 = Stats.median(e.toSeq)
    if (p50 > ScoreP50BoundM) {
      failed += 1
      notes += f"fix error p50 $p50%.1f m over the $ScoreP50BoundM m bound"
    }
    Check(done.map(_.call.reqs.length.toLong).sum, failed, notes.toSeq,
      Seq("serve.score_err_p50_m" -> p50))
  }

  def traced(): Seq[(String, Double)] = {
    val t = ctx.tracer
    val small = done.filterNot(_.call.bulk)
    val smallSpans = t.named("serve.small")
    val per = smallSpans.map(s => s -> t.countersOf(Seq(s)))
    val n = math.max(1, per.length).toDouble
    // Positioner alone on the bulk calls' requests, driver-side
    val truth = world.aps.map(a => a.mac -> a).toMap
    val us = done.filter(_.call.bulk).flatMap(_.call.reqs).map { r =>
      val scans = r.req.scans.map(s => WifiScan(s.mac, s.rssi, s.frequencyMhz))
      val aps = r.req.scans.flatMap(s => truth.get(s.mac)).map(a =>
        AccessPoint(a.mac, a.lat, a.lon, None, Some(10.0), Some(0.9), None, "active"))
      val t0 = System.nanoTime()
      Positioner.calculatePosition(scans, aps)
      (System.nanoTime() - t0) / 1e3
    }
    Seq(
      "serve.small.jobs_per_call" -> per.map(_._2.jobs).sum / n,
      "serve.small.tasks_per_call" -> per.map(_._2.tasks).sum / n,
      "serve.small.plan_ms_p50" -> Stats.median(small.map(_.planMs)),
      "serve.small.driver_gap_ms_p50" ->
        Stats.median(per.map { case (s, c) => math.max(0.0, s.ms - c.jobWallMs) }),
      "serve.small.task_ms_p50" -> Stats.median(per.map(_._2.taskMs.toDouble))) ++
      t.stageMetrics("serve.bulk", t.named("serve.bulk")) ++
      Seq("algo.position_us_p50" -> Stats.median(us),
        "algo.position_us_p95" -> Stats.quantile(us, 0.95))
  }
}

object Positioning {
  /** Size of the AP dimension and call cadence: arbitrary, see NOTES.md. */
  val Sites = 60
  val BulkEvery = 5
  val UnknownOnlyShare = 0.12
  val WarmCycles = 4
  val MinCycles = 4
  /** Visible APs per request: 1–10, as the workload is specified. */
  val MaxVisible = 10
  /** One delivery window of the reference's stream: 75 msg/s for 60 s
    * (BASELINE.md). */
  val BulkRequests = 4500
  /** Fixed from the generator's physics before the first run: devices lie
    * within 60 m of a site centre, so a median fix further off than that
    * has lost the site. */
  val ScoreP50BoundM = 60.0
}
