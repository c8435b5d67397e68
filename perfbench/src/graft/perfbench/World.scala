package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.functions.Codec

/** Seeded AP world shared by the pipeline workloads.
  *
  * Sites (buildings) sit in a 6 km box near the equator, each holding 6–12
  * APs within 30 m of its centre. A scan is one device fix within 60 m of a
  * site centre that sees each of the site's APs with probability 0.85
  * (about 8 results per scan). RSSI follows the log-distance model the
  * localizer assumes (−40 dBm at 1 m, exponent 3) plus 4 dB shadowing.
  * Each site draws its scan count from one maturity tier, so per-AP N
  * spreads across the WCL/MLE/Bayesian gates (20/50/100) and a few sites
  * exceed the localizer's 1000-measurement cap.
  *
  * Contamination is planted and counted, never inferred:
  *  - GPS spikes: the reported fix jumps to its own point on a 1.1 km grid
  *    20 km away, so each spike row has no same-AP neighbour in its LOF cell
  *    block;
  *  - duplicate uploads: a document line repeated in the same file;
  *  - invalid lines: corrupt base64 and base64 of non-gzip bytes;
  *  - invalid rows: all-zeros BSSID, RSSI out of range, accuracy > 150 m.
  *
  * Every expected count comes from this model, so the checks are exact. */
object World {
  /** 2026-01-01T00:00:00Z: scan times are fixed offsets from it, and ingest
    * validates them against [[nowMs]] instead of the wall clock. */
  val T0: Long = 1767225600000L
  val DayMs: Long = 86400000L
  val Lat0 = 1.30
  val Lon0 = 103.80
  val EarthRadiusMeters = 6371000.0
  val MetersPerDegLat: Double = math.Pi * EarthRadiusMeters / 180.0
  /** Lof's default cell size; the purge model below replays its isolation. */
  val CellDegrees = 0.0015
  /** Contamination rates. The reference publishes none, so these are
    * arbitrary; perfbench/NOTES.md shows the metrics do not hinge on them. */
  val SpikeRate = 0.02
  val BadAccuracyRate = 0.01
  val BadRowRate = 0.01
  val DupRate = 0.05
  val CorruptLines = 2

  final case class Ap(mac: String, lat: Double, lon: Double)
  final case class Site(lat: Double, lon: Double, aps: IndexedSeq[Int], scans: Int)
  /** One result of a scan; `valid` is the ingest verdict for its row. */
  final case class Obs(bssid: String, rssi: Int, valid: Boolean)
  /** One scanResult: the reported fix and its results. */
  final case class Scan(
      id: Int, ts: Long, lat: Double, lon: Double, accuracy: Double, site: Int,
      results: IndexedSeq[Obs]) {
    def validRows: IndexedSeq[Obs] = results.filter(_.valid)
  }

  def haversine(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2.0 * EarthRadiusMeters * math.asin(math.sqrt(a))
  }

  /** Point at (north, east) metres from (lat, lon). */
  def offset(lat: Double, lon: Double, northM: Double, eastM: Double): (Double, Double) =
    (lat + northM / MetersPerDegLat,
      lon + eastM / (MetersPerDegLat * math.cos(math.toRadians(lat))))

  def expectedRssi(dM: Double): Double = -40.0 - 30.0 * math.log10(math.max(dM, 1.0))

  private val Devices = IndexedSeq(
    ("samsung", "SM-G991B", "o1s", "13"), ("Google", "Pixel 7", "panther", "14"),
    ("Xiaomi", "2201117TG", "spes", "12"), ("OnePlus", "LE2123", "lemonade", "13"))

  /** Build `nSites` sites. `tierWeights` are the shares of sites in the
    * below-gate, WCL, MLE, Bayesian and over-cap tiers. Sites per tier
    * (rounded shares, remainder Bayesian), APs per site and scans per site
    * (spread evenly over the tier's range) are fixed; only placement and
    * order are seeded, so every seed builds a world of the same size. */
  def apply(seed: Long, nSites: Int,
      tierWeights: Seq[Double] = Seq(0.2, 0.25, 0.25, 0.25, 0.05)): World = {
    val rng = new scala.util.Random(seed * 7919L + 17L)
    val tierRanges = IndexedSeq((8, 22), (28, 55), (65, 115), (130, 200), (1050, 1100))
    val counts = tierWeights.map(w => math.round(w * nSites).toInt)
    val fixed = counts.indices.flatMap(t => Seq.fill(counts(t))(t)).take(nSites)
    val tiers = fixed ++ Seq.fill(nSites - fixed.length)(3)
    val scansOf = tiers.zipWithIndex.map { case (t, i) =>
      val (lo, hi) = tierRanges(t)
      val j = tiers.take(i).count(_ == t); val n = tiers.count(_ == t)
      lo + (if (n == 1) (hi - lo) / 2 else (hi - lo) * j / (n - 1))
    }
    val order = rng.shuffle(tiers.indices.toIndexedSeq)
    val aps = ArrayBuffer.empty[Ap]
    val macs = scala.collection.mutable.HashSet.empty[String]
    val sites = order.zipWithIndex.map { case (o, s) =>
      val tier = tiers(o)
      val (lat, lon) = offset(Lat0, Lon0,
        (rng.nextDouble() - 0.5) * 6000, (rng.nextDouble() - 0.5) * 6000)
      // the over-cap tier keeps its site small: LOF cost is quadratic per cell
      val k = if (tier == 4) 6 else 6 + o % 7
      val ids = (0 until k).map { _ =>
        val r = 30.0 * math.sqrt(rng.nextDouble()); val th = rng.nextDouble() * 2 * math.Pi
        val (alat, alon) = offset(lat, lon, r * math.cos(th), r * math.sin(th))
        var mac = ""
        while (mac.isEmpty || macs.contains(mac))
          mac = "02:" + (0 until 5).map(_ => f"${rng.nextInt(256)}%02x").mkString(":")
        macs += mac
        aps += Ap(mac, alat, alon)
        aps.length - 1
      }
      Site(lat, lon, ids, scansOf(o))
    }
    new World(seed, sites, aps.toIndexedSeq)
  }
}

final class World(val seed: Long, val sites: IndexedSeq[World.Site],
    val aps: IndexedSeq[World.Ap]) {
  import World._

  /** Every scan of the world, in a seeded order, with unique timestamps
    * laid out by `tsOf(index)`. Spikes, invalid rows and bad accuracy are
    * planted at the fixed rates of the companion object. */
  def scans(tsOf: Int => Long): IndexedSeq[Scan] = {
    val rng = new scala.util.Random(seed * 104729L + 3L)
    val siteOfScan = rng.shuffle(sites.indices.flatMap(s => Seq.fill(sites(s).scans)(s)))
    var spikes = 0
    siteOfScan.zipWithIndex.map { case (s, i) =>
      val site = sites(s)
      val r = 60.0 * math.sqrt(rng.nextDouble()); val th = rng.nextDouble() * 2 * math.Pi
      val (tLat, tLon) = offset(site.lat, site.lon, r * math.cos(th), r * math.sin(th))
      val (lat, lon) =
        if (rng.nextDouble() >= SpikeRate) (tLat, tLon)
        else {
          spikes += 1
          offset(Lat0, Lon0, 20000.0 + 1100.0 * (spikes / 40), 1100.0 * (spikes % 40 - 20))
        }
      val accuracy =
        if (rng.nextDouble() < BadAccuracyRate) 200.0 + rng.nextInt(100)
        else 5.0 + rng.nextInt(35)
      val results = site.aps.filter(_ => rng.nextDouble() < 0.85).map { a =>
        val ap = aps(a)
        val d = haversine(tLat, tLon, ap.lat, ap.lon)
        val rssi = math.round(expectedRssi(d) + 4.0 * rng.nextGaussian()).toInt
          .max(-98).min(-30)
        val u = rng.nextDouble()
        if (u < BadRowRate / 2) Obs("00:00:00:00:00:00", rssi, valid = false)
        else if (u < BadRowRate) Obs(ap.mac, if (rng.nextBoolean()) -120 else 5, valid = false)
        else Obs(ap.mac, rssi, valid = accuracy <= 150.0)
      }
      Scan(i, tsOf(i), lat, lon, accuracy, s, results)
    }
  }

  /** One wire document (FIXTURES.md §1 shape) holding one scanResult. */
  def docJson(sc: Scan): String = {
    val (man, model, dev, os) = World.Devices(sc.id % World.Devices.length)
    val res = sc.results.map { o =>
      s"""{"ssid":"site${sc.site}","bssid":"${o.bssid}","scantime":${sc.ts},"rssi":${o.rssi},"level":${o.rssi}}"""
    }.mkString(",")
    s"""{"osVersion":"$os","model":"$model","device":"$dev","manufacturer":"$man","osName":"Android","sdkInt":"33","appNameVersion":"scanner/1.4","dataVersion":"1.0","wifiConnectedEvents":[],"scanResults":[{"timestamp":${sc.ts},"mode":"periodic","location":{"source":"fused","provider":"gps","latitude":${sc.lat},"longitude":${sc.lon},"altitude":12.0,"accuracy":${sc.accuracy},"speed":0.0,"bearing":0.0,"time":${sc.ts}},"results":[$res]}]}"""
  }

  def encode(sc: Scan): String = Codec.encodeLine(docJson(sc))
}

/** Wire lines of one file plus what a correct ingest must make of them. */
final case class WireFile(lines: IndexedSeq[String], scans: IndexedSeq[World.Scan]) {
  /** Valid, distinct (timestamp, bssid) rows: the measurement rows. */
  def validKeys: Seq[(Long, String)] =
    scans.flatMap(sc => sc.validRows.map(o => (sc.ts, o.bssid)))
}

object WireFile {
  /** Encode `scans` as wire lines, repeating some as duplicate uploads (a
    * [[World.DupRate]] share, or exactly `dups` of them) and adding
    * [[World.CorruptLines]] corrupt lines; `padTo` fixes the line count with
    * more corrupt lines (the stream workload maps consumed lines back to
    * files). */
  def build(world: World, scans: IndexedSeq[World.Scan], rng: scala.util.Random,
      dups: Int = -1, padTo: Int = 0): WireFile = {
    val lines = ArrayBuffer.empty[String]
    scans.zipWithIndex.foreach { case (sc, i) =>
      val l = world.encode(sc)
      lines += l
      if (if (dups >= 0) i < dups else rng.nextDouble() < World.DupRate) lines += l
    }
    val bad = Seq("not*base64*at*all",
      java.util.Base64.getEncoder.encodeToString("plain text, not gzip".getBytes("UTF-8")))
    var c = 0
    while (c < World.CorruptLines || lines.length < padTo) { lines += bad(c % 2); c += 1 }
    require(padTo == 0 || lines.length == padTo, s"file overflows $padTo lines")
    WireFile(rng.shuffle(lines).toIndexedSeq, scans)
  }
}
