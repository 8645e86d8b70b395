package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{DayOfWeek, Instant, LocalDate, ZoneId}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Seeded synthetic trajectories with planted truth (the FIXTURES.md §1
  * plan). Every user gets its own random stream derived from (seed, user
  * index), so the same seed gives the same bytes.
  *
  * Itineraries are built so that the pipeline's answer is known without
  * running it:
  *  - a dwell jitters within [[JitterM]] of its site, so consecutive dwell
  *    pings are closer than r1 and its median sits within [[JitterM]];
  *  - a move keeps 200 m or more between consecutive pings and between a
  *    site and the nearest move ping, so moves never look stationary;
  *  - ordinary users sleep at home (every weekend day starts an outing and
  *    a return home, so home recurs on weekend dates) and workers arrive at
  *    work between 08:05 and 08:55 on weekdays; no other site can out-count
  *    home or qualify as work;
  *  - fleet devices park at a depot overnight and visit a weekday-only hub
  *    every sixth stop among thousands of grid sites.
  * Edge cases: a single-ping user, an all-moving user, short dwells
  * (< min_staying_time), dwells split by a gap > max_time_between, two
  * sites 10 m apart (one stop location), and bad-accuracy pings far away
  * that ingest must drop.
  */
object Gen {
  val Tz: ZoneId = ZoneId.of("America/Mexico_City")
  val FirstDay: LocalDate = LocalDate.of(2024, 4, 1) // a Monday
  val Days = 30
  val MaxError = 30.0 // Ingest.localizeCsv's default accuracy cut
  val MaxGap = 3600L
  val MinStay = 300L
  val JitterM = 3.0
  private val MPerDegLat = 111320.0
  // city box (~13 km square) and fleet grid origin
  private val Lat0 = 19.36; private val Lon0 = -99.20; private val Box = 0.12

  final case class Site(lat: Double, lon: Double)

  /** `site` >= 0: dwell at that site of the user; -1 move; -2 a ping with
    * error >= MaxError.
    */
  final case class Ping(ts: Long, lat: Double, lon: Double, error: Double,
                        site: Int)

  /** `twin` is a pair of site indices 10 m apart that must cluster. */
  final case class User(uid: String, sites: Array[Site], home: Int,
                        work: Int, twin: Option[(Int, Int)],
                        pings: Array[Ping])

  /** An expected stop event (start/end = first/last stationary ping). */
  final case class Event(uid: String, start: Long, end: Long, site: Int)

  /** Input size of a workload. Fleet factors scale each fleet device. */
  final case class Size(users: Int, fleet: Seq[Double], sitesPerFleet: Int)

  def dayStart(d: Int): Long = FirstDay.plusDays(d).atStartOfDay(Tz).toEpochSecond
  def localDate(ts: Long): LocalDate = Instant.ofEpochSecond(ts).atZone(Tz).toLocalDate
  private def isWeekend(d: Int): Boolean = {
    val w = FirstDay.plusDays(d).getDayOfWeek
    w == DayOfWeek.SATURDAY || w == DayOfWeek.SUNDAY
  }

  def meters(a: Site, b: Site): Double = {
    val dLat = (b.lat - a.lat) * MPerDegLat
    val dLon = (b.lon - a.lon) * MPerDegLat * math.cos(math.toRadians(a.lat))
    math.sqrt(dLat * dLat + dLon * dLon)
  }
  private def offset(s: Site, dx: Double, dy: Double): Site =
    Site(s.lat + dy / MPerDegLat,
      s.lon + dx / (MPerDegLat * math.cos(math.toRadians(s.lat))))

  private def rngFor(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 1L)

  /** Builds one user's timeline from visits (site, planned arrival,
    * minimum stay); a move fills each gap at 8-14 m/s. A visit to the
    * current site extends the dwell.
    */
  private final class Timeline(r: SplittableRandom, sites: ArrayBuffer[Site],
                               dwellStep: (Int, Int), moveStep: (Int, Int),
                               badPerHour: Double) {
    val pings = ArrayBuffer.empty[Ping]
    private var site = -1
    private var arrive = 0L
    private var gapSplit = false
    private var dense = false

    def current: Int = site
    def arrivedAt: Long = arrive

    private def step(s: (Int, Int)): Int = s._1 + r.nextInt(s._2 - s._1 + 1)
    private def jitter(s: Site): Site = {
      val a = r.nextDouble() * 2 * math.Pi
      val d = math.sqrt(r.nextDouble()) * JitterM
      offset(s, d * math.cos(a), d * math.sin(a))
    }
    private def good(): Double = 3.0 + r.nextInt(220) / 10.0

    def start(s: Int, t: Long): Unit = { site = s; arrive = t }

    /** Flags the current dwell to carry one interior gap > MaxGap. */
    def splitCurrentDwell(): Unit = gapSplit = true

    /** Flags the current dwell to ping once a minute. */
    def denseCurrentDwell(): Unit = dense = true

    /** Ends the current dwell at `leave` (emitting its pings). */
    private def closeDwell(leave: Long): Unit = {
      val s = sites(site)
      val gapAt =
        if (gapSplit && leave - arrive > 4 * 3600)
          arrive + 3600 + r.nextInt(((leave - arrive) / 2).toInt)
        else Long.MaxValue
      var t = arrive
      var skipped = false
      while (t <= leave) {
        val p = jitter(s)
        pings += Ping(t, p.lat, p.lon, good(), site)
        val dt = if (dense) 50 + r.nextInt(21) else step(dwellStep)
        if (badPerHour > 0 && t + dt <= leave && r.nextDouble() < badPerHour * dt / 3600.0) {
          val far = offset(s, 1000 + r.nextInt(2000), 1000 + r.nextInt(2000))
          pings += Ping(t + 1 + r.nextInt(dt - 1), far.lat, far.lon,
            MaxError + r.nextInt(1700) / 10.0, -2)
        }
        t += dt
        if (!skipped && t > gapAt) { t += MaxGap + 300 + r.nextInt(1800); skipped = true }
      }
      gapSplit = false
      dense = false
    }

    /** Moves to `next`, arriving at `plannedArrive` when the current dwell
      * can last `minStay` until then, else as soon as it has.
      */
    def visit(next: Int, plannedArrive: Long, minStay: Long): Unit =
      if (next != site) {
        val a = sites(site); val b = sites(next)
        val travel = math.max(1L, (meters(a, b) / (8 + r.nextInt(7))).toLong)
        val leave = math.max(plannedArrive - travel, arrive + minStay)
        closeDwell(leave)
        val arr = leave + travel
        var t = leave + step(moveStep)
        while (t <= arr - moveStep._1) {
          val f = (t - leave).toDouble / travel
          pings += Ping(t, a.lat + f * (b.lat - a.lat),
            a.lon + f * (b.lon - a.lon), good(), -1)
          t += step(moveStep)
        }
        site = next; arrive = arr
      }

    def finish(end: Long): Unit = closeDwell(end)
  }

  private def cityPoint(r: SplittableRandom): Site =
    Site(Lat0 + r.nextDouble() * Box, Lon0 + r.nextDouble() * Box)

  private def farFrom(r: SplittableRandom, taken: Seq[Site]): Site = {
    var s = cityPoint(r)
    while (taken.exists(meters(_, s) < 1000)) s = cityPoint(r)
    s
  }

  /** An ordinary user: nightly home, 3/4 work weekdays, a few other sites. */
  def ordinary(seed: Long, i: Int, bad: Boolean): User = {
    val r = rngFor(seed, i)
    val sites = ArrayBuffer.empty[Site]
    sites += cityPoint(r)
    val home = 0
    val work = if (r.nextInt(4) < 3) { sites += farFrom(r, sites.toSeq); 1 } else -1
    val nOther = 3 + r.nextInt(3)
    val firstOther = sites.length
    (0 until nOther).foreach(_ => sites += farFrom(r, sites.toSeq))
    val twin =
      if (r.nextInt(5) == 0) {
        sites += offset(sites(firstOther), 10.0, 0.0)
        Some((firstOther, sites.length - 1))
      } else None
    val shortSite = sites.length
    sites += farFrom(r, sites.toSeq)
    // never the current site or its twin: a move of 10 m would look
    // stationary
    def other(cur: Int): Int = {
      val pick = twin match {
        case Some((a, b)) if r.nextInt(3) == 0 => if (r.nextBoolean()) a else b
        case _ => firstOther + r.nextInt(nOther)
      }
      val near = twin.exists { case (a, b) => Set(a, b) == Set(pick, cur) }
      if (pick == cur || near) other(cur) else pick
    }
    val dwellLo = 900 + r.nextInt(900)
    val tl = new Timeline(r, sites, (dwellLo, dwellLo + 1500), (60, 180),
      if (bad) 0.05 else 0.0)
    tl.start(home, dayStart(0) + r.nextInt(600))
    (0 until Days).foreach { d =>
      val t0 = dayStart(d)
      def at(h: Int, m: Int, spreadMin: Int) = t0 + h * 3600 + m * 60 + r.nextInt(spreadMin * 60 + 1)
      if (isWeekend(d)) {
        tl.visit(other(tl.current), at(10, 0, 120), 1800)
        tl.visit(home, at(13, 0, 240), 3600)
      } else {
        if (work >= 0) {
          tl.visit(work, at(8, 5, 50), 1800)
          if (r.nextInt(10) == 0) tl.splitCurrentDwell()
        }
        // evenings start at 19:00, outside work hours, so only the work
        // site can qualify as W
        if (r.nextInt(5) == 0) {
          tl.visit(shortSite, at(19, 0, 30), 1800)
          // a stop shorter than min_staying_time, one ping a minute
          tl.denseCurrentDwell()
          tl.visit(other(tl.current), 0, 120 + r.nextInt(120))
        }
        if (r.nextInt(3) == 0) tl.visit(other(tl.current), at(19, 0, 30), 1800)
        tl.visit(home, at(18, 0, 180), 1800)
      }
    }
    tl.finish(dayStart(Days) - 60 - r.nextInt(600))
    User(f"u$i%05d", sites.toArray, home, work, twin, tl.pings.toArray)
  }

  /** A fleet device: depot overnight, ~30 s pings, short stops at
    * ~`nSites` grid sites (a square grid, 250 m apart) with a weekday hub
    * every sixth stop.
    * `factor` scales the daily operating window.
    */
  def fleet(seed: Long, i: Int, factor: Double, nSites: Int): User = {
    val r = rngFor(seed, 1000000L + i)
    val side = math.max(2, math.round(math.sqrt(nSites.toDouble)).toInt)
    val cell = 250.0
    val origin = Site(Lat0 + 0.01 * i, Lon0 + 0.01 * i)
    val sites = ArrayBuffer.empty[Site]
    for (gx <- 0 until side; gy <- 0 until side)
      sites += offset(origin, gx * cell + r.nextInt(100) - 50, gy * cell + r.nextInt(100) - 50)
    val grid = sites.length
    val depot = sites.length; sites += offset(origin, -800, -800)
    val hub = sites.length; sites += offset(origin, side * cell / 2 + 125, -600)
    val tl = new Timeline(r, sites, (25, 35), (25, 35), 0.0)
    tl.start(depot, dayStart(0) + r.nextInt(60))
    var cur = 0
    def nearby(): Int = {
      val cx = cur / side; val cy = cur % side
      val nx = math.max(0, math.min(side - 1, cx + r.nextInt(9) - 4))
      val ny = math.max(0, math.min(side - 1, cy + r.nextInt(9) - 4))
      nx * side + ny
    }
    (0 until Days).foreach { d =>
      val t0 = dayStart(d)
      val end = t0 + 8 * 3600 + (12.5 * 3600 * factor).toLong
      cur = r.nextInt(grid)
      tl.visit(cur, t0 + 8 * 3600 + r.nextInt(600), 1800)
      var k = 1
      // the hub never starts a stop at 21:00 or later, so it cannot be H
      while (tl.arrivedAt < end) {
        val next =
          if (k % 6 == 0 && !isWeekend(d)) hub
          else { cur = nearby(); cur }
        tl.visit(next, 0, 360L + r.nextInt(180))
        k += 1
      }
      tl.visit(depot, t0 + 20 * 3600 + 40 * 60 + r.nextInt(900), 360)
    }
    tl.finish(dayStart(Days) - 60 - r.nextInt(600))
    User(f"fleet-$i", sites.toArray, depot, hub, None, tl.pings.toArray)
  }

  /** Edge users: one ping; all-moving (12 days of driving). */
  def edges(seed: Long): Seq[User] = {
    val r = rngFor(seed, 2000000L)
    val p = cityPoint(r)
    val single = User("e-single", Array(p), -1, -1, None,
      Array(Ping(dayStart(3) + 12 * 3600, p.lat, p.lon, 8.0, -1)))
    val moving = ArrayBuffer.empty[Ping]
    (0 until 12).foreach { d =>
      val a = cityPoint(r)
      var t = dayStart(d * 2) + 9 * 3600
      (0 until 180).foreach { k =>
        val q = offset(a, 0, 600.0 * k)
        moving += Ping(t, q.lat, q.lon, 10.0, -1)
        t += 60
      }
    }
    Seq(single, User("e-moving", Array(p), -1, -1, None, moving.toArray))
  }

  /** Users of a workload. `bad` adds error >= MaxError pings (CSV inputs
    * only: the fleet input has no ingest step to drop them).
    */
  def population(seed: Long, size: Size, bad: Boolean): Seq[User] =
    size.fleet.zipWithIndex.map { case (f, i) => fleet(seed, i, f, size.sitesPerFleet) } ++
      (0 until size.users).map(ordinary(seed, _, bad)) ++ edges(seed)

  /** Expected stop events: maximal runs of same-site pings with no gap >
    * MaxGap inside one scope (the month, or one local day for daily drops).
    * A run of k pings is kept when k >= 3 and it spans >= MinStay; its
    * last ping is not stationary (the next ping is far, late, or absent).
    */
  def expectedEvents(u: User, scope: Ping => Any): Seq[Event] = {
    val out = ArrayBuffer.empty[Event]
    val ps = u.pings.filter(_.site != -2)
    var i = 0
    while (i < ps.length) {
      var j = i
      while (j + 1 < ps.length && ps(i).site >= 0 && ps(j + 1).site == ps(i).site &&
        ps(j + 1).ts - ps(j).ts <= MaxGap && scope(ps(j + 1)) == scope(ps(i))) j += 1
      val k = j - i + 1
      if (ps(i).site >= 0 && k >= 3 && ps(j).ts - ps(i).ts >= MinStay)
        out += Event(u.uid, ps(i).ts, ps(j - 1).ts, ps(i).site)
      i = j + 1
    }
    out.toSeq
  }

  /** Users the city-month ingest keeps: active on more than 6 local days. */
  def activeMonth(u: User): Boolean =
    u.pings.iterator.filter(_.error < MaxError).map(p => localDate(p.ts)).toSet.size > 6

  private def fixed(x: Double, scale: Long, digits: Int, sb: java.lang.StringBuilder): Unit = {
    val v = math.round(x * scale)
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    sb.append(a / scale).append('.')
    val frac = (a % scale).toString
    var pad = digits - frac.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(frac)
  }

  /** Positional raw CSV.gz in the reference's layout: _c0 uid, _c1
    * platform, _c2 lat, _c3 lon, _c4 error, _c5 epoch-ms. Rows are written
    * in time order across users, as a drop arrives.
    */
  def writeCsvGz(file: File, users: Seq[User], keep: Ping => Boolean): Long = {
    val rows = ArrayBuffer.empty[(Long, Int, Ping)]
    users.zipWithIndex.foreach { case (u, k) =>
      u.pings.foreach(p => if (keep(p)) rows += ((p.ts, k, p)))
    }
    val sorted = rows.sortBy(x => (x._1, x._2))
    file.getParentFile.mkdirs()
    val w = new OutputStreamWriter(new GZIPOutputStream(
      new BufferedOutputStream(new FileOutputStream(file), 1 << 16), 1 << 16),
      StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(96)
    try sorted.foreach { case (_, k, p) =>
      sb.setLength(0)
      sb.append(users(k).uid).append(if (k % 3 == 0) ",ios," else ",android,")
      fixed(p.lat, 10000000L, 7, sb); sb.append(',')
      fixed(p.lon, 10000000L, 7, sb); sb.append(',')
      fixed(p.error, 10L, 1, sb); sb.append(',')
      sb.append(p.ts * 1000L).append('\n')
      w.write(sb.toString)
    } finally w.close()
    sorted.length.toLong
  }
}
