package perfbench

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Planted truth of a workload and the checks of the program's outputs
  * against it. Users are keyed as the pipeline sees them: the CSV
  * workloads' uids are anonymized by ingest, so their key is the
  * sha256-mod-2^63 of the raw uid, computed here independently.
  */
final case class Truth(
    /** key -> expected stop events (start, end, site lat, site lon) */
    events: Map[String, Seq[(Long, Long, Double, Double)]],
    /** key -> (home, work) sites */
    homeWork: Map[String, (Gen.Site, Option[Gen.Site])],
    /** key -> the two planted sites 10 m apart, both with stops */
    twins: Map[String, (Gen.Site, Gen.Site)]) {

  import Truth._

  /** Failures of the exported wide H/W table against the planted sites. */
  def checkExport(rows: Seq[Row]): Seq[String] = {
    val got = rows.map(r => r.getAs[String]("uid") -> r).toMap
    val missing = homeWork.keySet -- got.keySet
    val extra = got.keySet -- homeWork.keySet
    def site(r: Row, p: String): Option[Gen.Site] =
      Option(r.getAs[String](s"${p}_lat")).map(lat =>
        Gen.Site(lat.toDouble, r.getAs[String](s"${p}_lon").toDouble))
    def off(want: Option[Gen.Site], have: Option[Gen.Site]): Boolean =
      (want, have) match {
        case (Some(a), Some(b)) => Gen.meters(a, b) > TolM
        case (None, None) => false
        case _ => true
      }
    val wrong = homeWork.toSeq.sortBy(_._1).flatMap { case (k, (h, w)) =>
      got.get(k).toSeq.flatMap { r =>
        (if (off(Some(h), site(r, "h"))) Seq(s"uid $k: home ${site(r, "h")} != planted $h") else Nil) ++
          (if (off(w, site(r, "w"))) Seq(s"uid $k: work ${site(r, "w")} != planted $w") else Nil)
      }
    }
    (if (missing.nonEmpty) Seq(s"${missing.size} planted users missing from export, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"${extra.size} unexpected users in export, e.g. ${extra.head}") else Nil) ++
      wrong.take(5)
  }

  /** Failures of detected stop medians (uid, start_timestamp,
    * end_timestamp, latitude, longitude) against the planted events.
    */
  def checkStops(rows: Seq[Row]): Seq[String] = {
    val got = rows.map { r =>
      (r.get(0).toString, (num(r.get(1)).toLong, num(r.get(2)).toLong), (num(r.get(3)), num(r.get(4))))
    }.groupBy(_._1)
    val keys = (events.keySet ++ got.keySet).toSeq.sorted
    keys.flatMap { k =>
      val want = events.getOrElse(k, Nil).map(e => (e._1, e._2) -> (e._3, e._4)).toMap
      val have = got.getOrElse(k, Nil).map(g => g._2 -> g._3).toMap
      if (want.keySet != have.keySet)
        Seq(s"uid $k: ${have.size} stops detected, ${want.size} planted, " +
          s"${(want.keySet -- have.keySet).size} planted not detected")
      else want.toSeq.flatMap { case (span, (lat, lon)) =>
        val (mLat, mLon) = have(span)
        if (Gen.meters(Gen.Site(lat, lon), Gen.Site(mLat, mLon)) > Gen.JitterM * 2)
          Seq(s"uid $k: stop $span median ($mLat, $mLon) off its site ($lat, $lon)")
        else Nil
      }
    }.take(5)
  }

  /** Failures of clusters (uid, latitude, longitude, stop_locations): the
    * stops at two planted sites 10 m apart share one stop location.
    */
  def checkTwins(rows: Seq[Row]): Seq[String] = {
    val byUid = rows.groupBy(_.get(0).toString)
    twins.toSeq.sortBy(_._1).flatMap { case (k, (a, b)) =>
      val labels = byUid.getOrElse(k, Nil).collect {
        case r if Gen.meters(a, Gen.Site(num(r.get(1)), num(r.get(2)))) < 8 ||
          Gen.meters(b, Gen.Site(num(r.get(1)), num(r.get(2)))) < 8 => num(r.get(3)).toLong
      }.toSet
      if (labels.size == 1 && labels.head >= 0) Nil
      else Seq(s"uid $k: stops at two sites 10 m apart got stop_locations $labels")
    }.take(5)
  }
}

object Truth {
  /** Export coordinates are cluster medians of stop medians. */
  val TolM = 8.0

  private def num(x: Any): Double = x match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case s: String => s.toDouble
  }

  /** Ingest's uid anonymization: int.from_bytes(sha256(uid)) mod 2^63. */
  def uidHash(uid: String): Long = {
    val d = MessageDigest.getInstance("SHA-256").digest(uid.getBytes("UTF-8"))
    ByteBuffer.wrap(d, 24, 8).getLong & Long.MaxValue
  }

  /** Truth of `users` with stop events cut per `scope`. */
  def of(users: Seq[Gen.User], hashed: Boolean, scope: Gen.Ping => Any): Truth = {
    def key(u: Gen.User) = if (hashed) uidHash(u.uid).toString else u.uid
    val events = users.map { u =>
      key(u) -> Gen.expectedEvents(u, scope).map { e =>
        val s = u.sites(e.site)
        (e.start, e.end, s.lat, s.lon)
      }
    }.filter(_._2.nonEmpty).toMap
    val hw = users.filter(_.home >= 0).map { u =>
      key(u) -> (u.sites(u.home), if (u.work >= 0) Some(u.sites(u.work)) else None)
    }.toMap
    val twins = users.flatMap { u =>
      val visited = Gen.expectedEvents(u, scope).map(_.site).toSet
      u.twin.collect { case (a, b) if visited(a) && visited(b) => key(u) -> (u.sites(a), u.sites(b)) }
    }.toMap
    Truth(events, hw, twins)
  }
}
