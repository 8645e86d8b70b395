package graft

import graft.operators.HomeWork

class HomeWorkSpec extends SparkSpec {
  import spark.implicits._

  // cluster rows: uid, stop_events, loc, start, end (UTC epoch s)
  private def clusters(rows: (String, Long, Long, Long, Long)*) =
    rows.toSeq.map { case (u, e, l, s, t) =>
      (u, e, 19.0, -99.0, s, t, l, 2L, 19.0, -99.0)
    }.toDF("uid", "stop_events", "latitude", "longitude",
      "start_timestamp", "end_timestamp", "stop_locations",
      "cluster_counts", "cluster_latitude", "cluster_longitude")

  private val p = HomeWork.Params(
    startHourDay = 7, endHourDay = 21,
    startWorkingHour = 8, endWorkingHour = 18,
    minPeriodsHome = 0.5, spanPeriodHome = 0.1,
    minPeriodsWork = 0.5, spanPeriodWork = 0.1,
    totalDays = Some(10L), convertTz = false, tz = "UTC")

  private def day(d: Int, h: Int): Long = (d.toLong * 86400L) + h * 3600L

  test("prepare extracts calendar parts and initializes labels") {
    val prep = HomeWork.prepare(
      clusters(("u", 1L, 0L, day(0, 13) + 1800, day(0, 14))), p).collect().head
    // 1970-01-01 was a Thursday
    assert(prep.getAs[Int]("hour") === 13)
    assert(prep.getAs[Int]("weekday") === 4)
    assert(prep.getAs[Long]("duration") === 1800L)
    assert(prep.getAs[String]("location_type") === "O")
    assert(prep.getAs[Double]("home_label") === -1.0)
  }

  test("night recurrence labels H with threshold value as label") {
    // loc 0 visited at 23:00 on 3 distinct days (days 1,2,3 = Fri,Sat,Sun);
    // loc 1 visited once at noon Monday (day 4) — not a home candidate,
    // but it IS a work candidate (weekday noon, 1/1 recurrence) => 'W'
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 0L, day(2, 23), day(2, 23) + 600),
      ("u", 3L, 0L, day(3, 23), day(3, 23) + 600),
      ("u", 4L, 1L, day(4, 12), day(4, 12) + 600))
    val got = HomeWork.label(df, p).orderBy("stop_events").collect()
    assert(got.take(3).forall(_.getAs[String]("location_type") == "H"))
    assert(got.take(3).forall(_.getAs[Double]("home_label") == 0.5))
    assert(got(3).getAs[String]("location_type") === "W")
  }

  test("work excludes home locations and weekend rows") {
    // loc 0: home (nights, days 1-3); loc 1: weekday noons (Mon day 4,
    // Tue day 5) => W; loc 2: Saturday noon only => not W (weekend)
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 0L, day(2, 23), day(2, 23) + 600),
      ("u", 3L, 0L, day(3, 23), day(3, 23) + 600),
      ("u", 4L, 1L, day(4, 12), day(4, 12) + 600),
      ("u", 5L, 1L, day(5, 12), day(5, 12) + 600),
      ("u", 6L, 2L, day(9, 12), day(9, 12) + 600))
    val got = HomeWork.label(df, p).orderBy("stop_events").collect()
    val byLoc = got.groupBy(_.getAs[Long]("stop_locations"))
    assert(byLoc(0L).forall(_.getAs[String]("location_type") == "H"))
    assert(byLoc(1L).forall(_.getAs[String]("location_type") == "W"))
    assert(byLoc(1L).forall(_.getAs[Double]("work_label") == 0.5))
    assert(byLoc(2L).forall(_.getAs[String]("location_type") == "O"))
  }

  test("noise rows (-1) are never labeled") {
    val df = clusters(
      ("u", 1L, -1L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, -1L, day(2, 23), day(2, 23) + 600),
      ("u", 3L, -1L, day(3, 23), day(3, 23) + 600))
    val got = HomeWork.label(df, p).collect()
    assert(got.forall(_.getAs[String]("location_type") == "O"))
  }

  test("wide export: one row per uid with H and W coordinates") {
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 0L, day(2, 23), day(2, 23) + 600),
      ("u", 3L, 1L, day(4, 12), day(4, 12) + 600),
      ("u", 4L, 1L, day(5, 12), day(5, 12) + 600))
    val wide = HomeWork.wideExport(HomeWork.label(df, p)).collect()
    assert(wide.length === 1)
    assert(wide.head.getAs[Double]("h_lat") === 19.0)
    assert(wide.head.getAs[Double]("w_lon") === -99.0)
  }

  test("a cluster with no candidate rows stays O even at zero thresholds") {
    // loc 0: nights (H); loc 1: Monday 19:00 only — neither a night nor a
    // work-hours row, so it has no candidate dates in either phase
    val zero = p.copy(minPeriodsHome = 0.0, spanPeriodHome = 0.0,
      minPeriodsWork = 0.0, spanPeriodWork = 0.0)
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 1L, day(4, 19), day(4, 19) + 600))
    val got = HomeWork.label(df, zero).collect()
      .map(r => r.getAs[Long]("stop_locations") -> r).toMap
    assert(got(0L).getAs[String]("location_type") === "H")
    assert(got(1L).getAs[String]("location_type") === "O")
    assert(got(1L).getAs[Double]("home_label") === -1.0)
    assert(got(1L).getAs[Double]("work_label") === -1.0)
  }

  test("a uid with no home candidates labels without dividing by zero") {
    // "v" only has weekday noons: zero home dates, still labels W
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("v", 2L, 0L, day(4, 12), day(4, 12) + 600),
      ("v", 3L, 0L, day(5, 12), day(5, 12) + 600))
    val got = HomeWork.label(df, p).collect()
      .map(r => r.getAs[String]("uid") -> r.getAs[String]("location_type"))
    assert(got.toSet === Set("u" -> "H", "v" -> "W"))
  }

  test("totalDays=None: the work span excludes H clusters' rows") {
    // loc 0 is home (nights days 1-3) and also has a Thursday noon on day
    // 0; loc 1 has Mon/Tue noons on days 11-12. Over work candidates
    // without H rows the span is 2 days (2/2 = 1.0 clears 0.5); counting
    // loc 0's day-0 noon would stretch it to 13 days (2/13 < 0.5).
    val none = p.copy(spanPeriodHome = 0.5, spanPeriodWork = 0.5,
      totalDays = None)
    val df = clusters(
      ("u", 1L, 0L, day(0, 12), day(0, 12) + 600),
      ("u", 2L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 3L, 0L, day(2, 23), day(2, 23) + 600),
      ("u", 4L, 0L, day(3, 23), day(3, 23) + 600),
      ("u", 5L, 1L, day(11, 12), day(11, 12) + 600),
      ("u", 6L, 1L, day(12, 12), day(12, 12) + 600))
    val got = HomeWork.label(df, none).collect()
      .map(r => r.getAs[Long]("stop_locations") ->
        r.getAs[String]("location_type")).toSet
    assert(got === Set(0L -> "H", 1L -> "W"))
  }

  test("wide export: a cluster_counts tie goes to the lowest stop_locations") {
    val labeled = Seq(
      ("u", "H", 5L, 3L, 10.0), ("u", "H", 5L, 1L, 11.0),
      ("u", "H", 4L, 0L, 12.0), ("u", "W", 2L, 7L, 13.0),
      ("u", "O", 9L, 2L, 14.0), ("o", "O", 9L, 0L, 15.0))
      .toDF("uid", "location_type", "cluster_counts", "stop_locations",
        "cluster_latitude")
      .withColumn("cluster_longitude", -$"cluster_latitude")
    val wide = HomeWork.wideExport(labeled).collect()
    assert(wide.length === 1, "a uid with neither H nor W has no row")
    assert(wide.head.getAs[Double]("h_lat") === 11.0)
    assert(wide.head.getAs[Double]("h_lon") === -11.0)
    assert(wide.head.getAs[Double]("w_lat") === 13.0)
  }

  test("label with totalDays = Some(n) leaves no cache behind") {
    val df = clusters(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 1L, day(4, 12), day(4, 12) + 600))
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val tracked = CacheScope.trackedCount
    HomeWork.label(df, p).collect()
    assert(sc.getPersistentRDDs.keySet.diff(before).isEmpty,
      "label must not persist anything")
    assert(CacheScope.trackedCount === tracked)
  }
}

class HomeWorkTotalDaysSpec extends SparkSpec {
  import graft.operators.HomeWork
  import spark.implicits._

  test("totalDays=None computes the span from the candidate frame (J5)") {
    def day(d: Int, h: Int): Long = d.toLong * 86400L + h * 3600L
    // nights on days 1..3 -> computed span = floor((d3-d1)/1d)+1 = 3;
    // cluster_dates/3 = 1.0 clears any threshold
    val df = Seq(
      ("u", 1L, 0L, day(1, 23), day(1, 23) + 600),
      ("u", 2L, 0L, day(2, 23), day(2, 23) + 600),
      ("u", 3L, 0L, day(3, 23), day(3, 23) + 600))
      .toSeq.map { case (u, e, l, s, t) =>
        (u, e, 19.0, -99.0, s, t, l, 2L, 19.0, -99.0)
      }.toDF("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp", "stop_locations",
        "cluster_counts", "cluster_latitude", "cluster_longitude")
    val p = HomeWork.Params(startHourDay = 7, endHourDay = 21,
      minPeriodsHome = 0.9, spanPeriodHome = 0.9, totalDays = None)
    val got = HomeWork.detectHome(HomeWork.prepare(df, p), p).collect()
    assert(got.forall(_.getAs[String]("location_type") == "H"))
  }
}
