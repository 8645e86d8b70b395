package graft

import graft.operators.StopDetect
import org.apache.spark.sql.functions.{col, median, udf}

class StopDetectSpec extends SparkSpec {
  import spark.implicits._

  // r_C=50m, minSize=2, minStay=600s, maxStay=3600s
  private val p = StopDetect.Params(50.0, 2L, 600L, 3600L, "haversine")

  private def run(rows: Seq[(String, Double, Double, Long)]) =
    StopDetect.stopEvents(
      rows.toDF("uid", "latitude", "longitude", "timestamp"), p)
      .orderBy("uid", "timestamp")
      .select("uid", "stop_events", "timestamp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  test("dwell then move: one stop event, tail is -1") {
    // 3 pings ~11m apart in a dwell, then a 1km jump
    val got = run(Seq(
      ("u", 19.0000, -99.0, 0L),
      ("u", 19.0001, -99.0, 400L),
      ("u", 19.0002, -99.0, 800L),
      ("u", 19.0100, -99.0, 1200L)))
    // last dwell row's lead distance is the jump => not stationary;
    // event rows are the first two; total_time = 400+400 >= 600, size 2
    assert(got.map(_._2).toSeq === Seq(1L, 1L, -1L, -1L))
  }

  test("short dwell below minStayingTime is invalidated to -1") {
    val got = run(Seq(
      ("u", 19.0000, -99.0, 0L),
      ("u", 19.0001, -99.0, 100L), // total_time 100+100 < 600
      ("u", 19.0100, -99.0, 200L)))
    assert(got.map(_._2).toSeq === Seq(-1L, -1L, -1L))
  }

  test("time gap above maxStayingTime splits events") {
    // stationarity is forward-looking (reference utils.py:354-359): the row
    // BEFORE the 4300s gap sees time_diff > maxStayingTime and drops out,
    // leaving event 1 with a single row => invalidated by minSize.
    val got = run(Seq(
      ("u", 19.0000, -99.0, 0L),
      ("u", 19.0001, -99.0, 700L),
      ("u", 19.0000, -99.0, 5000L),  // gap 4300 > 3600 breaks
      ("u", 19.0001, -99.0, 5700L),
      ("u", 19.0000, -99.0, 6400L)))
    val ids = got.map(_._2).toSeq
    assert(ids === Seq(-1L, -1L, 2L, 2L, -1L))
  }

  test("single-ping user is -1 and users are independent") {
    val got = run(Seq(
      ("a", 19.0, -99.0, 0L),
      ("b", 19.0000, -99.0, 0L),
      ("b", 19.0001, -99.0, 400L),
      ("b", 19.0002, -99.0, 800L),
      ("b", 19.0100, -99.0, 1200L)))
    assert(got.filter(_._1 == "a").map(_._2).toSeq === Seq(-1L))
    assert(got.filter(_._1 == "b").map(_._2).toSeq ===
      Seq(1L, 1L, -1L, -1L))
  }

  test("eventMedians: exact median and span") {
    val se = StopDetect.stopEvents(Seq(
      ("u", 19.0000, -99.0, 0L),
      ("u", 19.0002, -99.0, 400L),
      ("u", 19.0001, -99.0, 800L),
      ("u", 19.0100, -99.0, 1200L))
      .toDF("uid", "latitude", "longitude", "timestamp"), p)
    // stationary rows are t=0 and t=400 only (t=800's lead is the jump)
    val m = StopDetect.eventMedians(se).collect()
    assert(m.length === 1)
    val r = m.head
    assert(r.getAs[Double]("latitude") === 19.0001)
    assert(r.getAs[Long]("start_timestamp") === 0L)
    assert(r.getAs[Long]("end_timestamp") === 400L)
  }

  private def ids(df: org.apache.spark.sql.DataFrame) =
    StopDetect.stopEvents(df, p).orderBy("uid", "timestamp")
      .select("uid", "stop_events").collect()
      .map(r => (r.get(0).toString, r.getLong(1))).toSeq

  test("a null latitude in the middle of a dwell splits it") {
    // one spot, 400 s apart, then a jump. Without the null the first six
    // rows are one event. The row before the null sees a null distance
    // and the null row has one itself: both are -1, each half is an event.
    // The spot is (0, 0), where a null read as 0.0 would look stationary.
    val lats = Seq(Some(0.0), Some(0.0), Some(0.0), None,
      Some(0.0), Some(0.0), Some(0.0), Some(0.1))
    val df = lats.zipWithIndex
      .map { case (la, i) => ("u", la, 0.0, i * 400L) }
      .toDF("uid", "latitude", "longitude", "timestamp")
    assert(ids(df).map(_._2) === Seq(1L, 1L, -1L, -1L, 2L, 2L, -1L, -1L))
  }

  test("an invalidated first run still uses up id 1") {
    // run 1 (t=0,100) totals 200 s < 600 and is invalidated; run 2 at a
    // second spot (t=300,700) totals 800 s and keeps id 2
    val got = run(Seq(
      ("u", 19.0, -99.0, 0L), ("u", 19.0, -99.0, 100L),
      ("u", 19.0, -99.0, 200L), ("u", 19.1, -99.0, 300L),
      ("u", 19.1, -99.0, 700L), ("u", 19.1, -99.0, 1100L),
      ("u", 19.2, -99.0, 1500L)))
    assert(got.map(_._2).toSeq === Seq(-1L, -1L, -1L, 2L, 2L, -1L, -1L))
  }

  test("two uids in one shuffle partition: runs never cross, ids restart") {
    // b continues a's dwell at the same spot 400 s later. Crossing uids
    // would make a's last row stationary and give b's event id 2.
    val rows = Seq(
      ("a", 19.0, -99.0, 0L), ("a", 19.0, -99.0, 400L),
      ("a", 19.0, -99.0, 800L), ("a", 19.0, -99.0, 1200L),
      ("b", 19.0, -99.0, 1600L), ("b", 19.0, -99.0, 2000L),
      ("b", 19.0, -99.0, 2400L), ("b", 19.1, -99.0, 2800L))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    val got =
      try ids(rows.toDF("uid", "latitude", "longitude", "timestamp"))
      finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    assert(got === Seq(("a", 1L), ("a", 1L), ("a", 1L), ("a", -1L),
      ("b", 1L), ("b", 1L), ("b", -1L), ("b", -1L)))
  }

  test("Long and String uids keep their type in the output schema") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val dwell = Seq((19.0, 0L), (19.0, 400L), (19.0, 800L), (19.1, 1200L))
    val asLong = dwell.map { case (la, t) => (7L, la, -99.0, t) }
      .toDF("uid", "latitude", "longitude", "timestamp")
    val asString = dwell.map { case (la, t) => ("7", la, -99.0, t) }
      .toDF("uid", "latitude", "longitude", "timestamp")
    for ((df, t) <- Seq(asLong -> LongType, asString -> StringType)) {
      val out = StopDetect.stopEvents(df, p)
      assert(out.schema("uid").dataType === t)
      assert(out.columns.toSeq ===
        Seq("uid", "stop_events", "latitude", "longitude", "timestamp"))
      assert(ids(df).map(_._2) === Seq(1L, 1L, -1L, -1L))
    }
  }

  test("a run whose every time gap is null is never kept") {
    // null timestamps: the gaps count as within time, but total_time is
    // null, so even minStayingTime = 0 does not keep the run
    val df = Seq[(String, Double, Double, Option[Long])](
      ("u", 19.0, -99.0, None), ("u", 19.0, -99.0, None),
      ("u", 19.0, -99.0, None), ("u", 19.1, -99.0, Some(100L)))
      .toDF("uid", "latitude", "longitude", "timestamp")
    val got = StopDetect.stopEvents(df, p.copy(minStayingTime = 0L))
      .collect().map(_.getAs[Long]("stop_events"))
    assert(got.toSeq === Seq(-1L, -1L, -1L, -1L))
  }

  test("a fractional timestamp is rejected up front") {
    val df = Seq(("u", 19.0, -99.0, 0.5))
      .toDF("uid", "latitude", "longitude", "timestamp")
    val e = intercept[IllegalArgumentException](StopDetect.stopEvents(df, p))
    assert(e.getMessage.contains("timestamp must be integral"))
  }

  test("a dwell of more than 4,096 pings is one event") {
    val n = 5000
    val df = ((0 until n).map(i => ("u", 19.0, -99.0, i * 60L)) :+
      ("u", 19.1, -99.0, n * 60L))
      .toDF("uid", "latitude", "longitude", "timestamp")
    // every dwell row but the last sees a stationary successor
    val got = ids(df).map(_._2)
    assert(got.take(n - 1).forall(_ == 1L))
    assert(got.drop(n - 1) === Seq(-1L, -1L))
  }

  test("eventMedians equals Spark's median bit for bit") {
    // groups of 1-6 values, duplicates, wide mixed-sign spreads (where
    // a + 0.5*(b-a) and 0.5*a + 0.5*b differ), NaN, null, all-null
    val rng = new scala.util.Random(7)
    val random = (1 to 6).flatMap(n =>
      (1 to 5).map(_ => Seq.fill(n)(Option(rng.nextGaussian() * 1e3))))
    val crafted = Seq(
      Seq(-3.0, 7.1e2), Seq(-3.0, 7.1e2, 7.1e2, -3.0), Seq(0.1, 0.2),
      Seq(0.1, 0.7, 0.2, 0.3), Seq(2.0, 2.0, 2.0), Seq(1.0, 1.0, 5.0, 5.0),
      Seq(-1e300, 1e300), Seq(Double.MinPositiveValue),
      Seq(Double.NaN, 1.0), Seq(Double.NaN, 1.0, 2.0),
      Seq(Double.NaN, Double.NaN)).map(_.map(Option(_))) ++ Seq(
      Seq(Some(19.5), None, Some(19.25)), Seq(None, Some(4.0)), Seq(None))
    val rows = (random ++ crafted).zipWithIndex.flatMap { case (g, e) =>
      g.zipWithIndex.map { case (v, i) =>
        ("u", e + 1L, v, v.map(-_), i.toLong) }
    }.toDF("uid", "stop_events", "latitude", "longitude", "timestamp")
    val bits = udf((d: java.lang.Double) =>
      Option(d).map(x => java.lang.Double.doubleToLongBits(x)))
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(col("stop_events"), bits(col("latitude")),
        bits(col("longitude"))).collect()
        .map(r => r.getLong(0) -> (r.get(1), r.get(2))).toMap
    val want = keyed(rows.groupBy("uid", "stop_events").agg(
      median(col("latitude")).as("latitude"),
      median(col("longitude")).as("longitude")))
    val got = keyed(StopDetect.eventMedians(rows))
    assert(got.size === random.size + crafted.size)
    assert(got === want)
  }
}

/** The fused stop-to-median kernel against the generic median kernel run
  * over the same stop events, materialized first so that no fusion
  * applies: every column equal bit for bit.
  */
class StopMediansParitySpec extends SparkSpec {
  import org.apache.spark.sql.{DataFrame, Row}
  import org.apache.spark.sql.types._
  import PlanAuditSpec.kernels

  /** Asserts the parity; returns the number of median rows. */
  private def parity(pings: DataFrame, p: StopDetect.Params): Int = {
    val events = StopDetect.stopEvents(pings, p)
    val fused = StopDetect.eventMedians(events)
    val stored = spark.createDataFrame(
      java.util.Arrays.asList(events.collect(): _*), events.schema)
    val generic = StopDetect.eventMedians(stored)
    def bits(df: DataFrame) = df.collect().toSeq.map(r => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }).sortBy(r => (r.head.toString, r(1).asInstanceOf[Long]))
    val (f, g) = (bits(fused), bits(generic))
    assert(kernels(fused) === Seq("StopMedians"))
    assert(kernels(generic) === Seq("Medians"))
    assert(fused.schema === generic.schema)
    assert(f.size === g.size)
    f.zip(g).foreach { case (a, b) => assert(a === b) }
    f.size
  }

  /** Seeded trajectories of dwells (about 1 m of jitter, 30-930 s apart,
    * sometimes split by a 4,000 s gap or a null latitude) and moves of at
    * least 1 km. Every fifth user starts with pings whose timestamp is
    * null at its first site (they sort first; one site, so their order
    * does not matter); one user has no timestamp at all. Timestamps are
    * distinct within a user.
    */
  private def pings(seed: Int, users: Int, longUid: Boolean,
                    intTs: Boolean): DataFrame = {
    val rng = new scala.util.Random(seed)
    val rows = (0 until users).flatMap { u =>
      var (la, lo, t) = (19.0 + rng.nextDouble() * 0.1,
        -99.0 + rng.nextDouble() * 0.1, rng.nextInt(1000).toLong)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Option[Double], Double, Option[Long])]
      if (u % 5 == 1) (0 to rng.nextInt(3)).foreach(_ => out += ((Some(la), lo, None)))
      (0 to rng.nextInt(12)).foreach { _ =>
        if (rng.nextBoolean()) (0 to rng.nextInt(8)).foreach { _ =>
          t += 30 + rng.nextInt(900) + (if (rng.nextInt(12) == 0) 4000 else 0)
          val lat = if (rng.nextInt(15) == 0) None
            else Some(la + rng.nextGaussian() * 1e-5)
          out += ((lat, lo + rng.nextGaussian() * 1e-5, Some(t)))
        } else {
          la += 0.01 + rng.nextDouble() * 0.05
          t += 60 + rng.nextInt(600)
          out += ((Some(la), lo, Some(t)))
        }
      }
      val ts = if (u == users - 1) out.map(_.copy(_3 = None)) else out
      ts.map { case (lat, lon, time) =>
        Row(if (longUid) u.toLong else s"u$u", lat.map(Double.box).orNull, lon,
          time.map[AnyRef](v => if (intTs) Int.box(v.toInt) else Long.box(v)).orNull)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("uid", if (longUid) LongType else StringType),
      StructField("latitude", DoubleType), StructField("longitude", DoubleType),
      StructField("timestamp", if (intTs) IntegerType else LongType))))
  }

  test("fused medians equal the generic kernel on random trajectories") {
    val haversine = StopDetect.Params(50.0, 2L, 600L, 3600L, "haversine")
    val euclidean = StopDetect.Params(0.0005, 3L, 600L, 3600L, "euclidean")
    var seed = 0
    for (p <- Seq(haversine, euclidean); longUid <- Seq(false, true);
         intTs <- Seq(false, true)) {
      seed += 1
      assert(parity(pings(seed, 40, longUid, intTs), p) > 50, (p, longUid, intTs))
    }
  }

  test("a whale uid: 100,000 pings and dwells of thousands, fused equals generic") {
    // dwells of 2,000-6,000 pings a minute apart, each closed by ten moving
    // pings; a few short dwells are invalidated and use up their ids
    val rng = new scala.util.Random(11)
    var (la, t) = (19.0, 0L)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double, Long)]
    while (rows.size < 100000) {
      val n = if (rng.nextInt(5) == 0) 2 else 2000 + rng.nextInt(4000)
      (0 until n).foreach { _ =>
        t += 60
        rows += (("whale", la + rng.nextGaussian() * 1e-5, -99.0, t))
      }
      (0 until 10).foreach { _ =>
        la += 0.01; t += 120
        rows += (("whale", la, -99.0, t))
      }
    }
    import spark.implicits._
    val df = rows.toSeq.toDF("uid", "latitude", "longitude", "timestamp")
    assert(parity(df, StopDetect.Params(50.0, 2L, 600L, 3600L, "haversine")) > 15)
  }
}

class EuclideanMetricSpec extends SparkSpec {
  import spark.implicits._

  test("euclidean metric: degrees-space radius") {
    // two points 0.003 deg apart: euclidean r_C=0.005 keeps the first
    // stationary (forward-looking), the 0.1 deg jump breaks the run;
    // minSize=1 so the single-row event survives
    val p = graft.operators.StopDetect.Params(
      rC = 0.005, minSize = 1L, minStayingTime = 100L,
      maxStayingTime = 3600L, metric = "euclidean")
    val got = graft.operators.StopDetect.stopEvents(Seq(
      ("u", 19.000, -99.0, 0L),
      ("u", 19.003, -99.0, 200L),
      ("u", 19.103, -99.0, 400L))
      .toDF("uid", "latitude", "longitude", "timestamp"), p)
      .orderBy("timestamp").collect()
      .map(_.getAs[Long]("stop_events"))
    assert(got.toSeq === Seq(1L, -1L, -1L))
  }
}
