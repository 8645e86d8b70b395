package graft

import graft.operators.{Geometry, HomeWork, StopClusters, StopDetect}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** The stop pipeline's uid kernels (stop scan, medians, DBSCAN) as one
  * planned path: column types pass through, and results self-join.
  */
class UidScanSpec extends SparkSpec {
  import spark.implicits._

  private val hw = HomeWork.Params(startHourDay = 7, endHourDay = 21,
    startWorkingHour = 8, endWorkingHour = 18, spanPeriodHome = 0.1,
    spanPeriodWork = 0.1, totalDays = Some(10L))

  private def names(df: DataFrame) =
    df.schema.fields.map(f => f.name -> f.dataType).toSeq

  test("Long and String uids keep their type from medians to wide export") {
    val medians = Seq("uid" -> StringType, "stop_events" -> LongType,
      "latitude" -> DoubleType, "longitude" -> DoubleType,
      "start_timestamp" -> LongType, "end_timestamp" -> LongType)
    val clusters = medians ++ Seq("stop_locations" -> LongType,
      "cluster_counts" -> LongType, "cluster_latitude" -> DoubleType,
      "cluster_longitude" -> DoubleType)
    val labeled = clusters ++ Seq("t_start" -> TimestampType,
      "t_end" -> TimestampType, "year" -> IntegerType,
      "month" -> IntegerType, "day" -> IntegerType, "hour" -> IntegerType,
      "date" -> DateType, "weekday" -> IntegerType, "duration" -> LongType,
      "location_type" -> StringType, "home_label" -> DoubleType,
      "work_label" -> DoubleType)
    val wide = Seq("uid" -> StringType, "h_lat" -> DoubleType,
      "h_lon" -> DoubleType, "w_lat" -> DoubleType, "w_lon" -> DoubleType)
    for ((uid, t) <- Seq[(Any, DataType)]("7" -> StringType, 7L -> LongType)) {
      val pings = PipelineFixture.pings(spark).filter($"uid" === "u")
        .withColumn("uid", org.apache.spark.sql.functions.lit(uid))
      val m = StopDetect.eventMedians(
        StopDetect.stopEvents(pings, StopDetect.Params()))
      val c = StopClusters.cluster(m, StopClusters.Params())
      val l = HomeWork.label(c, hw)
      val w = HomeWork.wideExport(l)
      def typed(s: Seq[(String, DataType)]) =
        s.map { case (n, d) => n -> (if (n == "uid") t else d) }
      assert(names(m) === typed(medians))
      assert(names(c) === typed(clusters))
      assert(names(l) === typed(labeled))
      assert(names(w) === typed(wide))
      val row = w.collect().head
      assert(row.get(0) === uid)
      assert(row.getAs[Double]("h_lat") === 19.0)
      assert(row.getAs[Double]("w_lat") === 19.1)
    }
  }

  test("a self-join of the clusters resolves its added columns") {
    // clusterDiameters joins the clusters with themselves on
    // (uid, stop_locations): both sides carry the kernel's columns
    val clusters = StopClusters.cluster(
      StopDetect.eventMedians(StopDetect.stopEvents(
        PipelineFixture.pings(spark), StopDetect.Params())),
      StopClusters.Params())
    val got = Geometry.clusterDiameters(
      clusters.filter($"stop_locations" =!= -1L), 150.0)
      .orderBy("uid", "stop_locations")
      .as[(String, Long, Long, Long)].collect().toSeq
    // the work dwell comes first (day 1 noon): it is location 0
    assert(got === Seq(("u", 0L, 4L, 0L), ("u", 1L, 6L, 0L),
      ("v", 0L, 4L, 0L), ("v", 1L, 6L, 0L)))
  }
}

/** Two users' pings: a night dwell at home (19.0, -99.0) on days 1-6 and
  * a noon dwell at work (19.1, -99.0) on the weekdays among them, three
  * pings 400 s apart each, then a ping far away that closes the dwell.
  */
object PipelineFixture {
  def pings(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    def at(d: Int, h: Int): Long = d.toLong * 86400L + h * 3600L
    // 1970-01-02 (day 1) was a Friday: days 2 and 3 are the weekend
    val dwells = for {
      d <- 1 to 6
      (h, lat) <- Seq(12 -> 19.1, 23 -> 19.0) if h == 23 || d % 7 != 2 && d % 7 != 3
    } yield (at(d, h), lat)
    val rows = for {
      u <- Seq("u", "v")
      (t, lat) <- dwells
      (dt, la) <- Seq(0L -> lat, 400L -> lat, 800L -> lat, 1200L -> 20.0)
    } yield (u, la, -99.0, t + dt)
    rows.toDF("uid", "latitude", "longitude", "timestamp")
  }
}
