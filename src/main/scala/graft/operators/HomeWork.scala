package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Home/work location inference (HWEstimate, src/polaroam/models.py:271-453
  * + utils.filter_clusters/label_locations, src/polaroam/utils.py:434-501).
  *
  * Entirely relational, and one rule: `label` is
  * `detectWork(detectHome(prepare(...)))`. Each phase marks its candidate
  * rows, counts their distinct visit dates with `collect_set` windows over
  * (uid) and (uid, stop_locations), and relabels every row of a cluster
  * that clears both recurrence thresholds. The date sets are bounded by
  * days-in-period, so window state stays tiny even for whale users.
  * `prepare` hash-partitions the rows by uid and sorts them once by
  * (uid, stop_locations); that layout satisfies all four windows and the
  * wide export's sort aggregate, so the whole tail is one exchange and one
  * sort, with no cache, no label join and no anti-join. On
  * [[StopClusters.cluster]]'s output, which already has that layout, the
  * planner drops both: from pings to the wide export the pipeline
  * shuffles and sorts once.
  *
  * With `totalDays = None` each phase's day span is a global scalar over
  * its candidate rows, so those rows are read twice: once for the scalar
  * subquery, once for the windows. Only that branch routes the prepared
  * rows through a lazy `localCheckpoint`; otherwise both reads would
  * re-run the whole upstream stop pipeline (stop scan, medians and
  * DBSCAN kernels). It sits before the uid layout because a checkpointed
  * scan reports no partitioning. The checkpoint frees through the
  * ContextCleaner, so neither branch touches the session cache.
  *
  * Reference quirks preserved deliberately (SURVEY §7 trap 5):
  *  - every qualifying cluster is labeled H/W, not just the top one
  *    (label_locations' sort+unique dedups per (uid, cluster));
  *  - the label value written is the min-periods threshold float
  *    (models.py:385-386, 438-439 pass it as label_value);
  *  - work detection runs after home and excludes rows already labeled H;
  *  - work-hours filter is hour BETWEEN start AND end — with the class
  *    defaults (8, 6) it is empty unless configured, as in the reference.
  */
object HomeWork {

  /** Defaults mirror HWEstimate.__init__ (models.py:272-283); production
    * configs override to (7,21,8,18, 0.08/0.08, 0.05/0.05, 31 days, MX tz)
    * (get_stops_and_clusters.py:118-128).
    */
  final case class Params(
      startHourDay: Int = 6,
      endHourDay: Int = 21,
      startWorkingHour: Int = 8,
      endWorkingHour: Int = 6,
      minPeriodsHome: Double = 0.5,
      spanPeriodHome: Double = 0.5,
      minPeriodsWork: Double = 0.5,
      spanPeriodWork: Double = 0.5,
      totalDays: Option[Long] = Some(30L),
      convertTz: Boolean = false,
      tz: String = "UTC")

  /** stop_clusters -> + t_start/t_end, calendar parts (local wall clock),
    * duration, and O/-1/-1 label initialization (prepare_labeling,
    * models.py:306-347). Weekday is ISO 1=Mon..7=Sun (Polars convention;
    * Spark weekday() is 0=Mon). Rows come out hash-partitioned by uid and
    * sorted by (uid, stop_locations), behind a lazy checkpoint when
    * `totalDays = None` (see the object doc).
    */
  def prepare(clusters: DataFrame, p: Params): DataFrame = {
    def local(c: Column) = {
      val ts = timestamp_seconds(c)
      if (p.convertTz) from_utc_timestamp(ts, p.tz) else ts
    }
    val prepared = clusters
      .withColumn("t_start", local(col("start_timestamp")))
      .withColumn("t_end", local(col("end_timestamp")))
      .withColumn("year", year(col("t_start")))
      .withColumn("month", month(col("t_start")))
      .withColumn("day", dayofmonth(col("t_start")))
      .withColumn("hour", hour(col("t_start")))
      .withColumn("date", to_date(col("t_start")))
      .withColumn("weekday", weekday(col("t_start")) + lit(1))
      .withColumn("duration",
        col("end_timestamp") - col("start_timestamp"))
      .withColumn("location_type", lit("O"))
      .withColumn("home_label", lit(-1.0))
      .withColumn("work_label", lit(-1.0))
    (if (p.totalDays.isEmpty) prepared.localCheckpoint(eager = false)
     else prepared)
      .repartition(col("uid"))
      .sortWithinPartitions("uid", "stop_locations")
  }

  /** Relabels every row of each (uid, stop_locations) cluster whose
    * candidate rows recur on enough distinct dates (filter_clusters +
    * label_locations, utils.py:434-501, models.py:388-397):
    * cluster_dates / total_dates >= minPeriods and
    * cluster_dates / time_span >= spanPeriod. A cluster with no candidate
    * rows keeps its label, and its zero counts are never divided.
    */
  private def labelRecurring(df: DataFrame, candidate: Column,
                             minPeriods: Double, spanPeriod: Double,
                             totalDays: Option[Long], letter: String,
                             labelCol: String): DataFrame = {
    val candDate = when(candidate, col("date"))
    // the reference's floor((max t_start - min t_start)/1d) + 1 over the
    // candidate frame, a global scalar (utils.py:434-454)
    val timeSpan = totalDays.fold(
      df.filter(candidate).agg(
        floor((max(col("start_timestamp")) - min(col("start_timestamp")))
          / 86400L) + 1L).scalar())(lit(_))
    val dates = col("__cluster_dates")
    df.withColumn("__total_dates",
        size(collect_set(candDate).over(Window.partitionBy("uid"))))
      .withColumn("__cluster_dates", size(collect_set(candDate)
        .over(Window.partitionBy("uid", "stop_locations"))))
      .withColumn("__hit", when(dates > 0,
        dates / col("__total_dates") >= minPeriods &&
          dates / timeSpan >= spanPeriod))
      .withColumn("location_type",
        when(col("__hit"), lit(letter)).otherwise(col("location_type")))
      .withColumn(labelCol,
        when(col("__hit"), lit(minPeriods)).otherwise(col(labelCol)))
      .drop("__total_dates", "__cluster_dates", "__hit")
  }

  /** Night-or-weekend recurrence -> 'H' (detect_home, models.py:349-401). */
  def detectHome(prepared: DataFrame, p: Params): DataFrame =
    labelRecurring(prepared,
      (col("hour") >= p.endHourDay || col("hour") <= p.startHourDay ||
        col("weekday").between(6, 7)) && col("stop_locations") =!= -1L,
      p.minPeriodsHome, p.spanPeriodHome, p.totalDays, "H", "home_label")

  /** Workday-hours recurrence, excluding 'H' -> 'W' (detect_work,
    * models.py:403-453). Must run on detectHome's output.
    */
  def detectWork(homed: DataFrame, p: Params): DataFrame =
    labelRecurring(homed,
      col("hour").between(p.startWorkingHour, p.endWorkingHour) &&
        col("weekday").between(1, 5) && col("stop_locations") =!= -1L &&
        col("location_type") =!= "H",
      p.minPeriodsWork, p.spanPeriodWork, p.totalDays, "W", "work_label")

  /** Full phase: prepare -> home -> work. */
  def label(clusters: DataFrame, p: Params): DataFrame =
    detectWork(detectHome(prepare(clusters, p), p), p)

  /** Wide export: one row per uid with home/work coordinates
    * (get_stops_and_clusters.py:157-185). Deterministic pick per
    * (uid, location_type): highest cluster_counts, then lowest
    * stop_locations (the reference uses unique-after-sort, which Spark's
    * dropDuplicates cannot reproduce deterministically — SURVEY §7 trap 1).
    * One uid aggregate of struct-ordered `max_by`s; on `label`'s output it
    * plans as a sort aggregate over the already sorted rows.
    */
  def wideExport(labeled: DataFrame): DataFrame = {
    def pick(letter: String, c: String) = max_by(col(c),
      when(col("location_type") === letter,
        struct(col("cluster_counts"), -col("stop_locations"))))
    labeled
      .filter(col("location_type").isin("H", "W"))
      .groupBy("uid")
      .agg(pick("H", "cluster_latitude").as("h_lat"),
        pick("H", "cluster_longitude").as("h_lon"),
        pick("W", "cluster_latitude").as("w_lat"),
        pick("W", "cluster_longitude").as("w_lon"))
  }
}
