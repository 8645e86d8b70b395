package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-parity facade: every public entry point of ollin18/PolaRoam,
  * named 1:1, delegating to the Spark-native operators. A reference user
  * switches by replacing `Stopdetect(...)` / `HWEstimate(...)` calls with
  * these (DataFrames in place of LazyFrames).
  *
  * Reference surface covered:
  *  - Stopdetect.fit_predict            -> [[fitPredict]]        (models.py:112-161)
  *  - Stopdetect.compute_label_medians  -> [[computeLabelMedians]] (models.py:163-177)
  *  - Stopdetect.compute_dbscan         -> [[computeDbscan]]     (models.py:206-265)
  *  - Stopdetect.compute_infomap        -> [[computeInfomap]]    (models.py:179-204)
  *  - HWEstimate.prepare_labeling       -> [[prepareLabeling]]   (models.py:306-347)
  *  - HWEstimate.detect_home            -> [[detectHome]]        (models.py:349-401)
  *  - HWEstimate.detect_work            -> [[detectWork]]        (models.py:403-453)
  *  - postprocess interval merge        -> [[mergeIntervals]]    (postprocess.py:3-40)
  *  - read_localize_write pipeline      -> graft.sources.Ingest  (read_localize_write.py)
  *  - wide H/W export                   -> [[hwWide]]            (get_stops_and_clusters.py:157-185)
  */
object PolaRoam {

  /** Stop-detection params, field-per-field with Stopdetect.__init__
    * (models.py:96-110): r1 = stationarity radius, r2 = clustering radius,
    * min_staying_time / max_time_between seconds, min_size pings,
    * min_spacial_resolution degrees.
    */
  final case class Config(
      r1: Double = 10.0,
      r2: Double = 10.0,
      label_singleton: Boolean = true,
      min_staying_time: Long = 300L,
      max_time_between: Long = 86400L,
      min_size: Long = 2L,
      min_spacial_resolution: Double = 0.0,
      distance_metric: String = "haversine",
      weighted: Boolean = false,
      weight_exponent: Double = 1.0)

  /** pings(uid, latitude, longitude, timestamp) -> stop_events rows with
    * the reference's event_maps array shape.
    */
  def fitPredict(pings: DataFrame, c: Config): DataFrame =
    StopDetect.withEventMaps(StopDetect.stopEvents(pings,
      StopDetect.Params(c.r1, c.min_size, c.min_staying_time,
        c.max_time_between, c.distance_metric)))

  /** Flat-column variant of [[fitPredict]] (no event_maps packing). */
  def fitPredictFlat(pings: DataFrame, c: Config): DataFrame =
    StopDetect.stopEvents(pings,
      StopDetect.Params(c.r1, c.min_size, c.min_staying_time,
        c.max_time_between, c.distance_metric))

  /** stop_events -> per-event median coordinates + time span. Accepts
    * either the event_maps or flat-column shape.
    */
  def computeLabelMedians(stopEvents: DataFrame): DataFrame = {
    val flat =
      if (stopEvents.columns.contains("event_maps"))
        stopEvents.select(col("uid"), col("stop_events"),
          col("event_maps").getItem(0).as("latitude"),
          col("event_maps").getItem(1).as("longitude"),
          col("timestamp"))
      else stopEvents
    StopDetect.eventMedians(flat)
  }

  /** event medians -> stop_locations via per-user DBSCAN (eps = r2,
    * min_samples = 2, as models.py:206-237) + cluster medoid stats.
    */
  def computeDbscan(medians: DataFrame, c: Config): DataFrame =
    StopClusters.cluster(medians, StopClusters.Params(
      c.r2, c.distance_metric, c.min_spacial_resolution))

  /** event medians -> stop_locations via the community mode: the same
    * radius graph as the reference (models.py:179-204) partitioned by
    * minimizing the two-level map equation — Infomap's published
    * objective — with deterministic local moves (no RNG, unlike the C++
    * Infomap binding the reference calls).
    */
  def computeInfomap(medians: DataFrame, c: Config): DataFrame =
    Communities.assignLocations(medians, Communities.Params(
      r2 = c.r2, weighted = c.weighted,
      weightExponent = c.weight_exponent,
      minSpacialResolution = c.min_spacial_resolution,
      metric = c.distance_metric, labelSingletons = c.label_singleton,
      algorithm = "infomap"))

  /** HW parameter set, mirroring HWEstimate.__init__ defaults. */
  def hwParams(
      start_hour_day: Int = 6, end_hour_day: Int = 21,
      start_working_hour: Int = 8, end_working_hour: Int = 6,
      min_periods_over_window_home: Double = 0.5,
      span_period_home: Double = 0.5,
      min_periods_over_window_work: Double = 0.5,
      span_period_work: Double = 0.5,
      total_days: Option[Long] = Some(30L),
      convert_tz: Boolean = false, tz: String = "UTC"): HomeWork.Params =
    HomeWork.Params(start_hour_day, end_hour_day, start_working_hour,
      end_working_hour, min_periods_over_window_home, span_period_home,
      min_periods_over_window_work, span_period_work, total_days,
      convert_tz, tz)

  def prepareLabeling(clusters: DataFrame, p: HomeWork.Params): DataFrame =
    HomeWork.prepare(clusters, p)

  def detectHome(prepared: DataFrame, p: HomeWork.Params): DataFrame =
    HomeWork.detectHome(prepared, p)

  def detectWork(homed: DataFrame, p: HomeWork.Params): DataFrame =
    HomeWork.detectWork(homed, p)

  /** labeled rows -> one row per uid: h_lat, h_lon, w_lat, w_lon. */
  def hwWide(labeled: DataFrame): DataFrame = HomeWork.wideExport(labeled)

  /** Merge consecutive same-stop rows into intervals (postprocess.py). */
  def mergeIntervals(stopEvents: DataFrame, maxGap: Long): DataFrame =
    Intervals.coalesceRuns(stopEvents, col("uid"), col("stop_events"),
      col("timestamp"), col("timestamp"), maxGap)

  /** The reference's full production flow
    * (get_stops_and_clusters.py:30-150): stop detection -> medians ->
    * clustering -> home/work labeling, one call.
    */
  def fullPipeline(pings: DataFrame, c: Config,
                   hw: HomeWork.Params): DataFrame =
    HomeWork.label(
      computeDbscan(
        computeLabelMedians(fitPredictFlat(pings, c)), c), hw)
}
