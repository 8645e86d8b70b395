package graft.operators

import graft.plans.{Haversine, StopScan, StopScanStrategy}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, NumericType, ShortType}

/** Stationary-event segmentation — the heart of the reference engine
  * (Stopdetect.fit_predict, src/polaroam/models.py:112-161 wrapping
  * get_stationary_events, src/polaroam/utils.py:350-413).
  *
  * Spark-first design: the reference's global sort + per-user map_groups
  * becomes ONE hash exchange on uid, ONE sort on (uid, timestamp) within
  * partitions, and ONE ordered scan ([[graft.plans.StopScanExec]]) that
  * classifies each ping when its successor arrives. The scan keeps the
  * uid attribute and passes the uid partitioning and sort order through,
  * so [[eventMedians]]' (uid, stop_events) aggregate needs no second
  * exchange: the pipeline from pings to medians shuffles once. The scan
  * buffers only the open stationary run, so memory is bounded by the
  * longest stop, not by the busiest user. [[stopEvents]] installs the
  * planner strategy ([[graft.plans.StopScanStrategy]]) on the session of
  * its input, once.
  *
  * Semantics preserved exactly (SURVEY §7 traps 3-4):
  *  - distance/time_diff are to the NEXT point (lead); the last point of a
  *    trajectory, or a null coordinate on either side, has null distance
  *    -> not stationary -> event -1;
  *  - within_time treats null time_diff as true (utils.py:358);
  *  - event ids are 1-based cumulative run starts per uid, -1 when not
  *    stationary; invalidated runs still use up their id;
  *  - an event's total_time sums forward diffs, i.e. includes the gap from
  *    the event's last row to the next (non-stop) point (utils.py:383-387),
  *    and is null when every diff is null;
  *  - events failing min_size/min_staying_time are invalidated to -1. The
  *    reference's left-join-on-key version (utils.py:390-400) no-ops in
  *    Polars; we implement the documented intent.
  */
object StopDetect {

  /** @param rC              stationarity radius in meters (r1)
    * @param minSize         min #pings per kept event
    * @param minStayingTime  min total event duration, seconds
    * @param maxStayingTime  max gap between consecutive stationary pings, s
    * @param metric          "haversine" (meters) or "euclidean" (degrees)
    */
  final case class Params(
      rC: Double = 20.0,
      minSize: Long = 2L,
      minStayingTime: Long = 300L,
      maxStayingTime: Long = 3600L,
      metric: String = "haversine")

  /** Distance from a ping to its next one under `p.metric`: the same
    * arithmetic as GeoFunctions' haversine (native expression) and
    * euclidean (Spark's `pow` is StrictMath.pow) columns.
    */
  def distance(p: Params, lat1: Double, lon1: Double,
               lat2: Double, lon2: Double): Double =
    if (p.metric == "euclidean")
      Math.sqrt(StrictMath.pow(lat2 - lat1, 2) + StrictMath.pow(lon2 - lon1, 2))
    else Haversine.compute(lat1, lon1, lat2, lon2)

  /** A ping is stationary when its next ping lies within `rC` and, unless
    * the gap is unknown (`timed = false`: a null timestamp), within
    * `maxStayingTime`.
    */
  def isStationary(p: Params, distance: Double, timeDiff: Long,
                   timed: Boolean = true): Boolean =
    distance <= p.rC && (!timed || timeDiff <= p.maxStayingTime)

  /** A closed run is kept as an event when it is long enough in pings and
    * in time (its summed forward gaps).
    */
  def keepRun(p: Params, size: Long, totalTime: Long): Boolean =
    size >= p.minSize && totalTime >= p.minStayingTime

  /** pings(uid, latitude, longitude, timestamp [, ...]) ->
    * (uid, stop_events, latitude, longitude, timestamp).
    *
    * `stop_events` is -1 for non-stationary rows. Unlike the reference we
    * keep latitude/longitude as flat columns rather than the 2-array
    * `event_maps` (models.py:136) — the array was a Polars schema artifact;
    * [[withEventMaps]] restores it for API parity. The four input columns
    * keep their types; coordinates must be numeric and the timestamp
    * integral (epoch seconds).
    */
  def stopEvents(pings: DataFrame, p: Params): DataFrame = {
    val input = pings.select(
      col("uid"), col("latitude"), col("longitude"), col("timestamp"))
    val types = input.schema.map(f => f.name -> f.dataType).toMap
    Seq("latitude", "longitude").foreach(c => require(
      types(c).isInstanceOf[NumericType],
      s"stopEvents: $c must be numeric, got ${types(c).simpleString}"))
    require(Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(types("timestamp")),
      s"stopEvents: timestamp must be integral epoch seconds, got " +
        types("timestamp").simpleString)
    val spark = pings.sparkSession
    StopScanStrategy.install(spark)
    val stops = AttributeReference("stop_events", LongType, nullable = false)()
    GraftBridge.ofRows(spark,
      StopScan(p, stops, input.queryExecution.analyzed))
      .select("uid", "stop_events", "latitude", "longitude", "timestamp")
  }

  /** Reference-shaped output with event_maps = [lat, lon]
    * (models.py:133-138).
    */
  def withEventMaps(stopEvents: DataFrame): DataFrame =
    stopEvents.select(
      col("uid"), col("stop_events"),
      array(col("latitude"), col("longitude")).as("event_maps"),
      col("timestamp"))

  /** Per-(uid, stop_events) median coordinates and time span
    * (compute_label_medians, src/polaroam/models.py:163-177).
    * Exact median — required for oracle parity (SURVEY §7 trap 9) — read
    * from each event's sorted coordinates, with Spark's `median`
    * arithmetic (PercentileBase.getPercentile): the middle element when n
    * is odd, `0.5 * lo + 0.5 * hi` when n is even. Nulls are skipped and
    * NaN sorts last, as in `median`.
    */
  def eventMedians(stopEvents: DataFrame): DataFrame = {
    def sorted(c: String) =
      sort_array(collect_list(col(c).cast("double"))).as(c)
    stopEvents
      .filter(col("stop_events") =!= -1L)
      .groupBy("uid", "stop_events")
      .agg(
        sorted("latitude"),
        sorted("longitude"),
        min(col("timestamp")).as("start_timestamp"),
        max(col("timestamp")).as("end_timestamp"))
      .select(
        col("uid"), col("stop_events"),
        sortedMedian(col("latitude")).as("latitude"),
        sortedMedian(col("longitude")).as("longitude"),
        col("start_timestamp"), col("end_timestamp"))
  }

  /** Median of an ascending array; null when it is empty. `get` is
    * 0-based and null out of range, also under ANSI.
    */
  private def sortedMedian(s: Column): Column = {
    val n = size(s)
    val lo = get(s, floor((n - 1) / 2))
    val hi = get(s, floor(n / 2))
    when(n % 2 === 1, lo).otherwise(lit(0.5) * lo + lit(0.5) * hi)
  }
}
