package graft.operators

import scala.collection.mutable.ArrayBuffer

import graft.plans.{Haversine, UidKernel, UidScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, NumericType, ShortType, StructField}

/** Stationary-event segmentation — the heart of the reference engine
  * (Stopdetect.fit_predict, src/polaroam/models.py:112-161 wrapping
  * get_stationary_events, src/polaroam/utils.py:350-413).
  *
  * Spark-first design: the reference's global sort + per-user map_groups
  * becomes ONE hash exchange on uid, ONE sort on (uid, timestamp) within
  * partitions, and ONE ordered scan that classifies each ping when its
  * successor arrives: the stop kernel of a [[graft.plans.UidScanExec]].
  * The scan keeps the uid attribute and passes the uid partitioning and
  * sort order through, so [[eventMedians]], the next kernel on the same
  * node, needs no second exchange or sort: the pipeline from pings to
  * medians shuffles and sorts once. The scan buffers only the open
  * stationary run, so memory is bounded by the longest stop, not by the
  * busiest user.
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

  /** Distance between two points under `metric`, "haversine" (meters) or
    * "euclidean" (degrees): the same arithmetic as GeoFunctions'
    * haversine (native expression) and euclidean (Spark's `pow` is
    * StrictMath.pow) columns. The one scalar distance of the per-user
    * kernels (stop scan, DBSCAN, community graphs, hull diameters).
    */
  def distance(metric: String, lat1: Double, lon1: Double,
               lat2: Double, lon2: Double): Double =
    if (metric == "euclidean")
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
    UidScan.frame(input, Stops(p))
      .select("uid", "stop_events", "latitude", "longitude", "timestamp")
  }

  /** The stop rule as a uid kernel: appends `stop_events` to each of a
    * uid's pings, which arrive sorted by timestamp. A ping is stationary
    * when its successor is near (distance and time gap are
    * forward-looking). Each stretch of stationary pings and the ping that
    * ends it is buffered, then leaves in input order: the stretch with its
    * id when it passes the keep rule, else -1, and the ending ping -1.
    */
  private final case class Stops(p: Params) extends UidKernel {
    override def sortedBy: Seq[String] = Seq("timestamp")
    override def adds(in: Seq[Attribute]): Seq[StructField] =
      Seq(StructField("stop_events", LongType, nullable = false))
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val (unset, joined, event) = (InternalRow(-1L), new JoinedRow, in.length)
      // the output keeps every input column in place: the readers and
      // ordinals of the input apply to output rows, stop_events is last
      val Seq(lat, lon, ts) =
        Seq("latitude", "longitude", "timestamp").map(UidScan.ordinal(in, _))
      val (latOf, lonOf, tsOf) = (UidScan.doubles(in, "latitude"),
        UidScan.doubles(in, "longitude"), UidScan.longs(in, "timestamp"))
      def timed(a: InternalRow, b: InternalRow) = !(a.isNullAt(ts) || b.isNullAt(ts))
      def gap(a: InternalRow, b: InternalRow) = if (timed(a, b)) tsOf(b) - tsOf(a) else 0L
      def stationary(a: InternalRow, b: InternalRow) =
        !(a.isNullAt(lat) || a.isNullAt(lon) || b.isNullAt(lat) || b.isNullAt(lon)) &&
          isStationary(p, distance(p.metric, latOf(a), lonOf(a), latOf(b), lonOf(b)),
            gap(a, b), timed(a, b))
      rows => {
        val pings = rows.map(r => out(joined(r, unset)).copy()).buffered
        var nextId = 1L
        Iterator.continually(pings).takeWhile(_.hasNext).flatMap { _ =>
          val stretch = ArrayBuffer(pings.next())
          while (pings.hasNext && stationary(stretch.last, pings.head))
            stretch += pings.next()
          val k = stretch.length - 1 // stationary pings; the last one is not
          if (k > 0) {
            val steps = (0 until k).filter(i => timed(stretch(i), stretch(i + 1)))
            if (steps.nonEmpty && keepRun(p, k,
                steps.map(i => gap(stretch(i), stretch(i + 1))).sum)) {
              stretch.take(k).foreach(_.setLong(event, nextId))
            }
            nextId += 1
          }
          stretch
        }
      }
    }
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
    * (compute_label_medians, src/polaroam/models.py:163-177), as a uid
    * kernel on the kept rows (stop_events != -1). Each uid's rows are
    * grouped by stop_events, whatever their order, and leave one row per
    * event in (uid, stop_events) order, so on [[stopEvents]]' output the
    * medians add no exchange and no sort. Exact median — required for
    * oracle parity (SURVEY §7 trap 9) — with Spark's `median` arithmetic
    * (PercentileBase.getPercentile): the middle value when n is odd,
    * `0.5 * lo + 0.5 * hi` when n is even. Coordinates are read as
    * doubles; nulls are skipped and NaN sorts last, as in `median`. The
    * span is the min and max timestamp, in the timestamp's own type.
    */
  def eventMedians(stopEvents: DataFrame): DataFrame =
    UidScan.frame(stopEvents
      .select("uid", "stop_events", "latitude", "longitude", "timestamp")
      .filter(col("stop_events") =!= -1L), Medians)

  private case object Medians extends UidKernel {
    override def keep(in: Seq[Attribute]): Seq[Attribute] =
      Seq("uid", "stop_events").map(UidScan.column(in, _))
    override def adds(in: Seq[Attribute]): Seq[StructField] = {
      val t = UidScan.column(in, "timestamp").dataType
      Seq(StructField("latitude", DoubleType), StructField("longitude", DoubleType),
        StructField("start_timestamp", t), StructField("end_timestamp", t))
    }
    override def emitsSortedBy: Option[Seq[String]] = Some(Seq("stop_events"))
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val joined = new JoinedRow
      val Seq(lat, lon, ts) =
        Seq("latitude", "longitude", "timestamp").map(UidScan.ordinal(in, _))
      val (latOf, lonOf, eventOf) = (UidScan.doubles(in, "latitude"),
        UidScan.doubles(in, "longitude"), UidScan.longs(in, "stop_events"))
      val tsType = in(ts).dataType
      val order = TypeUtils.getInterpretedOrdering(tsType)
      rows => rows.map(_.copy()).toSeq.groupBy(eventOf).toSeq.sortBy(_._1)
        .iterator.map { case (_, event) =>
          def median(i: Int, of: InternalRow => Double) =
            StopDetect.median(event.filterNot(_.isNullAt(i)).map(of).toArray)
          val times = event.filterNot(_.isNullAt(ts)).map(_.get(ts, tsType))
          out(joined(event.head, InternalRow(median(lat, latOf),
            median(lon, lonOf), times.minOption(order).orNull,
            times.maxOption(order).orNull)))
        }
    }
  }

  /** `median` of the values, null when there are none. Sorted by
    * `Arrays.sort`: NaN last, and -0.0 before 0.0.
    */
  private def median(xs: Array[Double]): Any = {
    val n = xs.length
    if (n == 0) null
    else {
      java.util.Arrays.sort(xs)
      val (lo, hi) = (xs((n - 1) / 2), xs(n / 2))
      if (n % 2 == 1) lo else 0.5 * lo + 0.5 * hi
    }
  }
}
