package graft.operators

import java.util.Arrays

import scala.collection.mutable.ArrayBuffer

import graft.plans.{Haversine, UidKernel, UidScan}
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, NumericType, ShortType, StructField}
import org.apache.spark.storage.StorageLevel

/** Stationary-event segmentation — the heart of the reference engine
  * (Stopdetect.fit_predict, src/polaroam/models.py:112-161 wrapping
  * get_stationary_events, src/polaroam/utils.py:350-413).
  *
  * Spark-first design: the reference's global sort + per-user map_groups
  * becomes ONE hash exchange on uid, ONE sort on (uid, timestamp) within
  * partitions, and ONE ordered scan that classifies each ping when its
  * successor arrives: the stop kernel of a [[graft.plans.UidScanExec]].
  * The scan keeps the uid attribute and passes the uid partitioning and
  * sort order through. [[eventMedians]] over [[stopEvents]]' own frame
  * is one scan, not two: the same walker reduces each kept stop to its
  * median row as the stop closes, so the pipeline from pings to medians
  * shuffles, sorts and walks the pings once. Any other frame (stored,
  * edited, cached) gets the generic median kernel, which needs no second
  * exchange or sort on a uid-partitioned input either. The scan buffers
  * only the open stationary run, so memory is bounded by the longest
  * stop, not by the busiest user.
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
    requireIntegral("stopEvents", "timestamp", types("timestamp"))
    UidScan.frame(input, Stops(p))
      .select("uid", "stop_events", "latitude", "longitude", "timestamp")
  }

  private def requireIntegral(caller: String, c: String, t: DataType): Unit =
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"$caller: $c must be integral, got ${t.simpleString}")

  /** The stop rule over one uid's pings, which arrive sorted by timestamp:
    * the one walker behind both stop kernels and both streaming state
    * functions. A stretch is a run of stationary pings and the ping that
    * ends it. A ping is stationary when its successor lies within `rC`
    * and, unless the gap is unknown (a null timestamp), within
    * `maxStayingTime`. The walker owns stationarity, the gap, the keep rule
    * and the event ids; its state, which a stream keeps between
    * micro-batches, is the last ping (`la`/`lo` hold when `located`, `t`
    * when `timed`), the open stretch (`k` stationary pings, whether a timed
    * step is among them, their summed timed steps) and the next id. A
    * caller buffers the open stretch's pings, so memory is bounded by the
    * longest stretch, not by the busiest user.
    */
  final case class Stretches(
      var started: Boolean = false,
      var located: Boolean = false, var la: Double = 0.0, var lo: Double = 0.0,
      var timed: Boolean = false, var t: Long = 0L,
      var k: Int = 0, var timedSteps: Boolean = false, var total: Long = 0L,
      var nextId: Long = 1L) {

    /** The stretch the last `step` or `end` closed: its first `closedK`
      * pings are stationary, and `closedId` is its event id when it is
      * kept as an event, else -1.
      */
    var closedK = 0
    var closedId = -1L

    /** Reads the next ping, allocating nothing; true when it closes the
      * open stretch, which the ping does not belong to.
      */
    def step(p: Params, located: Boolean, la: Double, lo: Double,
             timed: Boolean, t: Long): Boolean = {
      val both = this.timed && timed
      val gap = if (both) t - this.t else 0L
      val closes = started && !(this.located && located &&
        distance(p.metric, this.la, this.lo, la, lo) <= p.rC &&
        (!both || gap <= p.maxStayingTime))
      if (closes) end(p)
      else if (started) { k += 1; if (both) { timedSteps = true; total += gap } }
      started = true
      this.located = located; this.la = la; this.lo = lo
      this.timed = timed; this.t = t
      closes
    }

    /** Closes the open stretch, also at the end of the pings. One with a
      * stationary ping uses up an id, kept or not.
      */
    def end(p: Params): Unit = {
      closedK = k
      closedId = if (k == 0) -1L else {
        nextId += 1
        if (timedSteps && keepRun(p, k, total)) nextId - 1 else -1L
      }
      k = 0; timedSteps = false; total = 0L
    }
  }

  /** [[Stretches]] over a uid kernel's rows: a kernel buffers the pings of
    * the open stretch (`add`) and turns each closed stretch into output
    * rows (`close`).
    */
  private abstract class StretchScan(p: Params, in: Seq[Attribute]) {
    private val Seq(lat, lon, ts) =
      Seq("latitude", "longitude", "timestamp").map(UidScan.ordinal(in, _))
    private val (latOf, lonOf, tsOf) = (UidScan.doubles(in, "latitude"),
      UidScan.doubles(in, "longitude"), UidScan.longs(in, "timestamp"))

    /** Starts a uid: `first` is its first ping. */
    protected def start(first: InternalRow): Unit = ()

    /** Adds ping `r` to the open stretch. Its coordinates `la`/`lo` hold
      * only when `located` (neither is null), its timestamp `t` only when
      * `timed`.
      */
    protected def add(r: InternalRow, located: Boolean, la: Double, lo: Double,
                      timed: Boolean, t: Long): Unit

    /** Closes the open stretch, whose first `k` pings are stationary (the
      * last one is not): `id` is its event id when the stretch is kept as
      * an event, else -1. Later `add`s must not change the output.
      */
    protected def close(k: Int, id: Long): Iterator[InternalRow]

    /** The output of one uid's pings, one closed stretch at a time. */
    def scan(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
      val walk = Stretches()
      rows.flatMap { r =>
        val located = !(r.isNullAt(lat) || r.isNullAt(lon))
        val la = if (located) latOf(r) else 0.0
        val lo = if (located) lonOf(r) else 0.0
        val timed = !r.isNullAt(ts)
        val t = if (timed) tsOf(r) else 0L
        if (!walk.started) start(r)
        val out = if (walk.step(p, located, la, lo, timed, t))
          close(walk.closedK, walk.closedId) else Iterator.empty
        add(r, located, la, lo, timed, t)
        out
      } ++ { walk.end(p); close(walk.closedK, walk.closedId) }
    }
  }

  /** The stop rule as a uid kernel: appends `stop_events` to each of a
    * uid's pings, which arrive sorted by timestamp. Each stretch leaves in
    * input order: its stationary pings with the event id when it is kept,
    * else -1, and the ending ping -1.
    */
  private final case class Stops(p: Params) extends UidKernel {
    override def sortedBy: Seq[String] = Seq("timestamp")
    override def adds(in: Seq[Attribute]): Seq[StructField] =
      Seq(StructField("stop_events", LongType, nullable = false))
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      // the output keeps every input column in place, stop_events is last
      val (unset, joined, event) = (InternalRow(-1L), new JoinedRow, in.length)
      new StretchScan(p, in) {
        private val stretch = ArrayBuffer.empty[InternalRow]
        protected def add(r: InternalRow, located: Boolean, la: Double,
                          lo: Double, timed: Boolean, t: Long): Unit =
          stretch += out(joined(r, unset)).copy()
        protected def close(k: Int, id: Long): Iterator[InternalRow] = {
          if (id != -1L) (0 until k).foreach(stretch(_).setLong(event, id))
          val rows = stretch.toArray
          stretch.clear()
          rows.iterator
        }
      }.scan
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
    * (compute_label_medians, src/polaroam/models.py:163-177): one row per
    * kept event, in (uid, stop_events) order on the uid partitioning, so
    * the kernels after it (DBSCAN, HomeWork, the wide export) add no
    * exchange and no sort. Exact median — required for oracle parity
    * (SURVEY §7 trap 9) — with Spark's `median` arithmetic
    * (PercentileBase.getPercentile): the middle value when n is odd,
    * `0.5 * lo + 0.5 * hi` when n is even. Coordinates are read as
    * doubles; nulls are skipped and NaN sorts last, as in `median`. The
    * span is the min and max timestamp, in the timestamp's own type.
    *
    * Two kernels, one answer. When `stopEvents` is [[stopEvents]]' own
    * frame, the medians come from the pings in the same scan that finds
    * the stops ([[StopMedians]]): each kept stretch is reduced to its row
    * as it closes, and no ping-level row is built. Any other frame (the
    * event_maps shape unpacked, a stored or edited frame) goes through the
    * generic [[Medians]] kernel over its kept rows. So does a frame in the
    * cache manager: its rows are already computed, and deriving them from
    * the pings again would not read the cache.
    */
  def eventMedians(stopEvents: DataFrame): DataFrame =
    stopEvents.queryExecution.analyzed match {
      case Project(_, Project(_, UidScan(Stops(p), _, _, pings)))
          if stopEvents.storageLevel == StorageLevel.NONE =>
        UidScan.frame(GraftBridge.ofRows(stopEvents.sparkSession, pings),
          StopMedians(p))
      case _ =>
        val kept = stopEvents
          .select("uid", "stop_events", "latitude", "longitude", "timestamp")
          .filter(col("stop_events") =!= -1L)
        kept.schema.filter(f => f.name == "stop_events" || f.name == "timestamp")
          .foreach(f => requireIntegral("eventMedians", f.name, f.dataType))
        UidScan.frame(kept, Medians)
    }

  /** The output of both median kernels: uid as it is, then the added
    * stop_events, median latitude and longitude, start and end timestamp.
    * Rows leave in (uid, stop_events) order.
    */
  private abstract class MedianKernel extends UidKernel {
    protected def event(in: Seq[Attribute]): StructField
    override def keep(in: Seq[Attribute]): Seq[Attribute] =
      Seq(UidScan.column(in, "uid"))
    override def adds(in: Seq[Attribute]): Seq[StructField] = {
      val t = UidScan.column(in, "timestamp").dataType
      Seq(event(in), StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("start_timestamp", t), StructField("end_timestamp", t))
    }
    override def emitsSortedBy: Option[Seq[String]] = Some(Seq("stop_events"))
  }

  /** A median kernel's rows of one stretch or one uid, as primitive
    * columns with a flag per value that it is not null, and their
    * reduction to output rows: the uid from the uid's first row, the event
    * id and span in their columns' integral types.
    */
  private final class MedianRows(in: Seq[Attribute], out: UnsafeProjection,
                                 eventType: DataType) {
    private val joined = new JoinedRow
    private val (asEvent, asTime) =
      (integral(eventType), integral(UidScan.column(in, "timestamp").dataType))
    private var uid: InternalRow = _
    var n = 0
    var event, ts = new Array[Long](16)
    var lat, lon = new Array[Double](16)
    var hasLat, hasLon, hasTs = new Array[Boolean](16)
    private var scratch = new Array[Double](16)

    /** Starts a uid: `first` is its first row. */
    def start(first: InternalRow): Unit = { uid = first.copy(); n = 0 }

    def add(e: Long, okLat: Boolean, la: Double, okLon: Boolean, lo: Double,
            okTs: Boolean, t: Long): Unit = {
      if (n == event.length) {
        val m = 2 * n
        event = Arrays.copyOf(event, m); ts = Arrays.copyOf(ts, m)
        lat = Arrays.copyOf(lat, m); lon = Arrays.copyOf(lon, m)
        hasLat = Arrays.copyOf(hasLat, m); hasLon = Arrays.copyOf(hasLon, m)
        hasTs = Arrays.copyOf(hasTs, m)
      }
      event(n) = e; hasLat(n) = okLat; lat(n) = la; hasLon(n) = okLon
      lon(n) = lo; hasTs(n) = okTs; ts(n) = t
      n += 1
    }

    /** Orders the rows by event id; a no-op when they already are. */
    def sortByEvent(): Unit =
      if ((1 until n).exists(i => event(i - 1) > event(i))) {
        val o = Array.range(0, n).sortBy(event(_))
        event = o.map(event); ts = o.map(ts); lat = o.map(lat); lon = o.map(lon)
        hasLat = o.map(hasLat); hasLon = o.map(hasLon); hasTs = o.map(hasTs)
      }

    /** The output row of event `id` over rows [from, until). */
    def reduce(id: Long, from: Int, until: Int): InternalRow = {
      var (timed, first, last, i) = (false, Long.MaxValue, Long.MinValue, from)
      while (i < until) {
        if (hasTs(i)) {
          timed = true
          first = Math.min(first, ts(i)); last = Math.max(last, ts(i))
        }
        i += 1
      }
      out(joined(uid, InternalRow(asEvent(id),
        median(lat, hasLat, from, until), median(lon, hasLon, from, until),
        if (timed) asTime(first) else null, if (timed) asTime(last) else null)))
    }

    /** [[medianOf]] the non-null values in [from, until), null when there
      * are none.
      */
    private def median(xs: Array[Double], ok: Array[Boolean],
                       from: Int, until: Int): Any = {
      if (scratch.length < until - from) scratch = new Array[Double](until - from)
      var (m, i) = (0, from)
      while (i < until) {
        if (ok(i)) { scratch(m) = xs(i); m += 1 }
        i += 1
      }
      if (m == 0) null else medianOf(scratch, 0, m)
    }

    private def integral(t: DataType): Long => Any = t match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => v => v
    }
  }

  /** The median of the values in [from, until), a non-empty range, which
    * it sorts in place by `Arrays.sort` (NaN last, -0.0 before 0.0), with
    * Spark's `median` arithmetic (PercentileBase.getPercentile): the middle
    * value when the count is odd, `0.5 * lo + 0.5 * hi` when it is even.
    * The one median of the per-user kernels: event medians and DBSCAN's
    * cluster medians. It equals `(lo + hi) / 2` bit for bit unless
    * `lo + hi` overflows or a value lies below 2^-1021 in magnitude, where
    * halving rounds. Neither happens to a coordinate: its magnitude is at
    * most 180, and 2^-1021 degrees is far below any position fix.
    */
  private[graft] def medianOf(xs: Array[Double], from: Int, until: Int): Double = {
    Arrays.sort(xs, from, until)
    val m = until - from
    val lo = xs(from + (m - 1) / 2)
    if (m % 2 == 1) lo else 0.5 * lo + 0.5 * xs(from + m / 2)
  }

  /** Stops and medians in one scan of the pings, for `eventMedians` over
    * `stopEvents`' own frame: the stop walker, with each kept stretch
    * reduced to its median row as it closes.
    */
  private final case class StopMedians(p: Params) extends MedianKernel {
    override def sortedBy: Seq[String] = Seq("timestamp")
    override protected def event(in: Seq[Attribute]): StructField =
      StructField("stop_events", LongType, nullable = false)
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val rows = new MedianRows(in, out, LongType)
      new StretchScan(p, in) {
        override protected def start(first: InternalRow): Unit = rows.start(first)
        protected def add(r: InternalRow, located: Boolean, la: Double,
                          lo: Double, timed: Boolean, t: Long): Unit =
          rows.add(0L, located, la, located, lo, timed, t)
        protected def close(k: Int, id: Long): Iterator[InternalRow] = {
          val kept = if (id == -1L) Iterator.empty else Iterator.single(rows.reduce(id, 0, k))
          rows.n = 0
          kept
        }
      }.scan
    }
  }

  /** The generic median kernel over kept stop-event rows in any order:
    * reads a uid's rows into primitive columns, orders them by stop_events
    * (they usually are already) and reduces each event's run of rows.
    */
  private case object Medians extends MedianKernel {
    override protected def event(in: Seq[Attribute]): StructField = {
      val e = UidScan.column(in, "stop_events")
      StructField("stop_events", e.dataType, e.nullable)
    }
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val rows = new MedianRows(in, out, UidScan.column(in, "stop_events").dataType)
      val Seq(lat, lon, ts) =
        Seq("latitude", "longitude", "timestamp").map(UidScan.ordinal(in, _))
      val (eventOf, latOf, lonOf, tsOf) = (UidScan.longs(in, "stop_events"),
        UidScan.doubles(in, "latitude"), UidScan.doubles(in, "longitude"),
        UidScan.longs(in, "timestamp"))
      uidRows => {
        uidRows.foreach { r =>
          if (rows.n == 0) rows.start(r)
          val okLat = !r.isNullAt(lat)
          val okLon = !r.isNullAt(lon)
          val okTs = !r.isNullAt(ts)
          rows.add(eventOf(r), okLat, if (okLat) latOf(r) else 0.0,
            okLon, if (okLon) lonOf(r) else 0.0, okTs, if (okTs) tsOf(r) else 0L)
        }
        rows.sortByEvent()
        val n = rows.n
        rows.n = 0 // the next uid starts over
        var from = 0
        Iterator.continually(from).takeWhile(_ < n).map { _ =>
          var until = from + 1
          while (until < n && rows.event(until) == rows.event(from)) until += 1
          val row = rows.reduce(rows.event(from), from, until)
          from = until
          row
        }
      }
    }
  }
}
