package graft.operators

import graft.functions.GeoFunctions
import graft.plans.{UidKernel, UidScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField}

/** Per-user spatial clustering of stop-event medians into recurring "stop
  * locations" (compute_dbscan, src/polaroam/models.py:206-265; DBSCAN
  * kernel src/polaroam/utils.py:203-215: eps=r2, min_samples=2, haversine).
  *
  * Spark-first design: the non-relational kernel (DBSCAN) is a uid kernel
  * of [[graft.plans.UidScanExec]], run on the already heavily reduced
  * event-median table (orders of magnitude smaller than the ping table).
  * It keeps the uid partitioning of [[StopDetect.eventMedians]] and emits
  * each uid's rows in stop_locations order, so from pings to HomeWork's
  * labels the pipeline shuffles and sorts once. The downsample around it
  * is relational. Per-user groups are intrinsically small
  * (stops per human per period); the [[downsample]] grid-snap stage is the
  * reference's own whale-group cap (models.py:60-87); the neighbor scan
  * itself is grid-pruned ([[NeighborSearch]]) so sparse whales cost
  * near-linear time, not O(n²).
  *
  * Determinism contract (SURVEY §7 trap 6): with min_samples=2, DBSCAN
  * degenerates to connected components of the eps-neighbor graph (isolated
  * points = noise −1). Labels are canonicalized by first appearance: the
  * component containing the smallest stop_events id gets 0, etc. For
  * min_samples>2 a full DBSCAN runs; border points join the cluster of
  * their first core neighbor in stop_events order (sklearn's assignment is
  * scan-order too, but we document ours rather than chase its internals).
  */
object StopClusters {

  final case class Params(
      eps: Double = 20.0,
      minSamples: Int = 2,
      metric: String = "haversine",
      minSpatialResolution: Double = 0.0,
      maxGroupSize: Int = 20000)

  /** Grid-snap + dedup reduction before the O(n²) kernel (reference
    * _downsample, models.py:60-87). resolution <= 0 is the identity.
    */
  def downsample(medians: DataFrame, resolution: Double): DataFrame =
    if (resolution <= 0) medians
    else medians
      .withColumn("latitude",
        GeoFunctions.gridSnap(col("latitude"), resolution))
      .withColumn("longitude",
        GeoFunctions.gridSnap(col("longitude"), resolution))

  /** Per-group DBSCAN: returns canonical 0-based labels (-1 = noise) for
    * points sorted by stop_events.
    */
  private def labelGroup(latA: Array[Double], lonA: Array[Double],
                         p: Params): Array[Long] = {
    val n = latA.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // neighbor counts (self included, as in sklearn); grid-pruned exact
    // pair enumeration — identical pair set to the O(n²) scan
    val degree = Array.fill(n)(1)
    val neighbors = Array.fill(n)(List.empty[Int])
    NeighborSearch.pairs(latA, lonA, p.eps, p.metric,
        StopDetect.distance(p.metric, _, _, _, _), (i, j, _) => {
      degree(i) += 1; degree(j) += 1
      neighbors(i) ::= j; neighbors(j) ::= i
    })
    var i = 0
    val core = degree.map(_ >= p.minSamples)
    // core-core edges define components
    i = 0
    while (i < n) {
      if (core(i)) neighbors(i).foreach(j => if (core(j)) union(i, j))
      i += 1
    }
    // border points: first (lowest-index) core neighbor's component
    val owner = Array.fill(n)(-1)
    i = 0
    while (i < n) {
      if (core(i)) owner(i) = find(i)
      else neighbors(i).sorted.find(core(_)) match {
        case Some(c) => owner(i) = find(c)
        case None    => // noise
      }
      i += 1
    }
    // canonical labels: 0-based by first appearance (row order = sorted
    // stop_events)
    val labelOf = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    i = 0
    while (i < n) {
      if (owner(i) >= 0 && !labelOf.contains(owner(i)))
        labelOf(owner(i)) = labelOf.size.toLong
      i += 1
    }
    Array.tabulate(n)(k => if (owner(k) >= 0) labelOf(owner(k)) else -1L)
  }

  /** Whale-user guard: the grid prune makes the scan near-linear, but a
    * DENSE whale (everything within eps) still materializes O(n²)
    * neighbor-list entries, and one uid with millions of medians would
    * blow task memory at cluster scale. Rows
    * beyond `maxGroupSize` (in stop_events order) are excluded from
    * clustering and label as noise (−1) — the same degradation the
    * reference reaches via its min_spacial_resolution downsample, but
    * enforced rather than hoped for. Returns how many rows to cluster.
    */
  private def cappedSize(g: MedianGroup, p: Params): Int =
    if (g.rows.length <= p.maxGroupSize) g.rows.length
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"uid ${g.uid}: ${g.rows.length} medians exceed " +
          s"maxGroupSize=${p.maxGroupSize}; clustering the first " +
          s"${p.maxGroupSize} by stop_events, labeling the rest noise")
      p.maxGroupSize
    }

  private def exactMedian(xs: Array[Double]): Double = {
    java.util.Arrays.sort(xs)
    val n = xs.length
    if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
  }

  /** The per-user kernels' input: the six median columns, uid as it is,
    * the rest with the types the kernels read (stop_events and timestamps
    * Long, coordinates Double).
    */
  private[operators] def medianInput(medians: DataFrame): DataFrame =
    medians.select(col("uid") +: Seq("stop_events" -> "long",
        "latitude" -> "double", "longitude" -> "double",
        "start_timestamp" -> "long", "end_timestamp" -> "long")
      .map { case (c, t) => col(c).cast(t).as(c) }: _*)

  /** One uid's medians, sorted by stop_events, and their coordinates. */
  private[operators] final case class MedianGroup(rows: Array[InternalRow],
      lat: Array[Double], lon: Array[Double], uid: Any)

  /** A uid kernel over [[medianInput]] rows, one uid's medians at a time:
    * `emit` gives the row index and the added values of each output row,
    * in the order they leave. A null stop_events or coordinate is
    * rejected.
    */
  private[operators] abstract class MedianKernel extends UidKernel {
    def emit(g: MedianGroup): Iterator[(Int, InternalRow)]

    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val joined = new JoinedRow
      val Seq(uid, ev, lat, lon) = Seq("uid", "stop_events", "latitude",
        "longitude").map(UidScan.ordinal(in, _))
      val uidType = in(uid).dataType
      rows => {
        val rs = rows.map(_.copy()).toArray.sortBy(_.getLong(ev))
        rs.foreach(r => require(!(r.isNullAt(ev) || r.isNullAt(lat) ||
          r.isNullAt(lon)), s"null stop_events or coordinate in medians: $r"))
        val g = MedianGroup(rs, rs.map(_.getDouble(lat)),
          rs.map(_.getDouble(lon)), rs.head.get(uid, uidType))
        emit(g).map { case (k, v) => out(joined(g.rows(k), v)) }
      }
    }
  }

  /** DBSCAN as a uid kernel: labels each of a uid's medians and appends the
    * cluster stats (models.py:239-263): cluster_counts and the cluster
    * median coordinates; noise rows keep their own coordinates and count 1
    * (models.py:256-260). Rows leave in (stop_locations, stop_events)
    * order, the layout HomeWork's windows read.
    */
  private final case class Dbscan(p: Params) extends MedianKernel {
    override def adds(in: Seq[Attribute]): Seq[StructField] = Seq(
      StructField("stop_locations", LongType, nullable = false),
      StructField("cluster_counts", LongType, nullable = false),
      StructField("cluster_latitude", DoubleType, nullable = false),
      StructField("cluster_longitude", DoubleType, nullable = false))
    override def emitsSortedBy: Option[Seq[String]] = Some(Seq("stop_locations"))
    override def emit(g: MedianGroup): Iterator[(Int, InternalRow)] = {
      val n = cappedSize(g, p)
      val labels = labelGroup(g.lat.take(n), g.lon.take(n), p) ++
        Array.fill(g.rows.length - n)(-1L)
      val stats = labels.indices.groupBy(labels(_)).collect {
        case (lbl, ks) if lbl >= 0 => lbl -> ((ks.size.toLong,
          exactMedian(ks.map(g.lat(_)).toArray),
          exactMedian(ks.map(g.lon(_)).toArray)))
      }
      labels.indices.sortBy(labels(_)).iterator.map { k =>
        val lbl = labels(k)
        val (cnt, cLat, cLon) =
          if (lbl >= 0) stats(lbl) else (1L, g.lat(k), g.lon(k))
        k -> InternalRow(lbl, cnt, cLat, cLon)
      }
    }
  }

  /** event_medians(uid, stop_events, latitude, longitude, start_timestamp,
    * end_timestamp) -> + stop_locations (−1 = noise): [[cluster]]'s
    * kernel without the downsample, its stats projected away.
    */
  def assignLocations(medians: DataFrame, p: Params): DataFrame =
    UidScan.frame(medianInput(medians), Dbscan(p))
      .select("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp", "stop_locations")

  /** Full stage: downsample -> per-user clustering -> cluster stats
    * (+ stop_locations, cluster_counts, cluster_latitude,
    * cluster_longitude). On [[StopDetect.eventMedians]]' output the kernel
    * runs in the same task as the stop scan: no exchange, no sort.
    */
  def cluster(medians: DataFrame, p: Params): DataFrame =
    UidScan.frame(medianInput(downsample(medians, p.minSpatialResolution)),
      Dbscan(p))
}
