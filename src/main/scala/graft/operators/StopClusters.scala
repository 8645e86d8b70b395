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
  * It reads each uid's medians in stop_events order, the order and uid
  * partitioning [[StopDetect.eventMedians]] emits (a stored frame gets one
  * exchange and one sort), and emits them in stop_locations order, so from
  * pings to HomeWork's labels the pipeline shuffles and sorts once. The
  * downsample around it is relational. Per-user groups are intrinsically
  * small (stops per human per period); the [[downsample]] grid-snap stage
  * is the reference's own whale-group reduction (models.py:60-87); the
  * neighbor scan itself is grid-pruned ([[NeighborSearch]]) so sparse
  * whales cost near-linear time, not O(n²).
  *
  * Determinism contract (SURVEY §7 trap 6): the reference always runs
  * min_samples=2, where DBSCAN is exactly the connected components of the
  * eps-neighbor graph (isolated points = noise −1), so the kernel is
  * [[NeighborSearch.components]] over [[NeighborSearch.pairs]]. Labels are
  * canonicalized by first appearance: the component containing the
  * smallest stop_events id gets 0, etc. Memory is O(n) per user; a dense
  * user's time is O(pairs within eps).
  */
object StopClusters {

  final case class Params(
      eps: Double = 20.0,
      metric: String = "haversine",
      minSpatialResolution: Double = 0.0)

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

  /** DBSCAN labels (min_samples = 2) of points in row order. */
  private[graft] def dbscanLabels(lat: Array[Double], lon: Array[Double],
                                  p: Params): Array[Long] =
    NeighborSearch.components(lat.length)(edge =>
      NeighborSearch.pairs(lat, lon, p.eps, p.metric,
        StopDetect.distance(p.metric, _, _, _, _), (i, j, _) => edge(i, j)))

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

  /** A uid kernel over [[medianInput]] rows, one uid's medians at a time
    * in stop_events order: `emit` gives the row index and the added values
    * of each output row, in the order they leave. A null stop_events or
    * coordinate is rejected.
    */
  private[operators] abstract class MedianKernel extends UidKernel {
    def emit(g: MedianGroup): Iterator[(Int, InternalRow)]

    override def sortedBy: Seq[String] = Seq("stop_events")
    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val joined = new JoinedRow
      val Seq(uid, ev, lat, lon) = Seq("uid", "stop_events", "latitude",
        "longitude").map(UidScan.ordinal(in, _))
      val uidType = in(uid).dataType
      rows => {
        val rs = rows.map { r =>
          require(!(r.isNullAt(ev) || r.isNullAt(lat) || r.isNullAt(lon)),
            s"null stop_events or coordinate in medians: $r")
          r.copy()
        }.toArray
        val g = MedianGroup(rs, rs.map(_.getDouble(lat)),
          rs.map(_.getDouble(lon)), rs.head.get(uid, uidType))
        emit(g).map { case (k, v) => out(joined(g.rows(k), v)) }
      }
    }
  }

  /** DBSCAN as a uid kernel: labels each of a uid's medians and appends the
    * cluster stats (models.py:239-263): cluster_counts and the cluster
    * median coordinates, by [[StopDetect.medianOf]], the event medians'
    * arithmetic; noise rows keep their own coordinates and count 1
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
      val labels = dbscanLabels(g.lat, g.lon, p)
      // noise first, then each cluster l, whose rows are order[from(l),
      // from(l + 1)); rows keep stop_events order within a label
      val order = labels.indices.sortBy(labels(_)).toArray
      val size = new Array[Int](labels.max.toInt + 1)
      labels.foreach(l => if (l >= 0) size(l.toInt) += 1)
      val from = size.scanLeft(labels.length - size.sum)(_ + _)
      val Seq(cLat, cLon) = Seq(g.lat, g.lon).map { xs =>
        val byLabel = order.map(xs)
        Array.tabulate(size.length)(l =>
          StopDetect.medianOf(byLabel, from(l), from(l + 1)))
      }
      order.iterator.map { k =>
        val l = labels(k).toInt
        k -> (if (l < 0) InternalRow(-1L, 1L, g.lat(k), g.lon(k))
          else InternalRow(l.toLong, size(l).toLong, cLat(l), cLon(l)))
      }
    }
  }

  /** Full stage: downsample -> per-user clustering -> cluster stats
    * (+ stop_locations, cluster_counts, cluster_latitude,
    * cluster_longitude). On [[StopDetect.eventMedians]]' output the kernel
    * runs in the same task as the stop scan: no exchange, no sort.
    */
  def cluster(medians: DataFrame, p: Params): DataFrame =
    UidScan.frame(medianInput(downsample(medians, p.minSpatialResolution)),
      Dbscan(p))
}
