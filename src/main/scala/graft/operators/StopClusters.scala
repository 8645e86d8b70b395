package graft.operators

import graft.functions.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-user spatial clustering of stop-event medians into recurring "stop
  * locations" (compute_dbscan, src/polaroam/models.py:206-265; DBSCAN
  * kernel src/polaroam/utils.py:203-215: eps=r2, min_samples=2, haversine).
  *
  * Spark-first design: the non-relational kernel (DBSCAN) is the ONLY
  * per-group code, run via groupByKey(uid).flatMapGroups on the already
  * heavily reduced event-median table (orders of magnitude smaller than the
  * ping table). Everything around it — downsampling, medoid statistics,
  * enrichment — is relational. Per-user groups are intrinsically small
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

  // top-level visibility: Catalyst's generated (de)serializers cannot
  // access private nested classes
  final case class MedianRow(
      uid: String, stop_events: Long, latitude: Double, longitude: Double,
      start_timestamp: Long, end_timestamp: Long)

  final case class LabeledRow(
      uid: String, stop_events: Long, latitude: Double, longitude: Double,
      start_timestamp: Long, end_timestamp: Long, stop_locations: Long)

  final case class ClusteredRow(
      uid: String, stop_events: Long, latitude: Double, longitude: Double,
      start_timestamp: Long, end_timestamp: Long, stop_locations: Long,
      cluster_counts: Long, cluster_latitude: Double,
      cluster_longitude: Double)

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
    * rows sorted by stop_events.
    */
  private def labelGroup(rows: Array[MedianRow], p: Params): Array[Long] = {
    val n = rows.length
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
    val latA = Array.tabulate(n)(rows(_).latitude)
    val lonA = Array.tabulate(n)(rows(_).longitude)
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
    * enforced rather than hoped for. Returns the rows to cluster.
    */
  private def cappedPrefix(rows: Array[MedianRow],
                           p: Params): Array[MedianRow] =
    if (rows.length <= p.maxGroupSize) rows
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"uid ${rows.head.uid}: ${rows.length} medians exceed " +
          s"maxGroupSize=${p.maxGroupSize}; clustering the first " +
          s"${p.maxGroupSize} by stop_events, labeling the rest noise")
      rows.take(p.maxGroupSize)
    }

  private def exactMedian(xs: Array[Double]): Double = {
    java.util.Arrays.sort(xs)
    val n = xs.length
    if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
  }

  /** One uid's rows sorted by stop_events and their labels: the first
    * [[cappedPrefix]] rows clustered by [[labelGroup]], the rest noise.
    */
  private def labeledGroup(it: Iterator[MedianRow],
                           p: Params): (Array[MedianRow], Array[Long]) = {
    val rows = it.toArray.sortBy(_.stop_events)
    val capped = cappedPrefix(rows, p)
    (rows, labelGroup(capped, p) ++ Array.fill(rows.length - capped.length)(-1L))
  }

  /** event_medians(uid, stop_events, latitude, longitude, start_timestamp,
    * end_timestamp) -> + stop_locations (−1 = noise).
    */
  def assignLocations(medians: DataFrame, p: Params): DataFrame = {
    val spark = medians.sparkSession
    import spark.implicits._
    medians
      .select("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp")
      .as[MedianRow]
      .groupByKey(_.uid)
      .flatMapGroups { (_: String, it: Iterator[MedianRow]) =>
        val (rows, labels) = labeledGroup(it, p)
        rows.iterator.zipWithIndex.map { case (r, k) =>
          LabeledRow(r.uid, r.stop_events, r.latitude, r.longitude,
            r.start_timestamp, r.end_timestamp, labels(k))
        }
      }
      .toDF()
  }

  /** Full stage: downsample -> per-user clustering -> cluster stats:
    * cluster_counts and the cluster median coordinates
    * (models.py:239-263; noise rows keep their own coordinates and count
    * 1, models.py:256-260), computed INSIDE the kernel, where the group
    * is already materialized — flatMapGroups output has unknown
    * partitioning, so a post-kernel window would cost another exchange.
    * One shuffle total on the (already tiny) median table.
    */
  def cluster(medians: DataFrame, p: Params): DataFrame = {
    val spark = medians.sparkSession
    import spark.implicits._
    downsample(medians, p.minSpatialResolution)
      .select("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp")
      .as[MedianRow]
      .groupByKey(_.uid)
      .flatMapGroups { (_: String, it: Iterator[MedianRow]) =>
        val (rows, labels) = labeledGroup(it, p)
        val byLabel = rows.indices.groupBy(labels(_))
        val stats = byLabel.collect { case (lbl, idxs) if lbl >= 0 =>
          lbl -> ((idxs.size.toLong,
            exactMedian(idxs.map(rows(_).latitude).toArray),
            exactMedian(idxs.map(rows(_).longitude).toArray)))
        }
        rows.iterator.zipWithIndex.map { case (r, k) =>
          val lbl = labels(k)
          val (cnt, cLat, cLon) =
            if (lbl >= 0) stats(lbl) else (1L, r.latitude, r.longitude)
          ClusteredRow(r.uid, r.stop_events, r.latitude, r.longitude,
            r.start_timestamp, r.end_timestamp, lbl, cnt, cLat, cLon)
        }
      }
      .toDF()
  }
}
