package graft.operators

import graft.plans.{UidKernel, UidScan}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, StructField}

/** Per-cluster geometry utilities (M5/M6: max pairwise distance
  * src/polaroam/utils.py:136-149 and convex hull utils.py:151-165 — the
  * reference's Qhull call with a degenerate-case square fallback; utility
  * surface, not on the main pipelines).
  */
object Geometry {

  /** Andrew monotone chain; degenerate inputs (where Qhull would raise —
    * fewer than 3 distinct points, or all collinear) fall back to the
    * reference's centroid square (utils.py:151-165): side = max pairwise
    * euclidean distance in degree space (5e-5 for a single input point),
    * vertices in bottom-left, bottom-right, top-right, top-left order.
    */
  /** (hull, diameterCandidates): the hull as returned to the caller, and
    * the point set whose pairwise max IS the true diameter — the chain
    * vertices when the hull is real (the diameter of a convex polygon is
    * attained at vertices), or the two lexicographic extremes when the
    * input is degenerate (collinear points: the extremes are the segment
    * endpoints, so the diameter is one distance, not an O(n^2) sweep; the
    * synthetic square vertices would inflate it by sqrt 2).
    */
  private def hullAndDiameterPoints(pts: Array[(Double, Double)])
  : (Array[(Double, Double)], Array[(Double, Double)], Boolean) = {
    val sorted = pts.distinct.sortBy(identity)
    val mn = sorted.head
    val mx = sorted.last
    // Degenerate ⟺ fewer than 3 distinct points, or every distinct point
    // EXACTLY on the mn→mx segment line under this double formula — the
    // same formula in the same operand order as the q73 oracle SQL, so
    // the regime decision is bit-reproducible cross-engine (IEEE sub/mul
    // round identically everywhere). The previous predicate — "the
    // monotone chain collapsed below 3 vertices" — tests collinearity
    // through NEIGHBOR-triple cross products whose different roundings
    // can disagree with any relational twin on near-collinear clusters
    // (first seen at sf0.1: jittered dwell sites ~1e-6 deg apart).
    val degenerate = sorted.length <= 2 || sorted.forall { p =>
      math.abs((mx._1 - mn._1) * (p._2 - mn._2) -
        (mx._2 - mn._2) * (p._1 - mn._1)) == 0.0
    }
    if (degenerate) (degenerateSquare(pts, sorted), Array(mn, mx), true)
    else {
      def cross(o: (Double, Double), a: (Double, Double),
                b: (Double, Double)): Double =
        (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
      val hull = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      for (p <- sorted) {
        while (hull.length >= 2 &&
          cross(hull(hull.length - 2), hull.last, p) <= 0) hull.remove(hull.length - 1)
        hull += p
      }
      val lower = hull.length + 1
      for (p <- sorted.reverseIterator) {
        while (hull.length >= lower &&
          cross(hull(hull.length - 2), hull.last, p) <= 0) hull.remove(hull.length - 1)
        hull += p
      }
      hull.remove(hull.length - 1)
      // fp corner: a point off the line by ulps (degenerate == false) can
      // still be dropped by the chain's neighbor crosses, leaving the two
      // extremes; that 2-vertex chain IS the hull to within ulps — return
      // it rather than fall back to the square the reference would not
      // have produced for a non-collinear input. Its bbox and diameter
      // agree with the point set's at any rounded precision.
      (hull.toArray, hull.toArray, false)
    }
  }

  /** The reference's QhullError fallback: a square centered on the mean
    * of ALL input rows (duplicates included, like points.mean(0)), side =
    * max pairwise euclidean distance in degree space. The fallback only
    * fires on degenerate (collinear) inputs, where that maximum is
    * attained at the lexicographic extremes — one distance, not the
    * reference's O(n^2) sweep, same value.
    */
  private def degenerateSquare(pts: Array[(Double, Double)],
                               sortedDistinct: Array[(Double, Double)])
  : Array[(Double, Double)] = {
    // Sum in sorted order (duplicates kept, like points.mean(0)): a
    // cluster's arrival order in the scan varies run to run, and a
    // different double summation order shifts the centroid by ulps —
    // enough to flip a rounded 6th decimal at a boundary. Sorting first
    // makes the kernel's output a function of the point MULTISET alone.
    val ordered = pts.sortBy(identity)
    val cLat = ordered.map(_._1).sum / ordered.length
    val cLon = ordered.map(_._2).sum / ordered.length
    val l =
      if (pts.length == 1) 5e-5
      else {
        val dLat = sortedDistinct.last._1 - sortedDistinct.head._1
        val dLon = sortedDistinct.last._2 - sortedDistinct.head._2
        math.sqrt(dLat * dLat + dLon * dLon)
      }
    Array((cLat - l / 2, cLon - l / 2), (cLat + l / 2, cLon - l / 2),
      (cLat + l / 2, cLon + l / 2), (cLat - l / 2, cLon + l / 2))
  }

  /** points(uid, stop_locations, latitude, longitude) -> per (uid,
    * cluster): hull vertices + max pairwise haversine distance (meters),
    * in (uid, stop_locations) order. On [[StopClusters.cluster]]'s output,
    * already uid-partitioned and sorted by stop_locations, the hull scan
    * adds no exchange and no sort.
    */
  def clusterHulls(points: DataFrame): DataFrame =
    UidScan.frame(points.select("uid", "stop_locations", "latitude",
      "longitude"), Hulls)

  /** The hull of each run of equal stop_locations in a uid's sorted rows:
    * keeps (uid, stop_locations) of the run's first row. A null
    * stop_locations or coordinate is rejected.
    */
  private case object Hulls extends UidKernel {
    override def sortedBy: Seq[String] = Seq("stop_locations")
    override def keep(in: Seq[Attribute]): Seq[Attribute] =
      Seq("uid", "stop_locations").map(UidScan.column(in, _))
    override def adds(in: Seq[Attribute]): Seq[StructField] = Seq(
      StructField("hull_lats", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("hull_lons", ArrayType(DoubleType, containsNull = false),
        nullable = false),
      StructField("max_pair_dist", DoubleType, nullable = false),
      StructField("degenerate", BooleanType, nullable = false))
    override def emitsSortedBy: Option[Seq[String]] = Some(Seq("stop_locations"))

    override def open(in: Seq[Attribute], out: UnsafeProjection)
    : Iterator[InternalRow] => Iterator[InternalRow] = {
      val joined = new JoinedRow
      val Seq(loc, lat, lon) = Seq("stop_locations", "latitude", "longitude")
        .map(UidScan.ordinal(in, _))
      val (locOf, latOf, lonOf) = (UidScan.longs(in, "stop_locations"),
        UidScan.doubles(in, "latitude"), UidScan.doubles(in, "longitude"))
      rows => {
        val it = rows.buffered
        new Iterator[InternalRow] {
          def hasNext: Boolean = it.hasNext
          def next(): InternalRow = {
            val first = it.head.copy()
            val key = locOf(first)
            val pts = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
            while (it.hasNext && locOf(it.head) == key) {
              val r = it.next()
              require(!(r.isNullAt(loc) || r.isNullAt(lat) || r.isNullAt(lon)),
                s"null stop_locations or coordinate in hull points: $r")
              pts += ((latOf(r), lonOf(r)))
            }
            val (hull, dpts, degenerate) = hullAndDiameterPoints(pts.toArray)
            out(joined(first, InternalRow(
              new GenericArrayData(hull.map(_._1)),
              new GenericArrayData(hull.map(_._2)),
              diameter(dpts), degenerate)))
          }
        }
      }
    }
  }

  /** Max pairwise haversine distance (meters) of `pts`. */
  private def diameter(pts: Array[(Double, Double)]): Double = {
    var maxD = 0.0
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length) {
        val d = StopDetect.distance("haversine",
          pts(i)._1, pts(i)._2, pts(j)._1, pts(j)._2)
        if (d > maxD) maxD = d
        j += 1
      }
      i += 1
    }
    maxD
  }

  /** Relational per-cluster diameter: max pairwise haversine distance via
    * a within-cluster self-join — pure codegen, no kernel, and (unlike
    * [[clusterHulls]]) oracle-checkable because the distance stays in a
    * COMPARISON (diameter > threshold), never an emitted float (JVM and
    * other engines' libm can differ in the last ulp on trig).
    *
    * The self-join and the n_points window share one hash exchange on
    * (uid, stop_locations), co-locating each cluster in a single task.
    * Per-cluster cost is quadratic in cluster size. Self-pairs contribute
    * distance 0, so singletons get diameter 0.
    */
  def clusterDiameters(points: DataFrame, wideThresholdM: Double)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withN = points
      .select("uid", "stop_locations", "latitude", "longitude")
      .withColumn("n_points",
        count(lit(1)).over(Window.partitionBy("uid", "stop_locations")))
    val other = points.select(col("uid"), col("stop_locations"),
      col("latitude").as("lat_b"), col("longitude").as("lon_b"))
    withN.join(other, Seq("uid", "stop_locations"))
      .groupBy("uid", "stop_locations")
      .agg(
        first(col("n_points")).as("n_points"),
        max(graft.functions.GeoFunctions.haversineMeters(
          col("latitude"), col("longitude"),
          col("lat_b"), col("lon_b"))).as("diameter"))
      .select(col("uid"), col("stop_locations"), col("n_points"),
        (col("diameter") > wideThresholdM).cast("long").as("wide"))
  }
}
