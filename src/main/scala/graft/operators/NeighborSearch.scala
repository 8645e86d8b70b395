package graft.operators

/** Exact eps-neighbor pair enumeration for the per-user geo kernels
  * (DBSCAN in [[StopClusters]], community graph in [[Communities]] —
  * reference BallTree.query_radius, utils.py:32-65), and the one
  * connected-component labeller both kernels read the pairs with.
  *
  * The grid is a PRUNING index only: every candidate pair is rechecked
  * with the caller's exact metric, so the emitted pair set is identical
  * to the O(n²) scan — the spec asserts set parity on random inputs.
  * Cell sizes are conservative upper bounds on the coordinate deltas a
  * pair within `eps` can have:
  *  - latitude: haversine(a,b) >= R*|dPhi|, so |dPhi| <= eps/R;
  *  - longitude: haversine(a,b) >= 2R*asin(sqrt(cos(phi_a)cos(phi_b))
  *    *|sin(dLam/2)|), so |dLam| <= 2*asin(sin(eps/2R)/cos(phiMax))
  *    with phiMax the group's largest |latitude|.
  * Groups that defeat those bounds (|lat| at the pole, antimeridian
  * span, eps <= 0) and small groups fall back to the allocation-free
  * O(n²) scan. Per-pair work is output-sized for sparse whales; a dense
  * group (everything within eps) is Theta(n²) pairs under ANY index, so
  * its time stays quadratic (memory is O(n): [[components]] keeps no
  * pair).
  */
private[graft] object NeighborSearch {

  /** Below this the double loop beats grid allocation. */
  private[graft] val GridThreshold = 192

  /** Visit every unordered pair (i, j), i < j, with dist <= eps, exactly
    * once, passing the computed distance. `metric` selects the cell-size
    * geometry ("euclidean" = coords are planar; anything else =
    * lat/lon degrees with haversine bounds); `dist` is the exact check.
    */
  def pairs(lat: Array[Double], lon: Array[Double], eps: Double,
            metric: String,
            dist: (Double, Double, Double, Double) => Double,
            visit: (Int, Int, Double) => Unit): Unit = {
    val n = lat.length
    val cell = cellSizes(lat, lon, n, eps, metric)
    if (n < GridThreshold || cell == null) {
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val d = dist(lat(i), lon(i), lat(j), lon(j))
          if (d <= eps) visit(i, j, d)
          j += 1
        }
        i += 1
      }
      return
    }
    val (cLat, cLon) = (cell(0), cell(1))
    val buckets =
      scala.collection.mutable.HashMap.empty[(Long, Long),
        scala.collection.mutable.ArrayBuffer[Int]]
    var i = 0
    while (i < n) {
      val key = (math.floor(lat(i) / cLat).toLong,
        math.floor(lon(i) / cLon).toLong)
      buckets.getOrElseUpdate(key,
        new scala.collection.mutable.ArrayBuffer[Int]) += i
      i += 1
    }
    def cross(as: scala.collection.mutable.ArrayBuffer[Int],
              bs: scala.collection.mutable.ArrayBuffer[Int]): Unit = {
      var x = 0
      while (x < as.length) {
        var y = 0
        while (y < bs.length) {
          val a = as(x); val b = bs(y)
          val (lo, hi) = if (a < b) (a, b) else (b, a)
          val d = dist(lat(lo), lon(lo), lat(hi), lon(hi))
          if (d <= eps) visit(lo, hi, d)
          y += 1
        }
        x += 1
      }
    }
    // each unordered cell pair once: within-cell, plus the canonical
    // half of the 8-neighborhood
    val half = Array((0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L))
    buckets.foreach { case ((kx, ky), pts) =>
      var x = 0
      while (x < pts.length) {
        var y = x + 1
        while (y < pts.length) {
          val a = pts(x); val b = pts(y)
          val (lo, hi) = if (a < b) (a, b) else (b, a)
          val d = dist(lat(lo), lon(lo), lat(hi), lon(hi))
          if (d <= eps) visit(lo, hi, d)
          y += 1
        }
        x += 1
      }
      half.foreach { case (dx, dy) =>
        buckets.get((kx + dx, ky + dy)).foreach(cross(pts, _))
      }
    }
  }

  /** Connected components of the graph on nodes `0 until n` whose edges
    * `edges` passes to its argument: a union-find whose root is the
    * component's smallest index. Components are labelled 0, 1, … by first
    * appearance in index order; a node with no edge is −1. With
    * `min_samples = 2` this IS DBSCAN (SURVEY §7 trap 6), and it is the
    * q37/q82 recursive-CTE oracle's labelling.
    */
  def components(n: Int)(edges: ((Int, Int) => Unit) => Unit): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    val linked = new Array[Boolean](n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges { (a, b) =>
      linked(a) = true; linked(b) = true
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // a root precedes its members, so it is labelled before they read it
    val out = Array.fill(n)(-1L)
    var next = 0L
    var i = 0
    while (i < n) {
      if (linked(i)) {
        val r = find(i)
        if (r == i) { out(i) = next; next += 1 } else out(i) = out(r)
      }
      i += 1
    }
    out
  }

  /** (latCell, lonCell) in coordinate units, or null when the grid bounds
    * do not hold and the caller must brute-force.
    */
  private def cellSizes(lat: Array[Double], lon: Array[Double], n: Int,
                        eps: Double, metric: String): Array[Double] = {
    if (eps <= 0 || n == 0) return null
    if (metric == "euclidean") return Array(eps, eps)
    var maxAbsLat = 0.0
    var minLon = Double.MaxValue
    var maxLon = Double.MinValue
    var i = 0
    while (i < n) {
      val a = math.abs(lat(i))
      if (a > maxAbsLat) maxAbsLat = a
      if (lon(i) < minLon) minLon = lon(i)
      if (lon(i) > maxLon) maxLon = lon(i)
      i += 1
    }
    // a pair straddling the +-180 seam has a small true distance but a
    // ~360 deg raw-lon delta the grid would miss
    if (maxLon - minLon > 180.0) return null
    val r = graft.functions.GeoFunctions.EarthRadiusMeters
    val sinHalf = math.sin(math.min(math.Pi / 2, eps / (2 * r)))
    val cosMax = math.cos(math.toRadians(math.min(90.0, maxAbsLat)))
    if (cosMax <= sinHalf) return null // near-pole: lon bound vacuous
    // 1+1e-9 safety factor: the bounds are exact in real arithmetic, but
    // with zero FP margin a pair at distance ~eps could round to a delta
    // one ulp past the cell size, land an index gap of 2 apart, and be
    // silently dropped — slightly larger cells only add candidates (the
    // exact recheck keeps the pair set identical)
    val latCell = math.toDegrees(eps / r) * (1 + 1e-9)
    val lonCell = math.toDegrees(2 * math.asin(sinHalf / cosMax)) * (1 + 1e-9)
    Array(latCell, lonCell)
  }
}
