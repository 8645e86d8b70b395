package graft

import graft.operators.StopClusters

class StopClustersSpec extends SparkSpec {
  import spark.implicits._

  private def medians(rows: (String, Long, Double, Double)*) =
    rows.toSeq.map { case (u, e, la, lo) => (u, e, la, lo, 0L, 100L) }
      .toDF("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp")

  test("two nearby stops cluster, isolated stop is noise") {
    val p = StopClusters.Params(eps = 100.0)
    val got = StopClusters.cluster(medians(
      ("u", 1L, 19.0000, -99.0),
      ("u", 2L, 19.0005, -99.0),   // ~55m from stop 1
      ("u", 3L, 19.0500, -99.0)),  // ~5.5km away
      p)
      .orderBy("stop_events")
      .select("stop_events", "stop_locations")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Array((1L, 0L), (2L, 0L), (3L, -1L)))
  }

  test("labels are 0-based by first appearance per user") {
    val p = StopClusters.Params(eps = 100.0)
    val got = StopClusters.cluster(medians(
      ("u", 1L, 19.00, -99.0), ("u", 2L, 19.05, -99.0),
      ("u", 3L, 19.00, -99.0), ("u", 4L, 19.05, -99.0),
      ("v", 1L, 20.00, -98.0), ("v", 2L, 20.00, -98.0)),
      p)
      .orderBy("uid", "stop_events")
      .select("uid", "stop_locations")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got === Array(("u", 0L), ("u", 1L), ("u", 0L), ("u", 1L),
      ("v", 0L), ("v", 0L)))
  }

  test("cluster stats: counts and medians; noise keeps own coords") {
    val p = StopClusters.Params(eps = 100.0)
    val got = StopClusters.cluster(medians(
      ("u", 1L, 19.0000, -99.0),
      ("u", 2L, 19.0004, -99.0),
      ("u", 3L, 19.0002, -99.0),
      ("u", 4L, 19.5000, -99.5)),
      p)
      .orderBy("stop_events")
      .collect()
    val clusterRows = got.filter(_.getAs[Long]("stop_locations") == 0L)
    assert(clusterRows.length === 3)
    assert(clusterRows.forall(_.getAs[Long]("cluster_counts") == 3L))
    assert(clusterRows.forall(_.getAs[Double]("cluster_latitude") == 19.0002))
    val noise = got.filter(_.getAs[Long]("stop_locations") == -1L).head
    assert(noise.getAs[Long]("cluster_counts") === 1L)
    assert(noise.getAs[Double]("cluster_latitude") === 19.5)
  }

  // the reference: the `(a + b) / 2` median of sorted values
  private def exactMedian(xs: Array[Double]): Double = {
    java.util.Arrays.sort(xs)
    val n = xs.length
    if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  test("cluster medians equal the (a + b) / 2 median bit for bit") {
    val rnd = new scala.util.Random(11)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Double, Double)]
    val next = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(1L)
    def add(u: String, la: Double, lo: Double): Unit = {
      rows += ((u, next(u), la, lo)); next(u) += 1
    }
    def jitter = (rnd.nextDouble() - 0.5) * 0.0004 // within 35 m
    // seeded groups: clusters of 1 to 8 medians 1 km apart, some repeated
    for (u <- 0 until 6; c <- 0 until 5; _ <- 0 until 1 + rnd.nextInt(8)) {
      val (la, lo) = (19.0 + u + c * 0.01, -99.0 + c * 0.01)
      if (rnd.nextInt(4) == 0) add(s"u$u", la, lo)
      else add(s"u$u", la + jitter, lo + jitter)
    }
    // noise far from any cluster
    (0 until 6).foreach(u => add(s"u$u", 40.0 + u, 10.0))
    // signed zeros: an odd and an even cluster
    Seq((0.0, 0.0), (-0.0, 0.0), (0.0, -0.0), (-0.0, -0.0), (-0.0, 0.0),
      (0.0, 1.0), (-0.0, 1.0), (-0.0, 1.0), (0.0, 1.0))
      .foreach { case (la, lo) => add("z", la, lo) }
    // a 2,000-median uid: seven clusters, visited in random order
    (0 until 2000).foreach { _ =>
      val c = rnd.nextInt(7)
      add("w", 30.0 + c * 0.01 + jitter, 120.0 + jitter)
    }
    val got = StopClusters.cluster(medians(rows.toSeq: _*),
      StopClusters.Params(eps = 100.0)).collect()
    assert(got.length === rows.length)
    val (noise, clustered) = got.partition(_.getAs[Long]("stop_locations") == -1L)
    val clusters = clustered.groupBy(r =>
      (r.getAs[String]("uid"), r.getAs[Long]("stop_locations"))).values
    clusters.foreach { rs =>
      val Seq(lat, lon) = Seq("latitude", "longitude").map(c =>
        exactMedian(rs.map(_.getAs[Double](c))))
      rs.foreach { r =>
        assert(r.getAs[Long]("cluster_counts") === rs.length.toLong, r)
        assert(bits(r.getAs[Double]("cluster_latitude")) === bits(lat), r)
        assert(bits(r.getAs[Double]("cluster_longitude")) === bits(lon), r)
      }
    }
    noise.foreach { r =>
      assert(r.getAs[Long]("cluster_counts") === 1L, r)
      assert(bits(r.getAs[Double]("cluster_latitude")) ===
        bits(r.getAs[Double]("latitude")), r)
      assert(bits(r.getAs[Double]("cluster_longitude")) ===
        bits(r.getAs[Double]("longitude")), r)
    }
    // the fixture covers what it claims
    val sizes = clusters.map(_.length)
    assert(sizes.exists(_ % 2 == 0) && sizes.exists(_ % 2 == 1), sizes)
    assert(noise.length >= 6 && sizes.max >= 250, sizes)
    assert(clustered.exists(r => bits(r.getAs[Double]("cluster_latitude")) ==
      bits(-0.0)), "the odd signed-zero cluster's median is -0.0")
    assert(rows.groupBy(r => (r._3, r._4)).exists(_._2.size > 1))
  }

  test("the median formulas differ only where coordinates never go") {
    import graft.operators.StopDetect
    def both(a: Double, b: Double) =
      (bits(exactMedian(Array(a, b))), bits(StopDetect.medianOf(Array(a, b), 0, 2)))
    // a + b overflows, or a half rounds below 2^-1021
    assert(both(Double.MaxValue, Double.MaxValue) ===
      ((bits(Double.PositiveInfinity), bits(Double.MaxValue))))
    assert(both(Double.MinPositiveValue, Double.MinPositiveValue) ===
      ((bits(Double.MinPositiveValue), bits(0.0))))
    // coordinates: |x| <= 180, every pair of edge values and random ones
    val rnd = new scala.util.Random(5)
    val edges = Seq(-180.0, -90.0, -1e-300, -0.0, 0.0, 1e-300, 90.0, 180.0,
      Math.nextDown(180.0), Math.scalb(1.0, -1021))
    val coords = edges ++ Seq.fill(4000)((rnd.nextDouble() - 0.5) * 360)
    for ((a, b) <- (for (a <- coords; b <- edges) yield (a, b)) ++
        coords.zip(coords.tail)) {
      val (x, y) = both(a, b)
      assert(x === y, s"$a, $b")
    }
  }
}
