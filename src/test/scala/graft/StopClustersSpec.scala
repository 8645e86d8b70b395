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
}
