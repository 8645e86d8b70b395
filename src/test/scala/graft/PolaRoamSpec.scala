package graft

import graft.streaming.StreamSessions
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PolaRoamSpec extends SparkSpec {
  import spark.implicits._

  test("fullPipeline: pings to labeled clusters in one call") {
    val c = PolaRoam.Config(r1 = 50.0, r2 = 100.0,
      min_staying_time = 600L, max_time_between = 3600L)
    val hw = PolaRoam.hwParams(start_hour_day = 7, end_hour_day = 21,
      start_working_hour = 8, end_working_hour = 18,
      min_periods_over_window_home = 0.1, span_period_home = 0.01,
      total_days = Some(10L))
    // one user dwelling nightly at the same site across 3 nights
    def day(d: Int, h: Int): Long = d.toLong * 86400L + h * 3600L
    val pings = (1 to 3).flatMap { d =>
      (0 to 3).map(i =>
        ("u", 19.0 + i * 0.00001, -99.0, day(d, 23) + i * 300L))
    }.toDF("uid", "latitude", "longitude", "timestamp")
    val out = PolaRoam.fullPipeline(pings, c, hw)
    assert(out.count() === 3) // one stop event per night
    assert(out.filter(col("location_type") === "H").count() === 3)
    assert(out.select("stop_locations").distinct().count() === 1)
  }

  test("fitPredict returns the reference event_maps shape") {
    val c = PolaRoam.Config(r1 = 50.0, min_staying_time = 300L,
      max_time_between = 3600L)
    val pings = Seq(
      ("u", 19.0, -99.0, 0L), ("u", 19.0001, -99.0, 400L),
      ("u", 19.0002, -99.0, 800L), ("u", 19.01, -99.0, 1200L))
      .toDF("uid", "latitude", "longitude", "timestamp")
    val out = PolaRoam.fitPredict(pings, c)
    assert(out.columns.toSeq ===
      Seq("uid", "stop_events", "event_maps", "timestamp"))
    val maps = out.orderBy("timestamp").collect().head
      .getAs[scala.collection.Seq[Double]]("event_maps")
    assert(maps.toSeq === Seq(19.0, -99.0))
    // and the medians helper unpacks it
    assert(PolaRoam.computeLabelMedians(out).count() === 1)
  }
}

class IvfSpec extends SparkSpec {
  import spark.implicits._

  test("ivfTopK finds self as the best match") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = graft.operators.Similarity
      .ivfTopK(queries, emb, 5, nlist = 8, nprobe = 2)
      .filter(col("rank") === 1)
      .collect()
    assert(got.length === 3)
    got.foreach(r =>
      assert(r.getAs[Long]("vec_id") === r.getAs[Long]("query_id")))
  }

  test("ivfTopK over an empty corpus throws and leaves no cache behind") {
    val emb = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val queries = emb.select(col("vec_id").as("query_id"), col("embedding"))
    spark.catalog.clearCache()
    // k-means has nothing to fit on the empty training sample
    intercept[org.apache.spark.SparkException] {
      graft.operators.Similarity.ivfTopK(queries, emb.limit(0), 5,
        nlist = 8, nprobe = 2)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "the training sample must be unpersisted when the fit fails")
  }
}

class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  test("streaming dedup keeps first occurrence per key") {
    val dir = Files.createTempDirectory("graft_sdedup").toString
    val docs = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "a", 1L),
      (java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), "a", 2L),
      (java.sql.Timestamp.valueOf("2024-01-01 10:02:00"), "b", 3L))
      .toDF("ts", "fp", "doc_id")
    docs.write.mode("overwrite").parquet(dir)
    val stream = StreamSessions.readParquetStream(spark, dir, docs.schema)
    val q = StreamSessions.runAvailableNow(
      StreamSessions.dedupStream(stream, "fp", "1 hour"), "graft_dedup")
    try {
      val got = spark.table("graft_dedup").collect()
        .map(_.getAs[String]("fp")).sorted
      assert(got.toSeq === Seq("a", "b"))
    } finally q.stop()
  }
}
