package graft

import graft.operators.Multimodal
import graft.sources.Ingest
import graft.streaming.StreamSessions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestSpec extends SparkSpec {
  import spark.implicits._

  test("uidHash: exact int.from_bytes(sha256(x)) % 2^63 known vectors") {
    // pinned against Python: int.from_bytes(hashlib.sha256(s).digest(),
    // 'big') % 2**63 — the reference's intended semantics
    // (read_localize_write.py:38-46)
    val got = Seq("alice", "alice", "bob", "uid_000123").toDF("uid")
      .select(Ingest.uidHash(col("uid")).as("h"))
      .collect().map(_.getLong(0))
    assert(got(0) === 1418477593466597008L)
    assert(got(1) === 1418477593466597008L)
    assert(got(2) === 2164908698055838953L)
    assert(got(3) === 5328365558054662234L)
    assert(got.forall(_ >= 0L))
  }

  test("localize: wall-clock shift and date partition column") {
    // 2024-01-15 03:30 UTC = 2024-01-14 21:30 in Mexico City (UTC-6)
    val ts = 1705289400L
    val r = Seq(("u", ts)).toDF("uid", "timestamp")
      .transform(Ingest.localize(_, "timestamp", "America/Mexico_City"))
      .collect().head
    assert(r.getAs[String]("date_trunc") === "2024-01-14")
  }

  test("partitioned write round-trip with partition pruning") {
    val dir = Files.createTempDirectory("graft_ingest").toString
    val df = Seq(
      ("u", 19.0, -99.0, 1705289400L, 5.0),
      ("v", 19.1, -99.1, 1705375800L, 8.0))
      .toDF("uid", "latitude", "longitude", "timestamp", "error")
      .transform(Ingest.localize(_, "timestamp", "America/Mexico_City"))
    Ingest.writePartitioned(df, s"$dir/out")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 2)
    val pruned = back.filter(col("date_trunc") === "2024-01-14")
    assert(pruned.count() === 1)
    assert(pruned.collect().head.getAs[String]("uid") === "u")
  }

  test("filterActiveDays keeps only multi-day users") {
    val df = Seq(
      ("a", "2024-01-01"), ("a", "2024-01-02"), ("a", "2024-01-03"),
      ("b", "2024-01-01"))
      .toDF("uid", "date_trunc")
    val got = Ingest.filterActiveDays(df, 2)
      .select("uid").distinct().collect().map(_.getString(0))
    assert(got.toSeq === Seq("a"))
  }

  /** The two-scan form the uid window replaced: a distinct-day aggregate
    * and a left semi join on uid (a null uid never matches).
    */
  private def semiJoinActiveDays(df: DataFrame, minDays: Int): DataFrame = {
    val active = df.groupBy("uid")
      .agg(countDistinct(col("date_trunc")).as("n_days"))
      .filter(col("n_days") > minDays)
      .select("uid")
    df.join(active, Seq("uid"), "left_semi")
  }

  test("filterActiveDays: the uid window keeps the semi join's rows") {
    val rnd = new scala.util.Random(17)
    def day(d: Int): String = f"2024-01-${d + 1}%02d"
    // 150 users with 1..10 distinct days each, every date repeated 1..3 times
    val users = (1L to 150L).flatMap { u =>
      val nDays = 1 + rnd.nextInt(10)
      (0 until nDays).flatMap(d =>
        Seq.fill(1 + rnd.nextInt(3))((Option(u), Option(day(d)))))
    }
    val rows = users ++
      // a null uid on 9 dates: never kept
      (0 until 27).map(k => (Option.empty[Long], Option(day(k % 9)))) ++
      // 6 dates plus null dates: a null date is not a day
      (0 until 12).map(k => (Option(500L),
        if (k < 6) Option(day(k)) else Option.empty[String])) ++
      // one uid past the window's in-memory buffer, on 7 dates
      (0 until 10000).map(k => (Option(0L), Option(day(k % 7))))
    val df = rows.zipWithIndex.map { case ((u, d), i) => (u, d, i.toLong) }
      .toDF("uid", "date_trunc", "row")
    def sorted(f: DataFrame): Seq[String] =
      f.collect().map(_.toString).sorted.toSeq
    for (minDays <- Seq(0, 6)) {
      val got = Ingest.filterActiveDays(df, minDays)
      assert(got.columns.toSeq === df.columns.toSeq)
      val want = sorted(semiJoinActiveDays(df, minDays))
      assert(sorted(got) === want, s"minDays $minDays")
      assert(got.filter(col("uid").isNull).count() === 0L)
      assert(got.filter(col("uid") === 0L).count() === 10000L)
    }
    // both sides of the threshold are exercised
    val keptAt6 = Ingest.filterActiveDays(df, 6).select("uid").distinct().count()
    assert(keptAt6 > 1L && keptAt6 < 150L, keptAt6)
    assert(Ingest.filterActiveDays(df, 6).filter(col("uid") === 500L)
      .count() === 0L)
  }

  /** Writes `lines` as one headerless gz CSV; returns (dir, file). */
  private def gzCsv(lines: Seq[String]): (String, String) = {
    val dir = Files.createTempDirectory("graft_gzcsv").toString
    val gz = s"$dir/part.csv.gz"
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(gz))
    out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    (dir, gz)
  }

  test("localizeCsv: gz csv fixture -> hive-partitioned localized parquet") {
    // headerless gz csv, reference column order: uid,_,lat,lon,error,ts(ms)
    val (dir, gz) = gzCsv(Seq(
      "alice,x,19.0,-99.0,5.0,1705289400000",  // 2024-01-14 MX wall clock
      "alice,x,19.1,-99.1,8.0,1705375800000",  // 2024-01-15
      "bob,x,20.0,-98.0,50.0,1705289400000"))  // error 50 >= 30: dropped

    Ingest.localizeCsv(spark, gz, s"$dir/out",
      "America/Mexico_City", maxError = 30.0, minActiveDays = None)
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 2) // bob dropped by accuracy filter
    assert(back.select("uid").distinct().count() === 1)
    val u = back.select("uid").collect().head.getLong(0)
    assert(u >= 0L) // anonymized to a non-negative long
    // partition values come back type-inferred as DateType
    assert(back.select(col("date_trunc").cast("string")).distinct().collect()
      .map(_.getString(0)).sorted.toSeq === Seq("2024-01-14", "2024-01-15"))
    // whole epoch seconds as Long (SURVEY §1.3), not ms / 1000.0
    assert(back.schema("timestamp").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(back.select(min("timestamp")).head().getLong(0) === 1705289400L)
  }

  test("localizeCsv: an empty uid active on 8 days is dropped") {
    val t0 = 1705309200000L // 2024-01-15 03:00 MX wall clock
    def rows(uid: String, days: Int): Seq[String] = for {
      d <- 0 until days; k <- 0 until 2
    } yield s"$uid,x,19.0,-99.0,5.0,${t0 + d * 86400000L + k * 600000L}"
    val (dir, gz) = gzCsv(rows("", 8) ++ rows("alice", 8) ++ rows("bob", 2))

    Ingest.localizeCsv(spark, gz, s"$dir/out", "America/Mexico_City",
      minActiveDays = Some(6))
    val back = spark.read.parquet(s"$dir/out")
    val alice = Seq("alice").toDF("u").select(Ingest.uidHash(col("u")))
      .head().getLong(0)
    assert(back.select("uid").distinct().collect().map(_.get(0)).toSeq ===
      Seq(alice))
    assert(back.count() === 16L)
    assert(back.select("date_trunc").distinct().count() === 8L)
  }

  test("localizeCsv output feeds stops -> medians -> DBSCAN uncast") {
    // one user dwelling at the same site for an hour on two days: two
    // stop events that DBSCAN merges into one location
    val t0 = 1705289400000L
    val (dir, gz) = gzCsv(for {
      d <- 0 until 2; k <- 0 until 7
    } yield s"alice,x,19.0,-99.0,5.0,${t0 + d * 86400000L + k * 600000L}")

    Ingest.localizeCsv(spark, gz, s"$dir/out",
      "America/Mexico_City", minActiveDays = None)
    val cfg = PolaRoam.Config(r1 = 100, r2 = 100, min_staying_time = 600,
      max_time_between = 3600, min_size = 3)
    val clusters = PolaRoam.computeDbscan(PolaRoam.computeLabelMedians(
      PolaRoam.fitPredictFlat(spark.read.parquet(s"$dir/out"), cfg)), cfg)
      .collect()
    assert(clusters.length === 2, clusters.mkString("\n"))
    assert(clusters.map(_.getAs[Long]("stop_locations")).distinct.toSeq ===
      Seq(0L), "both stops must cluster into one location")
    assert(clusters.map(_.getAs[Long]("start_timestamp")).min ===
      t0 / 1000L)
  }

  test("validatePings: clean data passes, bad ranges and disorder throw") {
    val good = Seq(("u", 19.0, -99.0, 100L, 1L), ("u", 19.1, -99.1, 200L, 2L))
      .toDF("uid", "latitude", "longitude", "timestamp", "seq")
    Ingest.validatePings(good, seqCol = Some("seq")) // must not throw

    val badLat = Seq(("u", 91.0, -99.0, 100L, 1L))
      .toDF("uid", "latitude", "longitude", "timestamp", "seq")
    val e1 = intercept[IllegalArgumentException] {
      Ingest.validatePings(badLat)
    }
    assert(e1.getMessage.contains("Latitude"))

    val disordered = Seq(
      ("u", 19.0, -99.0, 200L, 1L), ("u", 19.1, -99.1, 100L, 2L))
      .toDF("uid", "latitude", "longitude", "timestamp", "seq")
    val e2 = intercept[IllegalArgumentException] {
      Ingest.validatePings(disordered, seqCol = Some("seq"))
    }
    assert(e2.getMessage.contains("ordered"))
    Ingest.validatePings(disordered) // no seqCol: ordering not checked

    val missing = Seq(("u", 1L)).toDF("uid", "timestamp")
    val e3 = intercept[IllegalArgumentException] {
      Ingest.validatePings(missing)
    }
    assert(e3.getMessage.contains("Missing columns"))
  }

  test("accuracy filter and raw rename") {
    val raw = Seq(("u1", 1.0, 2.0, 10L, 25.0), ("u2", 1.0, 2.0, 10L, 5.0))
      .toDF("_c0", "_c2", "_c3", "_c5", "_c4")
    val renamed = Ingest.renameRaw(raw, Map(
      "_c0" -> "uid", "_c2" -> "latitude", "_c3" -> "longitude",
      "_c5" -> "timestamp", "_c4" -> "error"))
    val got = Ingest.filterAccuracy(renamed, 20.0).collect()
    assert(got.length === 1)
    assert(got.head.getAs[String]("uid") === "u2")
  }
}

class DailyBatchSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.DailyBatch

  test("discovers date partitions and runs the pipeline once per day") {
    val dir = Files.createTempDirectory("graft_daily").toString
    Seq(("u", 1.0, "2024-01-01"), ("v", 2.0, "2024-01-01"),
      ("u", 3.0, "2024-01-02"))
      .toDF("uid", "x", "date_trunc")
      .write.partitionBy("date_trunc").parquet(s"$dir/in")

    assert(DailyBatch.partitionDates(spark, s"$dir/in") ===
      Seq("2024-01-01", "2024-01-02"))

    val errors = DailyBatch.forEachDay(spark, s"$dir/in", s"$dir/out") {
      (day, _) => day.groupBy("uid").agg(sum("x").as("sx"))
    }
    assert(errors.isEmpty)
    val d1 = spark.read.parquet(s"$dir/out/date_trunc=2024-01-01")
    assert(d1.count() === 2)
    val d2 = spark.read.parquet(s"$dir/out/date_trunc=2024-01-02")
    assert(d2.collect().head.getAs[Double]("sx") === 3.0)
  }

  test("a failing day is reported, not fatal") {
    val dir = Files.createTempDirectory("graft_daily2").toString
    Seq(("u", 1.0, "2024-01-01"), ("u", 2.0, "2024-01-02"))
      .toDF("uid", "x", "date_trunc")
      .write.partitionBy("date_trunc").parquet(s"$dir/in")
    val errors = DailyBatch.forEachDay(spark, s"$dir/in", s"$dir/out") {
      (day, d) =>
        if (d == "2024-01-01") throw new RuntimeException("boom")
        else day.select("uid", "x")
    }
    assert(errors.keySet === Set("2024-01-01"))
    assert(spark.read.parquet(s"$dir/out/date_trunc=2024-01-02").count() === 1)
  }

  test("upsertSnapshot: keyed merge into versioned state, old intact") {
    val root = Files.createTempDirectory("graft_state").toString
    // day 1: initial state
    val v0 = DailyBatch.upsertSnapshot(spark, root,
      Seq(("u", 1L, 10.0), ("v", 1L, 20.0)).toDF("uid", "loc", "score"),
      Seq("uid", "loc"))
    assert(v0.endsWith("/v0"))
    // day 2: replace (u,1), add (w,2)
    val v1 = DailyBatch.upsertSnapshot(spark, root,
      Seq(("u", 1L, 11.0), ("w", 2L, 30.0)).toDF("uid", "loc", "score"),
      Seq("uid", "loc"))
    assert(v1.endsWith("/v1"))
    val got = spark.read.parquet(v1).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === Map(("u", 1L) -> 11.0, ("v", 1L) -> 20.0,
      ("w", 2L) -> 30.0))
    // previous snapshot untouched
    val old = spark.read.parquet(v0).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(old === Map(("u", 1L) -> 10.0, ("v", 1L) -> 20.0))
    assert(DailyBatch.latestSnapshot(spark, root) === Some(v1))
    // an unfinished directory (no _SUCCESS) is not "latest"
    new java.io.File(s"$root/v2/part-junk.parquet").getParentFile.mkdirs()
    assert(DailyBatch.latestSnapshot(spark, root) === Some(v1))
  }
}

class StreamSessionsSpec extends SparkSpec {
  import spark.implicits._

  test("session counts over a file stream match the batch equivalent") {
    val dir = Files.createTempDirectory("graft_stream").toString
    // the 23:00 sentinel advances the watermark so all earlier sessions
    // finalize; its own session stays open (append-mode semantics)
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3.0), // gap
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 4.0),
      (99L, java.sql.Timestamp.valueOf("2024-01-01 23:00:00"), 0.0))
      .toDF("user_id", "ts", "value")
    events.write.mode("overwrite").parquet(dir)

    val stream = StreamSessions.readParquetStream(spark, dir, events.schema)
    val q = StreamSessions.runAvailableNow(
      StreamSessions.sessionCounts(stream, "30 minutes", "0 seconds"),
      "graft_sessions")
    try {
      val got = spark.table("graft_sessions")
        .orderBy("user_id", "session_start").collect()
      assert(got.length === 3) // u1 x2 sessions, u2 x1
      assert(got(0).getAs[Long]("n_events") === 2L)
      assert(got(0).getAs[Double]("sum_value") === 3.0)
      assert(got(1).getAs[Long]("n_events") === 1L)
      assert(got(2).getAs[Long]("n_events") === 1L)
    } finally q.stop()
  }

  test("tumbling windowed counts finalize behind the watermark") {
    val dir = Files.createTempDirectory("graft_stream_w").toString
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 1.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:09:00"), 2.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:11:00"), 4.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 8.0),
      (99L, java.sql.Timestamp.valueOf("2024-01-01 23:00:00"), 0.0))
      .toDF("user_id", "ts", "value")
    events.write.mode("overwrite").parquet(dir)
    val stream = StreamSessions.readParquetStream(spark, dir, events.schema)
    val q = StreamSessions.runAvailableNow(
      StreamSessions.windowedCounts(stream, "10 minutes", "0 seconds"),
      "graft_windows")
    try {
      val got = spark.table("graft_windows")
        .orderBy("user_id", "w_start").collect()
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("w_start").toString,
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      // u1: 2 events in [10:00,10:10), 1 in [10:10,10:20); u2: 1 event;
      // the 23:00 sentinel's own window stays open under append mode
      assert(got.toSeq === Seq(
        (1L, "2024-01-01 10:00:00.0", 2L, 3.0),
        (1L, "2024-01-01 10:10:00.0", 1L, 4.0),
        (2L, "2024-01-01 10:00:00.0", 1L, 8.0)))
    } finally q.stop()
  }
}

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("resizeImages: nearest-neighbor floor map, closed-form parity") {
    // id=5: src 9x8. Resize to 4x2: sx = x*9/4 -> (0,2,4,6); sy = y*8/2
    // -> (0,4). Decoded thumbnail stats must equal the direct formula
    // over exactly those source pixels — through a REAL double codec
    // round trip (encode, decode, resample, encode, decode).
    val media = Multimodal.synthImages(Seq(5L).toDF("doc_id"), "doc_id")
    val got = Multimodal.decodeImages(
      Multimodal.resizeImages(media, 4, 2), 8).collect().head
    assert(got.width === 4L && got.height === 2L)
    val id = 5L
    val pix = for (y <- Seq(0, 4); x <- Seq(0, 2, 4, 6))
      yield ((id + 3 * x + 7 * y) % 256, (2 * id + 5 * x + y) % 256,
        (3 * id + x + 2 * y) % 256)
    assert(got.mean_r === pix.map(_._1).sum.toDouble / 8)
    assert(got.mean_g === pix.map(_._2).sum.toDouble / 8)
    assert(got.mean_b === pix.map(_._3).sum.toDouble / 8)
  }

  test("resizeImages: upscale repeats source pixels, corrupt payloads drop") {
    val media = Multimodal.synthImages(Seq(1L).toDF("doc_id"), "doc_id")
    val up = Multimodal.decodeImages(
      Multimodal.resizeImages(media, 16, 16), 8).collect().head
    assert(up.width === 16L && up.height === 16L)
    val junk = Multimodal.fromStrings(
      Seq((9L, "not a png")).toDF("id", "s"), "id", "s", "image/png")
    assert(Multimodal.resizeImages(junk, 4, 4).count() === 0L)
  }

  test("feature extraction: deterministic histogram features") {
    val media = Multimodal.fromStrings(
      Seq((1L, "abcabc"), (2L, "zzzz")).toDF("id", "s"), "id", "s", "img")
    val got = Multimodal.extractFeatures(media, 8).collect()
      .map(f => f.media_id -> f).toMap
    assert(got(1L).n_bytes === 6L)
    assert(got(1L).features.length === 8)
    assert(math.abs(got(1L).features.sum - 1f) < 1e-6)
    // identical payloads hash identically
    val again = Multimodal.extractFeatures(media, 8).collect()
      .map(f => f.media_id -> f.checksum).toMap
    assert(again(1L) === got(1L).checksum)
  }

  test("media ANN composition: recall@10 = 1.0 vs driver-side brute force") {
    // The q67 pipeline (binary payload -> stub features -> top-k) must
    // return EXACTLY the brute-force neighbors of the extracted features.
    // Computed independently on the driver, so swapping the stub decode
    // for a real codec (or the brute-force stage for an ANN variant)
    // inherits this harness: any recall loss or feature drift fails here.
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val media = Multimodal.fromStrings(docs, "doc_id", "text", "text")
    val feats = Multimodal.extractFeatures(media, 16).toDF()
      .select(col("media_id").as("vec_id"), col("features").as("embedding"))
    val qs = feats.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = graft.operators.Similarity.bruteForceTopK(qs, feats, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // driver-side oracle over the same collected features
    val all = feats.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = all.filter(_._1 < 5).flatMap { case (qid, qv) =>
      all.map { case (vid, v) =>
        (qid, vid, BigDecimal(cos(v, qv))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (_, vid, sim) => (-sim, vid) }
        .take(10).map { case (_, vid, _) => (qid, vid) }
    }.toSet
    assert(got === want)
    assert(got.size === 50)
  }

  test("chunk sampling keeps every k-th chunk") {
    val media = Multimodal.fromStrings(
      Seq((1L, "aaaabbbbccccdddd")).toDF("id", "s"), "id", "s", "video")
    val got = Multimodal.sampleChunks(media, 4, 2)
      .orderBy("chunk_idx").collect()
    assert(got.map(_.getAs[Int]("chunk_idx")).toSeq === Seq(0, 2))
  }

  test("real PNG decode: round trip recovers the synthesized pixel stats") {
    val ids = Seq(0L, 1L, 41L, 255L, 4999L)
    val media = Multimodal.synthImages(ids.toDF("doc_id"), "doc_id")
    val got = Multimodal.decodeImages(media, 8).collect()
      .map(f => f.media_id -> f).toMap
    assert(got.keySet === ids.toSet)
    ids.foreach { id =>
      val w = (4 + id % 13).toInt; val h = (3 + id % 7).toInt
      val f = got(id)
      assert(f.width === w.toLong && f.height === h.toLong)
      // closed-form channel means, independent of the codec path
      def mean(fn: (Long, Long) => Long): Double = {
        var s = 0L
        for (y <- 0 until h; x <- 0 until w) s += fn(x.toLong, y.toLong)
        s.toDouble / (w * h)
      }
      assert(f.mean_r === mean((x, y) => (id + 3 * x + 7 * y) % 256))
      assert(f.mean_g === mean((x, y) => (2 * id + 5 * x + y) % 256))
      assert(f.mean_b === mean((x, y) => (3 * id + x + 2 * y) % 256))
      assert(f.features.take(5).toSeq ===
        Seq(w.toFloat, h.toFloat, f.mean_r.toFloat, f.mean_g.toFloat,
          f.mean_b.toFloat))
      assert(f.n_bytes > 0L) // a real PNG payload, not the raw pixels
    }
  }

  test("decode drops unparseable payloads instead of crashing") {
    val junk = Seq(
      Multimodal.MediaItem(1L, "image/png", Array[Byte](1, 2, 3)),
      Multimodal.MediaItem(2L, "image/png", Array.empty[Byte])).toDS()
    assert(Multimodal.decodeImages(junk, 8).count() === 0L)
    // a BMP payload (different imageio reader) still decodes
    val im = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    im.setRGB(0, 0, 0xff0000); im.setRGB(1, 1, 0x0000ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "bmp", bos)
    val bmp = Seq(Multimodal.MediaItem(3L, "image/bmp", bos.toByteArray)).toDS()
    val f = Multimodal.decodeImages(bmp, 8).collect().head
    assert(f.width === 2L && f.height === 2L)
    assert(f.mean_r === 255.0 / 4 && f.mean_b === 255.0 / 4)
  }

  test("perceptualHashes: closed-form bit parity through a real codec") {
    // derive the expected aHash for id=11 directly from the synthetic
    // channel formulas (9x4 image), through the same 8x8 floor map,
    // integer luma, strict-mean bits, two-long packing.
    val id = 11L
    val w = (4 + id % 13).toInt; val h = (3 + id % 7).toInt
    val lum = (0 until 64).map { p =>
      val x = (p % 8) * w / 8; val y = (p / 8) * h / 8
      299L * ((id + 3 * x + 7 * y) % 256) +
        587L * ((2 * id + 5 * x + y) % 256) +
        114L * ((3 * id + x + 2 * y) % 256)
    }
    val s = lum.sum
    var hi = 0L; var lo = 0L
    lum.zipWithIndex.foreach { case (l, p) =>
      if (l * 64 > s) { if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32) }
    }
    val got = Multimodal.perceptualHashes(
      Multimodal.synthImages(Seq(id).toDF("doc_id"), "doc_id"))
      .collect().head
    assert(got.getLong(0) === id)
    assert(got.getLong(1) === hi && got.getLong(2) === lo)
    // undecodable payload is quarantined, not a failure
    val junk = Seq(Multimodal.MediaItem(9L, "image/png",
      Array[Byte](1, 2, 3))).toDS()
    assert(Multimodal.perceptualHashes(junk).count() === 0L)
  }
}

class HammingNearDupSpec extends SparkSpec {
  import graft.operators.Dedup
  import spark.implicits._

  private def run(rows: Seq[(Long, Long, Long)], maxDist: Int = 3)
  : Map[Long, Boolean] =
    Dedup.hammingNearDupKept(rows.toDF("id", "hi", "lo"),
        "id", "hi", "lo", maxDist)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap

  test("identical hashes collapse to the smallest id") {
    val got = run(Seq((5L, 7L, 9L), (2L, 7L, 9L), (8L, 7L, 9L),
      (1L, 1024L, 0L)))
    assert(got === Map(2L -> true, 5L -> false, 8L -> false, 1L -> true))
  }

  test("worst-case band spread at Hamming 3 is still found; " +
    "distance above the threshold is kept") {
    // base hash 0; three flipped bits land in three DIFFERENT bands
    // (bit 0 -> lo band 0, bit 16 -> lo band 1, bit 32 -> hi band 0):
    // only the fourth band (hi bits 16-31) is intact — the pigeonhole
    // minimum. Distance-4 spread across all four bands has no matching
    // band and stays kept (maxDist=3 semantics are exact regardless).
    val d3 = (1L << 16) | 1L // lo bits 0 and 16
    val got = run(Seq(
      (1L, 0L, 0L),
      (2L, 1L, d3),                  // distance 3 from id 1 -> dropped
      (3L, (1L << 16) | 1L, d3)))    // distance 5 from id 1, 2 from id 2
    assert(got === Map(1L -> true, 2L -> false, 3L -> false))
    val far = run(Seq(
      (1L, 0L, 0L),
      (2L, (1L << 16) | 1L, (1L << 16) | 1L))) // distance 4, all 4 bands
    assert(far === Map(1L -> true, 2L -> true))
  }

  test("domination needs a SMALLER id: the min id survives whichever " +
    "hash it carries") {
    val got = run(Seq((10L, 0L, 0L), (20L, 0L, 1L), (30L, 0L, 3L)))
    assert(got === Map(10L -> true, 20L -> false, 30L -> false))
    val rev = run(Seq((30L, 0L, 0L), (20L, 0L, 1L), (10L, 0L, 3L)))
    assert(rev === Map(10L -> true, 20L -> false, 30L -> false))
  }
}

class ShardedExportSpec extends SparkSpec {
  import graft.sources.Export
  import org.apache.spark.sql.functions._

  test("token-balanced shards: deterministic membership, one file each") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_shard").toString
    // 12 docs x 100 tokens, budget 500 -> starts 0,100,... shards 0,0,0,
    // 0,0,1,... = ceil(1200/500) = 3 shards (last one short)
    val docs = (1L to 12L).map(i => (i, 100L)).toDF("doc_id", "toks")
      .repartition(4)
    Export.parquetShardedByTokens(docs, "toks", 500L, s"$dir/out",
      col("doc_id"))
    spark.catalog.clearCache()
    val back = spark.read.parquet(s"$dir/out")
    val byShard = back.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard"))
      .toMap
    assert(byShard === (1L to 12L)
      .map(i => i -> ((i - 1) * 100L) / 500L).toMap)
    // one parquet file per shard directory: downstream readers stream
    // equal-token files, not arbitrary shuffle-partition remnants
    (0 to 2).foreach { s =>
      val files = new java.io.File(s"$dir/out/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, s"shard $s has ${files.length} files")
    }
    // re-run writes byte-identical membership (determinism)
    Export.parquetShardedByTokens(docs, "toks", 500L, s"$dir/out2",
      col("doc_id"))
    spark.catalog.clearCache()
    val again = spark.read.parquet(s"$dir/out2").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard")).toMap
    assert(again === byShard)
  }
}

class CsvRoundTripSpec extends SparkSpec {
  import graft.sources.{Export, Ingest}

  test("csv sink + headerless csv scan round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val df = Seq(("u1", 19.5, -99.25), ("u2", 20.0, -98.5))
      .toDF("uid", "lat", "lon")
    Export.csvSingle(df, s"$dir/out")
    val withHeader = spark.read.option("header", "true")
      .csv(s"$dir/out")
    assert(withHeader.count() === 2)
    assert(withHeader.columns.toSeq === Seq("uid", "lat", "lon"))
    // headerless scan names columns _c0.. like the reference's raw drops
    val raw = Ingest.readCsv(spark, s"$dir/out/*.csv")
    assert(raw.columns.head === "_c0")
    assert(raw.count() === 3) // header row becomes data in headerless mode
  }

  test("compactParquet: many small files -> few balanced, content exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    (0L until 5000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(25)
      .write.mode("overwrite").parquet(s"$dir/small")
    def parts(p: String) =
      Option(new java.io.File(p).listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
    assert(parts(s"$dir/small") === 25)
    // huge target => everything fits one file
    val n = Export.compactParquet(spark, s"$dir/small", s"$dir/one")
    assert(n === 1 && parts(s"$dir/one") === 1)
    // tiny target => sized from source bytes, several balanced files
    val bytes = Option(new java.io.File(s"$dir/small").listFiles()).get
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val n2 = Export.compactParquet(spark, s"$dir/small", s"$dir/few",
      targetBytes = bytes / 4 + 1)
    assert(n2 === 4 && parts(s"$dir/few") === 4)
    // content preserved exactly through both rewrites
    val src = spark.read.parquet(s"$dir/small")
      .as[(Long, String)].collect().toSet
    assert(spark.read.parquet(s"$dir/one")
      .as[(Long, String)].collect().toSet === src)
    assert(spark.read.parquet(s"$dir/few")
      .as[(Long, String)].collect().toSet === src)
  }
}

class AudioFingerprintSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Multimodal

  /** Hand WAV builder (independent of synthAudio): optional junk chunk
    * before fmt, configurable channels/bits for the negative cases.
    */
  private def wav(samples: Seq[Short], channels: Short = 1,
                  bits: Short = 16, junkLen: Int = 0): Array[Byte] = {
    val junk = if (junkLen > 0) 8 + junkLen + (junkLen & 1) else 0
    val n = 2 * samples.length
    val bb = java.nio.ByteBuffer.allocate(44 + junk + n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + junk + n)
      .put("WAVE".getBytes("US-ASCII"))
    if (junkLen > 0) {
      bb.put("LIST".getBytes("US-ASCII")).putInt(junkLen)
      (0 until junkLen + (junkLen & 1)).foreach(_ => bb.put(0x7F.toByte))
    }
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels).putInt(8000).putInt(16000)
      .putShort(2).putShort(bits)
      .put("data".getBytes("US-ASCII")).putInt(n)
    samples.foreach(bb.putShort)
    bb.array()
  }

  test("synthAudio round-trips through the RIFF walker to the closed form") {
    val item = Multimodal.synthAudio(Seq(5L).toDF("id"), "id")
      .collect().head
    val s = Multimodal.decodeWavPcm16Mono(item.payload).get
    assert(s.length === 1024 + (5 % 7) * 256)
    s.indices.foreach { i =>
      val want =
        java.lang.Math.floorMod(5L * 31 + i.toLong * i * 7, 4096L) - 2048L
      assert(s(i) === want.toShort, s"sample $i")
    }
  }

  test("chunk walker: junk chunk skipped; stereo/8-bit/truncated quarantine") {
    val good = Seq.tabulate(16)(i => (i * 3 - 20).toShort)
    assert(Multimodal.decodeWavPcm16Mono(wav(good, junkLen = 7)).get
      .toSeq === good)
    assert(Multimodal.decodeWavPcm16Mono(wav(good, channels = 2)).isEmpty)
    assert(Multimodal.decodeWavPcm16Mono(wav(good, bits = 8)).isEmpty)
    assert(Multimodal.decodeWavPcm16Mono(
      wav(good).dropRight(5)).isEmpty)
    assert(Multimodal.decodeWavPcm16Mono(
      Array.tabulate(64)(_.toByte)).isEmpty)
    assert(Multimodal.decodeWavPcm16Mono(Array.emptyByteArray).isEmpty)
  }

  test("audioFrames: band energies, peak ties to lowest, partial frame drops") {
    // frameLen 8 (quarter 2): bands e0=2, e1=4, e2=2, e3=4 — peak must
    // be 1, NOT 3 (tie to the lowest index). 10 samples -> the 2-sample
    // tail frame drops.
    val samples = Seq[Short](1, 1, -2, 2, 1, -1, 2, 2, 99, 99)
    val frames = Multimodal.audioFrames(
      Seq(Multimodal.MediaItem(7L, "audio/wav", wav(samples))).toDS(),
      frameLen = 8).collect()
    assert(frames.length === 1)
    val f = frames.head
    assert((f.e0, f.e1, f.e2, f.e3) === ((2L, 4L, 2L, 4L)))
    assert(f.peak_band === 1L)
    // junk payloads contribute zero rows, not failures
    val mixed = Multimodal.audioFrames(
      Seq(Multimodal.MediaItem(1L, "audio/wav", wav(samples)),
        Multimodal.MediaItem(2L, "junk", Array[Byte](1, 2, 3))).toDS(),
      frameLen = 8).collect()
    assert(mixed.map(_.media_id).toSeq === Seq(1L))
  }
}
