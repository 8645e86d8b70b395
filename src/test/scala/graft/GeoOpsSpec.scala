package graft

import graft.operators.{Communities, Geometry, Indexing, StopClusters}
import org.apache.spark.sql.functions._

class CommunitiesSpec extends SparkSpec {
  import spark.implicits._

  private def medians(rows: (String, Long, Double, Double)*) =
    rows.toSeq.map { case (u, e, la, lo) => (u, e, la, lo, 0L, 100L) }
      .toDF("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp")

  test("nearby stops share a community; singleton is -1") {
    val got = Communities.assignLocations(medians(
      ("u", 1L, 19.0000, -99.0),
      ("u", 2L, 19.0005, -99.0),
      ("u", 3L, 19.5000, -99.0)),
      Communities.Params(r2 = 100.0))
      .orderBy("stop_events")
      .select("stop_events", "stop_locations")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got(0)._2 === got(1)._2)
    assert(got(0)._2 === 0L)
    assert(got(2)._2 === -1L)
  }

  test("downsample counts weight edges and flip a bridge node's community") {
    // Line graph in euclidean degree-space (lon = 0):
    //   A1(0) - A2(1) --- B(4) -- C1(6) - C2(7.6)
    // r2 = 3.5 keeps edges A1-A2(d1), A2-B(d3), B-C1(d2), C1-C2(d1.6).
    // With unit counts, w(B,C1) = 1/2 > w(A2,B) = 1/3 and B settles with
    // the C side. Giving A2 three collapsed stops makes w(A2,B) =
    // max(3,1)/3 = 1 > 1/2 and B flips to the A side. Both partitions
    // hand-traced through the fixed-order async LPA.
    def run(a2Stops: Int): Map[Long, Long] = {
      val a2 = (0 until a2Stops).map(k => ("u", 2L + k, 1.0, 0.0))
      val rows = Seq(("u", 1L, 0.0, 0.0)) ++ a2 ++ Seq(
        ("u", 10L, 4.0, 0.0), ("u", 11L, 6.0, 0.0), ("u", 12L, 7.6, 0.0))
      Communities.assignLocations(medians(rows: _*),
        Communities.Params(r2 = 3.5, metric = "euclidean"))
        .collect().map(r => r.getAs[Long]("stop_events") ->
          r.getAs[Long]("stop_locations")).toMap
    }
    val unit = run(1)
    assert(unit(1L) === 0L && unit(2L) === 0L) // A side
    assert(unit(10L) === 1L && unit(11L) === 1L && unit(12L) === 1L) // B with C
    val counted = run(3)
    assert(counted(1L) === 0L && counted(2L) === 0L && counted(3L) === 0L &&
      counted(4L) === 0L)
    assert(counted(10L) === 0L, "count-weighted edge must pull B to A side")
    assert(counted(11L) === 1L && counted(12L) === 1L)
  }

  test("stops collapsing to one coordinate form a singleton (-1), not a pair") {
    // Reference semantics: the downsample collapses identical coords into
    // ONE node with count 2; self-links are excluded, so with no distinct
    // neighbor in range the node is a singleton.
    val got = Communities.assignLocations(medians(
      ("u", 1L, 19.0, -99.0),
      ("u", 2L, 19.0, -99.0)),
      Communities.Params(r2 = 100.0))
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.toSeq === Seq(-1L, -1L))
  }

  test("grid snap collapses near-identical coords into one node") {
    // 19.00004 and 19.00006 snap to 19.0 and 19.0001 at resolution 1e-4 —
    // distinct nodes ~11 m apart, joined within r2=100. A third stop far
    // away stays -1.
    val got = Communities.assignLocations(medians(
      ("u", 1L, 19.00004, -99.0),
      ("u", 2L, 19.00006, -99.0),
      ("u", 3L, 21.0, -99.0)),
      Communities.Params(r2 = 100.0, minSpacialResolution = 1e-4))
      .orderBy("stop_events")
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.toSeq === Seq(0L, 0L, -1L))
  }

  test("labelSingletons keeps isolated stops as own communities") {
    val got = Communities.assignLocations(medians(
      ("u", 1L, 19.0, -99.0),
      ("u", 2L, 19.5, -99.0)),
      Communities.Params(r2 = 100.0, labelSingletons = true))
      .orderBy("stop_events")
      .select("stop_locations")
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(0L, 1L))
  }

  test("infomap: exhaustive-search parity on the triangle barbell") {
    // Two unit-count triangles x = {0, 0.5, 1} and {3, 3.5, 4} joined by
    // the single bridge 1.0—3.0; r2 = 2.2 euclidean, w = 1/d. Exhaustive
    // search over all 6^6 partitions puts the map-equation minimum at the
    // two-triangle split with L = 1.9022017214900178 bits (one module:
    // 2.5751, all singletons: 4.5751). The optimizer must find exactly it.
    val p = Communities.Params(r2 = 2.2, metric = "euclidean",
      algorithm = "infomap")
    val xs = Seq(0.0, 0.5, 1.0, 3.0, 3.5, 4.0)
    val got = Communities.assignLocations(
      medians(xs.zipWithIndex.map { case (x, k) =>
        ("u", k.toLong + 1, x, 0.0) }: _*), p)
      .orderBy("stop_events")
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.toSeq === Seq(0L, 0L, 0L, 1L, 1L, 1L),
      "map equation must split the weak bridge (CC keeps one component)")
    val coords = xs.map(x => (x, 0.0)).toArray
    val adj = Communities.buildAdjacency(coords, Array.fill(6)(1L), p)
    val found = Communities.mapEquationPartition(adj)
    assert(math.abs(Communities.mapEquationBits(adj, found) -
      1.9022017214900178) < 1e-9)

    // certified variant: same labels, and the certificate carries the
    // known optimum vs the all-singletons baseline (q82's self-check)
    val cert = Communities.assignLocationsCertified(
      medians(xs.zipWithIndex.map { case (x, k) =>
        ("u", k.toLong + 1, x, 0.0) }: _*), p)
      .orderBy("stop_events").collect()
    assert(cert.map(_.getAs[Long]("stop_locations")).toSeq ===
      Seq(0L, 0L, 0L, 1L, 1L, 1L))
    assert(cert.forall(r =>
      math.abs(r.getAs[Double]("bits_found") - 1.9022017214900178) < 1e-9))
    assert(cert.forall(r =>
      math.abs(r.getAs[Double]("bits_singleton") - 4.5751) < 5e-4))
    assert(cert.forall(_.getAs[Boolean]("improves")))
    // chain 0.0..4.0 at r2=1.5 is ONE connected component; the map
    // equation splits it 0|0|0|1|1|1 — a strict refinement of the CC
    assert(cert.map(_.getAs[Long]("cc_locations")).toSeq ===
      Seq(0L, 0L, 0L, 0L, 0L, 0L))
    assert(cert.forall(_.getAs[Boolean]("refines")))
  }

  test("infomap: beats baseline partitions on random geometric graphs") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val coords = Array.fill(40)((rnd.nextDouble() * 10,
        rnd.nextDouble() * 10))
      val p = Communities.Params(r2 = 1.5, metric = "euclidean",
        algorithm = "infomap")
      val adj = Communities.buildAdjacency(coords, Array.fill(40)(1L), p)
      val found = Communities.mapEquationPartition(adj)
      val lFound = Communities.mapEquationBits(adj, found)
      // connected components via BFS — the coarsest sane baseline
      val comp = Array.fill(40)(-1)
      var c = 0
      for (s <- 0 until 40) if (comp(s) < 0) {
        val stack = scala.collection.mutable.Stack(s)
        while (stack.nonEmpty) {
          val v = stack.pop()
          if (comp(v) < 0) { comp(v) = c; adj(v).foreach(e => stack.push(e._1)) }
        }
        c += 1
      }
      val lCc = Communities.mapEquationBits(adj, comp)
      val lOne = Communities.mapEquationBits(adj, Array.fill(40)(0))
      val lSingles = Communities.mapEquationBits(adj, Array.tabulate(40)(identity))
      assert(lFound <= lCc + 1e-9, s"seed $seed: worse than components")
      assert(lFound <= lOne + 1e-9, s"seed $seed: worse than one module")
      assert(lFound <= lSingles + 1e-9, s"seed $seed: worse than singletons")
      // deterministic: a second run reproduces the partition exactly
      assert(Communities.mapEquationPartition(adj).toSeq === found.toSeq)
    }
  }

  test("infomap: a close pair stays one module; isolated stays -1") {
    val got = Communities.assignLocations(medians(
      ("u", 1L, 19.0000, -99.0),
      ("u", 2L, 19.0005, -99.0),
      ("u", 3L, 19.5000, -99.0)),
      Communities.Params(r2 = 100.0, algorithm = "infomap"))
      .orderBy("stop_events")
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.toSeq === Seq(0L, 0L, -1L))
  }
}

class IndexingSpec extends SparkSpec {
  import spark.implicits._

  test("global row index follows total sort order without a global sort") {
    val df = Seq(30L, 10L, 20L, 50L, 40L).toDF("k").repartition(3)
    val got = Indexing.globalRowIndex(df, "idx", col("k"))
      .orderBy("idx")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((10L, 0L), (20L, 1L), (30L, 2L),
      (40L, 3L), (50L, 4L)))
  }

  test("global row index is dense over a larger multi-partition frame") {
    val df = spark.range(0, 1000).selectExpr("(id * 37) % 1000 as k")
      .repartition(7)
    val got = Indexing.globalRowIndex(df, "idx", col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 1000)
    // k values are a permutation of 0..999, so idx must equal k
    assert(got.forall { case (k, idx) => k === idx })
  }

  test("global row index: no object round-trip; index math is codegen'd") {
    // The checkpoint scan yields InternalRows straight into whole-stage
    // codegen. The bad shape this pins against — an RDD zipWithIndex
    // round-trip through df.rdd — deserializes rows to objects and
    // re-encodes them, which shows as (De)SerializeFromObject boundaries
    // and an un-codegen'd downstream.
    val df = Seq(3L, 1L, 2L).toDF("k")
    val q = Indexing.globalRowIndex(df, "idx", col("k"))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject") &&
      !plan.contains("SerializeFromObject"),
      s"plan pays an object re-encode round-trip:\n$plan")
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      s"index projection fell out of whole-stage codegen:\n$plan")
  }

  test("empty input yields an empty indexed frame") {
    val df = Seq.empty[Long].toDF("k")
    assert(Indexing.globalRowIndex(df, "idx", col("k")).count() === 0L)
  }
}

class PackingSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.Packing

  test("globalCumSum equals the single-window prefix sum") {
    val df = spark.range(0, 500)
      .selectExpr("(id * 37) % 500 as k", "(id % 7) + 1 as v")
      .repartition(5)
    val got = Packing.globalCumSum(df, "cum", col("v"), col("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // oracle: driver-side exclusive prefix sum in k order
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    var acc = 0L
    rows.foreach { case (k, v) =>
      assert(got(k) === acc, s"k=$k"); acc += v
    }
  }

  test("packChunks: hand-computed packs, straddle, zero-token doc") {
    val docs = Seq(
      (1L, 600L), (2L, 500L), (3L, 0L), (4L, 1000L), (5L, 64L))
      .toDF("doc_id", "toks")
    val got = Packing.packChunks(docs, col("toks"), 1024L, col("doc_id"))
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("offset_in_pack"), r.getAs[Long]("n_packs_spanned")))
    // starts: 0, 600, 1100, 1100, 2100
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 1L),     // fits pack 0
      (2L, 0L, 600L, 2L),   // straddles into pack 1
      (3L, 1L, 76L, 1L),    // zero tokens
      (4L, 1L, 76L, 2L),    // 1000 tokens from offset 76: ends at 1076
      (5L, 2L, 52L, 1L)))
    spark.catalog.clearCache()
  }

  test("chunkWindows: overlap, tail, zero-token doc, no shuffle") {
    val docs = Seq((1L, 10L), (2L, 3L), (3L, 0L), (4L, 16L))
      .toDF("doc_id", "toks")
    val q = Packing.chunkWindows(docs, "doc_id", col("toks"),
      window = 8, stride = 4)
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, 8L), (1L, 1L, 4L, 6L), (1L, 2L, 8L, 2L),
      (2L, 0L, 0L, 3L),
      // doc 3 (zero tokens) emits nothing
      (4L, 0L, 0L, 8L), (4L, 1L, 4L, 8L), (4L, 2L, 8L, 8L),
      (4L, 3L, 12L, 4L)))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"per-doc op must not shuffle:\n$plan")
    val e = intercept[IllegalArgumentException] {
      Packing.chunkWindows(docs, "doc_id", col("toks"), 8, 9)
    }
    assert(e.getMessage.contains("stride"))
  }

  test("materializePacks: ordered concat per pack, straddler included") {
    val docs = Seq(
      (1L, "aa bb", 2L), (2L, "cc", 1L), (3L, "dd ee ff", 3L),
      (4L, "gg", 1L))
      .toDF("doc_id", "text", "toks")
    // budget 3: starts 0,2,3,6 -> packs 0,0,1,2
    val got = Packing.materializePacks(docs, col("text"), col("toks"),
      3L, col("doc_id"))
      .collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[String]("text"),
        r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens")))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (0L, "aa bb cc", 2L, 3L),
      (1L, "dd ee ff", 1L, 3L),
      (2L, "gg", 1L, 1L)))
    spark.catalog.clearCache()
  }

  test("empty input packs to an empty frame") {
    val docs = Seq.empty[(Long, Long)].toDF("doc_id", "toks")
    assert(Packing.packChunks(docs, col("toks"), 64L, col("doc_id"))
      .count() === 0L)
    spark.catalog.clearCache()
  }

  test("packChunks output plan has no window and no post-cumsum shuffle") {
    // the running sum is an imperative per-partition pass: a
    // partitionBy(pid) window would re-shuffle the whole frame by pid
    val docs = spark.range(100L)
      .select(col("id").as("doc_id"), (col("id") % 50 + 1).as("toks"))
    val plan = Packing.packChunks(docs, col("toks"), 64L, col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in plan:\n$plan")
    assert(!plan.contains("Exchange"), s"post-cumsum shuffle in plan:\n$plan")
    spark.catalog.clearCache()
  }

  test("packChunks equals the single-window oracle on random inputs") {
    val rnd = new scala.util.Random(97)
    val rows = Seq.tabulate(400)(i => (i.toLong, rnd.nextInt(300).toLong))
    val docs = rows.toDF("doc_id", "toks").repartition(6)
    val budget = 256L
    val got = Packing.packChunks(docs, col("toks"), budget, col("doc_id"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("pack_id"), r.getAs[Long]("offset_in_pack"),
          r.getAs[Long]("n_packs_spanned"))).toMap
    var start = 0L
    rows.sortBy(_._1).foreach { case (id, toks) =>
      val want = (start / budget, start % budget,
        if (toks > 0) (start % budget + toks - 1) / budget + 1 else 1L)
      assert(got(id) === want, s"doc $id (start $start, toks $toks)")
      start += toks
    }
    spark.catalog.clearCache()
  }
}

class WhaleGuardSpec extends SparkSpec {
  import spark.implicits._

  test("DBSCAN kernel labels every median of a sparse 25,000-median whale") {
    // 1,250 sites ~1.1 km apart on a 50 x 25 grid, each visited 20 times
    // within a metre: median k sits at site k % 1250, whose first
    // appearance is row k % 1250, so that is its label, past row 20,000 too
    val sites = 1250
    val rows = (0 until 25000).map { k =>
      val s = k % sites
      ("whale", k.toLong, 19.0 + (s / 50) * 0.01 + (k / sites) * 4e-7,
        -99.0 + (s % 50) * 0.01, k * 1000L, k * 1000L + 100L)
    }.toDF("uid", "stop_events", "latitude", "longitude",
      "start_timestamp", "end_timestamp")
    val got = StopClusters.cluster(rows, StopClusters.Params(eps = 20.0))
      .orderBy("stop_events")
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.length === 25000)
    val wrong = got.indices.filter(k => got(k) != k % sites)
    assert(wrong.size === 0, "mislabeled, first: " +
      wrong.take(5).map(k => s"$k -> ${got(k)}").mkString(", "))
  }

  test("community kernel caps whale groups at the unique-node level") {
    val rows = (0 until 30).map { i =>
      ("whale", i.toLong, 19.0 + i * 1e-6, -99.0, 0L, 100L)
    }.toDF("uid", "stop_events", "latitude", "longitude",
      "start_timestamp", "end_timestamp")
    val got = Communities.assignLocations(rows,
      Communities.Params(r2 = 50.0, maxGroupSize = 5))
      .orderBy("stop_events")
      .collect().map(_.getAs[Long]("stop_locations"))
    assert(got.take(5).forall(_ === 0L))
    assert(got.drop(5).forall(_ === -1L))
  }

  test("certified community path trims whales: certificate covers the " +
    "trimmed node set only, overflow rows pin -1 on BOTH labels") {
    val rows = (0 until 30).map { i =>
      ("whale", i.toLong, 19.0 + i * 1e-6, -99.0, 0L, 100L)
    }.toDF("uid", "stop_events", "latitude", "longitude",
      "start_timestamp", "end_timestamp")
    val got = Communities.assignLocationsCertified(rows,
      Communities.Params(r2 = 50.0, algorithm = "infomap",
        maxGroupSize = 5))
      .orderBy("stop_events").collect()
    val loc = got.map(_.getAs[Long]("stop_locations"))
    val cc = got.map(_.getAs[Long]("cc_locations"))
    assert(loc.take(5).forall(_ === 0L) && loc.drop(5).forall(_ === -1L))
    assert(cc.take(5).forall(_ === 0L) && cc.drop(5).forall(_ === -1L))
    assert(got.forall(_.getAs[Boolean]("refines")))
    assert(got.forall(_.getAs[Boolean]("improves")))
  }
}

class GeometrySpec extends SparkSpec {
  import spark.implicits._

  test("hull of a square is its 4 corners; max distance is the diagonal") {
    val pts = Seq(
      ("u", 0L, 0.0, 0.0), ("u", 0L, 0.0, 0.001),
      ("u", 0L, 0.001, 0.0), ("u", 0L, 0.001, 0.001),
      ("u", 0L, 0.0005, 0.0005)) // interior point
      .toDF("uid", "stop_locations", "latitude", "longitude")
    val got = Geometry.clusterHulls(pts).collect().head
    assert(got.getAs[Seq[Double]]("hull_lats").length === 4)
    // ~157m diagonal at the equator
    val d = got.getAs[Double]("max_pair_dist")
    assert(d > 156 && d < 158)
  }

  test("degenerate inputs get the reference's centroid-square fallback") {
    // reference utils.py:151-165: QhullError -> square around the mean
    // with side = max pairwise euclidean distance in DEGREES (5e-5 for a
    // single point), vertices BL, BR, TR, TL
    val pts = Seq(
      ("u", 0L, 1.0, 1.0),
      ("v", 0L, 0.0, 0.0), ("v", 0L, 0.0, 0.001), ("v", 0L, 0.0, 0.002))
      .toDF("uid", "stop_locations", "latitude", "longitude")
    val got = Geometry.clusterHulls(pts).collect()
      .map(r => r.getAs[String]("uid") ->
        (r.getAs[scala.collection.Seq[Double]]("hull_lats").toSeq,
          r.getAs[scala.collection.Seq[Double]]("hull_lons").toSeq,
          r.getAs[Double]("max_pair_dist"))).toMap
    // single point: square of side 5e-5 around it
    val (uLats, uLons, uDist) = got("u")
    assert(uLats === Seq(1.0 - 2.5e-5, 1.0 + 2.5e-5, 1.0 + 2.5e-5, 1.0 - 2.5e-5))
    assert(uLons === Seq(1.0 - 2.5e-5, 1.0 - 2.5e-5, 1.0 + 2.5e-5, 1.0 + 2.5e-5))
    assert(uDist === 0.0)
    // collinear: square of side 0.002 deg centered on (0, 0.001); the
    // diameter stays the REAL point-set diameter (~222 m), not the
    // synthetic square diagonal
    val (vLats, vLons, vDist) = got("v")
    assert(vLats === Seq(-0.001, 0.001, 0.001, -0.001))
    assert(vLons.map(v => math.rint(v * 1e9) / 1e9) ===
      Seq(0.0, 0.0, 0.002, 0.002))
    assert(vDist > 221 && vDist < 224)
  }
}
