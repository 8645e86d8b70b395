package graft

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Intervals, Similarity}
import org.apache.spark.sql.functions._

class IntervalsSpec extends SparkSpec {
  import spark.implicits._

  test("coalesces same-label runs and splits on gap") {
    val df = Seq(
      ("u", "a", 1L, 0L), ("u", "a", 2L, 100L), ("u", "b", 3L, 200L),
      ("u", "b", 4L, 5000L), // same label but gap 4800 >= 1000 -> split
      ("v", "a", 5L, 0L))
      .toDF("k", "label", "id", "ts")
    val got = Intervals.coalesceRuns(df, col("k"), col("label"), col("ts"),
      col("id"), 1000L)
      .orderBy("key", "interval_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got === Array(
      ("u", 1L, "a", 0L, 100L, 2L),
      ("u", 2L, "b", 200L, 200L, 1L),
      ("u", 3L, "b", 5000L, 5000L, 1L),
      ("v", 1L, "a", 0L, 0L, 1L)))
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a sleepy dog"), // near dup
    (4L, "completely different words entirely here now"))
    .toDF("id", "text")

  test("exact dedup keeps min id and counts copies") {
    val got = Dedup.exact(docs, "text", "id")
      .orderBy("keep_id").collect()
      .map(r => (r.getAs[Long]("keep_id"), r.getAs[Long]("n_copies")))
    assert(got === Array((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("CacheScope: internal caches are tracked and released, not global") {
    // Compare persistent-RDD ID SETS, not sizes: the ContextCleaner frees
    // other suites' unreferenced checkpoint blocks asynchronously, so a
    // global size comparison is racy. IDs only ever disappear, never
    // reappear, so set-diff isolates exactly the cache this operator adds.
    graft.CacheScope.releaseAll()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = Dedup.simhashCandidates(docs, "text", "id",
      shingleN = 2, bands = 4, maxHamming = 8)
    got.collect()
    assert(graft.CacheScope.trackedCount >= 1,
      "simhashCandidates must register its persisted signatures")
    val added = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(added.nonEmpty, "expected the signature cache to be persisted")
    graft.CacheScope.releaseAll()
    assert(graft.CacheScope.trackedCount === 0)
    val remaining = spark.sparkContext.getPersistentRDDs.keySet & added
    assert(remaining.isEmpty,
      s"releaseAll left operator caches persisted: $remaining")
  }

  test("intra-doc chunk dedup drops repeats, keeps order, counts chunks") {
    val in = Seq(
      // chunks of 2: [a b][c d][a b][e] -> dup [a b] dropped, tail kept
      (1L, "a b c d a b e"),
      (2L, "x y x y x y"), // all repeats of one chunk
      (3L, "solo"))        // shorter than one chunk
      .toDF("id", "text")
    val got = Dedup.intraDocChunkDedup(in, "id", "text", 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("clean_text"), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("n_kept")))
    assert(got.toSeq === Seq(
      (1L, "a b c d e", 4L, 3L),
      (2L, "x y", 3L, 1L),
      (3L, "solo", 1L, 1L)))
  }

  test("incremental near-dup flags a planted cross-batch dup, min-id tie") {
    val history = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"),
      (11L, "the quick brown fox jumps over the lazy dog today"), // twin
      (12L, "completely unrelated historical content goes right here"))
      .toDF("id", "text")
    val incoming = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"), // dup
      (101L, "fresh novel text that matches nothing in the archive"))
      .toDF("id", "text")
    val got = Dedup.incrementalNearDups(history, incoming, "text", "id",
      shingleN = 3, k = 16, bands = 4, minAgreeK = 8)
      .collect().map(r => (r.getAs[Long]("in_id"),
        r.getAs[Long]("hist_id"), r.getAs[Int]("agree_k")))
    // exact text: all 16 components agree; both twins qualify, and the
    // deterministic keeper is the SMALLEST historical id
    assert(got.toSeq === Seq((100L, 10L, 16)))
  }

  test("incremental near-dup plan: equi-joins only, rank-limit pushed down") {
    val history = Seq((10L, "a b c d e f"), (12L, "g h i j k l"))
      .toDF("id", "text")
    val incoming = Seq((100L, "a b c d e f")).toDF("id", "text")
    val plan = Dedup.incrementalNearDups(history, incoming, "text", "id",
      shingleN = 3, k = 16, bands = 4, minAgreeK = 8)
      .queryExecution.executedPlan.toString
    // the candidate step must stay an equi-join on (band, bucket) — a
    // cartesian/BNLJ here is the quadratic all-pairs shape this operator
    // exists to avoid
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation degenerated to an all-pairs join:\n$plan")
    // min-id selection must ride Spark's rank-limit pushdown (map-side
    // top-1 per in_id before the exchange), not a full sort+filter
    assert(plan.contains("WindowGroupLimit"),
      s"row_number()=1 lost the WindowGroupLimit pushdown:\n$plan")
  }

  test("incremental near-dup: hot history buckets are capped out") {
    // 70 identical history docs share every band bucket -> every bucket
    // exceeds maxBucket=64 and the incoming twin finds NO match; the
    // unrelated control never matched anyway
    val history = (0 until 70).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog today"))
      .toDF("id", "text")
    val incoming = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("id", "text")
    val got = Dedup.incrementalNearDups(history, incoming, "text", "id",
      shingleN = 3, k = 16, bands = 4, minAgreeK = 8)
    assert(got.count() === 0L)
  }

  test("minhash: identical texts have identical signatures") {
    val sig = docs.select(col("id"),
      Dedup.minhashSignature(col("text"), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) !== sig(4L))
  }

  test("minhash LSH candidates include the exact dup pair") {
    val cands = Dedup.minhashCandidates(docs, "text", "id", 3, 16, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 4L)))
  }

  test("minhashSignatures matches the reference Column form value-for-value") {
    val expected = docs.select(col("id"),
      Dedup.minhashSignature(col("text"), 3, 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val sigDf = Dedup.minhashSignatures(docs, "text", "id", 3, 16)
    val got = sigDf.collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector).toMap
    assert(got === expected)
  }

  test("minhash recall: planted near-dups are candidate pairs") {
    // 20 distinct base docs + a near-dup of each (one word changed):
    // every planted pair must survive banding as a candidate.
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    // 24 tokens, one changed => shingle Jaccard ~ 19/25; with 16 bands of
    // 2 rows the per-pair miss probability is ~(1 - 0.76^2)^16 < 1e-5.
    val base = (0 until 20).map { i =>
      (i.toLong, (0 until 24).map(j => words((i * 7 + j * 3) % 10) + (i + j)).mkString(" "))
    }
    val dups = base.map { case (i, t) =>
      (i + 100L, t.split(" ").updated(5, "changed").mkString(" "))
    }
    val corpus = (base ++ dups).toDF("id", "text")
    val cands = Dedup.minhashCandidates(corpus, "text", "id", 3, 32, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    val recall = (planted & cands).size.toDouble / planted.size
    assert(recall >= 0.95, s"recall $recall; missing: ${planted -- cands}")
  }

  test("minhashNearDups: exact verify keeps only true near-dups; " +
    "verified tier is a subset of truth at the same threshold") {
    // two real near-dups (J >= 1/2) + a pair that collides in SOME band
    // but sits below the threshold: the verified tier must keep the
    // former with exact jaccard values and drop the latter.
    val texts = Seq(
      (1L, "a b c d e f g h i j k l"),
      (2L, "a b c d e f g h i j k z"),   // 1 token changed: J = 9/13 of 1
      (3L, "p q r s t u v w x y"),
      (4L, "p q r s t u v w x y"),       // exact dup of 3: J = 1
      (5L, "a b c d completely different tail one two three four"))
      .toDF("id", "text")
    val verified = Dedup.minhashNearDups(texts, "text", "id",
      shingleN = 3, k = 32, bands = 16, tNum = 1, tDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(verified.contains((3L, 4L)) && verified((3L, 4L)) === 1.0)
    assert(verified.contains((1L, 2L)))
    // doc 5 shares the "a b c d" prefix (2 common trigrams of 10/9) —
    // far below J = 1/2; whatever banding does, verify must drop it
    assert(!verified.keySet.exists(p => p._1 == 5L || p._2 == 5L))
    // subset-of-truth: every verified pair appears in the exact join
    val truth = Dedup.setSimilarityJoin(texts, "id", "text", 1, 2, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.keySet.subsetOf(truth))
    graft.CacheScope.releaseAll()
  }

  test("verifyPairsJaccard: integer threshold boundary is exact") {
    // J exactly = 1/2 must PASS (>=), J just below must fail. Sets:
    // a = {x1..x4}, b = {x1, x2, x5, x6}: |inter|=2, |union|=6, J=1/3.
    // c = {x1..x4}, d = {x1, x2, x3, x5}: inter 3, union 5, J = 3/5.
    // e/f: inter 2, union 4 -> exactly 1/2 with threshold 1/2.
    val mk = (ws: Seq[String]) => ws.mkString(" ")
    val texts = Seq(
      (1L, mk(Seq("w1", "w2", "w3", "w4", "w5", "w6"))),   // grams g1..g4
      (2L, mk(Seq("w1", "w2", "w3", "w4", "z5", "z6"))))   // shares g1, g2
      .toDF("id", "text")
    // doc1 trigrams: (w1 w2 w3)(w2 w3 w4)(w3 w4 w5)(w4 w5 w6); doc2:
    // (w1 w2 w3)(w2 w3 w4)(w3 w4 z5)(w4 z5 z6) -> inter 2, union 6, J=1/3
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val atThird = Dedup.verifyPairsJaccard(pairs, texts, "text", "id",
      shingleN = 3, tNum = 1, tDen = 3).collect()
    assert(atThird.length === 1 &&
      atThird.head.getDouble(2) === 0.333333) // round(J, 6) contract
    val aboveThird = Dedup.verifyPairsJaccard(pairs, texts, "text", "id",
      shingleN = 3, tNum = 34, tDen = 100).collect()
    assert(aboveThird.isEmpty)
  }

  test("minhash hot-bucket cap drops degenerate buckets") {
    // 30 identical docs all collide into one bucket per band; with
    // maxBucket=8 the cap drops those buckets => no candidate pairs.
    val clones = (0 until 30)
      .map(i => (i.toLong, "same words in every single one of these docs"))
      .toDF("id", "text")
    val capped = Dedup.minhashCandidates(clones, "text", "id", 3, 16, 4,
      maxBucket = 8)
    assert(capped.count() === 0L)
    val uncapped = Dedup.minhashCandidates(clones, "text", "id", 3, 16, 4,
      maxBucket = 1000)
    assert(uncapped.count() === 30L * 29 / 2)
  }

  test("collect_capped_longs bounds state and flags overflow via length") {
    import graft.plans.CollectCappedLongs
    // 100 values across 8 partitions for key a; 3 values for key b
    val df = spark.range(0, 100).repartition(8)
      .selectExpr("'a' as k", "id as v")
      .union(Seq(("b", 200L), ("b", 201L), ("b", 202L)).toDF("k", "v"))
    val got = df.groupBy("k").agg(CollectCappedLongs(col("v"), 11).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got("a").length === 11) // capped at 11, not 100
    assert(got("b").sorted === Seq(200L, 201L, 202L)) // under cap: complete
  }

  test("jaccard pairs: exact similarity on shingle sets") {
    val sh = docs.select(col("id"),
      array_distinct(TextFunctions.wordShingles(col("text"), 1))
        .as("shingles"))
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.jaccardPairs(pairs, sh)
      .orderBy("id_b").collect().map(_.getAs[Double]("jaccard"))
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
  }

  test("simhash: identical => distance 0; different => large distance") {
    val hw = Dedup.simhashDocs(docs, "text", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d12 = Seq(1).toDF("x")
      .select(Dedup.hammingDistance(lit(hw(1L)), lit(hw(2L))).as("d"))
      .collect().head.getInt(0)
    assert(d12 === 0)
    val d14 = java.lang.Long.bitCount(hw(1L) ^ hw(4L))
    val d13 = java.lang.Long.bitCount(hw(1L) ^ hw(3L))
    assert(d13 < d14)
  }

  test("simhashCandidates: planted dup pair found, verified exactly") {
    val got = Dedup.simhashCandidates(docs, "text", "id",
        shingleN = 2, bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // The identical pair (1,2) must surface with hamming 0; the unrelated
    // doc 4 must never pair with anything at hamming <= 3.
    assert(got.exists { case (a, b, h) => a == 1L && b == 2L && h == 0L })
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L })
    spark.catalog.clearCache()
  }

  test("simhashCandidates: hot band bucket is capped, not quadratic") {
    val clones = Seq.tabulate(30)(i =>
      (i.toLong, "identical boilerplate text repeated again and again"))
      .toDF("id", "text")
    val capped = Dedup.simhashCandidates(clones, "text", "id",
      shingleN = 3, bands = 4, maxHamming = 0, maxBucket = 8)
    assert(capped.count() === 0L) // every bucket overflows the cap
    spark.catalog.clearCache()
  }

  test("simhashDocs matches the reference Column form bit-for-bit") {
    val expected = docs
      .select(col("id"), Dedup.simhashReference(col("text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.simhashDocs(docs, "text", "id", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("simhashDocs: shorter-than-n docs get the empty signature 0") {
    val tiny = Seq((1L, "one"), (2L, "a b c d")).toDF("id", "text")
    val got = Dedup.simhashDocs(tiny, "text", "id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 0L)
    assert(got(2L) !== 0L)
    assert(got.size === 2)
  }

  test("simhashDocs: null-text docs keep the zero signature (not dropped)") {
    // split(null) is null; without the coalesce in explodedShingles the
    // posexplode emits zero rows and the doc vanishes from the signature
    // set entirely.
    val docs = Seq((1L, null: String), (2L, "a b c d")).toDF("id", "text")
    val got = Dedup.simhashDocs(docs, "text", "id", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 2)
    assert(got(1L) === 0L)
    assert(got(2L) !== 0L)
  }

  test("normalized exact dedup collapses case/punct/whitespace variants") {
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "different text"), (5L, "!!!"), (6L, "   ")) // 5,6 both -> ""
      .toDF("doc_id", "text")
    val got = Dedup.normalizedExactDups(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies"))
      .toMap
    assert(got === Map(1L -> 3L, 4L -> 1L, 5L -> 2L))
  }

  test("embedding near-dups at threshold (anchors vs corpus)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(emb, emb, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
  }

  test("embedding near-dups finds matches when anchor ids are HIGHER") {
    // regression: a join-side `id_a < id_b` prune silently dropped every
    // match whose anchor id exceeded the corpus id
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val anchors = Seq((100L, Array(0.99f, 0.01f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(corpus, anchors, 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 100L)))
  }

  test("embedding near-dups rejects an unbounded anchor side") {
    val big = spark.range(200L)
      .select(col("id").as("vec_id"),
        array(lit(1.0f), lit(0.0f)).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Dedup.embeddingNearDups(big, big, 0.9, maxAnchors = 100)
    }
    assert(e.getMessage.contains("anchor side"))
  }

  private def winnowSets(in: Seq[(Long, String)], k: Int, w: Int)
  : Map[Long, Set[String]] =
    Dedup.winnowFingerprints(in.toDF("id", "text"), "id", "text", k, w)
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap

  test("winnowing: identical docs select identical fingerprint sets") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val got = winnowSets(Seq((1L, t), (2L, t)), 8, 4)
    assert(got(1L) === got(2L) && got(1L).nonEmpty)
  }

  test("winnowing guarantee: shared substring >= w+k-1 chars shares a " +
    "fingerprint HASH; density stays near 2/(w+1)") {
    // the shared run normalizes to 16 chars >= 8+4-1 = 11 -> the paper's
    // guarantee: at least one common (hash, not position) fingerprint
    val shared = "zebra quilt jumble"
    val a = s"first document header $shared tail words one"
    val b = s"unrelated prefix text goes here $shared other ending"
    val got = winnowSets(Seq((1L, a), (2L, b)), 8, 4)
    val hashes = got.view.mapValues(_.map(_.take(32))).toMap
    assert((hashes(1L) & hashes(2L)).nonEmpty)
    // density: selected / positions within [1/(w+1), 3/(w+1)] loosely
    val nGrams = a.toLowerCase.replaceAll("[^a-z0-9]", "").length - 8 + 1
    assert(got(1L).size >= nGrams / 5 && got(1L).size <= nGrams)
  }

  test("winnowing: sub-window docs yield no fingerprints; ties go to " +
    "the rightmost position") {
    // "aaaa...": every gram identical -> every window min is the
    // RIGHTMOST key of the window (reverse-position padding), so
    // positions selected = one per window start
    val got = Dedup.winnowFingerprints(
      Seq((1L, "aaaaaaaaaaaaaa"), (2L, "tiny")).toDF("id", "text"),
      "id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(!got.exists(_._1 == 2L), "sub-window doc must be absent")
    // 14 a's -> 7 grams, 4 window starts, each selecting its rightmost
    // member = positions 4..7 -> 4 distinct fp keys, one hash
    val keys = got.filter(_._1 == 1L).map(_._2)
    assert(keys.length === 4)
    assert(keys.map(_.take(32)).distinct.length === 1)
    val positions = keys.map(k => 10000000L - k.drop(32).toLong).sorted
    assert(positions === Array(4L, 5L, 6L, 7L))
  }

  private def naiveSetSim(texts: Seq[(Long, String)], n: Int,
                          tNum: Int, tDen: Int): Set[(Long, Long, Long)] = {
    val sets = texts.map { case (id, t) =>
      val toks = t.split(" ")
      id -> toks.sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      c = (sa & sb).size
      if c.toLong * tDen >= tNum.toLong * (sa.size + sb.size - c)
    } yield (ia, ib, c.toLong)).toSet
  }

  test("setSimilarityJoin: prefix filter is lossless vs the naive " +
    "all-pairs twin on random corpora") {
    val rnd = new scala.util.Random(13)
    val vocab = ('a' to 'j').map(_.toString)
    for (trial <- 1 to 3) {
      val texts = (0L until 30L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(10)))
          .mkString(" ")
      }
      val got = Dedup.setSimilarityJoin(texts.toDF("id", "text"),
        "id", "text", tNum = 1, tDen = 2, shingleN = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = naiveSetSim(texts, 2, 1, 2).map(t => (t._1, t._2))
      assert(got === want, s"trial $trial")
    }
  }

  test("setSimilarityJoin: exact jaccard values and no self/dup pairs") {
    val texts = Seq(
      (1L, "a b c d e"),   // bigrams {ab, bc, cd, de}
      (2L, "a b c d x"),   // {ab, bc, cd, dx} -> inter 3, union 5 = 0.6
      (3L, "a b c d e"),   // exact dup of 1 -> jaccard 1.0
      (4L, "z y x w v"))   // disjoint
    val got = Dedup.setSimilarityJoin(texts.toDF("id", "text"),
      "id", "text", tNum = 3, tDen = 5, shingleN = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(got === Array((1L, 2L, 0.6), (1L, 3L, 1.0), (2L, 3L, 0.6)))
  }
}

class WordShingleHashesSpec extends SparkSpec {
  import spark.implicits._
  import graft.plans.WordShingleHashes

  test("fused shingle hashes match the composed HOF column exactly") {
    val rnd = new scala.util.Random(11)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(1 + rnd.nextInt(30))(
        words(rnd.nextInt(words.length))).mkString(" "))) :+
      (100L, "single") :+ (101L, "") :+
      (102L, null.asInstanceOf[String])).toDF("id", "text")
    // The composed HOF column is only well-defined for >= 2 tokens (its
    // descending sequence(1, 0) would index out of bounds under ANSI for
    // shorter docs) — exactly why the fused form guards len < n.
    val composed = docs
      .select(col("id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("id"), transform(
        sequence(lit(1), size(col("toks")) - lit(1)),
        i => concat_ws(" ", element_at(col("toks"), i),
          element_at(col("toks"), i + 1))).as("raw"))
      .select(col("id"),
        array_distinct(transform(col("raw"), s0 => xxhash64(s0))).as("sh"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val fused = docs
      .select(col("id"),
        WordShingleHashes(split(col("text"), " "), 2).as("sh"))
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1).toSeq)).toMap
    assert(composed.nonEmpty)
    composed.foreach { case (id, want) =>
      assert(fused(id) === want, s"doc $id")
    }
    // null text => null array; single-token doc => no bigram (where the
    // composed form would have errored)
    assert(fused(102L) === null)
    assert(fused(100L) === Seq.empty)
    assert(fused(101L) === Seq.empty)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
    (2L, Array(0.0f, 1.0f)), (3L, Array(-1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("brute force top-k: self first, antipode last") {
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.bruteForceTopK(queries, corpus, 4)
      .orderBy("rank").collect()
    assert(got.head.getAs[Long]("vec_id") === 0L)
    assert(got.head.getAs[Double]("sim") === 1.0)
    assert(got.last.getAs[Long]("vec_id") === 3L)
    assert(got.last.getAs[Double]("sim") === -1.0)
  }

  test("int8 quantization: hand values, saturation, zero vector, bound") {
    val df = Seq(
      (0L, Array(1.27f, -0.635f, 0.0f)), // scale 0.01: q = 127, -64 (63.5 rounds away), 0
      (1L, Array(0.0f, 0.0f)),           // zero vector: scale 0, q all 0
      (2L, Array(-2.0f)))                // single element saturates at -127
      .toDF("vec_id", "embedding")
      .withColumn("s", VectorFunctions.int8Scale(col("embedding")))
      .withColumn("q", VectorFunctions.quantizeInt8(col("embedding"), col("s")))
      .orderBy("vec_id").collect()
    assert(df(0).getAs[scala.collection.Seq[Int]]("q").toList === List(127, -64, 0))
    assert(math.abs(df(0).getAs[Double]("s") - 1.27f.toDouble / 127.0) < 1e-15)
    assert(df(1).getAs[Double]("s") === 0.0 &&
      df(1).getAs[scala.collection.Seq[Int]]("q").toList === List(0, 0))
    assert(df(2).getAs[scala.collection.Seq[Int]]("q").toList === List(-127))
    // reconstruction bound |x - q*s| <= s/2 on every component
    val (s0, q0) = (df(0).getAs[Double]("s"),
      df(0).getAs[scala.collection.Seq[Int]]("q").toList)
    Seq(1.27, -0.635, 0.0).zip(q0).foreach { case (x, qi) =>
      assert(math.abs(x - qi * s0) <= s0 / 2 + 1e-9)
    }
  }

  test("int8 cosine: exact hand values, zero-norm null, top-1 is self") {
    val vals = Seq(
      (Array(3, 4), Array(3, 4)),   // identical -> 1.0 exactly
      (Array(1, 0), Array(0, 1)),   // orthogonal -> 0.0 exactly
      (Array(0, 0), Array(1, 1)))   // zero norm -> null (undefined)
      .toDF("a", "b")
      .select(graft.plans.Int8Cosine(col("a"), col("b")).as("c")).collect()
    assert(vals(0).getDouble(0) === 1.0)
    assert(vals(1).getDouble(0) === 0.0)
    assert(vals(2).isNullAt(0))
    // quantized brute force over the float fixture: every query's top-1
    // is itself (quantization must not break self-similarity)
    val queries = corpus.select(col("vec_id").as("query_id"),
      col("embedding"))
    val top1 = Similarity.bruteForceTopKInt8(queries, corpus, 1).collect()
    assert(top1.length === 4 && top1.forall(r =>
      r.getAs[Long]("query_id") === r.getAs[Long]("vec_id")))
  }

  test("lsh buckets: identical vectors share a bucket; top-k finds self") {
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val got = Similarity.lshTopK(queries, corpus, 2, bits = 4)
      .orderBy("rank").collect()
    assert(got.nonEmpty)
    assert(got.head.getAs[Long]("vec_id") === 0L)
  }

  test("native cosine Expression matches the composed HOF form bitwise") {
    val pairs = Seq(
      (Array(1.0f, 2.0f, -3.5f), Array(0.5f, -1.25f, 2.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.7f)),
      (Array.fill(64)(0.37f), Array.fill(64)(-0.11f)))
      .toDF("a", "b")
    val got = pairs.select(
      VectorFunctions.cosine(col("a"), col("b")).as("native"),
      VectorFunctions.cosineComposed(col("a"), col("b")).as("composed"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // null semantics: length mismatch and null array => null, like zip_with
    val edge = Seq((Array(1.0f, 2.0f), Array(1.0f))).toDF("a", "b")
    assert(edge.select(VectorFunctions.cosine(col("a"), col("b")))
      .collect().head.isNullAt(0))
    assert(edge.select(VectorFunctions.cosine(lit(null).cast("array<float>"),
      col("b"))).collect().head.isNullAt(0))
  }

  test("fused lsh_bucket matches the composed HOF form bit-for-bit") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(32)(rnd.nextFloat() * 2f - 1f))) :+
      (200L, Array.empty[Float]) :+
      (201L, null.asInstanceOf[Array[Float]]) :+
      (202L, Array(Float.NaN, 1.0f)) :+ // NaN projections: Spark's >=
      (203L, Array(Float.PositiveInfinity, Float.NegativeInfinity))
    val df = rows.toDF("vec_id", "embedding")
    for (bits <- Seq(1, 8, 16); seed <- Seq(42L, 7L)) {
      val got = df.select(col("vec_id"),
          graft.plans.LshBucket(col("embedding"), bits, seed).as("fused"),
          Similarity.lshBucketReference(col("embedding"), bits, seed)
            .as("composed"))
        .collect()
      got.foreach { r =>
        val composed = if (r.isNullAt(2)) 0L else r.getLong(2)
        assert(r.getLong(1) === composed,
          s"bucket mismatch for vec ${r.getLong(0)} bits=$bits seed=$seed")
      }
    }
    // buckets spread: 200 random 32-dim vectors should hit many 8-bit
    // buckets (sanity that projections are not degenerate)
    val distinct = Similarity.lshBuckets(df, "embedding", 8)
      .select("bucket").distinct().count()
    assert(distinct > 20, s"only $distinct distinct buckets")
  }

  test("lsh_bucket stays inside whole-stage codegen") {
    // spark.range (not a local Seq, which constant-folds to
    // LocalTableScan) so a real codegen stage hosts the expression
    val df = spark.range(100L)
      .select(col("id").as("vec_id"),
        array(col("id").cast("float"), lit(-0.5f)).as("embedding"))
    val q = Similarity.lshBuckets(df, "embedding", 8)
    // the `*(n)` prefix is the WholeStageCodegen marker; the Project
    // hosting lsh_bucket must carry it (a codegen fallback would not)
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[.*lsh_bucket""".r.findFirstIn(plan).isDefined,
      s"expected lsh_bucket inside a codegen'd Project:\n$plan")
    assert(q.select(countDistinct("bucket")).as[Long].collect().head > 1)
  }

  test("multi-probe never returns duplicate (query, vec) pairs") {
    val queries = corpus.select(col("vec_id").as("query_id"),
      col("embedding"))
    val got = Similarity.lshTopK(queries, corpus, 4, bits = 2)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.distinct.length)
  }

  test("ANN recall vs brute force on the sf0.001 embeddings") {
    // Deterministic fixture + seeds => these are fixed values, asserted
    // with margin below the measured recall@10 over 10 queries:
    // brute=1.0 by definition; IVF nprobe=2 measured 0.46; LSH 8-bit
    // single-probe measured 0.11, radius-1 multi-probe 0.21.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, emb, 10))
    assert(brute.size === 100)
    val single = pairs(Similarity.lshTopK(q, emb, 10, 8, probeRadius = 0))
    val multi = pairs(Similarity.lshTopK(q, emb, 10, 8, probeRadius = 1))
    val multi2 = pairs(Similarity.lshTopK(q, emb, 10, 8, probeRadius = 2))
    def recall(s: Set[(Long, Long)]) = (s & brute).size.toDouble / brute.size
    assert(recall(multi) > recall(single),
      s"multi-probe ${recall(multi)} should beat single ${recall(single)}")
    assert(recall(multi) >= 0.15)
    assert(recall(multi2) > recall(multi),
      s"radius 2 ${recall(multi2)} should beat radius 1 ${recall(multi)}")
    assert(recall(multi2) >= 0.3)
    val multi3 = pairs(Similarity.lshTopK(q, emb, 10, 8, probeRadius = 3))
    assert(recall(multi3) > recall(multi2),
      s"radius 3 ${recall(multi3)} should beat radius 2 ${recall(multi2)}")
    assert(recall(multi3) >= 0.5, s"radius 3 recall ${recall(multi3)}")
    // plan stays a hash equi-join at the deeper radius — the fan-out is
    // query-side mask explosion, never a nested-loop join
    val plan3 = Similarity.lshTopK(q, emb, 10, 8, probeRadius = 3)
      .queryExecution.executedPlan.toString
    assert(!plan3.contains("NestedLoop"), plan3.take(2000))
    val ivf = pairs(Similarity.ivfTopK(q, emb, 10, nlist = 16, nprobe = 2))
    assert(recall(ivf) >= 0.35, s"ivf recall ${recall(ivf)}")
    val ivfSeeded = pairs(
      Similarity.ivfTopKSeeded(q, emb, 10, nlist = 16, nprobe = 2))
    assert(recall(ivfSeeded) >= 0.3, s"seeded ivf recall ${recall(ivfSeeded)}")
    // probe fan-out bound: probing every bucket must be rejected
    intercept[IllegalArgumentException] {
      Similarity.lshTopK(q, emb, 10, bits = 16, probeRadius = 8)
    }
  }

  test("planted hot bucket is capped out of the probe join") {
    // 30 clones of one vector collapse into a single bucket — the
    // degenerate distribution (constant embeddings from a broken upstream
    // job) that would emit |bucket| rows per probing query. With the cap
    // below the clone count, the clone bucket is dropped: the query still
    // gets answers, but none of them are clones. With the default cap the
    // clones dominate top-k (sanity that the capped run differs for the
    // claimed reason, not because the query missed the bucket entirely).
    val clones = (100L until 130L).map(i => (i, Array(0.6f, 0.8f)))
    val others = Seq(
      (0L, Array(1.0f, 0.05f)), (1L, Array(0.05f, 1.0f)),
      (2L, Array(-1.0f, 0.1f)), (3L, Array(0.1f, -1.0f)))
    val planted = (clones ++ others).toDF("vec_id", "embedding")
    val q = Seq((999L, Array(0.6f, 0.8f))).toDF("query_id", "embedding")
    val capped = Similarity
      .lshTopK(q, planted, 10, bits = 4, probeRadius = 2, maxBucket = 10)
      .select("vec_id").as[Long].collect().toSet
    val uncapped = Similarity
      .lshTopK(q, planted, 10, bits = 4, probeRadius = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(uncapped.exists(_ >= 100L), "uncapped run should see clones")
    assert(capped.nonEmpty, "capped query should still probe other buckets")
    assert(!capped.exists(_ >= 100L),
      s"clone bucket must be dropped under the cap, got $capped")
  }

  test("pqTopK: a corpus that IS the codebook self-encodes exactly") {
    // codes = corpus size => every sub-vector is its own nearest codebook
    // entry, so ADC distance to self is 0 and top-1 is self. Sub-vectors
    // are pairwise distinct per subspace so no tie can shadow self.
    val corpus = Seq(
      (0L, Array(1f, 0f, 0f, 2f)), (1L, Array(0f, 1f, 3f, 0f)),
      (2L, Array(5f, 5f, 1f, 1f)), (3L, Array(-2f, 0f, 0f, -3f)))
      .toDF("vec_id", "embedding")
    val q = corpus.select(col("vec_id").as("query_id"), col("embedding"))
    val top1 = Similarity.pqTopK(q, corpus, 1, m = 2, subDim = 2, codes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(top1.length === 4)
    top1.foreach { case (qid, vid, adist) =>
      assert(qid === vid && adist === 0.0, s"query $qid -> $vid @ $adist")
    }
  }

  test("pqTopK matches a naive driver re-implementation exactly") {
    val rnd = new scala.util.Random(5)
    val corpus = (0L until 12L).map(i =>
      (i, Array.fill(4)(rnd.nextInt(20).toFloat)))
    val corpusDf = corpus.toDF("vec_id", "embedding")
    val queries = corpusDf.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val m = 2; val sd = 2; val codes = 3
    val got = Similarity.pqTopK(queries, corpusDf, 12, m, sd, codes)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // naive twin: same hash-ordered codebook, same round-6 + tie rules
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def sub(v: Array[Float], s: Int) = v.slice(s * sd, s * sd + sd)
    def l2(a: Array[Float], b: Array[Float]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }
    val cb = corpus.sortBy(c => (md5hex(c._1.toString), c._1)).take(codes)
      .zipWithIndex.map { case ((_, v), i) => (i + 1, v) } // code 1..codes
    val enc = corpus.map { case (id, v) =>
      id -> (0 until m).map { s =>
        cb.map { case (c, cv) => (r6(l2(sub(v, s), sub(cv, s))), c) }
          .minBy(identity)._2
      }
    }.toMap
    val expect = corpus.filter(_._1 < 3).flatMap { case (qid, qv) =>
      val scored = corpus.map { case (vid, _) =>
        val adist = r6((0 until m).map { s =>
          val code = enc(vid)(s)
          r6(l2(sub(qv, s), sub(cb.find(_._1 == code).get._2, s)))
        }.sum)
        (vid, adist)
      }
      scored.sortBy { case (vid, adist) => (adist, vid) }.zipWithIndex
        .map { case ((vid, adist), i) => (qid, vid, adist, i + 1) }
    }.toSet
    assert(got === expect)
  }

  test("ivfPqTopK: pruned subset of PQ with identical ADC distances") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // full-scan PQ distances for ALL pairs (k = corpus size)
    val n = emb.count().toInt
    val full = Similarity.pqTopK(q, emb, n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivfpq = Similarity.ivfPqTopK(q, emb, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(ivfpq.nonEmpty)
    // same codebook => every surviving pair scores EXACTLY the full-scan
    // ADC distance; IVF only prunes which pairs are scored
    ivfpq.foreach { case (qid, vid, adist) =>
      assert(full((qid, vid)) === adist, s"($qid,$vid)")
    }
    // pruning is real: nprobe=4 of nlist=16 cells caps candidates well
    // under the corpus (each query returns a full top-10 nonetheless)
    assert(ivfpq.length === 100)
  }

  test("pq recall vs brute force on the sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, emb, 10))
    val pq = pairs(Similarity.pqTopK(q, emb, 10))
    val recall = (pq & brute).size.toDouble / brute.size
    // L2-based 16-entry codebook over cosine ground truth: coarse by
    // design (the untrained hash-ordered quantizer); deterministic
    // fixture => fixed value, asserted with margin under the measured
    assert(recall >= 0.2, s"pq recall $recall")
    // self is always representable: every query ranks itself first or
    // within the quantization-collision ties
    assert(pq.count { case (a, b) => a == b } >= 8)
  }

  test("randomProjection matches an independent in-memory twin exactly") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Long = {
      val hex = md.digest(s"$j:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.last)) 1L else -1L
    }
    val rnd = new scala.util.Random(11)
    val dim = 6; val outDim = 5
    val rows = (0L until 40L).map(i =>
      i -> Array.fill(dim)(rnd.nextFloat() - 0.5f))
    val want = rows.map { case (id, v) =>
      val q = v.map(x => new java.math.BigDecimal(x.toDouble * 10000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
      val proj = (0 until outDim).map(j =>
        (0 until dim).map(d => q(d) * sign(j, d)).sum)
      val code = proj.zipWithIndex
        .map { case (p, j) => if (p > 0) 1L << j else 0L }.sum
      id -> ((proj.toSeq, code))
    }.toMap
    val got = Similarity.randomProjection(
      rows.toDF("vec_id", "embedding"), "vec_id", "embedding",
      outDim = outDim, dim = dim)
      .collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getLong(2))))
      .toMap
    assert(got == want)
  }

  test("randomProjection: negation flips every nonzero projection sign") {
    val v = Array(0.3f, -0.2f, 0.5f, 0.1f)
    val df = Seq(0L -> v, 1L -> v.map(-_)).toDF("vec_id", "embedding")
    val out = Similarity.randomProjection(df, "vec_id", "embedding",
      outDim = 8, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(out(0L) == out(1L).map(p => -p))
  }

  test("randomProjection is a zero-shuffle single-pass plan") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val plan = Similarity.randomProjection(emb, "vec_id", "embedding",
      outDim = 16, dim = 64)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.linesIterator.take(5).mkString)
  }

  test("SignedProjection: null array, null element, ragged width => null") {
    import org.apache.spark.sql.types._
    val signs = Array(Array(1L, -1L), Array(-1L, -1L))
    val sch = StructType(Seq(
      StructField("id", LongType),
      StructField("a", ArrayType(LongType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(0L, Seq(3L, 4L)),
        org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, Seq(3L, null)),
        org.apache.spark.sql.Row(3L, Seq(1L, 2L, 3L))), 1), sch)
    val out = df.select(col("id"),
      graft.plans.SignedProjection(col("a"), signs).as("p"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(out(0L) === Seq(-1L, -7L))
    assert(out(1L) == null && out(2L) == null && out(3L) == null)
  }
}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("redact: email/IP/phone replaced, ordinary text untouched") {
    val docs = Seq(
      "contact bob.smith+x@example.co.uk or call +1 (555) 123-4567 now",
      "server at 192.168.1.10 port 8080",
      "plain text with numbers 42 and v1.2 stays intact").toDF("text")
    val got = docs.select(
      graft.functions.TextFunctions.redact($"text").as("r"))
      .as[String].collect()
    assert(got(0) === "contact <EMAIL> or call <PHONE> now")
    assert(got(1) === "server at <IP> port 8080")
    assert(got(2) === "plain text with numbers 42 and v1.2 stays intact")
  }

  test("token and occurrence counts") {
    val df = Seq("the cat and the hat").toDF("text")
    val r = df.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.distinctTokenCount(col("text")).as("d"),
      TextFunctions.stopwordCount(col("text")).as("s"),
      TextFunctions.occurrences(col("text"), "the").as("o")).collect().head
    assert(r.getAs[Int]("n") === 5)
    assert(r.getAs[Int]("d") === 4)
    assert(r.getAs[Long]("s") === 2L) // ' the ' x2 (padded), no ' a '
    assert(r.getAs[Long]("o") === 2L)
  }

  test("word shingles preserve order") {
    val got = Seq("a b c d").toDF("text")
      .select(TextFunctions.wordShingles(col("text"), 2).as("sh"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("a b", "b c", "c d"))
  }

  test("bpe token count: letter runs, single digits, single punctuation") {
    val got = Seq(
      ("a", "hello world"),          // 2 letter runs
      ("b", "v1.23 x"),              // v,1,.,2,3,x = 6
      ("c", "don't stop!"),          // don,',t,stop,! = 5
      ("d", "  spaced\tout  "),      // whitespace never tokenizes
      ("e", "42")                    // digits split: 4,2
    ).toDF("id", "text")
      .select(col("id"), TextFunctions.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 2L, "b" -> 6L, "c" -> 5L, "d" -> 2L,
      "e" -> 2L))
  }

  test("langId votes with deterministic tie-break") {
    val got = Seq(
      "the cat and the dog of it",
      "el gato y la casa de algo",
      "xyzzy plugh")
      .toDF("text")
      .select(TextFunctions.langId(col("text")).as("l"))
      .collect().map(_.getString(0)).toSeq
    assert(got === Seq("en", "es", "und"))
  }

  test("extractHtmlText: chrome stripped, entities decoded in safe order") {
    def ex(s: String): String = Seq(s).toDF("h")
      .select(TextFunctions.extractHtmlText(col("h")))
      .collect().head.getString(0)
    assert(ex("<html><head><title>T</title><script>if(1<2){}</script>" +
      "<style>a{x:&quot;}</style></head><body><p>hello   world</p>" +
      "<div class=\"nav\"><a href=\"/\">menu</a></div>" +
      "<div class=\"footer\">foot</div></body></html>") === "hello world")
    // entity order: &amp;lt; is the LITERAL text "&lt;", never "<"
    assert(ex("<p>a &amp;lt; b &lt; c &amp; d &quot;e&quot;</p>") ===
      "a &lt; b < c & d \"e\"")
    // a content div (no nav/footer class) survives
    assert(ex("<div class=\"main\">real text</div>") === "real text")
    // multiple script blocks, non-greedy spans
    assert(ex("<script>a</script>keep<script>b</script>") === "keep")
  }
}

class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  test("overlap: planted hit, clean doc, short doc all scored") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares 5-gram w/ bench
      (2L, "one two three four five six"),          // clean
      (3L, "too short here")                        // < 5 tokens
    ).toDF("doc_id", "text")
    val bench = Seq("alpha beta gamma delta epsilon omega").toDF("text")
    val got = graft.operators.Decontaminate
      .overlap(corpus, "doc_id", "text", bench, "text", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1: 2 distinct 5-grams, exactly one ("alpha..epsilon") in bench
    assert(got(1L) === ((2L, 1L, 1L)))
    assert(got(2L) === ((2L, 0L, 0L)))
    // short doc survives with zero grams — manifests must cover every doc
    assert(got(3L) === ((0L, 0L, 0L)))
  }

  test("bench subset of corpus flags exactly itself at high n") {
    // distinct texts, no cross-doc 6-gram collisions
    val corpus = (1L to 6L)
      .map(i => (i, (1 to 8).map(k => s"w${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    val got = graft.operators.Decontaminate
      .overlap(corpus, "doc_id", "text",
        corpus.filter($"doc_id" % 2 === 0).select($"text"), "text", n = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L,
      5L -> 0L, 6L -> 1L))
  }

  test("benchmark side is broadcast (corpus never shuffles for the probe)") {
    val corpus = (1L to 50L)
      .map(i => (i, (1 to 10).map(k => s"t${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = graft.operators.Decontaminate
      .overlap(corpus, "doc_id", "text", corpus.limit(2).select($"text"),
        "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast probe join:\n$plan")
  }
}

class AsofJoinSpec extends SparkSpec {
  import graft.operators.AsofJoin
  import spark.implicits._

  test("matches latest right row at-or-before, null when none") {
    val left = Seq(("u", 1L, 100L), ("u", 2L, 200L), ("u", 3L, 50L),
      ("v", 4L, 500L))
      .toDF("k", "id", "ts")
    val right = Seq(("u", 100L, "a"), ("u", 150L, "b"))
      .toDF("k", "ts", "tag")
      .select(col("k"), col("ts"), col("tag"),
        col("ts").as("matched_ts"))
    val got = AsofJoin.lastValue(left, right, Seq("k"), "ts",
      Seq("tag", "matched_ts"))
      .orderBy("id")
      .collect()
      .map(r => (r.getLong(1), Option(r.getAs[String]("tag")),
        Option(r.get(r.fieldIndex("matched_ts")))))
    assert(got(0) === ((1L, Some("a"), Some(100L)))) // equal ts matches
    assert(got(1) === ((2L, Some("b"), Some(150L)))) // latest <= 200
    assert(got(2) === ((3L, None, None)))            // before any right
    assert(got(3) === ((4L, None, None)))            // other key
  }

  test("null right payloads follow matched-ROW semantics, not forward-fill") {
    // ASOF matches the latest right ROW and takes its values even when
    // null. Per-column last(ignoreNulls) would smuggle the OLDER row's
    // value under a fresher null — and past the tolerance bound.
    val left = Seq(("u", 1L, 210L)).toDF("k", "id", "ts")
    val right = Seq(("u", 100L, Some("a")), ("u", 200L, None))
      .toDF("k", "ts", "tag")
    def run(tol: Option[Long]) =
      AsofJoin.lastValue(left, right, Seq("k"), "ts", Seq("tag"), tol)
        .collect().map(r => Option(r.getAs[String]("tag"))).head
    assert(run(None) === None,    "matched row ts=200 carries a null tag")
    assert(run(Some(50L)) === None,
      "staleness 10 is in bound but the matched row's tag is null")
  }

  test("tolerance nulls stale matches, keeps fresh and exact ones") {
    val left = Seq(("u", 1L, 100L), ("u", 2L, 160L), ("u", 3L, 500L))
      .toDF("k", "id", "ts")
    val right = Seq(("u", 100L, "a"), ("u", 150L, "b"))
      .toDF("k", "ts", "tag")
    val got = AsofJoin.lastValue(left, right, Seq("k"), "ts",
      Seq("tag"), tolerance = Some(50L))
      .orderBy("id")
      .collect().map(r => (r.getLong(1), Option(r.getAs[String]("tag"))))
    assert(got(0) === ((1L, Some("a")))) // exact: staleness 0 <= 50
    assert(got(1) === ((2L, Some("b")))) // staleness 10 <= 50
    assert(got(2) === ((3L, None)))      // staleness 350 > 50: nulled
  }

  test("interpolateLinear: between, at-sample, flat outside, null no-key") {
    val left = Seq(
      ("u", 1L, 150L),  // midpoint of (100,10)-(200,20) -> 15
      ("u", 2L, 125L),  // quarter -> 12.5
      ("u", 3L, 100L),  // exactly at a sample -> its value
      ("u", 4L, 50L),   // before the span -> held at 10
      ("u", 5L, 250L),  // after the span -> held at 20
      ("v", 6L, 100L))  // key with no signal -> null
      .toDF("k", "id", "ts")
    val right = Seq(("u", 100L, 10.0), ("u", 200L, 20.0))
      .toDF("k", "ts", "value")
    val got = AsofJoin.interpolateLinear(left, right, Seq("k"), "ts",
      "value")
      .orderBy("id")
      .collect().map(r => Option(r.get(r.fieldIndex("value"))))
    assert(got(0) === Some(15.0))
    assert(got(1) === Some(12.5))
    assert(got(2) === Some(10.0))
    assert(got(3) === Some(10.0))
    assert(got(4) === Some(20.0))
    assert(got(5) === None)
    // row count preserved: the union/window form is 1:1 on left rows
    assert(AsofJoin.interpolateLinear(left, right, Seq("k"), "ts", "value")
      .count() === left.count())
  }

  test("interpolateLinear: three-segment signal picks its own segment") {
    val left = Seq(("u", 1L, 110L), ("u", 2L, 290L)).toDF("k", "id", "ts")
    val right = Seq(("u", 100L, 0.0), ("u", 200L, 100.0),
      ("u", 300L, 0.0)).toDF("k", "ts", "value")
    val got = AsofJoin.interpolateLinear(left, right, Seq("k"), "ts",
      "value")
      .orderBy("id").collect()
      .map(r => r.getDouble(r.fieldIndex("value")))
    assert(got(0) === 10.0) // on the rising segment
    assert(got(1) === 10.0) // on the falling segment, NOT extrapolated
  }
}
