package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lloyd k-means over embedding vectors, made ENGINE-EXACT by running the
  * entire iteration in integer arithmetic (beyond-reference operator,
  * first-class per the build brief — the trained counterpart of the
  * hash-seeded quantizers behind q40/q113).
  *
  * Why integers: a float k-means is not reproducible across engines (or
  * even across partitionings of the same engine) — centroid means and
  * distance comparisons depend on summation order, and a single 1-ulp flip
  * near an argmin boundary cascades into different clusters from round 2
  * on. Here every vector is quantized ONCE to longs
  * (`round((x + offset) * scale)`, exact on widened doubles — the q100
  * idiom), after which distances are exact integer sums, centroid updates
  * are exact rational averages materialized with one deterministic
  * round-half-up integer division, and every argmin breaks ties toward the
  * smaller centroid id. The whole trajectory — seed, four assignments,
  * four updates — is therefore bit-reproducible, and the q145 gate
  * re-derives it in DuckDB as unrolled materialized CTEs (the q109/q128
  * unrolled-iteration oracle pattern).
  *
  * Determinism contract (mirrored by the oracle):
  *   - seed centroids = the k quantized vectors with the smallest
  *     (md5(id), id) — the hash-ordered sample behind q40/q113;
  *   - assignment = argmin_j sum_d (x_d - c_jd)^2, ties to smaller j;
  *   - update     = per-dim round-half-up mean, (2*s + n) div (2*n) on
  *     non-negative sums (offset shifts every component positive, so
  *     truncating integer division IS floor in both engines);
  *   - a centroid that attracts no points keeps its previous position.
  *
  * Scale shape: the quantized frame is persisted once (CacheScope) and
  * scanned rounds+1 times; each assignment is a pure per-row expression —
  * the fused [[graft.plans.ArgminDistance]] codegen Expression (tight
  * integer multiply-accumulate over the referenced centroid matrix; one
  * tiny janino unit per round instead of k·dim unrolled terms, which
  * dominated the round at small data); each update is ONE hash
  * aggregate keyed by the k cluster ids (map-side combined: k rows per
  * partition) collecting k x (dim sums + count) to the driver — the
  * bounded-collect family (PageRank/IVF precedent; k*dim longs, never
  * data-sized). No shuffle anywhere grows with the corpus; the only
  * driver traffic is k rows per round. At 100 TB the training pass runs
  * on a sample and the trained centroids broadcast into an IVF-style
  * assignment join — exactly the q40 structure, with these centroids
  * replacing the hash-seeded ones.
  */
object Clustering {

  /** Quantize a float-array column to exact longs:
    * `round((x + offset) * scale)` per component on widened doubles.
    */
  def quantize(vec: Column, offset: Double, scale: Double): Column =
    transform(vec, x =>
      round((x.cast("double") + lit(offset)) * lit(scale)).cast("long"))

  /** Composed (unrolled element_at) twin of the fused
    * [[graft.plans.ArgminDistance]] assignment key — kept for the spec
    * parity check; janino-compilation cost makes it the wrong choice on
    * the per-round hot path (each round is a fresh plan).
    */
  private[graft] def composedAkey(qv: Column, cents: Array[Array[Long]])
  : Column =
    least(cents.toIndexedSeq.zipWithIndex.map { case (c, j) =>
      val dist = c.indices.map { d =>
        val diff = element_at(qv, d + 1) - lit(c(d))
        diff * diff
      }.reduce(_ + _)
      dist * lit(cents.length.toLong) + lit(j.toLong)
    }: _*)

  /** Run `rounds` Lloyd iterations with `k` centroids over `vectors`,
    * then emit the final assignment: (vec_id, cluster, dist) with
    * cluster in 1..k (seed-hash order) and dist the exact integer
    * squared L2 to the final centroid.
    *
    * `offset` must shift every component non-negative after quantization
    * (default +1.0 covers unit-normalized embeddings); `dim` is the
    * vector width (the unrolled expressions need it at plan time).
    */
  def kMeansLloyd(vectors: DataFrame, idCol: String, vecCol: String,
                  k: Int, dim: Int, rounds: Int = 4,
                  offset: Double = 1.0, scale: Double = 10000.0)
  : DataFrame = {
    val q = graft.CacheScope.track(
      vectors
        .select(col(idCol).cast("long").as("vid"),
          quantize(col(vecCol), offset, scale).as("qv"))
        .persist())
    val cents = lloydCentroidsQuantized(q, k, dim, rounds)
    q.withColumn("akey", graft.plans.ArgminDistance(col("qv"), cents))
      .select(col("vid").as("vec_id"),
        (pmod(col("akey"), lit(k.toLong)) + 1L).as("cluster"),
        expr(s"akey div ${k}L").as("dist"))
  }

  /** Train-only entry: run the Lloyd trajectory and return the final
    * quantized centroid matrix — the MODEL, for callers that score a
    * different frame than they trained on (a held-out batch, or a
    * STREAM via [[assignWithModel]]). Bit-identical trajectory to
    * [[kMeansLloyd]] (same seed, same rounds).
    */
  def lloydCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                     k: Int, dim: Int, rounds: Int = 4,
                     offset: Double = 1.0, scale: Double = 10000.0)
  : Array[Array[Long]] = {
    val q = graft.CacheScope.track(
      vectors
        .select(col(idCol).cast("long").as("vid"),
          quantize(col(vecCol), offset, scale).as("qv"))
        .persist())
    lloydCentroidsQuantized(q, k, dim, rounds)
  }

  private def lloydCentroidsQuantized(q: DataFrame, k: Int, dim: Int,
                                      rounds: Int): Array[Array[Long]] = {
    require(k >= 1 && rounds >= 1 && dim >= 1)
    // seed: hash-ordered quantized rows (bounded collect: k rows)
    val seed = q
      .orderBy(md5(col("vid").cast("string")), col("vid"))
      .limit(k)
      .select("qv")
      .collect()
      .map(_.getSeq[Long](0).toArray)
    var cents: Array[Array[Long]] = seed

    def akeyExpr: Column =
      graft.plans.ArgminDistance(col("qv"), cents)

    val sumCols = (0 until dim).map(d =>
      sum(element_at(col("qv"), d + 1)).as(s"s$d"))

    for (_ <- 1 to rounds) {
      // one pass: per-row argmin + k-keyed partial aggregate; the collect
      // is k rows of (count, dim sums) — bounded by k*dim, not the data
      val upd = q
        .withColumn("cl", pmod(akeyExpr, lit(k.toLong)))
        .groupBy("cl")
        .agg(count(lit(1)).as("n"), sumCols: _*)
        .collect()
      val next = cents.map(_.clone())
      upd.foreach { r =>
        val j = r.getLong(0).toInt
        val n = r.getLong(1)
        next(j) = Array.tabulate(dim)(d => (2L * r.getLong(2 + d) + n) / (2L * n))
      }
      cents = next
    }
    cents
  }

  /** Score an arbitrary frame — batch OR stream — against a trained
    * centroid matrix: (id, cluster, dist), same decode as
    * [[kMeansLloyd]]'s final assignment. Pure per-row expressions
    * (quantize + the fused argmin), so it is legal under Structured
    * Streaming with no state and no watermark: the model broadcasts
    * inside the codegen'd expression, the streaming twin of the q40
    * broadcast-centroid probe — train on yesterday's batch, score
    * today's stream.
    */
  def assignWithModel(vectors: DataFrame, idCol: String, vecCol: String,
                      cents: Array[Array[Long]],
                      offset: Double = 1.0, scale: Double = 10000.0)
  : DataFrame = {
    val k = cents.length
    vectors
      .select(col(idCol).cast("long").as("vec_id"),
        graft.plans.ArgminDistance(
          quantize(col(vecCol), offset, scale), cents).as("akey"))
      .select(col("vec_id"),
        (pmod(col("akey"), lit(k.toLong)) + 1L).as("cluster"),
        expr(s"akey div ${k}L").as("dist"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embedding space with k-means, then prune near-duplicate pairs
    * INSIDE each cluster only — the clustering is what turns the O(N^2)
    * all-pairs cosine check into O(sum c_i^2) with bounded c_i. Emits
    * every vector with its cluster and `kept`: false iff some
    * smaller-id vector in the same cluster has cosine >= tauNum/tauDen
    * (the paper keeps one representative per semantic duplicate group;
    * smallest-id-wins is the deterministic instance of that rule, the
    * q56/q137 canonical-pick convention).
    *
    * Engine-exact like everything in this file: vectors are quantized
    * ONCE to signed longs under the q145 positive-domain rounding
    * (`round((x+1)*scale) - scale`, so the tie regime matches the
    * cluster trajectory's), after which dot products and squared norms
    * are exact integers and the cosine threshold is decided by the
    * cross-multiplied integer comparison
    * `tauDen^2 * dot^2 >= tauNum^2 * |a|^2 * |b|^2` (dot > 0), fused
    * into the single codegen predicate [[graft.plans.CosineGE]]
    * (arbitrary-precision boundary compare, dot computed ONCE per pair)
    * — no float boundary anywhere, so the DuckDB oracle reproduces
    * every keep/drop decision bit for bit (the q126/q133
    * cross-multiplication idiom).
    *
    * Scale shape: one persisted (cluster, sv, n2) frame (CacheScope)
    * serves both sides of the intra-cluster self-join and the final
    * output; the join shuffles on cluster only. Pair fan-out is bounded
    * by the largest cluster, which a cheap persisted-frame aggregate
    * certifies against `maxClusterSize` before the join runs — at
    * 100 TB, k grows with N to hold cluster sizes flat (the paper runs
    * k = N/5000), so the pair volume stays O(N * c_max), never O(N^2).
    */
  def semDedup(vectors: DataFrame, idCol: String, vecCol: String,
               k: Int, dim: Int, rounds: Int = 4,
               tauNum: Long = 2, tauDen: Long = 5,
               simScale: Long = 1000, maxClusterSize: Long = 200000)
  : DataFrame = {
    require(tauNum > 0 && tauDen > 0, "threshold must be positive")
    val asg = kMeansLloyd(vectors, idCol, vecCol, k, dim, rounds)
      .select("vec_id", "cluster")
    val sv = vectors.select(
      col(idCol).cast("long").as("vec_id"),
      transform(col(vecCol), x =>
        (round((x.cast("double") + lit(1.0)) * lit(simScale.toDouble))
          - lit(simScale)).cast("long")).as("sv"))
    val side = graft.CacheScope.track(
      asg.join(sv, "vec_id")
        .withColumn("n2", graft.plans.LongDot(col("sv"), col("sv")))
        .persist())
    val worst = side.groupBy("cluster").count()
      .agg(max("count")).first().getLong(0)
    require(worst <= maxClusterSize,
      s"semDedup: largest cluster has $worst > $maxClusterSize vectors; " +
        "raise k so clusters stay bounded (pair fan-out is O(c_max^2))")
    val a = side.select(col("cluster"), col("vec_id").as("aid"),
      col("sv").as("sva"), col("n2").as("na2"))
    val b = side.select(col("cluster"), col("vec_id").as("bid"),
      col("sv").as("svb"), col("n2").as("nb2"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("aid") < col("bid") && graft.plans.CosineGE(
        col("sva"), col("svb"), col("na2"), col("nb2"), tauNum, tauDen))
      .select(col("bid").as("vec_id")).distinct()
    side.join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup").isNull.as("kept"))
  }
}
