package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (broadcast the query vectors, scan
  * the corpus once — embarrassingly parallel, no shuffle until the final
  * per-query top-k, which is a window over partitionBy(query)).
  *
  * Scale path: random-hyperplane LSH — b signed projections bucket the
  * corpus; queries probe only their own bucket. The projection vectors are
  * derived deterministically from a seed via a splitmix-style integer mix,
  * so signatures are reproducible across runs and engines.
  */
object Similarity {

  /** Top-k corpus rows per query row, by cosine similarity.
    * queries(query_id, embedding), corpus(vec_id, embedding).
    * Similarity is rounded to 6 decimals before ranking so ordering is
    * reproducible; ties break on vec_id.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding").as("q_emb"))
    val scored = corpus.crossJoin(broadcast(q))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Quantized brute-force top-k: both sides are int8-quantized per row
    * ([[VectorFunctions.quantizeInt8]] — 4x smaller vectors, the
    * memory-bound corpus path) and scored with the fused integer
    * [[graft.plans.Int8Cosine]] loop. Because symmetric per-vector
    * scales cancel out of the cosine, the score is an integer
    * dot/norm ratio — exact in any evaluation order, so the quantized
    * ANN is bit-reproducible across engines with no fold-order
    * contract at all. Plan shape matches [[bruteForceTopK]]: broadcast
    * queries, one scan, one shuffle for the per-query top-k window.
    * Zero vectors quantize to all-zero (undefined cosine) and rank
    * last as null.
    */
  def bruteForceTopKInt8(queries: DataFrame, corpus: DataFrame,
                         k: Int): DataFrame = {
    def quantized(df: DataFrame, out: String) = {
      val s = VectorFunctions.int8Scale(col("embedding"))
      df.withColumn("__s", s)
        .withColumn(out, VectorFunctions.quantizeInt8(col("embedding"),
          col("__s")))
    }
    val q = quantized(queries, "q_q").select(col("query_id"), col("q_q"))
    val c = quantized(corpus, "c_q").select(col("vec_id"), col("c_q"))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("sim",
        round(graft.plans.Int8Cosine(col("c_q"), col("q_q")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc_nulls_last, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Deterministic pseudo-random double in [-1, 1) for (seed, bit, dim):
    * first 32 bits of md5("seed:bit:dim"), scaled — the portable plane
    * component [[graft.plans.LshPlanes]] precomputes (see there for why
    * md5: bucket ids become reproducible from plain SQL, which is what
    * lets the gate oracle-check the ANN bucketing).
    */
  private def mixedUnit(seed: Long, bit: Int,
                        dim: org.apache.spark.sql.Column) =
    conv(substring(md5(concat_ws(":", lit(seed), lit(bit), dim)
      .cast("binary")), 1, 8), 16, 10).cast("double") /
      lit(2147483648.0) - lit(1.0)

  /** b-bit signed-projection LSH bucket id for each row's embedding —
    * pure per-row expression work, no shuffle. One fused codegen loop
    * ([[graft.plans.LshBucket]]): the composed `aggregate(transform(...))`
    * form walks the array through interpreted lambda dispatch once per
    * bit, a 10-50x constant factor on the ANN hot path; the Expression is
    * bit-identical to it (parity spec: LshBucketParitySpec).
    */
  def lshBuckets(df: DataFrame, embCol: String, bits: Int,
                 seed: Long = 42L): DataFrame =
    df.withColumn("bucket",
      graft.plans.LshBucket(col(embCol), bits, seed))

  /** The original composed-HOF bucket column — kept ONLY as the
    * spec oracle for the fused expression (like
    * Dedup.simhashReference / VectorFunctions.cosineComposed).
    */
  def lshBucketReference(emb: org.apache.spark.sql.Column, bits: Int,
                         seed: Long): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      val proj = aggregate(
        transform(emb, (x, pos) =>
          x.cast("double") * mixedUnit(seed, i, pos)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    * corpus into nlist cells; each query probes only the nprobe nearest
    * cells, then exact cosine + top-k inside them. The classic
    * scale path: compared pairs shrink ~nlist/nprobe-fold, the
    * centroid table broadcasts, and the cell join is a hash join on the
    * cell id.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 2, seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.vector_to_array
    // array<float> -> array<double> via the native Cast (codegen'd), not
    // an interpreted per-element transform lambda
    val toVec = org.apache.spark.ml.functions.array_to_vector(
      col("embedding").cast("array<double>"))
    val corpusVec = corpus.withColumn("features", toVec)
    // Fit the coarse quantizer on a bounded, deterministic sample — the
    // standard IVF training contract (a quantizer needs a representative
    // subset, on the order of 100s of points per cell, not the corpus):
    // at 100 TB a full-corpus k-means is 10 Lloyd passes over everything,
    // while the sample fit is constant-cost and only `transform` (one
    // stateless pass) touches all rows. Hash-ordered top-N keeps the
    // sample a pure function of the data, not of partitioning.
    val trainCap = math.max(512 * nlist, 4096)
    val train = corpusVec
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(trainCap)
      .cache()
    val model =
      try new KMeans().setK(nlist).setSeed(seed).setMaxIter(10).fit(train)
      finally train.unpersist(): Unit
    val assigned = model.transform(corpusVec)
      .withColumnRenamed("prediction", "cell")
      .drop("features")
    // centroid table, tiny -> crossJoin+rank to find each query's cells
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    val qCells = queries.select(col("query_id"),
        col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("cdist",
        VectorFunctions.cosine(col("q_emb"),
          col("centroid").cast("array<float>")))
      .withColumn("crank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cdist").desc,
          col("cell").asc)))
      .filter(col("crank") <= nprobe)
      .select("query_id", "q_emb", "cell")
    val scored = assigned.join(qCells, "cell")
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** IVF with a deterministic, engine-portable coarse quantizer: the
    * nlist centroids are the corpus vectors with the smallest
    * md5(vec_id) (a hash-ordered sample — the "random subsampled
    * centroids, no refinement" initialization FAISS exposes as niter=0),
    * cell ids assigned in that hash order. Everything downstream —
    * nearest-cell assignment, nprobe probing, exact rerank — is the same
    * IVF structure as [[ivfTopK]], but every step is reproducible from
    * plain SQL, so the gate can oracle the whole pipeline (q40) instead
    * of trusting the k-means artifact. Assignment scores are rounded to 6
    * decimals before the argmax (ties -> smallest cell id) so the cell
    * decision is stable cross-engine rather than resting on raw-double
    * comparison of near-equal sims.
    *
    * Scale shape: identical to [[ivfTopK]] — the centroid table is nlist
    * rows collected once and broadcast; the corpus is scanned once for
    * assignment; the probe join is a hash equi-join on the cell id.
    * Prefer [[ivfTopK]]'s trained quantizer when cell balance matters
    * more than auditability.
    */
  def ivfTopKSeeded(queries: DataFrame, corpus: DataFrame, k: Int,
                    nlist: Int = 16, nprobe: Int = 2): DataFrame = {
    val cents = broadcast(
      corpus
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nlist)
        .select(row_number().over(
            Window.orderBy(md5(col("vec_id").cast("string")),
              col("vec_id"))).cast("long").as("cell"),
          col("embedding").as("centroid")))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val assigned = corpus.crossJoin(cents)
      .withColumn("csim",
        round(VectorFunctions.cosine(col("embedding"), col("centroid")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val qCells = queries.select(col("query_id"), col("embedding").as("q_emb"))
      .crossJoin(cents)
      .withColumn("csim",
        round(VectorFunctions.cosine(col("q_emb"), col("centroid")), 6))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select("query_id", "q_emb", "cell")
    val scored = assigned.join(qCells, "cell")
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }

  /** Bucketed ANN: join queries to corpus within matching buckets only,
    * then exact cosine + top-k. Trades recall for a ~2^bits / (1 + bits ·
    * probeRadius) reduction in compared pairs.
    *
    * Multi-probe: each query also probes every bucket within Hamming
    * distance `probeRadius` of its own (all XOR masks of weight <= R) —
    * the standard recall lever that avoids building multiple hash
    * tables. Only the query side fans out (x sum_{r<=R} C(bits, r)
    * probes, bounded at 4096); the corpus is bucketed once, and the
    * probe join stays a hash equi-join on the bucket id. Measured on the
    * sf0.001 embeddings at 8 bits, recall@10 goes 0.11 (single) -> ~0.2
    * (radius 1) -> ~0.4 (radius 2) -> ~0.6 (radius 3), probing a few
    * percent of the corpus at the low radii.
    *
    * Hot-bucket cap: a degenerate embedding distribution (e.g. a batch of
    * zero/constant vectors from a failed upstream embed job) collapses
    * into ONE bucket, and the probe join then emits |bucket| rows per
    * probing query — the skew blowup every other bucketed operator here
    * guards against (minhashCandidates, simhashCandidates). Corpus
    * buckets larger than `maxBucket` are dropped before the join: the
    * hot-bucket id list is tiny by construction (<= |corpus|/maxBucket
    * entries), so the filter is a broadcast anti-join — no extra shuffle
    * on the corpus side, just one partial-agg count pass. Queries whose
    * home bucket is hot still get results from their other probes;
    * near-duplicate mining inside a mega-cluster is exact-dedup/minhash
    * territory, not ANN's.
    */
  /** Signed random projection (Johnson–Lindenstrauss / SimHash-for-
    * embeddings): project each vector onto `outDim` pseudo-random ±1
    * hyperplanes and emit the integer projections plus the sign-bit code
    * (bit j set iff proj_j > 0) — the dimensionality-reduction /
    * embedding-LSH primitive that feeds banded bucketing exactly like
    * the text SimHash family (Charikar, STOC'02).
    *
    * Engine-exact end to end: components quantize once to longs
    * (`round(x * scale)` — symmetric, no offset, signs preserved), and
    * the hyperplane signs derive from the PARITY OF THE LAST md5 HEX
    * CHAR of "j:d" — a pure string computation both engines evaluate
    * identically — so every projection is exact integer arithmetic and
    * the q148 oracle re-derives codes bit-for-bit.
    *
    * Scale shape: the sign matrix is ONE referenced object inside the
    * fused codegen expression [[graft.plans.SignedProjection]] (built
    * driver-side from the same md5 formula — no join, no explode, no
    * HOF); the whole operator is one narrow scan pass, zero shuffles.
    * (The first form unrolled outDim·dim element_at literals — ~2k
    * expression nodes at 16×64 whose janino compile dominated the gate
    * at 2.8 s; the fused expression is the [[graft.plans.ArgminDistance]]
    * fix applied again.)
    */
  def randomProjection(vectors: DataFrame, idCol: String, vecCol: String,
                       outDim: Int, dim: Int, scale: Double = 10000.0)
  : DataFrame = {
    require(outDim >= 1 && outDim <= 62 && dim >= 1)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Long = {
      val hex = md.digest(s"$j:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if ("02468ace".contains(hex.last)) 1L else -1L
    }
    val signs = Array.tabulate(outDim, dim)((j, d) => sign(j, d))
    val qv = transform(col(vecCol), x =>
      round(x.cast("double") * lit(scale)).cast("long"))
    val code = (0 until outDim).map { j =>
      when(element_at(col("proj"), j + 1) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    vectors
      .select(col(idCol).as("vec_id"),
        graft.plans.SignedProjection(qv, signs).as("proj"))
      .select(col("vec_id"), col("proj"), code.as("srp_code"))
  }

  /** Product-quantization (PQ) ANN with asymmetric distance computation
    * (ADC) — the memory-bound scale path past int8: each corpus vector is
    * stored as `m` sub-space code ids (m·log2(codes) bits, e.g. 4 bytes
    * for m=8/codes=16 vs 256 bytes of float32 at dim 64 — a 64x
    * compression), and query-time scoring is a table lookup per subspace
    * instead of float math over the full vector (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011).
    *
    * Deterministic, engine-portable quantizer in the spirit of
    * [[ivfTopKSeeded]]: the per-subspace codebook is the sub-vectors of
    * the `codes` corpus rows with the smallest md5(vec_id) (hash-ordered
    * sample, no Lloyd refinement), so every stage — encoding argmin, ADC
    * tables, final ranking — is reproducible from plain SQL and the q113
    * gate oracles the whole pipeline instead of trusting a trained
    * artifact. Sub-distances are exact (sequential fold per row); they are
    * rounded to 6 decimals before the argmin / ranking with ties to the
    * smallest code / vec_id, so every discrete decision is stable
    * cross-engine.
    *
    * Scale shape: the codebook is m·codes rows collected once and
    * broadcast; encoding is ONE corpus scan + broadcast join (the 100 TB
    * pattern is to persist the code table as the index and re-encode only
    * new rows); ADC is a broadcast of the per-query lookup tables
    * (queries × m × codes rows) joined to the code table on (sub, code),
    * then one partial-agg sum per (query, vec) — the only shuffle. Exact
    * distances never touch the corpus at query time.
    *
    * Returns (query_id, vec_id, adist, rank): adist = approximate squared
    * L2 distance (sum of per-subspace quantized distances), rank 1..k
    * ascending.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, subDim: Int = 8, codes: Int = 16): DataFrame = {
    // exact squared L2 between two equal-length slices: widen-then-fold,
    // sequential like the cosine family, so per-row values are bit-equal
    // across engines
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val subs = (0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("embedding"), s * subDim + 1, subDim).as("svec"))
    }
    // codebook: hash-ordered corpus sample, sliced per subspace
    val cb = broadcast(
      corpus
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(codes)
        .select(row_number().over(
            Window.orderBy(md5(col("vec_id").cast("string")),
              col("vec_id"))).cast("long").as("code"),
          explode(array(subs: _*)).as("sc"))
        .select(col("code"), col("sc.sub").as("sub"),
          col("sc.svec").as("cvec")))
    // encode: argmin code per (vec, sub) — one corpus scan, broadcast join
    val wEnc = Window.partitionBy("vec_id", "sub")
      .orderBy(col("cdist").asc, col("code").asc)
    val enc = corpus
      .select(col("vec_id"), explode(array(subs: _*)).as("sc"))
      .select(col("vec_id"), col("sc.sub").as("sub"), col("sc.svec").as("svec"))
      .join(cb, "sub")
      .withColumn("cdist", round(l2sq(col("svec"), col("cvec")), 6))
      .withColumn("erank", row_number().over(wEnc))
      .filter(col("erank") === 1)
      .select("vec_id", "sub", "code")
    // per-query ADC lookup tables: distance from each query sub-vector to
    // every codebook entry (queries x m x codes rows, broadcast)
    val qTab = broadcast(
      queries
        .select(col("query_id"), explode(array(subs: _*)).as("sc"))
        .select(col("query_id"), col("sc.sub").as("sub"),
          col("sc.svec").as("qvec"))
        .join(cb, "sub")
        .withColumn("qdist", round(l2sq(col("qvec"), col("cvec")), 6))
        .select("query_id", "sub", "code", "qdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    enc.join(qTab, Seq("sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum("qdist"), 6).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "adist", "rank")
  }

  /** IVF-PQ: the FAISS-style composition of [[ivfTopKSeeded]]'s coarse
    * quantizer (which prunes the SCAN to nprobe of nlist cells) with
    * [[pqTopK]]'s product codes (which shrink the scanned BYTES ~64x) —
    * the canonical 100 TB vector-search layout: the whole index is
    * (cell, m codes) per vector, queries touch nprobe cells' code lists
    * via ADC lookups, and exact floats appear nowhere at query time.
    *
    * Both quantizers are the deterministic hash-ordered samples of their
    * parents, so the ENTIRE index build + query path is SQL-reproducible
    * and the q119 gate oracles it end to end. Same discrete-decision
    * discipline: round-6 scores, ties to the smallest cell / code /
    * vec_id.
    *
    * Scale shape: one corpus scan assigns cells (broadcast centroids) and
    * one encodes codes (broadcast codebook) — in production both persist
    * as THE index; the query side is broadcast lookup tables joined to
    * the probed cells' code lists (hash equi-join on cell, then
    * (sub, code)), one partial-agg sum per (query, vec).
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, subDim: Int = 8, codes: Int = 16): DataFrame = {
    def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b, (x, y) =>
          (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val subs = (0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("embedding"), s * subDim + 1, subDim).as("svec"))
    }
    val hashOrd = Window.orderBy(md5(col("vec_id").cast("string")),
      col("vec_id"))
    // coarse quantizer: nlist hash-ordered corpus vectors (q40's trick)
    val cents = broadcast(
      corpus.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(nlist)
        .select(row_number().over(hashOrd).cast("long").as("cell"),
          col("embedding").as("centroid")))
    // PQ codebook: codes hash-ordered corpus vectors, sliced per subspace
    val cb = broadcast(
      corpus.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(codes)
        .select(row_number().over(hashOrd).cast("long").as("code"),
          explode(array(subs: _*)).as("sc"))
        .select(col("code"), col("sc.sub").as("sub"),
          col("sc.svec").as("cvec")))
    // index build: cell assignment (argmax round-6 cosine, ties to the
    // smallest cell) + per-subspace codes (argmin round-6 L2, ties to
    // the smallest code) — one scan each, broadcast joins
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val assigned = corpus.crossJoin(cents)
      .withColumn("csim",
        round(VectorFunctions.cosine(col("embedding"), col("centroid")), 6))
      .withColumn("arank", row_number().over(wAssign))
      .filter(col("arank") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
    val wEnc = Window.partitionBy("vec_id", "sub")
      .orderBy(col("cdist").asc, col("code").asc)
    val enc = assigned
      .select(col("vec_id"), col("cell"), explode(array(subs: _*)).as("sc"))
      .select(col("vec_id"), col("cell"), col("sc.sub").as("sub"),
        col("sc.svec").as("svec"))
      .join(cb, "sub")
      .withColumn("cdist", round(l2sq(col("svec"), col("cvec")), 6))
      .withColumn("erank", row_number().over(wEnc))
      .filter(col("erank") === 1)
      .select("vec_id", "cell", "sub", "code")
    // query side: probe cells + ADC lookup tables, both broadcast
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val qCells = broadcast(
      queries.select(col("query_id"), col("embedding").as("q_emb"))
        .crossJoin(cents)
        .withColumn("csim",
          round(VectorFunctions.cosine(col("q_emb"), col("centroid")), 6))
        .withColumn("crank", row_number().over(wProbe))
        .filter(col("crank") <= nprobe)
        .select("query_id", "cell"))
    val qTab = broadcast(
      queries
        .select(col("query_id"), explode(array(subs: _*)).as("sc"))
        .select(col("query_id"), col("sc.sub").as("sub"),
          col("sc.svec").as("qvec"))
        .join(cb, "sub")
        .withColumn("qdist", round(l2sq(col("qvec"), col("cvec")), 6))
        .select("query_id", "sub", "code", "qdist"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    enc.join(qCells, "cell")
      .join(qTab, Seq("query_id", "sub", "code"))
      .groupBy("query_id", "vec_id")
      .agg(round(sum("qdist"), 6).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "adist", "rank")
  }

  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 8, seed: Long = 42L,
              probeRadius: Int = 1,
              maxBucket: Int = 1 << 20): DataFrame = {
    require(probeRadius >= 0 && probeRadius <= bits,
      s"probeRadius must be in [0, bits=$bits], got $probeRadius")
    require(maxBucket > 0, "maxBucket must be positive")
    // All XOR masks of Hamming weight <= probeRadius: the query fans out
    // to sum_{r<=R} C(bits, r) probes. That count is the query-side blowup
    // factor — bound it so "probe everything" is an explicit decision
    // (radius = bits means scanning all 2^bits buckets; use brute force).
    val nProbes = (0 to probeRadius)
      .map(r => (0 until r).foldLeft(1L)((c, i) => c * (bits - i) / (i + 1)))
      .sum
    require(nProbes <= 4096,
      s"probeRadius=$probeRadius over $bits bits fans each query out to " +
        s"$nProbes probes; raise bits' selectivity or lower the radius")
    val masks = (0 to probeRadius).flatMap(r =>
      (0 until bits).combinations(r)
        .map(c => lit(c.foldLeft(0L)((m, i) => m | (1L << i)))))
    val qb = lshBuckets(queries, "embedding", bits, seed)
      .select(col("query_id"), col("embedding").as("q_emb"),
        explode(array(masks.map(col("bucket").bitwiseXOR(_)): _*))
          .as("bucket"))
    val cbAll = lshBuckets(corpus, "embedding", bits, seed)
    val hot = cbAll.groupBy("bucket").agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") > maxBucket)
      .select("bucket")
    val cb = cbAll.join(broadcast(hot), Seq("bucket"), "left_anti")
    val scored = cb.join(qb, "bucket")
      .withColumn("sim",
        round(VectorFunctions.cosine(col("embedding"), col("q_emb")), 6))
      // multi-probe can meet the same vec via distinct buckets; dedup is
      // safe pre-ranking because sim is identical for every duplicate
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "sim", "rank")
  }
}
