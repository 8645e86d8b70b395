package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text pipelines (beyond the
  * reference's surface — first-class per the build brief).
  *
  * Scale notes: exact dedup is a hash aggregate on the key (one shuffle).
  * MinHash-LSH replaces the quadratic all-pairs comparison with a
  * band-bucket shuffle: docs sharing any band bucket meet in one reducer;
  * candidate pairs are verified with true Jaccard. No driver collects, no
  * unbounded per-group state (bucket fan-in is capped by banding).
  */
object Dedup {

  /** Candidate-pair budget for the EXACT join tier ([[setSimilarityJoin]],
    * [[containmentJoin]]): `spark.graft.exactJoinMaxCandidates` (default
    * 10^9, `0` disables). The probabilistic tier bounds its blow-up
    * structurally (band buckets + CollectCappedLongs caps); the exact tier
    * cannot — prefix filtering usually collapses the fan-out, but a corpus
    * of near-identical boilerplate defeats it (every doc's rarest element
    * is the SAME element) and the candidate join goes quadratic. The
    * breaker prices the join from per-element occurrence counts BEFORE it
    * runs — one cheap aggregate over the already-persisted element frame —
    * and fails fast with a pointer at the MinHash tier instead of
    * launching a 10^12-row shuffle.
    */
  private def exactJoinCandidateCap(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.exactJoinMaxCandidates")
      .map(_.toLong).getOrElse(1000000000L)

  /** Fail fast when the priced candidate upper bound exceeds the cap. */
  private def checkCandidateBudget(op: String, estimated: Long, cap: Long): Unit =
    if (cap > 0 && estimated > cap)
      throw new IllegalStateException(
        s"$op: prefix filtering still yields up to $estimated candidate " +
          s"pairs (cap $cap, spark.graft.exactJoinMaxCandidates; 0 " +
          "disables). This corpus is too duplicate-heavy for the exact " +
          "tier — run Dedup.exact on the normalized text first to " +
          "collapse verbatim copies, or use the MinHash-LSH tier " +
          "(Dedup.minhashSignatures + minhashCandidates), whose band " +
          "buckets bound the fan-out structurally.")

  /** Keep one canonical row per exact key; deterministic keeper = min id. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Deterministic MinHash signature as a single Column (spec/tiny-frame
    * twin of [[minhashSignatures]] — the parity test pins the two forms to
    * identical values).
    *
    * Each of the k hash functions is `(a_i * h + b_i) mod p` over the
    * portable 32-bit md5-derived base hash of the shingle
    * ([[TextFunctions.portableHash32]]), the standard universal-hash
    * construction — md5-based so the whole signature pipeline is
    * bit-reproducible in the DuckDB oracle.
    *
    * DO NOT use on real data: the k array_min(transform(...)) passes are
    * interpreted HOFs re-walking the shingle array per permutation —
    * private[graft] so specs keep their parity pin while the footgun
    * stays out of the public API ([[minhashSignatures]] is the real form).
    */
  private[graft] def minhashSignature(text: org.apache.spark.sql.Column, shingleN: Int,
                       k: Int): org.apache.spark.sql.Column = {
    val p = 2147483647L // 2^31 - 1
    val shingles = array_distinct(TextFunctions.wordShingles(text, shingleN))
    val base = transform(shingles, s => TextFunctions.portableHash32(s))
    val sig = (0 until k).map { i =>
      val a = 1L + 2L * i // odd multipliers
      val b = 12582917L * (i + 1)
      array_min(transform(base, h => pmod(h * a + b, lit(p))))
    }
    array(sig: _*)
  }

  /** MinHash signatures as a relational plan: one row per doc with columns
    * m0..m{k-1} (the per-permutation minima).
    *
    * Shape: explode shingle occurrences (duplicates are harmless — min over
    * a multiset equals min over its support, so no array_distinct pass),
    * portable-hash each (codegen'd md5 stage), then ONE hash aggregate per doc with k
    * `min` buffers. Map-side partial aggregation means the shuffle carries
    * k+1 longs per doc regardless of document length; every stage is
    * whole-stage-codegen — no interpreted higher-order functions. Docs with
    * fewer than shingleN tokens produce no shingle rows and drop out (they
    * have no set to hash).
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int, k: Int): DataFrame = {
    val p = 2147483647L
    // spread a narrow input before the explode: the md5-per-shingle
    // portableHash32 chain is heavy enough per row that 32-way wall
    // beats the contention-inflated CPU (measured: q29 0.96->0.84 s
    // warm at 2x process CPU; the cheap-kernel callers of
    // explodedShingles measured FLAT-to-worse and stay unspread —
    // r14 A/B). Inert when the scan already splits (Spread scaladoc).
    val exploded = TextFunctions
      .explodedShingles(Spread.spreadIfNarrow(docs, col(idCol)),
        idCol, textCol, shingleN)
      .select(col("id"), TextFunctions.portableHash32(col("shingle")).as("h"))
    val mins = (0 until k).map { i =>
      val a = 1L + 2L * i
      val b = 12582917L * (i + 1)
      min(pmod(col("h") * a + b, lit(p))).as(s"m$i")
    }
    exploded.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** Candidate near-duplicate pairs via LSH banding of minhash signatures.
    *
    * Banding: rows per band = k / bands; docs agreeing on all rows of any
    * band land in the same (band, bucket) and become a candidate pair.
    *
    * Pair generation is ONE aggregate, not a self-join: bucket members are
    * collected with [[graft.plans.CollectCappedLongs]] (state hard-bounded
    * at maxBucket+1 longs per bucket) and pairs are unrolled locally from
    * each capped array. Buckets holding more than `maxBucket` docs are
    * dropped — boilerplate/degenerate near-identical content is
    * exact-dedup territory, and one hot bucket of B docs would otherwise
    * emit B²/2 pairs. The whole plan touches the signature pipeline once
    * (the banded self-join form scans+aggregates it four times) and every
    * per-bucket cost is bounded at maxBucket².
    */
  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, k: Int = 32,
                        bands: Int = 8, maxBucket: Int = 64): DataFrame = {
    val sig = minhashSignatures(docs, textCol, idCol, shingleN, k)
    // The band value ARRAY is the bucket key (arrays group fine): hashing
    // it to an int is 4 bytes narrower on the exchange but a murmur
    // collision would merge two unrelated buckets into spurious candidate
    // pairs — and it makes the pair set engine-specific, which blocks the
    // DuckDB oracle. rows-per-band longs per row is still tiny.
    val banded = bandedSignatures(sig, k, bands)
    // CollectCappedLongs requires bigint input (enforced at analysis time);
    // the explicit cast keeps the operator usable with int-typed ids.
    banded.groupBy("band", "bucket")
      .agg(graft.plans.CollectCappedLongs(col("id").cast("long"),
        maxBucket + 1).as("ids"))
      .filter(size(col("ids")) <= maxBucket) // length maxBucket+1 = overflow
      .select(sort_array(col("ids")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"),
        explode(filter(col("ids"), y => y > col("id_a"))).as("id_b"))
      .distinct()
  }

  /** Exact word-shingle Jaccard verification of a CANDIDATE pair frame
    * (id_a, id_b) — the q126 verify idiom applied after LSH: per-doc
    * distinct-shingle arrays join in (two hash joins), the intersection
    * counts in-row, and the threshold is integer cross-multiplication
    * (`c * tDen >= tNum * (na + nb - c)`) so the accept boundary is
    * engine-exact. Cost is O(|pairs| · set size) — candidates only, the
    * corpus is never paired.
    *
    * Why it exists (r12 verdict #4): banding precision DEGRADES with
    * corpus size — q190 measured 7,575 bps at sf0.01 falling to 3,022
    * bps at sf0.1 (recall 10,000) for J >= 1/2 truth, because the band
    * collision probability for sub-threshold pairs is per-PAIR constant
    * while the pair population grows quadratically in each bucket's
    * density. At 100 TB that false-positive stream would swamp any
    * downstream consumer; this verify caps it at exactly zero extra
    * pairs past the threshold, for one candidate-sized join.
    */
  def verifyPairsJaccard(pairs: DataFrame, docs: DataFrame,
                         textCol: String, idCol: String,
                         shingleN: Int, tNum: Int, tDen: Int): DataFrame =
    // per-doc distinct shingle-hash arrays straight off the scan (no
    // explode/distinct/collect_list shuffles — the q23/q47/q56/q69
    // hashed-shingle discipline; intersect counts are unchanged at
    // 64-bit collision odds ~1e-15/pair)
    verifyPairsJaccardOnArrs(pairs,
      docs.select(col(idCol).as("doc_id"),
        graft.plans.WordShingleHashes(
          coalesce(split(col(textCol), " "), array(lit(""))), shingleN)
          .as("arr"))
        .filter(size(col("arr")) > 0),
      tNum, tDen)

  /** [[verifyPairsJaccard]] over a prebuilt (doc_id, arr) distinct
    * shingle-hash frame — the composition seam that lets one persisted
    * array frame feed BOTH the exact-truth join and the candidate verify
    * (q190's shape: without it the corpus WordShingleHashes pass runs
    * once per consumer).
    */
  def verifyPairsJaccardOnArrs(pairs: DataFrame, arrFrame: DataFrame,
                               tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      "verifyPairsJaccard: threshold must be a rational in (0, 1]")
    val arrs = arrFrame
      .select(col("doc_id"), col("arr"), size(col("arr")).cast("long").as("n"))
    pairs.select("id_a", "id_b")
      .join(arrs.select(col("doc_id").as("id_a"), col("arr").as("ea"),
        col("n").as("na")), "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("arr").as("eb"),
        col("n").as("nb")), "id_b")
      .withColumn("c", size(array_intersect(col("ea"), col("eb")))
        .cast("long"))
      .filter(col("c") * tDen >= lit(tNum) * (col("na") + col("nb") - col("c")))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") /
          (col("na") + col("nb") - col("c")), 6).as("jaccard"))
  }

  /** MinHash-LSH near-duplicate pairs with candidate-side exact verify:
    * [[minhashCandidates]] generates (banded equi-join, capped buckets,
    * recall priced by the banding), then [[verifyPairsJaccard]] keeps
    * only pairs whose TRUE shingle Jaccard reaches tNum/tDen — the
    * verified tier a 100 TB dedup pipeline feeds downstream (precision
    * exactly 10,000 bps against the same-threshold exact truth; recall =
    * the banding's, measured by q190). Same output contract as
    * [[setSimilarityJoin]]: (id_a, id_b, jaccard), id_a < id_b.
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      maxBucket: Int = 64, tNum: Int = 1, tDen: Int = 2)
  : DataFrame =
    verifyPairsJaccard(
      minhashCandidates(docs, textCol, idCol, shingleN, k, bands, maxBucket),
      docs, textCol, idCol, shingleN, tNum, tDen)

  /** SimHash near-dup candidate pairs, verified exactly. The 64-bit
    * [[simhashDocs]] fingerprint is sliced into `bands` equal bit-slices;
    * docs sharing any slice value are candidates (LSH banding on Hamming
    * space: a pair at distance d collides on some band unless all d
    * flipped bits straddle every band). Candidates are then verified with
    * the exact distance — bit_count(sh_a XOR sh_b) <= maxHamming — so the
    * banding only costs recall, never precision.
    *
    * Scale shape: signatures are persisted (three consumers: banding +
    * both verification sides — recomputing the shingle aggregate 3x is
    * the q17-style recompute trap); bucket collection uses the same
    * bounded-state CollectCappedLongs as [[minhashCandidates]], so one
    * boilerplate band value can never go quadratic past maxBucket.
    * The persisted signatures register with [[graft.CacheScope]]; callers
    * release via `CacheScope.releaseAll()` after materializing.
    */
  def simhashCandidates(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int = 3, bands: Int = 4,
                        maxHamming: Int = 3, maxBucket: Int = 64)
  : DataFrame = {
    require(bands >= 2 && 64 % bands == 0,
      s"bands must divide 64 and be >= 2, got $bands")
    val width = 64 / bands
    val sig = graft.CacheScope.track(simhashDocs(docs, textCol, idCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val banded = sig.select(col("doc_id"),
      posexplode(array((0 until bands).map { b =>
        shiftright(col("sh"), b * width).bitwiseAND((1L << width) - 1)
      }: _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
    val pairs = banded.groupBy("band", "bucket")
      .agg(graft.plans.CollectCappedLongs(col("doc_id").cast("long"),
        maxBucket + 1).as("ids"))
      .filter(size(col("ids")) <= maxBucket)
      .select(sort_array(col("ids")).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"),
        explode(filter(col("ids"), y => y > col("id_a"))).as("id_b"))
      .distinct()
    val a = sig.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sig.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("hamming",
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity for a candidate pair set (the
    * verification stage after LSH, or standalone on a bounded pair set).
    * Expects docs(id, shingles array).
    */
  def jaccardPairs(pairs: DataFrame, shingled: DataFrame): DataFrame = {
    val a = shingled.select(col("id").as("id_a"), col("shingles").as("sh_a"))
    val b = shingled.select(col("id").as("id_b"), col("shingles").as("sh_b"))
    pairs.join(a, "id_a").join(b, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .drop("sh_a", "sh_b")
  }

  /** Jaccard of every corpus doc against a small anchor subset.
    *
    * Relational shape: ONE corpus-side explode of the (distinct) shingle
    * arrays, a broadcast equi-join on the shingle hash against the
    * anchors' exploded shingles, then a hash aggregate counting common
    * shingles per (anchor, doc) pair; |A∪B| = |A| + |B| − |A∩B| from
    * set sizes carried through the explode. Every stage is codegen'd.
    *
    * The previous form — a broadcast nested-loop join evaluating
    * `array_intersect`/`array_union` per pair — kept arrays out of
    * shuffles but paid an interpreted O(|A|+|B|) set op for each of the
    * anchors × N pairs: measured 31–55 s at sf0.1 (5k docs, 50 anchors)
    * vs ~2 s for this plan, and the gap widens with corpus size.
    *
    * Pairs with an empty intersection are omitted (their jaccard is 0);
    * callers threshold at > 0 anyway. Emits id_a < id_b only.
    */
  def jaccardToAnchors(shingled: DataFrame, anchors: DataFrame): DataFrame = {
    // corpus side: explode + broadcast-probe runs inside the input's own
    // stage — spread a narrow input (locally: the one-row-group docs
    // scan serializes the whole probe); inert when the scan splits
    val ex = Spread.spreadIfNarrow(shingled, col("id"))
      .select(col("id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("h"))
    val exA = anchors.select(col("id"), size(col("shingles")).as("sz"),
      explode(col("shingles")).as("h"))
      .select(col("id").as("id_a"), col("sz").as("sz_a"), col("h"))
    ex.select(col("id").as("id_b"), col("sz").as("sz_b"), col("h"))
      .join(broadcast(exA), "h")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter"))).as("jaccard"))
  }

  /** SimHash semantics (reference form, for specs and tiny frames ONLY):
    * bit j of the portable 64-bit hash of each shingle votes +1/-1; the
    * sign of the tally sets bit j of the 64-bit signature. Hamming
    * distance <= threshold => near-dup candidate.
    *
    * DO NOT use this Column on real data: higher-order functions are never
    * codegen'd and Catalyst does not CSE across their lambdas, so the 64
    * `aggregate` passes re-evaluate the whole shingle pipeline — measured
    * ~1.3 s/doc. [[simhashDocs]] is the engine operator; this form exists
    * as the executable definition the SimHashSpec parity test checks it
    * against.
    */
  def simhashReference(text: org.apache.spark.sql.Column, shingleN: Int = 3)
  : org.apache.spark.sql.Column = {
    val shingles = TextFunctions.wordShingles(text, shingleN)
    val hashes = transform(shingles, s => TextFunctions.portableHash64(s))
    val bits = (0 until 64).map { j =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** SimHash as a relational plan: one signature row per document.
    *
    * Shape: stage tokens and shingles through materialized columns (no
    * cross-lambda recompute), explode to one row per shingle occurrence,
    * portable-hash each ([[TextFunctions.portableHash64]], a codegen'd md5
    * stage — engine-reproducible, see there), then ONE hash aggregate per doc computing
    * the 64 bit tallies as `sum(+1/-1)` columns, packed back into a long.
    * Everything is whole-stage-codegen except the exchange; cost is
    * O(total shingles) with map-side partial aggregation, so one shuffle
    * of 65 longs per doc regardless of document length — the 100 TB shape.
    *
    * Docs with no shingles (< shingleN tokens, or null text) keep the
    * all-zero-tally signature 0L via explodedShingles' keepEmptyDocs row.
    */
  def simhashDocs(docs: DataFrame, textCol: String, idCol: String,
                  shingleN: Int = 3): DataFrame = {
    // spread before the explode — md5-per-shingle portableHash64 is the
    // minhashSignatures situation exactly (see the A/B note there)
    val exploded = TextFunctions
      .explodedShingles(Spread.spreadIfNarrow(docs, col(idCol)),
        idCol, textCol, shingleN, keepEmptyDocs = true)
      .select(col("id").as("doc_id"),
        when(col("shingle").isNotNull,
          TextFunctions.portableHash64(col("shingle"))).as("h"))
    val tallies = (0 until 64).map { j =>
      sum(when(col("h").isNull, 0L)
        .when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
    val packed = (0 until 64)
      .map(j => when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    exploded
      .groupBy("doc_id")
      .agg(tallies.head, tallies.tail: _*)
      .select(col("doc_id"), packed.as("sh"))
  }

  /** Population count of xor — Hamming distance between simhashes. */
  def hammingDistance(a: org.apache.spark.sql.Column,
                      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** LSH banding of a [[minhashSignatures]] frame: (id, band, bucket)
    * with bucket = the band's value array. THE single definition of the
    * band layout — every banded consumer (candidate pairs, the
    * cross-batch index, the streaming gate's index) must key buckets
    * identically or their joins silently match nothing.
    */
  def bandedSignatures(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"k must divide evenly into bands: k=$k, bands=$bands")
    val rows = k / bands
    sig.select(col("id"),
      posexplode(array((0 until bands).map { b =>
        array((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*)
      }: _*)))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Intra-document chunk dedup — the within-page repetition REMOVAL
    * rewrite (the signal-only form is the q62 repetition ratios): split
    * each doc into consecutive `chunkTokens`-token chunks, drop every
    * chunk that already occurred earlier in the SAME doc, and rebuild
    * the text in original order. Returns (doc_id, clean_text, n_chunks,
    * n_kept).
    *
    * Shape: chunk INDICES are generated per doc (sequence + posexplode)
    * and each chunk is materialized with `slice` + `concat_ws` — native
    * collection expressions, not per-element lambda HOFs (measured ~5×
    * slower here). First occurrence is one (doc_id, chunk) hash agg
    * (map-side partial: duplicate chunks collapse before the exchange);
    * the rebuild is one (doc_id) agg. The only lambda HOF runs over the
    * per-doc KEPT-CHUNK array (small) to restore order.
    */
  /** (doc_id, i, chunk): the text split into fixed n-token chunks with
    * their 0-based positions — the shared front half of the intra-doc
    * and cross-doc chunk dedups.
    */
  private def chunkFrame(docs: DataFrame, idCol: String, textCol: String,
                         n: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L),
          greatest(ceil(size(col("toks")) / lit(n.toDouble)).cast("long")
            - 1L, lit(0L)))))
      .select(col("doc_id"), col("col").as("i"),
        concat_ws(" ", slice(col("toks"), col("col") * n + 1, lit(n)))
          .as("chunk"))

  def intraDocChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                         chunkTokens: Int): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    val n = chunkTokens
    val chunks = chunkFrame(docs, idCol, textCol, n)
    val kept = chunks.groupBy("doc_id", "chunk").agg(min("i").as("i"))
    // n_chunks is a closed form of the token count — computed from the
    // pruned source scan, NOT a second pass over the generate (trap: two
    // aggregates over one subtree don't share the exchange)
    val counts = docs.select(col(idCol).as("doc_id"),
      greatest(ceil(size(split(col(textCol), " ")) / lit(n.toDouble))
        .cast("long"), lit(1L)).as("n_chunks"))
    kept.groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("i"), col("chunk")))),
          s => s.getField("chunk"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(counts, "doc_id")
      .select(col("doc_id"), col("clean_text"), col("n_chunks"),
        col("n_kept"))
  }

  /** Cross-document segment dedup — the C4/RefinedWeb "remove lines
    * repeated across the corpus" curation pass (Raffel et al. 2020 §2.2
    * drop three-sentence spans occurring more than once; Penedo et al.
    * 2023 line-level variant), on the same fixed n-token chunking as
    * [[intraDocChunkDedup]]: a chunk whose DOCUMENT frequency exceeds
    * `maxDocFreq` is boilerplate and is removed from every doc; each doc
    * is reassembled from its surviving chunks in position order. Unlike
    * the intra-doc pass, repeats WITHIN one doc are kept (that is q85's
    * job) — the ban key is corpus-wide document frequency only. Docs
    * whose every chunk is banned survive with empty `clean_text` and
    * `n_kept` 0 — dropping them is a policy for a downstream filter, not
    * this operator.
    *
    * Scale shape: document frequency is one chunk-keyed partial
    * aggregate (count-distinct over (chunk, doc_id) — two exchanges,
    * both map-side combined); the banned set is df > maxDocFreq, a tiny
    * frame that broadcasts into the anti-join, so the chunk stream is
    * never shuffled on the skewed chunk key (a boilerplate chunk in
    * half the corpus is exactly the key you must not hash-partition
    * on). Reassembly reuses the doc_id exchange the final aggregate
    * needs anyway. State per doc is its own chunks — linear in corpus
    * tokens, no pairwise anything.
    */
  def crossDocChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                         chunkTokens: Int, maxDocFreq: Long): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive: $chunkTokens")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    val n = chunkTokens
    val chunks = chunkFrame(docs, idCol, textCol, n)
    val banned = chunks
      .groupBy("chunk").agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxDocFreq)
      .select("chunk")
    val kept = chunks.join(broadcast(banned), Seq("chunk"), "left_anti")
    val counts = docs.select(col(idCol).as("doc_id"),
      greatest(ceil(size(split(col(textCol), " ")) / lit(n.toDouble))
        .cast("long"), lit(1L)).as("n_chunks"))
    counts.join(
      kept.groupBy("doc_id")
        .agg(
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("i"), col("chunk")))),
            s => s.getField("chunk"))).as("clean_text"),
          count(lit(1)).as("n_kept")),
      Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Cross-batch near-dup check: for each incoming doc, the smallest
    * historical doc id sharing an LSH band, kept when the two full
    * signatures agree on at least `minAgreeK` of `k` components (the
    * MinHash Jaccard estimate). Returns (in_id, hist_id, agree_k).
    *
    * Scale shape: the history side's banded signature index depends only
    * on the history rows — in a daily pipeline it is computed once and
    * persisted (like a bloom build), so each new batch pays signatures
    * for ITS docs plus one equi-join keyed on (band, bucket). No
    * self-join, no cross join; verification joins the two signature
    * tables by id, k+1 longs per row. History buckets larger than
    * `maxBucket` are dropped (boilerplate content — exact-dedup
    * territory), bounding any bucket's fan-out at maxBucket candidates
    * per incoming doc.
    */
  def incrementalNearDups(history: DataFrame, incoming: DataFrame,
                          textCol: String, idCol: String,
                          shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                          minAgreeK: Int = 16,
                          maxBucket: Int = 64): DataFrame = {
    require(minAgreeK >= 1 && minAgreeK <= k,
      s"minAgreeK must be in [1, $k], got $minAgreeK")
    val hSig = minhashSignatures(history, textCol, idCol, shingleN, k)
    val iSig = minhashSignatures(incoming, textCol, idCol, shingleN, k)
    val hBanded = bandedSignatures(hSig, k, bands)
    // cap on the INDEX side only: a hot historical bucket caps every
    // future batch's fan-out, while incoming buckets are batch-sized
    val hKept = hBanded
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy("band", "bucket")))
      .filter(col("n") <= maxBucket)
      .drop("n")
    val cand = bandedSignatures(iSig, k, bands).alias("i")
      .join(hKept.alias("h"), Seq("band", "bucket"))
      .select(col("i.id").as("in_id"), col("h.id").as("hist_id"))
      .distinct()
    val agree = (0 until k).map(i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(iSig.alias("a"), col("in_id") === col("a.id"))
      .join(hSig.alias("b"), col("hist_id") === col("b.id"))
      .select(col("in_id"), col("hist_id"), agree.as("agree_k"))
      .filter(col("agree_k") >= minAgreeK)
      .withColumn("rn", row_number().over(
        Window.partitionBy("in_id").orderBy("hist_id")))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Exact dedup after text normalization — lowercase, strip everything
    * outside [a-z0-9 ], collapse space runs, trim — catching case and
    * punctuation variants of the same document, the standard first pass
    * before fuzzy dedup. One hash-agg shuffle keyed on the md5 of the
    * normalized text (the wide text column itself never shuffles). The
    * regex subset (character class, ' +') behaves identically under Java
    * regex and RE2-style engines, so the key is oracle-reproducible.
    */
  /** The q71 text normalization (lowercase, alnum+space, collapsed
    * whitespace) — the shared near-verbatim key for the exact-dedup
    * family. */
  def normalizeText(c: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""),
      " +", " "))

  def normalizedExactDups(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val norm = normalizeText(col(textCol))
    docs
      .select(col(idCol).as("doc_id"), md5(norm.cast("binary")).as("norm_key"))
      .groupBy("norm_key")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Cosine near-duplicate pairs: every corpus row against a BOUNDED
    * anchor set (mirrors [[jaccardToAnchors]] — the scale path for the
    * full corpus-vs-corpus problem is LSH/IVF bucketing in Similarity).
    *
    * The anchor side is counted and broadcast up front: a corpus-vs-corpus
    * theta-join (`id_a < id_b`) is a BroadcastNestedLoopJoin that goes
    * quadratic the moment the "anchors" are the whole table, so the bound
    * is enforced here rather than trusted to the caller's scaladoc
    * reading. Cost: one corpus scan x |anchors| cosine evaluations.
    * Self-pairs are excluded; each unordered pair is emitted once as
    * (id_a, id_b) = (min, max) — normalizing AFTER the threshold filter
    * (on the small survivor set) rather than pruning with `id_a < id_b`
    * in the join, which would silently drop every match whose anchor id
    * is larger than the corpus id when the anchor set is not a low-id
    * prefix.
    */
  def embeddingNearDups(corpus: DataFrame, anchors: DataFrame,
                        threshold: Double,
                        maxAnchors: Int = 10000): DataFrame = {
    import graft.functions.VectorFunctions
    // Cheap bound probe: limit(max+1).count() stops scanning after max+1
    // rows, so proving the bound never pays a full-table count.
    val n = anchors.limit(maxAnchors + 1).count()
    require(n <= maxAnchors,
      s"embeddingNearDups: anchor side has > $maxAnchors rows; " +
        "pass a bounded anchor subset (scale path: Similarity LSH/IVF)")
    val a = anchors.select(col("vec_id").as("aid"),
      col("embedding").as("e_a"))
    val b = corpus.select(col("vec_id").as("bid"),
      col("embedding").as("e_b"))
    b.join(broadcast(a), col("aid") =!= col("bid"))
      .withColumn("sim",
        round(VectorFunctions.cosine(col("e_a"), col("e_b")), 6))
      .filter(col("sim") >= threshold)
      .select(least(col("aid"), col("bid")).as("id_a"),
        greatest(col("aid"), col("bid")).as("id_b"), col("sim"))
      // anchor-anchor pairs meet in both orientations when anchors are
      // drawn from the corpus; sim is identical so the dedup is safe
      .dropDuplicates("id_a", "id_b")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — the MOSS algorithm): hash every character k-gram of the
    * normalized text, slide a window of w consecutive gram hashes, and
    * keep each window's minimum (rightmost position on hash ties — the
    * paper's robust-winnowing tie-break). The selected set has two
    * properties exact/MinHash dedup lack: (a) any shared substring of
    * length >= w + k - 1 is GUARANTEED to share a fingerprint (no
    * probabilistic miss), and (b) expected density is 2/(w+1) of
    * positions, independent of document length — a plagiarism /
    * boilerplate detector with a hard recall floor.
    *
    * Returns one row per selected fingerprint: (doc_id, fp_key) where
    * fp_key = gram-md5 ++ zero-padded (10^7 - position) — a single
    * string whose lexicographic MIN is exactly "smallest hash, rightmost
    * position", making the whole selection one window `min` pass that is
    * portable to any SQL engine (the q120 oracle re-runs it in DuckDB
    * verbatim). Docs whose normalized text has fewer than k + w - 1
    * chars yield no complete window and are absent (the reference
    * behavior for sub-gram docs in [[minhashSignatures]]).
    *
    * Scale shape: the one exchange hashes DOC rows on doc_id BEFORE the
    * gram explode — the window min needs doc_id partitioning anyway, and
    * placing the shuffle pre-explode both keeps it ~k-times smaller
    * (whole docs, not one row per gram) and spreads the gram/md5
    * computation across every core even when the source is a handful of
    * parquet files (a post-explode exchange would leave the entire
    * explode+hash stage on the scan's partitioning — measured 1 core and
    * 2.5 s of the gate's 3 s at sf0.1). The window, the distinct, and
    * any per-doc aggregate all reuse that partitioning (Catalyst elides
    * their exchanges); order-sensitive selection has no
    * partial-aggregate form. State per doc is bounded by text length;
    * docs are independent, so the pass scales linearly with corpus
    * tokens.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, "winnowFingerprints: k and w must be >= 1")
    val norm = regexp_replace(lower(col(textCol)), "[^a-z0-9]", "")
    val grams = docs
      .select(col(idCol).as("doc_id"), norm.as("norm"))
      .withColumn("n_grams", (length(col("norm")) - k + 1).cast("long"))
      .filter(col("n_grams") >= w)
      // explicit partition count: the doc-level shuffle is tiny (docs,
      // not grams), so AQE would coalesce it back to one partition and
      // re-serialize the explode stage — the stage's work is k-grams PER
      // doc, invisible to AQE's byte-based sizing
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .select(col("doc_id"), col("n_grams"),
        explode(sequence(lit(1L), col("n_grams"))).as("p"),
        col("norm"))
      .select(col("doc_id"), col("n_grams"), col("p"),
        concat(
          md5(expr(s"substring(norm, CAST(p AS INT), $k)").cast("binary")),
          lpad((lit(10000000L) - col("p")).cast("string"), 8, "0"))
          .as("key"))
    val win = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.currentRow, w - 1)
    grams
      .withColumn("fp_key", min("key").over(win))
      // only complete windows select; the frame rows past the last start
      // still participate as window MEMBERS above
      .filter(col("p") <= col("n_grams") - w + 1)
      .select("doc_id", "fp_key")
      .distinct()
  }

  /** EXACT set-similarity self-join with prefix filtering (Chaudhuri's
    * SSJoin / Bayardo's All-Pairs / the PPJoin family; distributed form:
    * Vernica, Carey & Li, "Efficient Parallel Set-Similarity Joins Using
    * MapReduce", SIGMOD'10): every pair of docs whose word-`shingleN`-gram
    * SETS have Jaccard >= tNum/tDen, with the exact similarity — the
    * guaranteed-recall complement to MinHash-LSH ([[minhashSignatures]]),
    * for thresholds where probabilistic misses are not acceptable.
    *
    * Prefix filter: order every doc's elements rarest-first (ascending
    * document frequency, ties by element) and keep only the first
    * n - ceil(t*n) + 1 as its PREFIX. Any pair with Jaccard >= t must
    * share a prefix element under a common global order (the pigeonhole
    * argument: the suffix is shorter than the required overlap), so
    * joining prefixes instead of full sets is lossless while shrinking
    * both the join input (~(1-t) of the elements) and — because prefixes
    * hold the RAREST elements — the candidate fan-out by orders of
    * magnitude; candidates then verify with an exact intersection count.
    * The threshold is a rational (tNum/tDen) so the accept test is pure
    * integer cross-multiplication — engine-exact, no float boundary.
    *
    * Scale shape: df is one hash aggregate; the rarest-first prefix is a
    * per-doc array sort+slice (no global rank structure); the candidate
    * join keys on single elements whose fan-out the rarest-first order
    * caps (a hot element lands in few prefixes by construction); the
    * verify join touches candidates only. Docs with fewer than shingleN
    * tokens have no elements and are absent.
    */
  /** Per-doc DISTINCT shingle-hash arrays (doc_id, arr) in one compiled
    * scan pass (WordShingleHashes — the q23/q47/q56/q69 discipline):
    * 8-byte longs replace shingle strings on every exchange and in the
    * verify intersect (64-bit collision odds ~1e-15/pair leave the exact
    * Jaccard values unchanged), the explode->distinct shuffle disappears
    * (the expression dedups in-row), and set sizes come from size(arr)
    * instead of a count aggregate + join. The id-keyed repartition
    * spreads the md5-heavy shingle kernel off a narrow scan (the
    * [[Spread]] rationale) and pre-positions the frame for the id-keyed
    * joins every consumer runs.
    */
  def shingleArrs(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame = {
    val spread = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs.repartition(spread, col(idCol))
      .select(col(idCol).as("doc_id"),
        graft.plans.WordShingleHashes(
          coalesce(split(col(textCol), " "), array(lit(""))), shingleN)
          .as("arr"))
      .filter(size(col("arr")) > 0)
  }

  def setSimilarityJoin(docs: DataFrame, idCol: String, textCol: String,
                        tNum: Int, tDen: Int,
                        shingleN: Int = 2): DataFrame =
    // the persisted array frame feeds the element explode AND both
    // verify sides. Registered with CacheScope; callers release after
    // materializing.
    setSimilarityJoinOnArrs(graft.CacheScope.track(
      shingleArrs(docs, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
      tNum, tDen)

  /** [[setSimilarityJoin]] over a prebuilt PERSISTED (doc_id, arr)
    * distinct shingle-hash frame ([[shingleArrs]]) — the composition
    * seam for pipelines that feed several consumers from one array
    * frame (q190 shares it with [[verifyPairsJaccardOnArrs]]). The
    * caller owns the persist: this plan consumes `arrs` from the
    * element explode and both verify sides, so an unpersisted input
    * recomputes its subtree three times.
    */
  def setSimilarityJoinOnArrs(arrs: DataFrame,
                              tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      "setSimilarityJoin: threshold must be a rational in (0, 1]")
    val el = arrs.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("e"))
    val dfreq = el.groupBy("e").agg(count(lit(1)).as("df"))
    // rarest-first prefix per doc: sort (df, e) structs in-array, slice
    // the first n - ceil(t*n) + 1 = n - (n*tNum + tDen - 1) div tDen + 1.
    // (Any consistent global element order keeps the filter lossless; the
    // hash order replaces the string order.) Persisted: the candidate
    // self-join consumes it on BOTH sides, and an unpersisted plan
    // re-runs the df join + per-doc sort twice.
    val pref = graft.CacheScope.track(el.join(dfreq, "e")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("e"))))
        .as("elems"), min(col("n")).as("n"))
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("elems"), lit(1),
          (col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
            .cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"),
        col("col.e").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // circuit breaker: the candidate equi-join on e emits at most
    // sum_e C(k_e, 2) rows (k_e = prefixes containing e) BEFORE its
    // integer filters — price that bound from the persisted prefix frame
    // (one aggregate, reused by the join via the cache) and refuse to
    // launch a join the prefix filter failed to collapse.
    val simCap = exactJoinCandidateCap(arrs.sparkSession)
    if (simCap > 0) {
      val est = pref.groupBy("e").agg(count(lit(1)).as("k"))
        .agg(coalesce(sum(expr("k * (k - 1) div 2")), lit(0L)))
        .head().getLong(0)
      checkCandidateBudget("setSimilarityJoin", est, simCap)
    }
    val candA = pref.select(col("doc_id").as("id_a"), col("n").as("na"),
      col("p").as("pa"), col("e"))
    val candB = pref.select(col("doc_id").as("id_b"), col("n").as("nb"),
      col("p").as("pb"), col("e"))
    // two candidate filters beyond the equi-join, both pure integers:
    //  - length (All-Pairs): J >= t forces t*nb <= na <= nb/t;
    //  - positional (PPJoin): matching at 1-based prefix positions
    //    (pa, pb) caps the overlap at 1 + min(na-pa, nb-pb), which must
    //    reach minOverlap = ceil(tNum*(na+nb)/(tNum+tDen)) (from
    //    c*tDen >= tNum*(na+nb-c)). Lossless: a qualifying pair's FIRST
    //    shared element in the global order sits inside both prefixes
    //    and sees every common element at-or-after it, so that
    //    occurrence always passes; occurrence-wise OR + distinct can
    //    only admit more.
    val cand = candA.join(candB, "e")
      .filter(col("id_a") < col("id_b") &&
        col("na") * tDen >= lit(tNum) * col("nb") &&
        col("nb") * tDen >= lit(tNum) * col("na") &&
        lit(1) + least(col("na") - col("pa"), col("nb") - col("pb")) >=
          expr(s"($tNum * (na + nb) + ${tNum + tDen - 1}) div ${tNum + tDen}"))
      .select("id_a", "id_b", "na", "nb")
      .distinct()
    // verify candidates against the full element sets as per-doc ARRAYS:
    // two hash joins + an in-row array_intersect, instead of re-exploding
    // every candidate by its elements through a shuffle join and
    // re-aggregating (measured 2x at sf0.1 — the expansion join moved
    // |cand| * avg-set-size rows). The arrays come straight off the
    // cached scan — no collect_list re-aggregation.
    cand
      .join(arrs.select(col("doc_id").as("id_a"), col("arr").as("ea")),
        "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("arr").as("eb")),
        "id_b")
      .withColumn("c", size(array_intersect(col("ea"), col("eb")))
        .cast("long"))
      .filter(col("c") * tDen >= lit(tNum) * (col("na") + col("nb") - col("c")))
      .select(col("id_a"), col("id_b"),
        round(col("c").cast("double") /
          (col("na") + col("nb") - col("c")), 6).as("jaccard"))
  }

  /** Near-dup keep/drop over 64-bit Hamming hashes (perceptual image
    * hashes, SimHash digests): an item is kept iff no smaller-id item
    * lies within Hamming distance `maxDist` of it — the smallest-id-wins
    * representative rule (q56/q154).
    *
    * EXACT, in two skew-proof stages:
    *  1. identical hashes collapse by ONE hash aggregate (min id + count
    *     per hash) — every non-minimum member has a distance-0 smaller
    *     dup, so only group minima ever need pair evidence, and because
    *     all members share the hash, the smallest POSSIBLE dominator of
    *     a group minimum is another group's minimum. The q31 synthetic
    *     corpus has identical-hash groups of 400+ — banding raw items
    *     would put c² pairs in one bucket; banding DISTINCT hashes
    *     bounds every bucket by distinct-hash cardinality.
    *  2. the distinct representatives pair by 4×16-bit band equality
    *     (pigeonhole: ≤ 3 differing bits leave ≥ 1 of 4 bands intact, so
    *     recall is guaranteed for maxDist ≤ 3), verified by the exact
    *     popcount bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b).
    *
    * Output: (id, hash_hi, hash_lo, kept). One hash-keyed aggregate
    * (persisted — it serves both band sides and the final re-join), a
    * band-bucket equi-join over representatives, one broadcast-scale
    * dominated set.
    */
  def hammingNearDupKept(hashes: DataFrame, idCol: String,
                         hiCol: String, loCol: String,
                         maxDist: Int = 3): DataFrame = {
    require(maxDist >= 1 && maxDist <= 3,
      s"4 bands of 16 bits guarantee recall only for maxDist in [1, 3]: $maxDist")
    val h = hashes.select(col(idCol).cast("long").as("id"),
      col(hiCol).cast("long").as("hi"), col(loCol).cast("long").as("lo"))
    val groups = graft.CacheScope.track(
      h.groupBy("hi", "lo").agg(min("id").as("rep")).persist())
    def banded(tag: String) = (0 until 4).map { j =>
      val src = if (j < 2) col("lo") else col("hi")
      groups.select(col("rep").as(s"rep_$tag"), col("hi").as(s"hi_$tag"),
        col("lo").as(s"lo_$tag"), lit(j).as("bj"),
        shiftright(src, 16 * (j % 2)).bitwiseAND(lit(0xFFFFL)).as("bv"))
    }.reduce(_ unionAll _)
    val dist = bit_count(col("hi_a").bitwiseXOR(col("hi_b"))).cast("long") +
      bit_count(col("lo_a").bitwiseXOR(col("lo_b"))).cast("long")
    val dominated = banded("a").join(banded("b"), Seq("bj", "bv"))
      .filter(col("rep_a") < col("rep_b") && dist <= maxDist)
      .select(col("rep_b").as("rep")).distinct()
    h.join(groups, Seq("hi", "lo"))
      .join(dominated.withColumn("dom", lit(true)), Seq("rep"), "left")
      .select(col("id").as(idCol),
        col("hi").as("hash_hi"), col("lo").as("hash_lo"),
        (col("id") === col("rep") && col("dom").isNull).as("kept"))
  }

  /** Content-defined chunking (the Rabin/FastCDC family): chunk
    * boundaries are placed where a rolling hash of the trailing
    * `window` characters hits 0 mod `modulus` — so an insertion early
    * in a document only perturbs the chunks it touches, and every
    * repeated passage re-aligns to the SAME chunk fingerprints (the
    * property fixed-width chunking — [[intraDocChunkDedup]]'s grid —
    * cannot give across shifted copies).
    *
    * The rolling hash is the plain polynomial
    * `Σ c(pos−j)·31^j, j = 0..window−1` over character codes — exact
    * integer arithmetic, identical in SQL. Boundary at
    * `hash mod modulus = 0` (positions ≥ window), and the document end
    * always closes the final chunk.
    *
    * Output: (idCol, chunk_idx 1-based, chunk_len, fp = md5(chunk),
    * shared = fp appears in more than one document). Chunk TEXT never
    * leaves the substring stage — only 16-byte fingerprints cross the
    * dedup shuffle.
    *
    * Scale shape: the char explode is byte-linear (the q120/q161
    * budget); boundary detection is one lag window per doc (one doc
    * exchange), chunk extraction joins the boundary intervals back to
    * the doc text (same doc key — exchange reused), and the shared
    * flag is one fp-keyed aggregate joined back. Empty docs yield no
    * chunks.
    */
  def contentDefinedChunks(docs: DataFrame, idCol: String, textCol: String,
                           window: Int = 4, modulus: Int = 32): DataFrame = {
    require(window >= 2 && window <= 8,
      s"window must be in [2,8], got $window")
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    val base = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .filter(length(col("t")) > 0)
    // boundary positions per document in ONE compiled pass
    // ([[graft.plans.CdcBoundaries]] — value-identical to the earlier
    // explode(1..len) + ascii + window-deep lag chain): the relational
    // form shuffled one row PER CHARACTER through an id exchange and a
    // per-character window whose only product was this array. Chunk
    // derivation is now in-row: previous boundary = bs[i-1], no join
    // back to the text, no exchange until the shared-flag window.
    val chunks = base
      .withColumn("bs",
        graft.plans.CdcBoundaries(col("t"), window, modulus))
      .select(col("id"), col("t"), col("bs"),
        posexplode(col("bs")).as(Seq("i", "pos")))
      .withColumn("start",
        when(col("i") === 0, lit(0L))
          .otherwise(element_at(col("bs"), col("i"))) + 1)
      .select(col("id"), (col("i") + 1).cast("long").as("chunk_idx"),
        (col("pos") - col("start") + 1).cast("long").as("chunk_len"),
        md5(col("t").substr(col("start").cast("int"),
          (col("pos") - col("start") + 1).cast("int"))).as("fp"))
    // shared = "appears in >= 2 distinct docs" as a window over one
    // fp exchange (max(id) != min(id) — distinct aggregates are not
    // window-legal, extrema are): the count_distinct+join-back form
    // re-ran the whole char-explode + rolling-hash subtree on the
    // join's probe side
    val wFp = Window.partitionBy("fp")
    chunks
      .withColumn("shared",
        max(col("id")).over(wFp) =!= min(col("id")).over(wFp))
      .select(col("id").as(idCol), col("chunk_idx"), col("chunk_len"),
        col("fp"), col("shared"))
  }

  /** Duplicate-cluster profile — the curation report behind a dedup
    * decision: how much of the corpus sits in exact-duplicate clusters
    * of each size (the long tail of 2x copies vs a handful of
    * boilerplate monsters need different treatments). Grouping key is
    * the 16-byte md5 of the q71 normalization (lowercase, alnum+space,
    * collapsed whitespace), so the profile counts NEAR-VERBATIM copies.
    *
    * Output: one row per observed cluster size with the number of
    * clusters, docs covered, and the exact share in basis points
    * (`docs_bps = n_docs·10000 div corpus_total`). Two nested hash
    * aggregates (doc-count per key, then key-count per size — the
    * second input is cluster-sized, tiny) + the corpus total broadcast
    * as one row (J5 pattern).
    */
  def dupClusterProfile(docs: DataFrame, idCol: String, textCol: String)
  : DataFrame = {
    val norm = normalizeText(col(textCol))
    val clusters = docs
      .select(md5(norm.cast("binary")).as("norm_key"))
      .groupBy("norm_key")
      .agg(count(lit(1)).as("cluster_size"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    clusters.groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .crossJoin(broadcast(total))
      .withColumn("docs_bps", expr("n_docs * 10000 div n_total"))
  }

  /** Exact set-CONTAINMENT join: ordered pairs (id_a, id_b) where at
    * least `tNum/tDen` of doc a's shingle set also appears in doc b —
    * the asymmetric complement of [[setSimilarityJoin]]'s Jaccard: a
    * short quote embedded in a long page has tiny Jaccard but
    * containment ~1, which is exactly the excerpt/quotation structure a
    * dedup pass must see.
    *
    * Candidate generation is the SSJoin containment variant of the
    * prefix filter: only the PROBE side (a) prefixes — its rarest-first
    * prefix has length na − ceil(t·na) + 1, and any qualifying pair
    * shares an element inside it (pigeonhole: the suffix holds only
    * ceil(t·na) − 1 elements, fewer than the required overlap) — while
    * the index side (b) exposes all elements (containment admits no
    * index-side prefix: b's extra elements are free). The length filter
    * is the one containment supports: nb·tDen ≥ tNum·na. Verification
    * is the q126 per-doc-array intersect on candidates only. Thresholds
    * cross-multiply in integers; `cont_bps` is one integer division.
    *
    * Scale shape: one persisted element frame feeds sizes, dfs, the
    * prefix, and both verify arrays; the candidate join fans out by
    * prefix-element document frequency — a HIGH threshold keeps probe
    * prefixes short, and rare-first ordering puts the rarest elements
    * in them (the PPJoin insight, unchanged under asymmetry).
    */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      tNum: Int, tDen: Int,
                      shingleN: Int = 3): DataFrame = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      "containmentJoin: threshold must be a rational in (0, 1]")
    // same hashed-shingle-array scan as setSimilarityJoin
    // ([[shingleArrs]]): distinct 64-bit shingle hashes per doc in one
    // compiled pass, longs on every exchange, arrays reused by the
    // verify sides (q23/q47/q56/q69 discipline; any consistent global
    // element order keeps the prefix filter lossless)
    val arrs = graft.CacheScope.track(
      shingleArrs(docs, idCol, textCol, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val el = arrs.select(col("doc_id"),
      size(col("arr")).cast("long").as("n"), explode(col("arr")).as("e"))
    val dfreq = el.groupBy("e").agg(count(lit(1)).as("df"))
    // persisted: consumed by the breaker's pricing aggregate AND the
    // candidate join — unpersisted, the df join + per-doc sort runs twice.
    val pref = graft.CacheScope.track(el.join(dfreq, "e")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("e"))))
        .as("elems"), min(col("n")).as("n"))
      .select(col("doc_id").as("id_a"), col("n").as("na"),
        explode(slice(col("elems"), lit(1),
          (col("n") - expr(s"(n * $tNum + ${tDen - 1}) div $tDen") + 1)
            .cast("int"))).as("s"))
      .select(col("id_a"), col("na"), col("s.e").as("e"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // circuit breaker (asymmetric form): probe prefixes join the FULL
    // index side, so the pre-filter bound is sum_e kp_e * df_e — kp from
    // the persisted prefix frame, df already aggregated in dfreq.
    val contCap = exactJoinCandidateCap(arrs.sparkSession)
    if (contCap > 0) {
      val est = pref.groupBy("e").agg(count(lit(1)).as("kp"))
        .join(dfreq, "e")
        .agg(coalesce(sum(col("kp") * col("df")), lit(0L)))
        .head().getLong(0)
      checkCandidateBudget("containmentJoin", est, contCap)
    }
    val full = el
      .select(col("doc_id").as("id_b"), col("n").as("nb"), col("e"))
    val cand = pref.join(full, "e")
      .filter(col("id_a") =!= col("id_b") &&
        col("nb") * tDen >= lit(tNum) * col("na"))
      .select("id_a", "id_b", "na", "nb")
      .distinct()
    cand
      .join(arrs.select(col("doc_id").as("id_a"), col("arr").as("ea")),
        "id_a")
      .join(arrs.select(col("doc_id").as("id_b"), col("arr").as("eb")),
        "id_b")
      .withColumn("c", size(array_intersect(col("ea"), col("eb")))
        .cast("long"))
      .filter(col("c") * tDen >= lit(tNum) * col("na"))
      .select(col("id_a"), col("id_b"), col("na"), col("nb"), col("c"),
        expr("c * 10000 div na").as("cont_bps"))
  }

  /** Idempotency-window event dedup — the webhook/at-least-once ingest
    * suppressor: a row is a duplicate iff the PREVIOUS same-key arrival
    * (under the (ts, id) total order) lies within `windowSec`. The
    * adjacent-arrival rule is deliberate: a burst of n retries spaced
    * inside the window collapses to its first row (each retry is
    * adjacent to the previous one), while a legitimate re-occurrence
    * after a quiet gap survives — and unlike a chained-closure rule the
    * decision is a single lag comparison, exact and windowable.
    *
    * One key exchange serves the lag window; no state beyond it. The
    * streaming twin is q90's dropDuplicates-within-watermark; this is
    * the batch backfill form.
    */
  def eventDedupWindow(df: DataFrame, keys: Seq[String], tsCol: String,
                       idCol: String, windowSec: Long): DataFrame = {
    require(windowSec >= 0, "eventDedupWindow: windowSec must be >= 0")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    df.withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("is_dup",
        col("__prev").isNotNull &&
          col(tsCol) - col("__prev") <= windowSec)
      .drop("__prev")
  }

  /** Pair-set evaluation — precision/recall of a CANDIDATE pair set
    * (e.g. [[minhashCandidates]]) against an exact ground truth (e.g.
    * [[setSimilarityJoin]]), the measure-don't-guess gate for choosing
    * a dedup tier: LSH banding trades recall for cost, and this is the
    * operator that prices the trade on the actual corpus.
    *
    * Both inputs are (id_a, id_b) with id_a < id_b. One full-outer join
    * on the pair key + one global aggregate; precision/recall are exact
    * integer basis points (null when the denominator is empty — no
    * division by zero in either engine).
    */
  def pairSetEval(pred: DataFrame, truth: DataFrame): DataFrame = {
    val p = pred.select(col("id_a"), col("id_b"), lit(1).as("__p"))
    val t = truth.select(col("id_a"), col("id_b"), lit(1).as("__t"))
    p.join(t, Seq("id_a", "id_b"), "full_outer")
      .agg(
        sum(when(col("__p").isNotNull && col("__t").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__p").isNotNull && col("__t").isNull, 1L)
          .otherwise(0L)).as("fpos"),
        sum(when(col("__p").isNull && col("__t").isNotNull, 1L)
          .otherwise(0L)).as("fneg"))
      .select(col("tp"), col("fpos"), col("fneg"),
        when(col("tp") + col("fpos") > 0,
          expr("tp * 10000 div (tp + fpos)")).as("precision_bps"),
        when(col("tp") + col("fneg") > 0,
          expr("tp * 10000 div (tp + fneg)")).as("recall_bps"))
  }

  /** URL-level dedup — the cheapest dedup tier in a crawl pipeline, run
    * BEFORE any content loads: canonicalize each row's URL
    * ([[graft.functions.TextFunctions.canonicalizeUrl]] — scheme/host
    * case, default ports, fragments, trailing slashes, tracking params)
    * and keep the smallest id per canonical form (the [[exact]]
    * smallest-id-wins contract, row-level output like q56).
    *
    * Returns every input row with (canonical_url, n_urls, keep) — `keep`
    * marks the canonical group's minimum id. ONE exchange on the 16-byte
    * md5 of the canonical form (the q15 discipline: the URL string itself
    * is not the shuffle key), with both group facts (count, min id) as
    * window aggregates over it — the earlier aggregate+join-back form
    * ran the canonicalizer subtree twice (once under the aggregate, once
    * on the probe side) and paid a second exchange for the join.
    */
  def urlDedup(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy("__ck")
    df.withColumn("canonical_url",
        TextFunctions.canonicalizeUrl(col(urlCol)))
      .withColumn("__ck", md5(col("canonical_url").cast("binary")))
      .withColumn("n_urls", count(lit(1)).over(w))
      .withColumn("keep", col(idCol) === min(col(idCol)).over(w))
      .drop("__ck")
  }

  /** Exact substring deduplication at token granularity L — the
    * "deduplicating training data" span remover (Lee et al. 2022's
    * ExactSubstr, re-expressed relationally instead of via a suffix
    * array): every L-token window that occurs MORE THAN ONCE in the
    * corpus is removed from every occurrence except the globally first
    * (min (id, position)), and a document's surviving tokens are
    * rejoined in order. Catches the partial overlaps exact doc-dedup
    * (q15) misses and the spans MinHash (q29) only scores: boilerplate
    * headers, quoted passages, copy-pasted paragraphs.
    *
    * Relational decomposition — no suffix array, no driver state:
    *  1. one explode to (id, p, md5(L-gram)) — the 16-byte key shuffles,
    *     the gram TEXT never does (q15 discipline);
    *  2. first occurrence per gram = min struct(id, p), one aggregate;
    *  3. duplicate occurrences explode to their covered positions —
    *     DISTINCT position coverage replaces interval merging;
    *  4. anti-join the token table, per-doc ordered rebuild (the
    *     collect is document-bounded, q85's intra-doc bound).
    *
    * Removal is deterministic (global (id, p) order) and
    * self-consistent: a document that is itself the first occurrence
    * keeps its text; an exact copy loses every covered token; a
    * near-copy keeps exactly the tokens whose every covering window is
    * unique (its edits).
    */
  def exactSubstringDedup(docs: DataFrame, idCol: String, textCol: String,
                          l: Int): DataFrame = {
    require(l >= 2 && l <= 64, s"window length must be in [2,64], got $l")
    // arr is read by the gram pass and the rebuild: persist the
    // tokenized form once (CacheScope contract)
    val toks = graft.CacheScope.track(
      docs.select(col(idCol).as("id"), split(col(textCol), " ").as("arr"))
        .persist())
    val grams = toks
      .filter(size(col("arr")) >= l)
      .select(col("id"),
        explode(sequence(lit(0), size(col("arr")) - l)).as("p"),
        col("arr"))
      .select(col("id"), col("p"),
        md5(array_join(slice(col("arr"), col("p") + 1, lit(l)), " ")
          .cast("binary")).as("g"))
    // first-occurrence and multiplicity as WINDOW aggregates over one
    // g-keyed exchange: the groupBy+join-back form re-ran the whole
    // gram explode+md5 pass on the join's probe side (non-cached
    // subtrees are not shared across a self-join)
    val wG = Window.partitionBy("g")
    val dups = grams
      .withColumn("f", min(struct(col("id"), col("p"))).over(wG))
      .withColumn("c", count(lit(1)).over(wG))
      .filter(col("c") >= 2 &&
        !(col("id") === col("f.id") && col("p") === col("f.p")))
    val removed = dups
      .select(col("id"), explode(sequence(col("p"), col("p") + (l - 1)))
        .as("tp"))
      .distinct()
    val tok2 = toks.select(col("id"),
      posexplode(col("arr")).as(Seq("tp", "tok")))
    val rebuilt = tok2.join(removed, Seq("id", "tp"), "left_anti")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("tp"), col("tok"))))
        .as("a"), count(lit(1)).as("n_kept"))
      .select(col("id"),
        array_join(expr("transform(a, x -> x.tok)"), " ").as("ct"),
        col("n_kept"))
    docs.select(col(idCol).as("id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("ct"), lit("")).as("clean_text"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"))
  }
}
