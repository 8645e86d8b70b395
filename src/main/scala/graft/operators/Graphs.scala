package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the grouping stage
  * of near-duplicate deduplication: MinHash-LSH / Jaccard emit candidate
  * PAIRS, while a dedup keep-policy needs GROUPS ("keep the min-id doc of
  * every near-dup component"). Beyond-reference operator, first-class per
  * the build brief.
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round a node takes the min of its label and its
  * neighbors' labels; at fixpoint every node holds the minimum id reachable
  * from it — a canonical, deterministic component id independent of
  * iteration order and partitioning. Rounds needed = graph diameter.
  * Near-dup graphs are star/clique shaped (every member overlaps the same
  * boilerplate), so 2-4 rounds in practice; if diameters grow (chained
  * similarity), the alternating large-star/small-star algorithm (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  * converges in O(log n) rounds and is the drop-in upgrade.
  *
  * Scale shape: each round is one shuffle (labels-to-edges hash join +
  * min aggregate on dst) over O(E) rows — no driver-side graph state or
  * collect above the conf-bounded small-graph fast path
  * (`spark.graft.ccSmallGraphEdges`, see [[smallGraphMaxEdges]]).
  * Each round's labels are EAGERLY materialized with lineage
  * truncated (localCheckpoint): the label frame is referenced twice per
  * round (neighbor join + fallback coalesce), so an un-truncated plan
  * doubles every iteration — by ~9 rounds the plan string alone OOMs the
  * driver. Truncation keeps the per-round plan constant-size, which is
  * the difference between O(diameter) and O(2^diameter) planning work.
  *
  * Checkpoint mode: local checkpoints live in executor block storage — an
  * executor loss mid-loop invalidates them and fails the job. Fine for a
  * single-JVM run; on a real cluster set
  * `spark.graft.reliableCheckpoint=true` (set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` with it —
  * reliable checkpoint FILES are not reclaimed by default, and an
  * iterative run writes one edge-set copy per round; plus
  * `sparkContext.setCheckpointDir`) and every truncation point writes a
  * reliable checkpoint instead, surviving executor loss. Same plan shape
  * either way — the flag only changes where the materialized blocks live.
  */
object Graphs {

  /** Conf-driven truncation: reliable `checkpoint()` when
    * `spark.graft.reliableCheckpoint=true`, else `localCheckpoint()`.
    * A conf flag rather than a parameter so the choice composes through
    * callers (dedupKeep, SparkEntry queries) without threading a flag
    * down every signature.
    */
  private def reliableMode(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption("spark.graft.reliableCheckpoint")
      .exists(_.equalsIgnoreCase("true"))

  private def truncate(df: DataFrame): DataFrame =
    if (reliableMode(df.sparkSession)) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Stats-resetting truncate for MANY-round loops whose per-round plan
    * references the previous frame more than once. `localCheckpoint`
    * preserves the origin plan's ESTIMATED statistics in the new
    * LogicalRDD, and size estimation multiplies join children — so a
    * double self-reference SQUARES the estimate every round. The bit
    * length of the cached sizeInBytes BigInteger then doubles per round:
    * by round ~20 it has millions of bits and every subsequent stats
    * call multiplies quarter-gigabyte integers on ONE driver core
    * (observed on the x10 k-core peel: >10 min pinned inside
    * BigInteger.multiplyToomCook3 before any data work). Rebuilding the
    * frame over the checkpointed RDD through the public Row API resets
    * the estimate to the session default — constant-size stats per
    * round. The Row round-trip costs a decode/re-encode per downstream
    * scan, fine for the |V|-bounded loop frames this guards; frames
    * referenced once per round grow linearly and keep the cheap
    * [[truncate]].
    */
  private def truncateFresh(df: DataFrame): DataFrame = {
    val ck = truncate(df)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** Materialize `df` with lineage truncated in ONE job and, in the same
    * pass, tally the rows satisfying `pred` via accumulator — the
    * one-job-per-round discipline [[connectedComponents]] established,
    * shared by every iterative loop here. The loops were measured
    * job-LATENCY-bound, not data-bound (q122 ran 49 driver-synchronized
    * jobs for 102 tasks; ~40% of its wall sat between jobs in
    * planning/scheduling), so every count()/limit(1)-probe job a round
    * can avoid is direct wall clock. Task retries can only inflate a
    * non-zero tally, never make a true non-zero read as zero, so
    * loop-termination tests on the tally are safe; consumers that need
    * an exact count at a decision point (fixpoint equality) re-verify
    * with an exact set operation there.
    */
  private def truncateTallied(df: DataFrame, accName: String)(
      pred: org.apache.spark.sql.catalyst.InternalRow => Boolean)
  : (DataFrame, Long) = {
    val spark = df.sparkSession
    val acc = spark.sparkContext.longAccumulator(accName)
    val schema = df.schema
    val rdd = df.queryExecution.toRdd.mapPartitions { it =>
      // UnsafeRow buffers are reused by the scan — copy before caching
      it.map { row => if (pred(row)) acc.add(1L); row.copy() }
    }
    if (reliableMode(spark)) {
      // reliable RDD checkpoint re-reads the data to write it out;
      // persist first so that pass reads cached blocks, not the lineage
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    rdd.count()
    (org.apache.spark.sql.GraftBridge.internalDataFrame(spark, rdd, schema),
      acc.value)
  }

  /** Run `body` (an iterative loop) with the AQE coalescing floor
    * restored to Spark's default (session value restored after). The
    * harness sessions pin a 128k floor to keep CPU-dense tiny shuffles
    * parallel (Bench.scala), but a graph loop's
    * per-round shuffles are latency-bound joins/aggregates over
    * (id, label) longs — extra width only adds task scheduling to every
    * round (measured r14: q69 3.66→3.26 s, q122/q129 −9% with the
    * default floor; tasks halved at identical results). Byte-driven AQE
    * coalescing is the scale-adaptive width: at production sizes
    * partitions stay wide (bytes/parallelism ≫ 1m), at gate sizes
    * rounds collapse to 1-2 tasks.
    */
  private def withLoopCoalesce[T](
      spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Node bound under which a graph loop hints its |V|-sized frames
    * broadcast (pageRank's ranks, kCore's alive set, the hop loops'
    * distance and frontier frames): 2^20 ids is 8 MB of longs. See
    * [[pageRank]] for why checkpointed frames need the hint.
    */
  private val BroadcastNodes = 1L << 20

  /** Edge-count bound for the driver union-find fast path (0 disables).
    * The iterative loop pays one driver-synchronized job per round
    * regardless of data size, so a thousand-edge POI cell graph costs the
    * same wall clock as a billion-edge one — seconds of pure round
    * latency. At or under this many (deduped, undirected) edges the
    * component labels are computed in one bounded collect instead:
    * 2^18 edges ≈ 6 MB of long pairs, comparable to a broadcast-join
    * build side. Above the bound nothing changes — the distributed loop
    * is the contract, the fast path is an optimization for graphs that
    * contracted far below their source table (grid cells, near-dup
    * candidates after capping).
    */
  private def smallGraphMaxEdges(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.ccSmallGraphEdges")
      .map(_.toLong).getOrElse(1L << 18)

  /** Union-find (path compression, min-root linking: the surviving root
    * of every merge is the smaller id, so each final root IS the
    * component minimum — identical labels to min-label propagation) over
    * a collected edge list. Emits one (id, component) row per id in
    * `ids`; an id no confined edge reached labels itself (find of an
    * unseen node is the node), exactly the loop's cached-init semantics.
    */
  private def driverComponents(ids: Array[Long], pairs: Array[(Long, Long)],
                               spark: org.apache.spark.sql.SparkSession)
  : DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var r = x0
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x0
      while (parent.getOrElse(c, c) != r) {
        val n = parent(c); parent(c) = r; c = n
      }
      r
    }
    pairs.foreach { case (s, d) =>
      val a = find(s); val b = find(d)
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](ids.length)
    ids.foreach { id => rows.add(org.apache.spark.sql.Row(id, find(id))) }
    spark.createDataFrame(rows, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("component",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Connected components of the graph given by `edges` (undirected; each
    * pair listed once in either direction) over the node universe `nodes`
    * (isolated nodes keep their own id as component).
    *
    * Returns (id, component) with component = min node id in the
    * component. Ids must be long-typed (or castable losslessly).
    *
    * The returned frame reads the final round's local checkpoint; its
    * blocks are freed by the ContextCleaner once the frame is
    * unreferenced (no explicit cache-lifecycle contract needed).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          nodes: DataFrame, nodeCol: String,
                          maxIter: Int = 25): DataFrame = {
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    // Symmetrize once: min must flow both ways along every edge. MUST be
    // materialized: the loop joins against `sym` every round, and an
    // un-checkpointed edge plan re-runs the whole upstream pair
    // computation (e.g. a jaccard nested-loop join) TWICE per iteration —
    // measured minutes instead of seconds on the near-dup graph at sf0.1.
    // Symmetrized by 2-row explode, NOT (fwd ∪ swapped): the union form
    // scans the edge subtree twice inside the materializing stage, and
    // when `edges` is an expensive just-persisted frame whose cache this
    // stage populates (q137: the exact-verify join), the two branches
    // RACE the unpopulated cache and compute it twice concurrently. One
    // scan, both orientations per row; downstream is aggregate/join
    // only, so row order is immaterial.
    val sym = truncate(edges
      .select(explode(array(
        struct(src.as("src"), dst.as("dst")),
        struct(dst.as("src"), src.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val all = nodes.select(col(nodeCol).cast("long").as("id")).distinct()
    val spark = edges.sparkSession
    // Small-graph fast path: the count over the just-checkpointed sym is
    // one cheap job; under the bound, collect the universe-confined edge
    // set (both endpoints in `nodes` — edges through out-of-universe
    // nodes don't propagate in the loop either) and union-find on the
    // driver. Labels are identical (min id per component) by
    // construction; only the round latency disappears.
    val bound = smallGraphMaxEdges(spark)
    if (bound > 0 && sym.count() <= 2L * bound) {
      import spark.implicits._
      // Confine to the node universe DRIVER-side: the touched-node set is
      // bounded by 2x the edge bound, and collecting it evaluates `all`
      // and the touched-id distinct exactly once each — a relational
      // semi-join per endpoint would instead re-run the (possibly
      // expensive) nodes subtree once per join (measured: q84's cell
      // frame derives from the whole stop-median pipeline, and two extra
      // evaluations cost more than the loop rounds the fast path
      // removes).
      val universeIds = all
        .join(sym.select(col("src").as("id")).distinct(), Seq("id"),
          "left_semi")
        .as[Long].collect()
      val universe = new java.util.HashSet[java.lang.Long]()
      universeIds.foreach(universe.add(_))
      val confined = sym
        .filter(col("src") < col("dst"))
        .select("src", "dst")
        .as[(Long, Long)].collect()
        .filter { case (s, d) => universe.contains(s) && universe.contains(d) }
      // one row per touched universe node — nodes only reached by
      // out-of-universe or self-loop edges label themselves, the loop's
      // cached-init semantics
      val labels = driverComponents(universeIds, confined, spark)
      val isolatedFast = all
        .join(labels.select("id"), Seq("id"), "left_anti")
        .withColumn("component", col("id"))
      return labels.union(isolatedFast)
    }
    // Iterate ONLY over edge-touched nodes: isolated nodes (in a dedup
    // graph, most of the corpus) can never change label, so carrying
    // them through every round's join + checkpoint just multiplies the
    // per-round cost; they rejoin with component = id at the end.
    var cached = truncate(all
      .join(sym.select(col("src").as("id")).distinct(), Seq("id"),
        "left_semi")
      .withColumn("component", col("id")))
    var changed = 1L
    var iter = 0
    // loop-scoped AQE floor (see [[withLoopCoalesce]]) + ONE job per
    // round: materialize the round with lineage truncated (an
    // un-truncated plan doubles per round — see scaladoc) AND tally the
    // convergence count in the same pass via accumulator
    // ([[truncateTallied]]), instead of a second count() job over the
    // checkpoint. Halving the driver-synchronized jobs matters because
    // the loop is latency-bound on job turnaround, not data volume (a
    // steal burst once stretched q47 from 7 s to 129 s on
    // job-scheduling stalls alone).
    withLoopCoalesce(spark) {
      while (changed > 0 && iter < maxIter) {
        val neigh = sym.join(cached.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(min("component").as("neigh_min"))
        // Every member node has >= 1 neighbor, so the join is inner (the
        // left + coalesce fallback was only for isolated nodes).
        val round = cached.join(neigh, Seq("id"))
          .select(col("id"),
            least(col("component"), col("neigh_min")).as("component"),
            (col("neigh_min") < col("component")).as("__chg"))
        val (frame, tally) =
          truncateTallied(round, s"cc_changed_$iter")(_.getBoolean(2))
        changed = tally
        // old rounds' blocks are freed by the ContextCleaner
        cached = frame.select("id", "component")
        iter += 1
      }
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "graph diameter exceeds the bound; raise maxIter or switch to " +
          "large-star/small-star")
    val isolated = all
      .join(cached.select("id"), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    cached.select("id", "component").union(isolated)
  }

  /** Dedup keep-policy over a component assignment: one keeper per
    * component (the canonical min id IS the component label), plus the
    * component size for audit.
    */
  def componentKeepers(components: DataFrame): DataFrame =
    components.groupBy(col("component").as("keep_id"))
      .agg(count(lit(1)).as("group_size"))

  /** PageRank over the undirected graph given by `edges` (each pair listed
    * once in either direction; self-loops dropped), fixed-iteration power
    * method with damping. Returns (id, rank) over the edge-touched node
    * universe; ranks sum to 1 across it.
    *
    * Update rule (symmetrized graph, so every node has out-degree >= 1 and
    * there is no dangling-mass term):
    *   pr'(v) = (1-d)/N + d * sum_{u in N(v)} pr(u)/deg(u)
    *
    * Scale shape: one shuffle per round — the share frame (rank/deg)
    * hash-joins the symmetrized edge list on src, partial-aggregates
    * map-side, and finalizes on dst; N and the degree frame are computed
    * once. Each round's ranks are materialized with lineage truncated
    * (localCheckpoint, or a reliable checkpoint under
    * `spark.graft.reliableCheckpoint` — see the class scaladoc), keeping
    * the per-round plan constant-size exactly like [[connectedComponents]].
    * Fixed iterations (no convergence test) keep the loop at one job per
    * round; 10 rounds bounds the power-method residual by d^10 ≈ 0.20 of
    * the start gap, the usual "ranking has stabilized" budget — callers
    * needing tighter residuals raise `iterations` linearly.
    *
    * Determinism: the result is a pure function of the graph up to IEEE
    * summation order in the per-node contribution sums (~1e-15 relative
    * drift over 10 rounds); consumers comparing across engines should
    * round, as the q109 gate does at 6 decimals.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    // Symmetrize + dedup once and materialize: the loop scans this frame
    // every round, and an un-truncated plan would re-run the upstream
    // edge derivation per iteration (see connectedComponents).
    // Canonicalized undirected edge set, deduped and materialized ONCE —
    // half the rows of the symmetric form; the distributed loop derives
    // the symmetric view from this checkpoint with a cheap union.
    val dedup = truncate(edges
      .select(least(src, dst).as("src"), greatest(src, dst).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    // Driver fast path (the [[connectedComponents]] pattern, own bound:
    // `spark.graft.pageRankSmallGraphEdges`, 0 disables): the iterative
    // loop pays ~10 driver-synchronized jobs of pure round latency
    // regardless of data size, so a graph whose edge list fits driver
    // memory (the contracted co-occurrence graphs this operator targets
    // run 1e5-1e6 edges; 2^20 pairs = 16 MB) computes the identical
    // power method in microseconds instead. Contributions accumulate in
    // sorted-edge order — deterministic, and within the same rounding
    // tolerance of the distributed sum as any other evaluation order
    // (PageRankSpec pins fast = distributed at round-6). Above the bound
    // nothing changes: the distributed loop below is the contract.
    val spark = edges.sparkSession
    val smallBound = spark.conf
      .getOption("spark.graft.pageRankSmallGraphEdges")
      .map(_.toLong).getOrElse(1L << 20)
    if (smallBound > 0 && dedup.count() <= smallBound) {
      import spark.implicits._
      val pairs = dedup.as[(Long, Long)].collect().sortInPlace()
      val ids = {
        val set = new java.util.TreeSet[java.lang.Long]()
        pairs.foreach { case (a, b) => set.add(a); set.add(b) }
        set.toArray(Array.empty[java.lang.Long]).map(_.longValue())
      }
      val idx = new scala.collection.mutable.LongMap[Int](ids.length * 2)
      ids.zipWithIndex.foreach { case (id, i) => idx(id) = i }
      // int index arrays once; the 10-round loop is pure array arithmetic
      val ai = new Array[Int](pairs.length)
      val bi = new Array[Int](pairs.length)
      val degA = new Array[Long](ids.length)
      var e = 0
      while (e < pairs.length) {
        ai(e) = idx(pairs(e)._1); bi(e) = idx(pairs(e)._2)
        degA(ai(e)) += 1L; degA(bi(e)) += 1L
        e += 1
      }
      val nL = ids.length.toLong
      val baseL = (1.0 - damping) / nL
      var rank = Array.fill(ids.length)(1.0 / nL)
      var it = 0
      while (it < iterations) {
        val next = new Array[Double](ids.length)
        e = 0
        while (e < pairs.length) {
          next(bi(e)) += rank(ai(e)) / degA(ai(e))
          next(ai(e)) += rank(bi(e)) / degA(bi(e))
          e += 1
        }
        var i = 0
        while (i < next.length) {
          next(i) = baseL + damping * next(i); i += 1
        }
        rank = next
        it += 1
      }
      return ids.zip(rank).toSeq.toDF("id", "rank")
    }
    val sym = truncate(dedup
      .union(dedup.select(col("dst").as("src"), col("src").as("dst"))))
    val deg = truncate(sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg")))
    val n = deg.count()
    require(n > 0, "pageRank: empty graph")
    val base = (1.0 - damping) / n
    // Checkpointed frames carry no statistics (LogicalRDD defaults to
    // "huge"), so without an explicit hint every per-round join would
    // plan as a sort-merge join that re-shuffles the FULL edge list each
    // iteration — measured 10x the broadcast plan on a 2k-node graph.
    // Under [[BroadcastNodes]], hint the |V|-sized frames broadcast: the
    // round becomes one map-side join over the (cached, pre-partitioned)
    // edge blocks plus a partial-agg shuffle of |V| combined rows. Above
    // the bound (a billion-node graph's rank table does not fit an
    // executor) the shuffle join IS the right plan — same loop, no hint.
    def hint(df: DataFrame): DataFrame =
      if (n <= BroadcastNodes) broadcast(df) else df
    // rank frame carries deg so the per-round share needs no join
    var ranks = deg.withColumn("rank", lit(1.0 / n))
    var iter = 0
    // loop-scoped AQE floor — see [[withLoopCoalesce]]
    withLoopCoalesce(edges.sparkSession) {
      while (iter < iterations) {
        val shares = ranks
          .select(col("id").as("src"), (col("rank") / col("deg")).as("share"))
        val inbound = sym.join(hint(shares), "src")
          .groupBy(col("dst").as("id"))
          .agg(sum("share").as("s"))
        // Symmetric graph => every universe node has >= 1 inbound edge, so
        // the join is inner; the base term alone never occurs.
        val round = inbound.join(hint(deg), Seq("id"))
          .select(col("id"), col("deg"),
            (lit(base) + lit(damping) * col("s")).as("rank"))
        ranks = truncate(round)
        iter += 1
      }
    }
    ranks.select("id", "rank")
  }

  /** Connected components in O(log n) rounds via alternating
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14) — the high-diameter upgrade over
    * [[connectedComponents]]' min-label propagation (O(diameter) rounds).
    * Same contract and result: (id, component = min reachable id) over
    * the `nodes` universe.
    *
    * Each round is two conditional-star operations, each one shuffle
    * (groupBy the hub + re-join); edges contract toward stars around
    * component minima, so a path of length 2^k collapses in ~k rounds
    * where label propagation needs 2^k. Use when the pair graph chains
    * (transitive near-dup similarity) rather than clusters.
    */
  def connectedComponentsLogN(edges: DataFrame, srcCol: String,
                              dstCol: String, nodes: DataFrame,
                              nodeCol: String, maxIter: Int = 30,
                              smallGraphFastPath: Boolean = true)
  : DataFrame = {
    // Conf-bounded driver fast path (see [[connectedComponents]]) with
    // THIS form's contract mirrored exactly: the star rounds do NOT
    // confine to the node universe — min flows through (and is emitted
    // for) every non-min edge endpoint, in-universe or not, while
    // component minima themselves only appear when they are in `nodes`.
    // A parameter (not only the conf) so a caller that exists to
    // EXERCISE the distributed algorithm (the q69 gate) can opt out
    // explicitly.
    var fastPathInit: Option[DataFrame] = None
    if (smallGraphFastPath) {
      val spark = edges.sparkSession
      val src0 = col(srcCol).cast("long")
      val dst0 = col(dstCol).cast("long")
      // truncate BEFORE the count/collect pair: an un-checkpointed edge
      // plan would re-run the (possibly expensive) upstream pair
      // computation twice — the exact trap the loop's own sym handling
      // avoids. The checkpoint is never wasted: when the graph is over
      // the bound it becomes the star loop's initial edge set below
      // (canonical orientation is fine — largeStar symmetrizes).
      val dedupEdges = truncate(edges.select(
        least(src0, dst0).as("src"), greatest(src0, dst0).as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
      val bound = smallGraphMaxEdges(spark)
      if (bound > 0 && dedupEdges.count() <= bound) {
        import spark.implicits._
        val pairs = dedupEdges.as[(Long, Long)].collect()
        val endpoints = new java.util.TreeSet[java.lang.Long]()
        pairs.foreach { case (s, d) => endpoints.add(s); endpoints.add(d) }
        val endpointIds = endpoints.toArray(Array.empty[java.lang.Long])
          .map(_.longValue())
        // driverComponents over every endpoint, then keep only the
        // NON-min rows — the star form's `labeled` never contains a
        // component minimum as a left-hand id
        val labels = driverComponents(endpointIds, pairs, spark)
          .filter(col("id") =!= col("component"))
        val all0 = nodes.select(col(nodeCol).cast("long").as("id")).distinct()
        return labels.union(all0
          .join(labels.select("id"), Seq("id"), "left_anti")
          .withColumn("component", col("id")))
      }
      fastPathInit = Some(
        dedupEdges.select(col("src").as("u"), col("dst").as("v")))
    }
    // large-star: over BOTH orientations, each hub u points its LARGER
    // neighbors at m = min(neighborhood ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        .filter(col("u") =!= col("v"))
      val hubs = sym.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(hubs, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    // small-star: orient each edge (bigger -> smaller); each hub points
    // its (smaller) neighbors AND itself at m = min(neighbors) — the
    // contraction step
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val hubs = oriented.groupBy("u").agg(min(col("v")).as("m"))
      oriented.join(hubs, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(hubs.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    var cur = fastPathInit.getOrElse(
      truncate(edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()))
    var curCount = cur.count()
    var stable = false
    var iter = 0
    // loop-scoped AQE floor (see [[withLoopCoalesce]]); ONE job per
    // round: the materialize tallies its own cardinality via accumulator
    // ([[truncateTallied]] — was a separate count() job, and the loop is
    // job-latency-bound). Fixpoint when the (deduped) edge set stops
    // changing: equal cardinality + one-sided difference empty => set
    // equality. The cardinality is carried across rounds (never
    // recomputed for cur) and the anti-join diff job only runs when the
    // counts agree — on contracting rounds the count drops and the diff
    // is skipped, so the steady cost is one job per round, the diff
    // firing once at convergence. (A task retry can only inflate the
    // tally: a false inequality costs one extra — identical — round,
    // never a wrong result; the diff that PROVES convergence is exact.)
    withLoopCoalesce(edges.sparkSession) {
      while (!stable && iter < maxIter) {
        val (next, nextCount) =
          truncateTallied(smallStar(largeStar(cur)), s"ccLogN_$iter")(
            _ => true)
        stable = nextCount == curCount && next.except(cur).isEmpty
        cur = next
        curCount = nextCount
        iter += 1
      }
    }
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponentsLogN did not converge in $maxIter rounds")
    // converged: every edge points a node at its component min
    val labeled = cur.select(col("u").as("id"), col("v").as("component"))
    val all = nodes.select(col(nodeCol).cast("long").as("id")).distinct()
    val isolated = all.join(labeled.select("id"), Seq("id"), "left_anti")
      .withColumn("component", col("id"))
    labeled.union(isolated)
  }

  /** Per-node triangle counts over the undirected graph given by `edges`
    * (each pair in either direction; self-loops and duplicates dropped).
    * Returns (id, n_triangles) for every node in at least one triangle —
    * the local clustering signal (community cores, link-spam boilerplate,
    * co-purchase cliques).
    *
    * Algorithm: degree orientation (Chiba-Nishizeki / the MapReduce form
    * in Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    * Last Reducer", WWW'11): orient every edge from the
    * lower-(degree, id) endpoint to the higher, so each triangle has
    * EXACTLY one node with two out-edges and is enumerated once — as a
    * wedge at that node joined against the oriented edge closing it.
    * Orientation caps out-degree at O(sqrt(m)), so the wedge fan-out is
    * sum deg_out^2 <= m * sqrt(m) instead of the sum deg^2 blow-up a
    * naive wedge join pays on skewed (power-law) graphs — the "last
    * reducer" hub problem.
    *
    * Scale shape: degree agg (one shuffle), two broadcast-or-shuffle
    * joins to attach (deg, id) order keys, the wedge self-join on the
    * low endpoint (one shuffle of the oriented edge list), and the
    * closing-edge equi-join — every join on plain long keys, no driver
    * state, no iteration.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String)
  : DataFrame = {
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val und = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("id"))
      .union(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // total order: (deg, id) ascending — attach to both endpoints, then
    // orient low -> high
    val withOrd = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val oriented = withOrd.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")),
        struct(col("u").as("lo"), col("v").as("hi"),
          col("du").as("dlo"), col("dv").as("dhi")))
        .otherwise(
          struct(col("v").as("lo"), col("u").as("hi"),
            col("dv").as("dlo"), col("du").as("dhi")))
        .as("e"))
      .select(col("e.lo").as("lo"), col("e.hi").as("hi"),
        col("e.dlo").as("dlo"), col("e.dhi").as("dhi"))
    // wedges at the low node: pick the (b, c) pair ordered by the SAME
    // (deg, id) total order, so the closing edge (b -> c) matches the
    // oriented list directly
    val e1 = oriented.select(col("lo").as("a"), col("hi").as("b"),
      col("dhi").as("db"))
    val e2 = oriented.select(col("lo").as("a"), col("hi").as("c"),
      col("dhi").as("dc"))
    val wedges = e1.join(e2, "a")
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
    val closing = oriented.select(col("lo").as("b"), col("hi").as("c"))
    val tris = wedges.join(closing, Seq("b", "c"), "left_semi")
      .select("a", "b", "c")
    tris
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Common-neighbors link prediction (Liben-Nowell & Kleinberg 2003's
    * strongest simple baseline): for every NON-adjacent pair (u, v)
    * sharing at least `minCommon` neighbors, the shared-neighbor count
    * plus both endpoint degrees — enough for any of the classic scores
    * downstream (common-neighbors = `common`, Jaccard =
    * common/(deg_u + deg_v − common), preferential attachment =
    * deg_u·deg_v) without this operator emitting a float.
    *
    * Shape: wedges are one self-join of the symmetrized adjacency on
    * the center (a < b kills the mirror), counted with a map-side
    * partial aggregate; existing edges leave via an anti-join against
    * the deduped canonical edge list; degrees attach with two key
    * joins. Candidate volume is sum over centers of d_c^2 — the
    * statistic IS the wedge count, so no orientation trick can shrink
    * it (q121's trick works because each triangle needs ONE wedge;
    * here every wedge contributes to its pair's count). At 100 TB the
    * standard mitigations compose upstream: cap super-hub degrees
    * (drop centers above a percentile — their wedges are
    * uninformative "everyone co-occurs with everyone" pairs) or
    * demote to the MinHash neighborhood-similarity estimate (q29's
    * machinery over adjacency sets). minCommon only prunes AFTER the
    * aggregate; it bounds the output, not the shuffle.
    */
  def commonNeighborCandidates(edges: DataFrame, srcCol: String,
                               dstCol: String, minCommon: Long)
  : DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1: $minCommon")
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val und = graft.CacheScope.track(
      edges
        .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .persist())
    val sym = und.select(col("u"), col("v"))
      .union(und.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("id"))
      .agg(count(lit(1)).as("d"))
    val n1 = sym.select(col("u").as("c"), col("v").as("a"))
    val n2 = sym.select(col("u").as("c"), col("v").as("b"))
    val cand = n1.join(n2, "c")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
    cand
      .join(und, cand("a") === und("u") && cand("b") === und("v"),
        "left_anti")
      .join(deg.select(col("id").as("a"), col("d").as("deg_u")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("deg_v")), "b")
      .select(col("a").as("u"), col("b").as("v"), col("common"),
        col("deg_u"), col("deg_v"))
  }

  /** k-core: the maximal subgraph in which every node has degree >= k
    * (Seidman's coreness; the "dense cohesive core" extractor — spam
    * farms, community nuclei, the canonical prune before expensive graph
    * ML). Returns (id, core_deg) for surviving nodes, core_deg = the
    * node's degree WITHIN the core.
    *
    * Peeling: repeatedly delete nodes of degree < k until stable. The
    * fixpoint is unique (independent of deletion order), so the
    * round-synchronous distributed peel, the driver queue peel, and the
    * oracle's unrolled rounds all agree exactly.
    *
    * Strategy ladder, all three landing on the same unique fixpoint:
    *  1. whole graph under `spark.graft.kCoreSmallGraphEdges` (default
    *     2^20, 0 disables) — driver O(E) queue peel, zero rounds;
    *  2. else, if every CONNECTED COMPONENT's edge count fits
    *     `spark.graft.kCoreComponentEdges` (default 2^22, 0 disables) —
    *     a CC pass (log-depth rounds) + one flatMapGroups kernel that
    *     queue-peels each component where it sits (components are
    *     vertex-disjoint, so the global fixpoint is their union);
    *  3. components OVER bound 2 peel with the round-synchronous
    *     distributed loop (one equi-join + aggregate per round,
    *     lineage-truncated) on JUST their edges, whose round count is
    *     the graph's PEEL DEPTH — with a hybrid driver finish once the
    *     alive remainder fits bound 1. (With the component bound
    *     disabled, the loop runs on the whole graph.)
    */
  /** O(E) queue peel over an in-memory undirected edge list: CSR
    * adjacency + deletion queue. Returns (id, in-core degree) for
    * surviving nodes. Shared by the driver fast path, the hybrid loop
    * finish, and the per-component executor kernel (it runs inside
    * flatMapGroups, so it must not touch the session).
    */
  private def peelPairs(us: Array[Long], vs: Array[Long], k: Int)
  : Seq[(Long, Long)] = {
    val idx = new scala.collection.mutable.LongMap[Int]()
    val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
    def id(x: Long): Int = idx.getOrElseUpdate(x, { ids += x; ids.length - 1 })
    val ai = us.map(id); val bi = vs.map(id)
    val n = ids.length
    val deg = new Array[Int](n)
    ai.foreach(deg(_) += 1); bi.foreach(deg(_) += 1)
    val adjOff = new Array[Int](n + 1)
    deg.indices.foreach(i => adjOff(i + 1) = adjOff(i) + deg(i))
    val adj = new Array[Int](us.length * 2)
    val fill = adjOff.clone()
    var e = 0
    while (e < us.length) {
      adj(fill(ai(e))) = bi(e); fill(ai(e)) += 1
      adj(fill(bi(e))) = ai(e); fill(bi(e)) += 1
      e += 1
    }
    val alive = Array.fill(n)(true)
    val live = deg.clone()
    val queue = scala.collection.mutable.Queue.empty[Int]
    (0 until n).foreach(i => if (live(i) < k) { queue += i; alive(i) = false })
    while (queue.nonEmpty) {
      val x = queue.dequeue()
      var j = adjOff(x)
      while (j < adjOff(x + 1)) {
        val y = adj(j)
        if (alive(y)) {
          live(y) -= 1
          if (live(y) < k) { alive(y) = false; queue += y }
        }
        j += 1
      }
    }
    (0 until n).filter(alive).map(i => (ids(i), live(i).toLong))
  }

  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 1000): DataFrame = {
    require(k >= 1, "kCore: k must be >= 1")
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val dedup = truncate(edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val spark = edges.sparkSession
    // default 2^20 (the pageRank precedent, ~32 MB of edge pairs): the
    // peel's round count is the graph's peel DEPTH, so the latency cost
    // of staying distributed is far steeper here than for the ~4-round
    // CC loop — a bigger driver bound buys disproportionate wall-clock
    // (x100 co-purchase smoke: 68 s of rounds at 2^18 vs the cutover
    // firing on round 2 at 2^20)
    val bound = spark.conf.getOption("spark.graft.kCoreSmallGraphEdges")
      .map(_.toLong).getOrElse(1L << 20)
    // O(E) queue peel over a collected (u, v) edge list — the classic
    // sequential algorithm. Used (a) up front when the whole contracted
    // graph fits under the conf bound, and (b) as the HYBRID FINISH of
    // the distributed loop: each synchronous round deletes all deg<k
    // nodes, so the alive remainder shrinks monotonically, and once it
    // fits under the same bound the last ~peel-depth rounds (the long
    // latency tail — chains peel one sublevel per round) collapse into
    // one in-driver pass. The fixpoint is deletion-order independent, so
    // distributed rounds + driver finish = pure driver = pure
    // distributed (KCoreSpec pins all three).
    def queuePeel(pairs: Array[(Long, Long)]): DataFrame = {
      import spark.implicits._
      peelPairs(pairs.map(_._1), pairs.map(_._2), k).toDF("id", "core_deg")
    }
    if (bound > 0 && dedup.count() <= bound) {
      import spark.implicits._
      return queuePeel(dedup.as[(Long, Long)].collect())
    }
    // the round-synchronous peel (strategy 3), defined up front so the
    // component splitter below can aim it at just the too-big
    // components; edges0 must be a deduped canonical (u, v) frame
    def roundPeel(edges0: DataFrame): DataFrame = {
      val sym = truncate(edges0
        .union(edges0.select(col("v").as("u"), col("u").as("v"))))
      var alive = truncate(sym.select(col("u").as("id")).distinct())
      var nAlive = alive.count()
    // Checkpointed frames carry no statistics, so without a hint every
    // per-round join plans as a sort-merge that re-shuffles the FULL
    // edge list each iteration — the pageRank lesson
    // (see [[pageRank]]'s hint scaladoc; measured ~10x there). Under
    // [[BroadcastNodes]], hint the |V|-sized alive frame broadcast: a
    // round becomes two map-side joins over the cached edge blocks plus
    // one partial-agg shuffle. Above the bound the shuffle join IS the
    // right plan — same loop, no hint.
      def hint(df: DataFrame): DataFrame =
        if (nAlive <= BroadcastNodes) broadcast(df) else df
      var rounds = 0
      // loop-scoped AQE floor — see [[withLoopCoalesce]]
      withLoopCoalesce(spark) { while (rounds < maxRounds) {
        val degs = sym
          .join(hint(alive.select(col("id").as("u"))), "u")
          .join(hint(alive.select(col("id").as("v"))), "v")
          .groupBy(col("u").as("id"))
          .agg(count(lit(1)).as("d"))
        val next = truncateFresh(degs.filter(col("d") >= k))
        // one action for both loop controls: survivor count and survivor
        // degree sum. sum(d)/2 upper-bounds the SURVIVING edge count (d
        // still counts edges into just-deleted nodes), so it is a safe
        // trigger for the hybrid driver finish below.
        val aggRow = next.agg(count(lit(1)), sum(col("d"))).head()
        val nNext = aggRow.getLong(0)
        val edgeUb = if (aggRow.isNullAt(1)) 0L else aggRow.getLong(1) / 2
        rounds += 1
        if (nNext == nAlive) {
          // stable: every survivor already has in-core degree >= k
          return sym
            .join(hint(next.select(col("id").as("u"))), "u")
            .join(hint(next.select(col("id").as("v"))), "v")
            .groupBy(col("u").as("id"))
            .agg(count(lit(1)).as("core_deg"))
        }
        alive = next.select("id")
        nAlive = nNext
        if (nAlive == 0)
          return alive.withColumn("core_deg", lit(0L)).filter(lit(false))
        if (bound > 0 && edgeUb <= bound) {
          // hybrid finish: the alive remainder now fits the same conf
          // bound — collect it and queue-peel in the driver instead of
          // paying one synchronous round per remaining peel SUBLEVEL
          // (chains peel one node per round; measured 36+ rounds / 60+ s
          // of pure job latency on the x10 co-purchase graph vs ~2 s to
          // this cutover point).
          import spark.implicits._
          val rem = sym
            .join(hint(alive.select(col("id").as("u"))), "u")
            .join(hint(alive.select(col("id").as("v"))), "v")
            .filter(col("u") < col("v"))
            .select(col("u"), col("v"))
          return queuePeel(rem.as[(Long, Long)].collect())
        }
      } }
      throw new IllegalStateException(
        s"kCore did not converge in $maxRounds rounds")
    }
    // Per-component kernel peel (strategy 2): components are
    // vertex-disjoint, so the global fixpoint is exactly the union of
    // per-component fixpoints. A CC pass (log-depth rounds) plus ONE
    // flatMapGroups kernel replaces peel-DEPTH synchronous rounds — the
    // same bounded-kernel idiom as the per-user DBSCAN. Components over
    // `spark.graft.kCoreComponentEdges` (default 2^22; the kernel
    // builds primitive long arrays + CSR, so a max-size component costs
    // ~170 MB of task heap; 0 disables) are SPLIT OFF and peeled by the
    // round loop on just their edges — the CC pass is never thrown
    // away, and the common many-small-components case never pays round
    // latency. Measured: the x100 co-purchase peel (4.8M edges, stable
    // core ~2M edges, so the hybrid finish never fires) went 48 s of
    // rounds -> ~30 s end to end.
    val compBound = spark.conf.getOption("spark.graft.kCoreComponentEdges")
      .map(_.toLong).getOrElse(1L << 22)
    if (compBound > 0) {
      val nodes = dedup.select(col("u").as("id"))
        .union(dedup.select(col("v"))).distinct()
      val cc = connectedComponents(dedup, "u", "v", nodes, "id")
      val sized = truncate {
        val byComp = dedup
          .join(cc.select(col("id").as("u"), col("component")), "u")
        val ne = byComp.groupBy("component").agg(count(lit(1)).as("ne"))
        byComp.join(ne, "component")
          .select(col("component"), col("u"), col("v"),
            (col("ne") > compBound).as("big"))
      }
      import spark.implicits._
      val kernelPart = sized.filter(!col("big"))
        .select(col("component"), col("u"), col("v"))
        .as[(Long, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroups { (_, it) =>
          // primitive builders, not an Array[Tuple2]: halves the peak
          // per-task footprint for near-bound components
          val us = new scala.collection.mutable.ArrayBuilder.ofLong
          val vs = new scala.collection.mutable.ArrayBuilder.ofLong
          it.foreach { t => us += t._2; vs += t._3 }
          peelPairs(us.result(), vs.result(), k).iterator
        }
        .toDF("id", "core_deg")
      val hasBig =
        sized.filter(col("big")).limit(1).count() > 0
      return if (!hasBig) kernelPart
      else kernelPart.unionByName(
        roundPeel(truncate(sized.filter(col("big")).select("u", "v"))))
    }
    roundPeel(dedup)
  }

  /** Bounded-hop weighted shortest paths (synchronous Bellman-Ford
    * rounds): minimum total edge weight from any seed to every node
    * reachable within `maxHops` edges, over the undirected weighted
    * graph. The weighted upgrade of [[bfsDistances]] — influence cost,
    * degrees-of-separation with strengths, cheapest-route within a hop
    * budget. Non-negative integer weights keep the distances exact in
    * any engine (the q129 oracle unrolls the identical relaxation
    * rounds); parallel edges collapse to their minimum weight.
    *
    * Bounded hops is the contract, not a truncation apology: each round
    * is one join + one min-aggregate (two shuffles) over
    * frontier-adjacent edges, lineage-truncated; unbounded Bellman-Ford
    * needs O(V) rounds on pathological chains, while a hop budget makes
    * the cost deterministic and the result well-defined ("best route
    * using at most h edges").
    */
  def weightedHopDistances(edges: DataFrame, srcCol: String,
                           dstCol: String, weightCol: String,
                           seeds: DataFrame, seedCol: String,
                           maxHops: Int): DataFrame = {
    require(maxHops >= 0, "weightedHopDistances: maxHops must be >= 0")
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val w = col(weightCol).cast("long")
    val dedup = truncate(edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"),
        w.as("w"))
      .filter(col("u") =!= col("v") && col("w") >= 0)
      .groupBy("u", "v").agg(min("w").as("w")))
    val sym = truncate(dedup.union(
      dedup.select(col("v").as("u"), col("u").as("v"), col("w"))))
    var dist = truncate(seeds
      .select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)))
    // |V|-bounded dist frame broadcast under [[BroadcastNodes]] — the
    // checkpointed-sym-has-no-stats trap, see [[kCore]]/[[pageRank]]
    // ONE job per hop (loop-scoped AQE floor, see [[withLoopCoalesce]]):
    // the broadcast decision reads the PREVIOUS round's materialize
    // tally instead of a per-round dist.count() job (an inflated retry
    // tally can only flip broadcast→shuffle — never a wrong result).
    var distCount = dist.count()
    var hop = 0
    withLoopCoalesce(edges.sparkSession) {
      while (hop < maxHops) {
        val distU = dist.select(col("id").as("u"), col("dist"))
        val relaxed = sym
          .join(if (distCount <= BroadcastNodes) broadcast(distU) else distU,
            "u")
          .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
        val (frame, tally) = truncateTallied(
          dist.union(relaxed).groupBy("id").agg(min("dist").as("dist")),
          s"sssp_n_$hop")(_ => true)
        dist = frame
        distCount = tally
        hop += 1
      }
    }
    dist
  }

  /** Multi-source BFS: minimum hop distance from any node in `seeds` to
    * every reachable node within `maxHops`, over the undirected graph
    * given by `edges`. Returns (id, dist) — seeds at 0; nodes further
    * than `maxHops` (or disconnected) are absent. The k-hop
    * neighborhood / blast-radius primitive (expansion from a seed set of
    * flagged docs, impact analysis over dependency edges).
    *
    * Frontier algorithm: visited starts as the seed set; each round the
    * frontier's neighbors are anti-joined against visited, deduped, and
    * become the next frontier at dist+1. Each round is one join + one
    * anti-join + a distinct (two shuffles) over frontier-adjacent edges
    * only; frames are lineage-truncated per round like every iterative
    * operator here (class scaladoc), and the loop stops early on an
    * empty frontier (the bounded `limit(1).count()` probe, not a full
    * count). Frontier rows are (id) longs — state is O(V) spread across
    * executors, never on the driver.
    */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    require(maxHops >= 0, "bfsDistances: maxHops must be >= 0")
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val dedup = truncate(edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    val sym = truncate(dedup
      .union(dedup.select(col("v").as("u"), col("u").as("v"))))
    val seed0 = truncate(
      seeds.select(col(seedCol).cast("long").as("id")).distinct())
    var visited = seed0.withColumn("dist", lit(0L))
    // |V|-bounded frontier broadcast under [[BroadcastNodes]] — the
    // checkpointed-sym-has-no-stats trap, see [[kCore]]/[[pageRank]]
    // ONE job per hop (was four: limit(1) probe + frontier count +
    // frontier truncate + visited truncate — q122 ran 49 driver-
    // synchronized jobs for 102 tasks, ~40% of its wall between jobs):
    // the frontier IS visited.filter(dist = hop-1) off the previous
    // round's checkpoint, and the visited-union materialize tallies the
    // new frontier's size via accumulator ([[truncateTallied]]) — both
    // the emptiness probe and the broadcast decision read the tally.
    // Loop-scoped AQE floor: see [[withLoopCoalesce]].
    var frontCount = seed0.count()
    var hop = 1
    withLoopCoalesce(edges.sparkSession) {
      while (hop <= maxHops && frontCount > 0) {
        val frontU = visited.filter(col("dist") === lit(hop - 1L))
          .select(col("id").as("u"))
        val next = sym.join(
            if (frontCount <= BroadcastNodes) broadcast(frontU) else frontU,
            "u")
          .select(col("v").as("id"))
          .distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .withColumn("dist", lit(hop.toLong))
        val (frame, tally) = truncateTallied(
          visited.union(next), s"bfs_front_$hop")(_.getLong(1) == hop)
        visited = frame
        frontCount = tally
        hop += 1
      }
    }
    visited
  }

  /** Bill-of-materials transitive rollup: extend the (child, parent,
    * qty) edge list to the bounded-depth ancestor closure with the
    * per-path quantity PRODUCT summed across paths — "how many of part
    * x does one assembly y ultimately consume", the ERP/hierarchy
    * aggregation a relational engine needs a recursive CTE for.
    *
    * Exact integers throughout: each path's extended quantity is a
    * product of edge quantities (caller bounds qty^maxDepth within a
    * long — depth is a structural constant, qtys are small counts),
    * multi-path (diamond) totals are sums of products, and `n_paths` /
    * `min_depth` certify the DAG structure the rollup walked.
    *
    * Scale shape: maxDepth − 1 equi-joins child←ancestor (each one
    * shuffle on the join key, the bounded-round BFS discipline — depth
    * is a BOM's structural constant, never data-sized), then ONE hash
    * aggregate over all depths. No driver state, no collect.
    */
  def bomExtend(edges: DataFrame, childCol: String, parentCol: String,
                qtyCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, "bomExtend: maxDepth must be >= 1")
    val e = edges.select(col(childCol).cast("long").as("desc"),
      col(parentCol).cast("long").as("anc"),
      col(qtyCol).cast("long").as("q"))
    val up = e.select(col("desc").as("hop_from"), col("anc").as("hop_to"),
      col("q").as("hop_q"))
    var level = e.select(col("anc"), col("desc"),
      lit(1L).as("depth"), col("q").as("ext"))
    var all = level
    for (_ <- 2 to maxDepth) {
      level = level
        .join(up, level("anc") === up("hop_from"))
        .select(col("hop_to").as("anc"), col("desc"),
          (col("depth") + 1L).as("depth"),
          (col("ext") * col("hop_q")).as("ext"))
      all = all.unionAll(level)
    }
    all.groupBy("anc", "desc")
      .agg(sum(col("ext")).as("ext_qty"),
        min(col("depth")).as("min_depth"),
        count(lit(1)).as("n_paths"))
      .withColumnRenamed("anc", "ancestor")
      .withColumnRenamed("desc", "descendant")
  }

  /** Newman modularity per community, EXACTLY: with m = |E| (undirected,
    * deduped), e_c = edges inside community c, d_c = the community's
    * degree sum, each community's contribution to
    * Q = Σ_c (e_c/m − (d_c/2m)²) is the rational
    * (4m·e_c − d_c²) / (4m²) — emitted as the exact integer numerator
    * `q_num` (DECIMAL-safe) plus a floor'd micro presentation, so the
    * partition-quality certificate is engine-exact (the objective LPA /
    * Infomap-style partitioners chase, made auditable).
    *
    * Scale shape: one edge dedup, two label joins (left for u, right
    * for v — AQE picks broadcast when the label frame is small), one
    * degree aggregate, community-keyed sums. No quadratic step.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String, communityCol: String)
  : DataFrame = {
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val dedup = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val lab = labels.select(col(idCol).cast("long").as("id"),
      col(communityCol).cast("long").as("community"))
    val m = dedup.agg(count(lit(1)).as("m"))
    val eIn = dedup
      .join(lab.select(col("id").as("u"), col("community").as("cu")), "u")
      .join(lab.select(col("id").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).as("e_in"))
    val deg = dedup.select(col("u").as("id"))
      .unionAll(dedup.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(lab, "id")
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
      .join(eIn, Seq("community"), "left")
      .withColumn("e_in", coalesce(col("e_in"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("cut", col("d_sum") - lit(2L) * col("e_in"))
      .withColumn("q_num",
        expr("""CAST(4 * CAST(m AS DECIMAL(38,0)) * e_in
               - CAST(d_sum AS DECIMAL(38,0)) * d_sum AS DECIMAL(38,0))"""))
      .withColumn("q_micro",
        expr("""CAST(CAST(q_num AS DECIMAL(38,0)) * 1000000
               div (4 * CAST(m AS DECIMAL(38,0)) * m) AS BIGINT)"""))
      .select("community", "n_nodes", "e_in", "d_sum", "cut", "m",
        "q_micro")
  }

  /** Degree-distribution profile: node count per log2 degree bucket
    * plus exact share bps — the one-page graph health report (a heavy
    * tail here is what justifies the skew-proof orientations q121/q128
    * use). One dedup + one degree aggregate + one bucket aggregate.
    */
  def degreeProfile(edges: DataFrame, srcCol: String, dstCol: String)
  : DataFrame = {
    val src = col(srcCol).cast("long")
    val dst = col(dstCol).cast("long")
    val dedup = edges
      .select(least(src, dst).as("u"), greatest(src, dst).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = dedup.select(col("u").as("id"))
      .unionAll(dedup.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val totals = deg.agg(count(lit(1)).as("n_nodes_total"))
    // floor(log2(deg)) EXACTLY via the binary-string length — an FP
    // log2 sits on a rounding boundary at every power of two, the one
    // place a bucket edge lives
    deg.withColumn("bucket",
        (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_nodes"), min("deg").as("deg_min"),
        max("deg").as("deg_max"))
      .crossJoin(broadcast(totals))
      .withColumn("share_bps",
        expr("n_nodes * 10000 div n_nodes_total"))
  }
}
