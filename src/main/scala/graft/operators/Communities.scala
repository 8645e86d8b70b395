package graft.operators

import graft.plans.UidScan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType, StructField}

/** Community-based stop-location clustering — the engine's stand-in for
  * the reference's Infomap mode (compute_infomap,
  * src/polaroam/models.py:179-204; graph construction
  * src/polaroam/utils.py:32-134).
  *
  * Fidelity points carried over exactly:
  *  - the downsample collapse (models.py:60-87): stops are snapped to a
  *    grid of `minSpacialResolution` (0 = no snap) and collapsed to one
  *    NODE per unique (uid, lat, lon), carrying `count` = stops collapsed;
  *  - edge weight = max(count_i, count_j) * d^(-q) in weighted mode, and
  *    just max(count_i, count_j) unweighted (add_edges, utils.py:101-122);
  *  - self-links are excluded, so a unique coordinate with NO distinct
  *    neighbor inside r2 is a singleton and labels -1 even if many stops
  *    collapsed onto it (query_radius returns the node itself; add_edges
  *    iterates neighbors > node only);
  *  - node order is first appearance in stop_events order (the reference's
  *    group_by(maintain_order=True) over timestamp-sorted stops).
  *
  * The reference runs the C++ Infomap binding on this graph, which is not
  * bit-reproducible (SURVEY §7 trap 7: seeded stochastic search); its own
  * production scripts use the DBSCAN path. Two algorithms over the same
  * radius graph, both deterministic, per-user in a uid kernel of
  * [[graft.plans.UidScanExec]] like DBSCAN's:
  *  - `algorithm = "infomap"`: minimizes Infomap's actual objective, the
  *    two-level map equation (Rosvall & Bergstrom, PNAS 2008), with
  *    fixed-order Louvain-style local moves and module aggregation —
  *    same objective, deterministic search instead of the seeded one;
  *  - `algorithm = "lpa"` (default): asynchronous weighted label
  *    propagation (max-weight neighbor label, ties to the smaller label;
  *    fixed iteration cap) — coarser (component-shaped on dense gate
  *    data), kept as the oracle-pinnable mode.
  */
object Communities {

  final case class Params(
      r2: Double = 20.0,
      weighted: Boolean = true,
      weightExponent: Double = 1.0,
      minSpacialResolution: Double = 0.0,
      maxIterations: Int = 20,
      metric: String = "haversine",
      labelSingletons: Boolean = false,
      maxGroupSize: Int = 20000,
      algorithm: String = "lpa")

  /** medians(uid, stop_events, latitude, longitude, ...) ->
    * + stop_locations: community id per stop (first-appearance
    * canonicalized, -1 for unlabeled singletons). Stops collapsing onto
    * the same (snapped) coordinate share that node's label.
    */
  def assignLocations(medians: DataFrame, p: Params): DataFrame =
    UidScan.frame(StopClusters.medianInput(medians), Labels(p, certified = false))

  /** Infomap labeling with a SELF-CERTIFICATE per user: alongside each
    * stop's community label, emit the exact two-level map-equation
    * codelength (bits/step) of the found partition over the user's
    * (trimmed) node graph, the codelength of the all-singletons
    * baseline partition, and `improves` = found <= singleton + 1e-9 —
    * the objective the reference's Infomap binding minimizes
    * (utils.py:67-99). A search that ever "optimized" to something
    * worse than no-aggregation-at-all would flip `improves` false, so
    * the no-oracle q82 gate becomes machine-checkable without an
    * engine-independent community oracle (community IDs themselves are
    * search-order-dependent across engines; the objective value's
    * partial order is not).
    *
    * Two further ENGINE-PORTABLE columns make the gate fully
    * oracle-checkable (not just rows-only): `cc_locations` is the stop's
    * r2-radius connected-component label ([[NeighborSearch.components]],
    * the DBSCAN kernel's labeller) — deterministic and SQL-recomputable
    * (the q37 recursive-CTE pattern), first-appearance
    * canonicalized, singletons −1, computed over the same
    * maxGroupSize-trimmed node set as the partition (overflow nodes −1;
    * the oracle CTE applies the identical trim) — and `refines` certifies the map
    * equation never merges across components: every found community's
    * member nodes share one `cc_locations`. An oracle recomputes
    * `cc_locations` exactly and pins `refines`/`improves` as
    * literal-true, so any partition bug that crosses a component or
    * degrades the objective flips a hashed bit.
    */
  def assignLocationsCertified(medians: DataFrame, p: Params): DataFrame = {
    require(p.algorithm == "infomap",
      s"certificate is defined for the map-equation mode, got ${p.algorithm}")
    UidScan.frame(StopClusters.medianInput(medians), Labels(p, certified = true))
  }

  /** Both modes as one uid kernel: collapse a user's stops to unique
    * snapped coordinates (downsample), label the unique-coordinate graph,
    * and fan the labels back to the stops, which leave in stop_events
    * order; `certified` appends [[assignLocationsCertified]]'s columns.
    */
  private final case class Labels(p: Params, certified: Boolean)
      extends StopClusters.MedianKernel {
    override def adds(in: Seq[Attribute]): Seq[StructField] =
      (("stop_locations" -> LongType) +: (if (!certified) Nil else Seq(
        "bits_found" -> DoubleType, "bits_singleton" -> DoubleType,
        "improves" -> BooleanType, "cc_locations" -> LongType,
        "refines" -> BooleanType)))
        .map { case (c, t) => StructField(c, t, nullable = false) }
    override def emitsSortedBy: Option[Seq[String]] = Some(Seq("stop_events"))
    override def emit(g: StopClusters.MedianGroup): Iterator[(Int, InternalRow)] = {
      val (rowNode, allCoords, allCounts) = collapseStops(g, p)
      val n = trimmedSize(allCoords.length, g.uid, p)
      val adj = buildAdjacency(allCoords.take(n), allCounts.take(n), p)
      val part =
        if (p.algorithm == "infomap") mapEquationPartition(adj)
        else labelPropagation(adj, p)
      val trimmed = Array.fill(allCoords.length - n)(-1L)
      val nodeLabels = canonicalizeLabels(part, adj, p) ++ trimmed
      val certificate: Int => Seq[Any] =
        if (!certified) _ => Nil
        else {
          // the CC certificate covers the SAME trimmed node set the
          // partition runs on — trimmed-out nodes pin -1 exactly like
          // stop_locations, and the oracle CTE trims identically (node
          // index < maxGroupSize in first-appearance order), so the whale
          // guard's O(nodes^2) edge bound holds on the certified path too
          // (an untrimmed certificate adjacency would re-open it)
          val cc = NeighborSearch.components(n)(edge =>
            adj.indices.foreach(i => adj(i).foreach(e => edge(i, e._1)))) ++
            trimmed
          // refinement: each found community sits inside exactly one CC
          val refines = (0 until n).filter(nodeLabels(_) != -1L)
            .groupBy(nodeLabels(_)).values.forall(_.map(cc(_)).distinct.size == 1)
          val bitsFound = mapEquationBits(adj, part)
          val bitsSingleton =
            mapEquationBits(adj, Array.tabulate(adj.length)(identity))
          val improves = bitsFound <= bitsSingleton + 1e-9
          v => Seq(bitsFound, bitsSingleton, improves, cc(v), refines)
        }
      g.rows.indices.iterator.map { k =>
        k -> InternalRow.fromSeq(nodeLabels(rowNode(k)) +: certificate(rowNode(k)))
      }
    }
  }

  /** First-appearance-ordered unique snapped coords: per-row node index,
    * coords, and per-coord stop counts (the downsample step).
    */
  private def collapseStops(g: StopClusters.MedianGroup, p: Params)
  : (Array[Int], Array[(Double, Double)], Array[Long]) = {
    def snap(v: Double): Double =
      if (p.minSpacialResolution > 0)
        math.round(v / p.minSpacialResolution) * p.minSpacialResolution
      else v
    val nodeOf = scala.collection.mutable.LinkedHashMap.empty[(Double, Double), Int]
    val rowNode = g.lat.indices.map(i =>
      nodeOf.getOrElseUpdate((snap(g.lat(i)), snap(g.lon(i))), nodeOf.size)).toArray
    val allCounts = new Array[Long](nodeOf.size)
    rowNode.foreach(allCounts(_) += 1L)
    (rowNode, nodeOf.keysIterator.toArray, allCounts)
  }

  /** Whale-user guard: the pair SCAN is grid-pruned (NeighborSearch),
    * but a dense whale's radius graph is still O(nodes²) EDGES; nodes
    * beyond maxGroupSize (first-appearance order) label -1 rather than
    * blowing task memory — the enforced form of the reference's
    * min_spacial_resolution mitigation.
    */
  private def trimmedSize(total: Int, uid: Any, p: Params): Int = {
    val n = math.min(total, p.maxGroupSize)
    if (n < total)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"uid $uid: $total unique coords exceed " +
          s"maxGroupSize=${p.maxGroupSize}; labeling overflow as -1")
    n
  }

  /** Radius graph with reference edge weights (utils.py:101-122):
    * max(count_i, count_j) * d^(-q) weighted, max(count_i, count_j)
    * unweighted; zero-distance pairs get a large finite weight.
    */
  private[graft] def buildAdjacency(coords: Array[(Double, Double)],
                                    counts: Array[Long],
                                    p: Params): Array[List[(Int, Double)]] = {
    val n = coords.length
    val lat = Array.tabulate(n)(coords(_)._1)
    val lon = Array.tabulate(n)(coords(_)._2)
    val buf = Array.fill(n)(
      new scala.collection.mutable.ArrayBuffer[(Int, Double)])
    NeighborSearch.pairs(lat, lon, p.r2, p.metric,
        StopDetect.distance(p.metric, _, _, _, _), (i, j, d) => {
      val cMax = math.max(counts(i), counts(j)).toDouble
      val w =
        if (!p.weighted) cMax
        else if (d <= 1e-9) cMax * 1e18
        else cMax * math.pow(d, -p.weightExponent)
      buf(i) += ((j, w)); buf(j) += ((i, w))
    })
    // descending index order = the historical O(n²) prepend order; LPA's
    // per-label weight sums are FP-order-sensitive, so the grid and brute
    // paths must hand consumers byte-identical lists
    buf.map(_.sortBy(-_._1).toList)
  }

  /** Asynchronous weighted label propagation in fixed index order:
    * deterministic AND convergent (synchronous updates oscillate on
    * 2-node components); ties go to the smallest label.
    */
  private def labelPropagation(adj: Array[List[(Int, Double)]],
                               p: Params): Array[Int] = {
    val n = adj.length
    val lbl = Array.tabulate(n)(identity)
    var changed = true
    var iter = 0
    while (changed && iter < p.maxIterations) {
      changed = false
      var i = 0
      while (i < n) {
        if (adj(i).nonEmpty) {
          val scores = scala.collection.mutable.Map.empty[Int, Double]
          adj(i).foreach { case (j, w) =>
            scores(lbl(j)) = scores.getOrElse(lbl(j), 0.0) + w
          }
          val next = scores.toSeq
            .maxBy { case (l, s) => (s, -l.toDouble) }._1
          if (next != lbl(i)) { lbl(i) = next; changed = true }
        }
        i += 1
      }
      iter += 1
    }
    lbl
  }

  /** Canonicalize raw module ids: 0-based by first appearance; isolated
    * singletons -> -1 unless labelSingletons (reference label_singletons
    * flag, utils.py:124-134).
    */
  private def canonicalizeLabels(label: Array[Int],
                                 adj: Array[List[(Int, Double)]],
                                 p: Params): Array[Long] = {
    val n = label.length
    val labelOf = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (adj(i).isEmpty && !p.labelSingletons) out(i) = -1L
      else {
        if (!labelOf.contains(label(i)))
          labelOf(label(i)) = labelOf.size.toLong
        out(i) = labelOf(label(i))
      }
      i += 1
    }
    out
  }

  // ---- Map-equation (Infomap) mode --------------------------------------
  // Two-level map equation for an undirected weighted graph (Rosvall &
  // Bergstrom, PNAS 105(4), 2008; Rosvall, Axelsson & Bergstrom, "The map
  // equation", Eur. Phys. J. Special Topics 178, 2009). With node strength
  // s_a, W2 = sum of strengths, module flow S_m = sum of member strengths,
  // module exit q_m = (weight of edges leaving m)/W2 and q = sum_m q_m:
  //
  //   L(M) = plogp(q) - 2*sum_m plogp(q_m)
  //        + sum_m plogp(q_m + S_m/W2) - sum_a plogp(s_a/W2)
  //
  // (plogp(x) = x*log2 x; the last term is partition-independent but kept
  // so L is the true per-step description length in bits). Minimized
  // Louvain-style: fixed-order local node moves scored by the exact
  // delta-L, then module aggregation, repeated until no move improves —
  // deterministic (ties to the smallest target module id), no RNG, unlike
  // the reference's C++ Infomap binding (SURVEY §7 trap 7).

  private def plogp(x: Double): Double =
    if (x > 0) x * math.log(x) / math.log(2.0) else 0.0

  /** Node graph at one aggregation level: `s` = flow strength (internal
    * collapsed weight counted twice), `sExt` = boundary strength, `adj` =
    * inter-node edges only (no self entries).
    */
  private final case class WGraph(
      s: Array[Double],
      sExt: Array[Double],
      adj: Array[Array[(Int, Double)]])

  /** Minimize the two-level map equation; returns a module id per node
    * (ids arbitrary — the caller canonicalizes by first appearance).
    */
  private[graft] def mapEquationPartition(
      adjList: Array[List[(Int, Double)]]): Array[Int] = {
    val n = adjList.length
    if (n == 0) return Array.empty
    val s0 = Array.tabulate(n)(i => adjList(i).iterator.map(_._2).sum)
    var g = WGraph(s0, s0.clone(), adjList.map(_.sortBy(_._1).toArray))
    var assign = Array.tabulate(n)(identity)
    var done = false
    while (!done) {
      val part = localMoves(g)
      val renum = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
      val dense = part.map(m => renum.getOrElseUpdate(m, renum.size))
      if (renum.size == g.s.length) done = true // every node its own module
      else {
        assign = assign.map(dense)
        g = collapse(g, dense, renum.size)
      }
    }
    assign
  }

  /** One Louvain level: greedy fixed-order single-node moves, exact
    * delta-L, strict-improvement threshold so the pass loop terminates.
    */
  private def localMoves(g: WGraph): Array[Int] = {
    val n = g.s.length
    val w2 = g.s.sum
    val module = Array.tabulate(n)(identity)
    if (w2 <= 0) return module
    val S = g.s.clone()    // per-module flow
    val C = g.sExt.clone() // per-module cut (each cross edge counts once
                           // per endpoint module, so singleton C = sExt)
    val size = Array.fill(n)(1)
    val freeIds = scala.collection.mutable.Stack.empty[Int]
    var sumQ = C.sum / w2
    var moved = true
    var pass = 0
    while (moved && pass < 200) {
      moved = false
      var i = 0
      while (i < n) {
        val curr = module(i)
        val sI = g.s(i)
        val eI = g.sExt(i)
        val wTo = scala.collection.mutable.HashMap.empty[Int, Double]
        g.adj(i).foreach { case (j, w) =>
          val m = module(j); wTo(m) = wTo.getOrElse(m, 0.0) + w
        }
        val wCurr = wTo.getOrElse(curr, 0.0)
        val cA = C(curr); val sA = S(curr)
        val cA2 = math.max(0.0, cA - eI + 2 * wCurr)
        val sA2 = sA - sI
        var bestM = curr
        var bestD = 0.0
        var bestSumQ = sumQ
        var bestCB2 = 0.0
        def consider(mB: Int, wB: Double): Unit = if (mB != curr) {
          val cB = C(mB); val sB = S(mB)
          val cB2 = cB + eI - 2 * wB
          val sB2 = sB + sI
          val sumQ2 = math.max(0.0, sumQ + (cA2 + cB2 - cA - cB) / w2)
          val d = (plogp(sumQ2) - plogp(sumQ)
            - 2 * (plogp(cA2 / w2) + plogp(cB2 / w2)
              - plogp(cA / w2) - plogp(cB / w2))
            + plogp((cA2 + sA2) / w2) + plogp((cB2 + sB2) / w2)
            - plogp((cA + sA) / w2) - plogp((cB + sB) / w2))
          if (d < bestD - 1e-10 ||
              (d < bestD + 1e-10 && bestM != curr && mB < bestM)) {
            bestM = mB; bestD = d; bestSumQ = sumQ2; bestCB2 = cB2
          }
        }
        wTo.keysIterator.toArray.sorted.foreach(m => consider(m, wTo(m)))
        // moving out to a fresh singleton module (only possible once a
        // merge has freed an id; before that every node IS a singleton)
        if (size(curr) > 1 && freeIds.nonEmpty) consider(freeIds.top, 0.0)
        if (bestM != curr) {
          C(curr) = cA2; S(curr) = sA2; size(curr) -= 1
          if (size(curr) == 0) freeIds.push(curr)
          if (size(bestM) == 0 && freeIds.nonEmpty && freeIds.top == bestM)
            freeIds.pop()
          C(bestM) = bestCB2; S(bestM) += sI; size(bestM) += 1
          module(i) = bestM
          sumQ = bestSumQ
          moved = true
        }
        i += 1
      }
      pass += 1
    }
    module
  }

  /** Aggregate modules into super-nodes; intra-module weight becomes
    * internal flow (counted in `s`, absent from `adj`/`sExt`).
    */
  private def collapse(g: WGraph, part: Array[Int], m: Int): WGraph = {
    val s = new Array[Double](m)
    val sExt = new Array[Double](m)
    val edge = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
    var i = 0
    while (i < g.s.length) {
      val a = part(i)
      s(a) += g.s(i)
      g.adj(i).foreach { case (j, w) =>
        val b = part(j)
        if (a != b) {
          sExt(a) += w
          if (i < j) {
            val key = if (a < b) (a, b) else (b, a)
            edge(key) = edge.getOrElse(key, 0.0) + w
          }
        }
      }
      i += 1
    }
    val adjB = Array.fill(m)(List.empty[(Int, Double)])
    edge.toSeq.sortBy(_._1).foreach { case ((a, b), w) =>
      adjB(a) ::= (b, w); adjB(b) ::= (a, w)
    }
    WGraph(s, sExt, adjB.map(_.sortBy(_._1).toArray))
  }

  /** Exact two-level map equation (bits per step) of an arbitrary
    * partition of the graph `adjList` — exposed for spec-level optimality
    * assertions against baseline partitions.
    */
  private[graft] def mapEquationBits(adjList: Array[List[(Int, Double)]],
                                     part: Array[Int]): Double = {
    val n = adjList.length
    val s = Array.tabulate(n)(i => adjList(i).iterator.map(_._2).sum)
    val w2 = s.sum
    if (w2 <= 0) return 0.0
    val S = scala.collection.mutable.HashMap.empty[Int, Double]
    val C = scala.collection.mutable.HashMap.empty[Int, Double]
    var i = 0
    while (i < n) {
      val m = part(i)
      S(m) = S.getOrElse(m, 0.0) + s(i)
      C.getOrElseUpdate(m, 0.0)
      adjList(i).foreach { case (j, w) =>
        if (part(j) != m) C(m) = C(m) + w
      }
      i += 1
    }
    val sumQ = C.valuesIterator.sum / w2
    (plogp(sumQ)
      - 2 * C.valuesIterator.map(c => plogp(c / w2)).sum
      + C.keysIterator.map(m => plogp((C(m) + S(m)) / w2)).sum
      - s.iterator.map(x => plogp(x / w2)).sum)
  }
}
