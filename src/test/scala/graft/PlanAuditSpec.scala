package graft

import graft.operators.StopDetect
import org.apache.spark.sql.functions._

/** Pins the headline physical-plan claims (README "Design for scale"):
  * these are the shapes that decide 100 TB behavior, so they are
  * asserted, not just documented. All on the sf0.001 fixture — plan
  * shape does not depend on row count until size thresholds flip join
  * strategies, which is exactly what the assertions would catch if a
  * refactor broke the sharing.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def exchanges(plan: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan).size

  test("stop pipeline: ONE uid exchange end to end (pings -> medians)") {
    // the stop scan emits the medians itself (one StopMedians uid kernel),
    // so Catalyst plans exactly one shuffle, on uid, for the entire
    // pipeline.
    val medians = StopDetect.eventMedians(
      StopDetect.stopEvents(Tables.pings(spark, sf), StopDetect.Params()))
    val plan = planOf(medians)
    assert(exchanges(plan) === 1,
      s"stop pipeline must shuffle exactly once, on uid:\n$plan")
    assert(plan.contains("hashpartitioning(uid"),
      s"the single exchange must key on uid:\n$plan")
  }

  import PlanAuditSpec.kernels

  private def stopPings = {
    val s = spark
    import s.implicits._
    Seq(("u", 19.0, -99.0, 0L), ("u", 19.0, -99.0, 400L),
      ("u", 19.0, -99.0, 800L), ("u", 19.1, -99.0, 1200L),
      ("v", 19.0, -99.0, 0L), ("v", 19.0, -99.0, 400L))
      .toDF("uid", "latitude", "longitude", "timestamp")
  }

  test("stop pipeline: one sort, one UidScanExec running StopMedians, no window") {
    import org.apache.spark.sql.execution.{GraftPlanAudit, SortExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val medians = StopDetect.eventMedians(
      StopDetect.stopEvents(stopPings, StopDetect.Params()))
    assert(medians.collect().length === 1)
    def n(f: org.apache.spark.sql.execution.SparkPlan => Boolean) =
      GraftPlanAudit.count(medians)(f)
    assert(GraftPlanAudit.shuffleCount(medians) === 1, planOf(medians))
    assert(n(_.isInstanceOf[WindowExec]) === 0,
      s"stop detection must not plan windows:\n${planOf(medians)}")
    assert(n(_.isInstanceOf[SortExec]) === 1,
      s"one (uid, timestamp) sort must serve the stops and the medians:\n" +
        planOf(medians))
    assert(kernels(medians) === Seq("StopMedians"),
      s"the medians come from the stop scan itself:\n${planOf(medians)}")
  }

  test("stopEvents alone still plans the ping kernel") {
    val events = StopDetect.stopEvents(stopPings, StopDetect.Params())
    assert(events.collect().length === 6)
    assert(kernels(events) === Seq("Stops"), planOf(events))
  }

  test("a cached or stored stop-events frame plans the generic medians") {
    val events = StopDetect.stopEvents(stopPings, StopDetect.Params())
    val stored = spark.createDataFrame(
      java.util.Arrays.asList(events.collect(): _*), events.schema)
    val generic = StopDetect.eventMedians(stored)
    assert(generic.collect().length === 1)
    assert(kernels(generic) === Seq("Medians"), planOf(generic))
    val cached = StopDetect.stopEvents(stopPings, StopDetect.Params()).cache()
    try {
      val medians = StopDetect.eventMedians(cached)
      assert(medians.collect().length === 1)
      // the cached relation's own plan holds the ping kernel, read once
      assert(kernels(medians).sorted === Seq("Medians", "Stops"), planOf(medians))
      assert(planOf(medians).contains("InMemoryTableScan"), planOf(medians))
      // the cache manager matches plans, not instances: the same stop
      // events built again read the cache too
      val twin = StopDetect.eventMedians(
        StopDetect.stopEvents(stopPings, StopDetect.Params()))
      assert(kernels(twin).sorted === Seq("Medians", "Stops"), planOf(twin))
    } finally cached.unpersist(blocking = true)
  }

  test("stopEvents installs its planner strategy once per session") {
    import graft.plans.UidScanStrategy
    import spark.implicits._
    val pings = Seq(("u", 19.0, -99.0, 0L))
      .toDF("uid", "latitude", "longitude", "timestamp")
    StopDetect.stopEvents(pings, StopDetect.Params())
    StopDetect.stopEvents(pings, StopDetect.Params())
    assert(spark.experimental.extraStrategies
      .count(_ == UidScanStrategy) === 1)
  }

  test("pings to wide export: ONE uid exchange, one sort, no encoder path") {
    import graft.operators.HomeWork
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{AppendColumnsExec, GraftPlanAudit, MapGroupsExec, SortExec}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val hw = HomeWork.Params(startHourDay = 7, endHourDay = 21,
      startWorkingHour = 8, endWorkingHour = 18, spanPeriodHome = 0.1,
      spanPeriodWork = 0.1, totalDays = Some(10L))
    val wide = PolaRoam.hwWide(PolaRoam.fullPipeline(
      PipelineFixture.pings(spark), PolaRoam.Config(), hw))
    assert(wide.collect().length === 2)
    def n(f: org.apache.spark.sql.execution.SparkPlan => Boolean) =
      GraftPlanAudit.count(wide)(f)
    assert(GraftPlanAudit.shuffleCount(wide) === 1,
      s"stops, medians, DBSCAN, labels and export share one exchange:\n" +
        planOf(wide))
    val keys = GraftPlanAudit.collectFinal(wide) {
      case e: ShuffleExchangeLike => Some(e.outputPartitioning)
      case _ => None
    }
    assert(keys.collect { case h: HashPartitioning =>
      h.expressions.collect { case a: Attribute => a.name } } === Seq(Seq("uid")),
      planOf(wide))
    assert(n(_.isInstanceOf[SortExec]) === 1,
      s"one (uid, timestamp) sort must serve the whole pipeline:\n" +
        planOf(wide))
    assert(n(p => p.isInstanceOf[AppendColumnsExec] ||
      p.isInstanceOf[MapGroupsExec] || p.isInstanceOf[ObjectHashAggregateExec])
      === 0, s"no typed per-user path:\n${planOf(wide)}")
  }

  test("cluster hulls: the uid exchange and sort of the clusters serve the hulls") {
    import graft.operators.{Geometry, StopClusters}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{AppendColumnsExec, GraftPlanAudit, MapGroupsExec, SortExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val clusters = StopClusters.cluster(StopDetect.eventMedians(
      StopDetect.stopEvents(PipelineFixture.pings(spark), StopDetect.Params())),
      StopClusters.Params())
    val hulls = Geometry.clusterHulls(
      clusters.filter(col("stop_locations") =!= -1L))
    assert(hulls.collect().length === 4)
    def n(f: org.apache.spark.sql.execution.SparkPlan => Boolean) =
      GraftPlanAudit.count(hulls)(f)
    val keys = GraftPlanAudit.collectFinal(hulls) {
      case e: ShuffleExchangeLike => Some(e.outputPartitioning)
      case _ => None
    }
    assert(GraftPlanAudit.shuffleCount(hulls) === 1, planOf(hulls))
    assert(keys.collect { case h: HashPartitioning =>
      h.expressions.collect { case a: Attribute => a.name } } === Seq(Seq("uid")),
      planOf(hulls))
    assert(n(_.isInstanceOf[SortExec]) === 1,
      s"the clusters leave sorted by (uid, stop_locations):\n${planOf(hulls)}")
    assert(n(p => p.isInstanceOf[AppendColumnsExec] ||
      p.isInstanceOf[MapGroupsExec]) === 0,
      s"no typed per-cluster path:\n${planOf(hulls)}")
  }

  test("cluster over stored medians: one uid exchange, one (uid, stop_events) sort") {
    import graft.operators.StopClusters
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.execution.{GraftPlanAudit, SortExec}
    val dir = java.nio.file.Files.createTempDirectory("graft_medians_plan").toString
    StopDetect.eventMedians(StopDetect.stopEvents(PipelineFixture.pings(spark),
      StopDetect.Params())).write.mode("overwrite").parquet(dir)
    val clusters = StopClusters.cluster(spark.read.parquet(dir),
      StopClusters.Params())
    assert(clusters.collect().nonEmpty)
    assert(GraftPlanAudit.shuffleCount(clusters) === 1, planOf(clusters))
    val sorts = GraftPlanAudit.collectFinal(clusters) {
      case s: SortExec => Some(s.sortOrder.map(_.child).collect {
        case a: Attribute => a.name })
      case _ => None
    }
    assert(sorts === Seq(Seq("uid", "stop_events")), planOf(clusters))
  }

  test("ingest write: one CSV scan, one uid hash, no join, uid then date exchange") {
    import graft.sources.Ingest
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Sha2}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_plan").toString
    val gz = s"$dir/drop.csv.gz"
    val t0 = 1705309200000L
    val os = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    os.write((for (u <- Seq("alice", "bob", ""); d <- 0 until 8; k <- 0 until 3)
      yield s"$u,x,19.0,-99.0,5.0,${t0 + d * 86400000L + k * 60000L}")
      .mkString("\n").getBytes("UTF-8"))
    os.close()

    // top-down over the final adaptive plan, stages included
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    })
    // the write's executed plan, as the listener sees it after the run
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val probe = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec]))
          writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(probe)
    val run = try new RunLedger(spark).measure("ingest", "1")(
      Ingest.localizeCsv(spark, gz, s"$dir/out", "America/Mexico_City"))
    finally spark.listenerManager.unregister(probe)
    assert(spark.read.parquet(s"$dir/out").count() === 48L)
    assert(run.checked.jobs <= 3, s"no schema-inference job: ${run.jobs} jobs")
    assert(writes.size === 1)
    val plan = nodes(writes.peek())
    val shown = writes.peek().toString
    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size === 1 &&
      scans.head.relation.fileFormat.isInstanceOf[CSVFileFormat], shown)
    assert(!plan.exists(p => p.isInstanceOf[BaseJoinExec] ||
      p.isInstanceOf[BroadcastExchangeLike]), s"no join:\n$shown")
    val shuffles = plan.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size === 2, shown)
    val keys = shuffles.reverse.map(_.outputPartitioning).collect {
      case h: HashPartitioning =>
        h.expressions.collect { case a: Attribute => a.name } }
    assert(keys === Seq(Seq("uid"), Seq("date_trunc")), shown)
    assert(plan.count(_.expressions.exists(_.exists(_.isInstanceOf[Sha2])))
      === 1, s"one uid hash per row:\n$shown")
  }

  test("q01 scan: filter reaches PushedFilters, schema is pruned") {
    val plan = SparkEntry.queries("q01_scan_filter")(spark, sf)
      .queryExecution.executedPlan.treeString(verbose = true)
    assert(plan.contains("PushedFilters: [") &&
      !plan.contains("PushedFilters: []"),
      s"q01's filter must reach the parquet scan:\n$plan")
    // projection pruning: the 16-column lineitem scan must not read
    // every column for a few-column query
    assert(!plan.contains("l_comment"),
      s"q01 must not scan unprojected columns:\n$plan")
  }

  test("ANN brute force: query side broadcasts, one shuffle for top-k") {
    val plan = planOf(SparkEntry.queries("q24_cosine_topk")(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"q24's query vectors must broadcast:\n$plan")
    // corpus scan -> scored cross join is shuffle-free; the only hash
    // exchange is the per-query top-k window
    assert(exchanges(plan) === 1,
      s"q24 must shuffle only for the final window:\n$plan")
  }

  test("LSH ANN: fused bucket expression, equi-joins only, hot-bucket anti-join") {
    val plan = planOf(SparkEntry.queries("q32_lsh_topk")(spark, sf))
    // the bucket id is computed by the codegen LshBucket expression, not
    // the composed aggregate(transform(...)) interpreted-HOF form
    assert(plan.contains("lsh_bucket("),
      s"q32 must use the fused LshBucket expression:\n$plan")
    assert(!plan.contains("aggregate(") && !plan.contains("transform("),
      s"no interpreted HOFs on the ANN hot path:\n$plan")
    // candidate generation is bucket equi-joins (hash or broadcast-hash
    // depending on size thresholds) — never a nested-loop all-pairs scan
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q32 must never plan an all-pairs join:\n$plan")
    // the hot-bucket cap materializes as an anti-join against the
    // over-full buckets
    assert(plan.contains("LeftAnti"),
      s"q32's hot-bucket cap must be an anti-join:\n$plan")
  }

  test("dedup: normalized-exact keys shuffle, document text does not") {
    // Dedup.normalizedExactDups groups by the md5 of the normalized
    // text; the exchange must key on the 16-byte norm_key and ship only
    // the partial-aggregate rows (norm_key, keep_id, n_copies) — never
    // the text column. The tree prints children below the exchange (the
    // scan legitimately reads text), so assert on the exchange LINE's
    // partitioning and output, not on the subtree.
    val plan = planOf(operators.Dedup.normalizedExactDups(
      Tables.documents(spark, sf), "doc_id", "text"))
    val exLine = plan.linesIterator
      .find(_.contains("Exchange hashpartitioning"))
      .getOrElse(fail(s"no hash exchange in dedup plan:\n$plan"))
    assert(exLine.contains("norm_key"),
      s"dedup must shuffle on the md5 key:\n$exLine")
    assert(!exLine.contains("text#"),
      s"document text must not ride the shuffle:\n$exLine")
    // and the agg is partial below the exchange (map-side combine)
    assert(plan.contains("partial_min") || plan.contains("partial"),
      s"dedup aggregate must combine map-side:\n$plan")
  }

  test("q105 bucketed join: no exchange on either join side") {
    // Both tables are bucketed+sorted on the order key, so the join's
    // distribution requirement is satisfied by the table layout — the
    // ONLY exchange in the plan is the final per-priority aggregate.
    // This is the shuffle-once-at-ingest contract a 100 TB fact table
    // depends on.
    val plan = SparkEntry.queries("q105_bucketed_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val n = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(n === 1, s"bucketed join must not shuffle its inputs:\n$plan")
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange hashpartitioning") && l.contains("orderkey")),
      s"the single exchange must be the aggregate, not the join:\n$plan")
  }

  test("q96 read-back: dayofmonth predicate prunes hive partitions") {
    // The S2 contract: a predicate on the partition column must land in
    // PartitionFilters (evaluated against directory values during file
    // listing — pruned days are never opened), NOT as a post-scan
    // filter. At 100 TB a date-partitioned corpus is only usable if day
    // predicates prune the listing.
    val plan = SparkEntry.queries("q96_partitioned_roundtrip")(spark, sf)
      .queryExecution.executedPlan.treeString(verbose = true)
    val scanLine = plan.linesIterator
      .find(l => l.contains("PartitionFilters"))
      .getOrElse(fail(s"no PartitionFilters in q96 plan:\n$plan"))
    assert(scanLine.contains("dayofmonth"),
      s"q96's dayofmonth predicate must be a partition filter:\n$scanLine")
    // and the partition column never appears as a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(date_trunc)"),
      s"date_trunc must be partition metadata, not scanned data:\n$plan")
  }

  test("q120 winnowing: ONE doc exchange, placed BEFORE the gram explode") {
    // the whole selection (explode -> window min -> distinct -> digest)
    // must share a single doc_id partitioning, and the exchange must
    // move doc rows, not gram rows: the Generate (explode) sits ABOVE
    // the exchange in the plan
    val plan = planOf(SparkEntry.queries("q120_winnow")(spark, sf))
    assert(exchanges(plan) === 1,
      s"winnowing must shuffle exactly once, on doc_id:\n$plan")
    val exIdx = plan.indexOf("Exchange hashpartitioning(doc_id")
    val genIdx = plan.indexOf("Generate explode")
    assert(exIdx >= 0 && genIdx >= 0 && genIdx < exIdx,
      s"the explode must run on the post-shuffle (parallel) side:\n$plan")
  }

  test("q123 funnel: every stage aggregate keys on user_id, no windows") {
    // the greedy chain is conditional-min hash aggregates sharing the
    // user partitioning — a Window-based rewrite (one task per user
    // ordering) must not sneak in
    val plan = planOf(SparkEntry.queries("q123_funnel")(spark, sf))
    assert(!plan.contains("Window"),
      s"funnel must not use window operators:\n$plan")
    val parts = "Exchange hashpartitioning\\(([a-z_0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(parts == Set("user_id") || parts == Set("user"),
      s"funnel exchanges must all key on the user column, got $parts:\n$plan")
  }

  test("q126 set-similarity: verification joins arrays, never re-explodes " +
    "candidates") {
    // the verify stage must be hash joins + in-row array_intersect; a
    // Generate after the candidate distinct would mean the expansion
    // join crept back
    val df = SparkEntry.queries("q126_setsim_join")(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("array_intersect"),
      s"verification must use array_intersect:\n$plan")
    // the element frame is persisted once and every consumer reads the
    // cache — the shingle posexplode exists only inside the
    // InMemoryTableScan's printed cached plan, never as a live operator
    // (the un-persisted form re-ran the explode per consumer: 5 live
    // Generate subtrees in this plan before the fix)
    assert(plan.contains("InMemoryTableScan"),
      s"the element frame must be persisted and reused:\n$plan")
    // NO live explodes at all: the prefix frame (whose slice-posexplode
    // is the only legitimate expansion) is persisted, so both self-join
    // sides read the cache and the explode exists only inside the cached
    // plan. Counted by tree collect, not text — collect() stops at
    // InMemoryTableScanExec leaves (the live-vs-cached distinction), and
    // print occurrences stopped being a proxy once the candidate breaker
    // started materializing the prefix cache up front (a materialized
    // scan prints its cached plan extra times).
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val liveGen = root.collect { case g: GenerateExec => g }.size
    assert(liveGen == 0,
      s"expected zero live explodes (all behind the cache), got $liveGen:\n$plan")
    assert(plan.contains("posexplode(slice"),
      s"the prefix-slice explode must exist inside the cached plan:\n$plan")
    graft.CacheScope.releaseAll()
  }

  test("q150 BM25: global top-k is TakeOrdered, never a single-partition sort") {
    val plan = planOf(SparkEntry.queries("q150_bm25")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be per-partition heaps + merge:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") ||
      plan.indexOf("Exchange SinglePartition") >
        plan.indexOf("TakeOrderedAndProject"),
      s"no full-sort single-partition exchange before the top-k:\n$plan")
  }

  test("q152 Markov: one user exchange for the window, no data-sized second shuffle") {
    // the lead window keys on user_id; the (from,to) aggregate and row
    // totals operate on the alphabet-contracted frame (tiny) — the
    // plan's only data-sized hashpartitioning is the user one
    val plan = planOf(SparkEntry.queries("q152_markov")(spark, sf))
    assert(plan.contains("hashpartitioning(user_id"),
      s"the window must key on user_id:\n$plan")
  }

  test("q148 SRP: zero exchanges, single codegen stage over the scan") {
    val plan = planOf(
      graft.operators.Similarity.randomProjection(
        Tables.embeddings(spark, sf), "vec_id", "embedding", 16, 64))
    assert(!plan.contains("Exchange"), s"SRP must not shuffle:\n$plan")
    // "*(n)" is the whole-stage-codegen marker in the simple plan string
    assert(plan.contains("*("),
      s"SRP must stay inside codegen:\n$plan")
  }

  test("q154 SemDeDup: fused predicates, no interpreted HOF, " +
    "pair join keys on the cluster") {
    val plan = planOf(SparkEntry.queries("q154_semdedup")(spark, sf))
    assert(plan.contains("long_dot"),
      s"the squared norm must be the fused dot expression:\n$plan")
    assert(plan.contains("cosine_ge"),
      s"the pair threshold must be the fused predicate:\n$plan")
    // the per-ROW quantize transform keeps its lambda (one pass over the
    // scan); the per-PAIR path must not: no zipped intermediate array
    assert(!plan.contains("zip_with") && !plan.contains("aggregate(zip"),
      s"no interpreted higher-order function on the pair path:\n$plan")
    // The pair self-join's ONLY equi-key is cluster (broadcast at this
    // fixture's size; a cluster-keyed shuffle once the persisted side
    // outgrows the threshold — either way no wider key, no cross join).
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cluster"
      .r.findFirstIn(plan).isDefined,
      s"the candidate join must key on cluster:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the pair join must stay an equi-join:\n$plan")
  }

  test("q155 cross-doc dedup: banned set broadcasts into the anti-join " +
    "(the skewed chunk key is never hash-partitioned for the ban)") {
    val plan = planOf(SparkEntry.queries("q155_crossdoc_dedup")(spark, sf))
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"),
      s"the ban must be a broadcast anti-join:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"),
      s"reassembly keys on doc_id:\n$plan")
  }

  test("q156 temperature mix: quota frame broadcasts, rank keys on the source") {
    val plan = planOf(SparkEntry.queries("q156_temperature_mix")(spark, sf))
    assert(plan.contains("hashpartitioning(lang"),
      s"the md5 rank must key on the source column:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the |sources|-row quota frame must broadcast:\n$plan")
  }

  test("q159 inverted index: df/cf from a hash aggregate (never a raw " +
    "per-token window), corpus scanned once, windows only post-cap") {
    val df = SparkEntry.queries("q159_inverted_index")(spark, sf)
    df.collect() // finalize AQE so ReuseExchange is visible
    val plan = planOf(df).split("== Initial Plan ==")(0)
    // the df/cf branch must partially aggregate, not window over raw tf
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"df/cf must come from a partial-agg hash aggregate:\n$plan")
    // phase-1 window is salted: its exchange keys on (token, salt)
    assert("hashpartitioning\\(token#\\d+, salt".r.findFirstIn(plan)
      .isDefined, s"the first cap window must partition on (token, salt):\n$plan")
    // one corpus scan: the tf exchange feeds both the rank and stats sides
    val scans = "FileScan parquet".r.findAllIn(plan).size
    assert(scans === 1, s"corpus must scan once, saw $scans:\n$plan")
  }

  test("q160 collocations: totals broadcast as one row, counts partially " +
    "aggregate, no windows anywhere") {
    val plan = planOf(SparkEntry.queries("q160_collocations")(spark, sf))
    assert(!plan.contains("Window"),
      s"collocations must be pure aggregates + joins:\n$plan")
    assert(plan.contains("BroadcastExchange"),
      s"the one-row totals frame must broadcast:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"bigram/unigram counts must combine map-side:\n$plan")
  }

  test("q161 dataset card: one pass, no window, group-keyed exchanges only") {
    val plan = planOf(SparkEntry.queries("q161_dataset_card")(spark, sf))
    assert(!plan.contains("Window"), s"card must not window:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).size === 1,
      s"card must be a single pass:\n$plan")
    assert(plan.contains("hashpartitioning(source"),
      s"exchanges must key on the group columns:\n$plan")
  }

  test("q163 bigram LM: no windows, partial aggs; the conditional table " +
    "is assembled on the vocab contraction, not the doc-volume path") {
    val plan = planOf(SparkEntry.queries("q163_bigram_lm")(spark, sf))
    assert(!plan.contains("Window"), s"LM scoring must not window:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("partial_sum") || plan.contains("partial sum"),
      s"counts must combine map-side:\n$plan")
  }

  test("q165 image near-dup: exact hashes collapse BEFORE banding, " +
    "pairs verify with popcount on an equi-join") {
    val plan = planOf(SparkEntry.queries("q165_image_neardup")(spark, sf))
    assert("HashAggregate\\(keys=\\[hi#\\d+L, lo#\\d+L\\]".r
      .findFirstIn(plan).isDefined,
      s"identical hashes must collapse in a hash aggregate first:\n$plan")
    assert(plan.contains("bit_count"),
      s"the distance must be the exact popcount verify:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band candidates must pair via an equi-join:\n$plan")
  }

  test("q157 link prediction: wedge counts partially aggregate before the shuffle") {
    val plan = planOf(SparkEntry.queries("q157_link_prediction")(spark, sf))
    // two HashAggregates around the (a,b) exchange = map-side combine
    val pairAgg = "HashAggregate\\(keys=\\[a#\\d+L?, b#\\d+L?\\]".r
      .findAllIn(plan).size
    assert(pairAgg >= 2,
      s"wedge counting must be a partial+final hash aggregate:\n$plan")
  }

  test("q169 k-anonymity: both ladder windows reuse the ONE nation exchange") {
    // HashPartitioning(nation) satisfies each window's
    // ClusteredDistribution (subset clustering), so the two-level
    // ladder is exchange-once, sort-per-level — the property that keeps
    // the ladder one-pass at 100 TB.
    val plan = planOf(SparkEntry.queries("q169_kanonymity")(spark, sf))
    assert(exchanges(plan) === 1,
      s"ladder must shuffle exactly once, on the shared prefix:\n$plan")
    assert(plan.contains("hashpartitioning(c_nationkey"),
      s"the single exchange must key on nation:\n$plan")
  }

  test("q170 z-order stats: fused key, one bucket aggregate, no global sort") {
    val plan = planOf(SparkEntry.queries("q170_zorder")(spark, sf))
    assert(plan.contains("interleave_bits"),
      s"the z-key must be the fused expression:\n$plan")
    assert(exchanges(plan) === 1,
      s"curve-cell bucketing is stateless; only the stats agg shuffles:\n$plan")
    assert(!plan.contains("Sort "),
      s"fixed curve cells need no range sort:\n$plan")
    // map-side combine on the bucket key
    val bucketAgg = "HashAggregate\\(keys=\\[bucket#\\d+L?\\]".r
      .findAllIn(plan).size
    assert(bucketAgg >= 2, s"bucket stats must partial-aggregate:\n$plan")
  }

  test("q171 semantic decontam: benchmark broadcasts, ONE corpus shuffle") {
    val plan = planOf(
      SparkEntry.queries("q171_semantic_decontam")(spark, sf))
    assert(plan.contains("BroadcastExchange"),
      s"the benchmark side must broadcast:\n$plan")
    assert(exchanges(plan) === 1,
      s"corpus shuffles once, for the per-id max:\n$plan")
    assert(plan.contains("cosine_sim"),
      s"scoring must be the fused cosine expression:\n$plan")
  }

  test("q168 fuzzy join: candidates equi-join on the variant, never cross") {
    val plan = planOf(SparkEntry.queries("q168_fuzzy_join")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion-neighborhood join must stay an equi-join:\n$plan")
    assert(plan.contains("levenshtein"),
      s"the exact verify must be the native codegen levenshtein:\n$plan")
  }

  test("q179 gopher signals: both aggregates reuse ONE doc exchange") {
    // the gram-count and per-doc assembly aggregates both cluster on
    // the doc id the input pre-partitions on (subset clustering); the
    // only other exchange is the final left join back to documents
    val plan = planOf(SparkEntry.queries("q179_gopher_rep")(spark, sf))
    assert(exchanges(plan) <= 2,
      s"q179: doc repartition + join-back only, aggregates share:\n$plan")
    assert(!plan.contains("Window"),
      s"q179's arg-max is a struct max, not a window:\n$plan")
  }

  test("q192 skyline: both dominance windows share one group exchange") {
    val plan = planOf(SparkEntry.queries("q192_skyline")(spark, sf))
    assert(exchanges(plan) === 1,
      s"skyline must be exchange-once (subset clustering):\n$plan")
    assert(!plan.contains("Join"),
      s"skyline must not pair-join:\n$plan")
  }

  test("q197 top paths: prefix assembly is an aggregate, not a window") {
    val plan = planOf(SparkEntry.queries("q197_top_paths")(spark, sf))
    assert(!plan.contains("Window"),
      s"sort_array(collect_list) replaces the window:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered, not a global sort:\n$plan")
  }

  test("q199 activity bitmap: one partial-agg exchange, no window") {
    val plan = planOf(SparkEntry.queries("q199_activity_bitmap")(spark, sf))
    assert(!plan.contains("Window"), s"bitmap fold is an aggregate:\n$plan")
    // day0 broadcast + the user bit_or aggregate
    assert(plan.contains("partial_bit_or") ||
      plan.toLowerCase.contains("partial"),
      s"bit_or must combine map-side:\n$plan")
  }

  test("q201 star join: every dimension broadcasts at gate scale") {
    val plan = planOf(SparkEntry.queries("q201_tpch_like")(spark, sf))
    val bcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bcasts >= 4,
      s"customer/supplier/nation/region must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cross join in the star:\n$plan")
  }

  test("q204 RFM: no global-partition window anywhere (closed-form ntile)") {
    val plan = planOf(SparkEntry.queries("q204_rfm")(spark, sf))
    assert(!plan.contains("Window"),
      s"quantileBins must not plan a window (global ntile trap):\n$plan")
  }

  test("q227 Jaro-Winkler: blocked equi-join (no cartesian), native " +
    "expression in the join stage") {
    val plan = planOf(SparkEntry.queries("q227_jaro_winkler")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"block key must make this an equi-join:\n$plan")
    assert(plan.contains("jaro_winkler"),
      s"native expression must appear in the plan:\n$plan")
  }

  test("q232 weighted take: rank short-circuits via WindowGroupLimit") {
    val plan = planOf(
      SparkEntry.queries("q232_weighted_sample")(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"top-k per group must short-circuit, not rank every row:\n$plan")
  }

  test("q228 quantile norm: the bin reference joins back as a broadcast") {
    val plan = planOf(SparkEntry.queries("q228_quantile_norm")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"),
      s"the bins-row reference frame must broadcast:\n$plan")
  }

  test("q230 KS: the only window runs AFTER the cent-domain aggregate") {
    // the cumulative window is domain-bounded by construction: it must
    // consume a HashAggregate output, never the raw events scan. AQE is
    // disabled for THIS plan so the static tree is fully traversable
    // (query-stage wrappers stop TreeNode.collect at stage boundaries).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val root = SparkEntry.queries("q230_ks_test")(spark, sf)
        .queryExecution.executedPlan
      val windows = root.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w }
      assert(windows.nonEmpty, s"expected a cumulative window:\n$root")
      windows.foreach { w =>
        // the domain aggregate may be live (HashAggregate) or behind the
        // tracked persist (InMemoryTableScan of the cached aggregate) —
        // both satisfy the claim; a window straight over the file scan
        // would show neither
        val hasAggBelow = w.collect {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c
        }.nonEmpty
        assert(hasAggBelow,
          s"KS window must sit above the distinct-cent aggregate:\n$root")
      }
      graft.CacheScope.releaseAll()
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("GraftPlanAudit.shuffleCount: exact on a known two-shuffle plan") {
    import org.apache.spark.sql.execution.GraftPlanAudit
    // agg on user_id (shuffle 1) -> re-agg on the derived column
    // (shuffle 2): deterministic, no join-threshold dependence
    val df = Tables.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(count(lit(1)).as("users"))
    df.collect() // finalize the adaptive plan
    assert(GraftPlanAudit.shuffleCount(df) === 2,
      s"expected exactly 2 shuffles:\n${planOf(df)}")
  }

  test("GraftPlanAudit.shuffleCount: cached subplan counted ONCE per " +
    "relation, not once per reference (the r12 q17/q18 string inflation)") {
    import org.apache.spark.sql.execution.GraftPlanAudit
    val base = Tables.table(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .persist()
    try {
      // the union references the cached one-shuffle plan twice, and the
      // global sum adds its own SinglePartition exchange: the true
      // executed count is 2 (cache's exchange ONCE + the sum's). The
      // string grep sees 3+ — one per PRINTED cached subplan — which is
      // exactly the r12 inflation artifact.
      val u = base.union(base).agg(sum("n").as("s"))
      u.collect()
      assert(GraftPlanAudit.shuffleCount(u) === 2,
        s"cached agg's exchange must count once + the sum's:\n${planOf(u)}")
      val stringCount = "(?m)^.*Exchange".r
        .findAllIn(u.queryExecution.executedPlan.toString).size
      assert(stringCount > 2,
        s"the string grep must over-count here (saw $stringCount) — " +
          "otherwise this pin no longer demonstrates the artifact")
    } finally { base.unpersist(); () }
  }

  test("GraftPlanAudit.shuffleCount: q17/q18 executed counts are single " +
    "digits (the true plan shape behind the r12 85-87 string artifact)") {
    import org.apache.spark.sql.execution.GraftPlanAudit
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    for (q <- Seq("q17_home_work", "q18_hw_wide")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val n = GraftPlanAudit.shuffleCount(df)
      assert(n > 0 && n < 10,
        s"$q executed shuffle count must be single-digit, got $n")
      assert(GraftPlanAudit.count(df)(_.isInstanceOf[InMemoryTableScanExec])
        === 0, s"$q must not read a cache:\n${planOf(df)}")
    }
  }

  test("HomeWork tail (Some span): one exchange, one sort, no cache") {
    import graft.operators.HomeWork
    import org.apache.spark.sql.execution.{GraftPlanAudit, SortExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    // HomeWorkSpec's fixture shape: home nights, weekday-noon work
    def day(d: Int, h: Int): Long = d.toLong * 86400L + h * 3600L
    val clusters = Seq(
      ("u", 1L, 0L, day(1, 23)), ("u", 2L, 0L, day(2, 23)),
      ("u", 3L, 1L, day(4, 12)), ("u", 4L, 1L, day(5, 12)))
      .map { case (u, e, l, s) =>
        (u, e, 19.0, -99.0, s, s + 600, l, 2L, 19.0, -99.0)
      }.toDF("uid", "stop_events", "latitude", "longitude",
        "start_timestamp", "end_timestamp", "stop_locations",
        "cluster_counts", "cluster_latitude", "cluster_longitude")
    val p = HomeWork.Params(startHourDay = 7, endHourDay = 21,
      startWorkingHour = 8, endWorkingHour = 18, spanPeriodHome = 0.1,
      spanPeriodWork = 0.1, totalDays = Some(10L))
    val wide = HomeWork.wideExport(HomeWork.label(clusters, p))
    assert(wide.collect().length === 1)
    def n(f: org.apache.spark.sql.execution.SparkPlan => Boolean) =
      GraftPlanAudit.count(wide)(f)
    assert(GraftPlanAudit.shuffleCount(wide) === 1,
      s"the uid exchange must serve all four windows and the export:\n" +
        planOf(wide))
    assert(n(_.isInstanceOf[SortExec]) === 1,
      s"one (uid, stop_locations) sort must serve the whole tail:\n" +
        planOf(wide))
    assert(n(_.isInstanceOf[InMemoryTableScanExec]) === 0,
      s"HomeWork must not cache:\n${planOf(wide)}")
  }
}

object PlanAuditSpec {
  /** The kernel names of the uid scans in `df`'s executed plan. */
  def kernels(df: org.apache.spark.sql.DataFrame): Seq[String] =
    org.apache.spark.sql.execution.GraftPlanAudit.collectFinal(df) {
      case u: graft.plans.UidScanExec => Some(u.kernel.toString.takeWhile(_ != '('))
      case _ => None
    }
}
