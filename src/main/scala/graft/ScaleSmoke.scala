package graft

import graft.RunLedger.{num, strs}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

/** sf1 scale smoke for the iterative / bucketed operators (dev main).
  *
  * The driver ships fixtures up to sf0.1; the 100 TB design claims for
  * connected components (q47/q69), minhash candidate generation (q29),
  * grid POI clustering (q84) and the incremental near-dup gate (q83) are
  * otherwise only design-argued. This main materializes a 10x fixture
  * (sf1-scale `documents` + `events`) by unioning shifted copies of the
  * sf0.1 tables, runs those five queries at both scales, and prints one
  * JSON line with per-query seconds and the sf1/sf0.1 ratio — near-linear
  * ratios (~10x on 10x rows for the linear operators) and unchanged plan
  * shapes are the acceptance.
  *
  * Copy construction preserves workload SHAPE instead of inflating it:
  *  - documents: doc_id shifted by 10M per copy and EVERY TOKEN suffixed
  *    with a per-copy tag, so the copies are fully disjoint in shingle /
  *    gram space — the same "disjoint copies" growth mode as lineitem.
  *    (The earlier per-copy PREFIX token prevented exact-dup collapse
  *    but left copies Jaccard-~1 NEIGHBORS of each other: for the exact
  *    set-similarity join the true-pair output then grows quadratically
  *    in copies — a ×75 "regression" that was fixture artifact, not
  *    algorithm. Per-token salting keeps element document frequencies
  *    scale-invariant, which is what a 10× corpus actually looks like.)
  *  - events: user_id shifted per copy (10x users, same per-user
  *    trajectory), event_id shifted by 1M per copy to stay unique; the
  *    jitter formulas depend on event_id % 5/7, so a multiple-of-70 shift
  *    keeps each copy's geometry identical to the original.
  */
object ScaleSmoke {

  private def buildSf1(spark: SparkSession, src: String, dst: String,
                       nCopies: Int): Unit = {
    val fs = new java.io.File(dst)
    // completion marker encodes the copy count: a bare _OK would silently
    // reuse a 10-copy fixture for a requested 100-copy sweep
    // v3: documents switched to per-token copy salting — the version
    // bump forces a rebuild over any prefix-salted fixture
    if (new java.io.File(s"$dst/_OK_v3_$nCopies").exists()) return
    fs.mkdirs()
    // rebuilding at a different copy count: drop every stale marker so a
    // later run requesting the OLD count can't silently reuse data built
    // at the new scale
    Option(fs.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_OK_"))
      .foreach(_.delete())
    val docs = Tables.documents(spark, src)
    val events = Tables.table(spark, src, "events")
    val copies = spark.range(0, nCopies).select(col("id").as("copy"))
    // per-token salt: suffix every token with "~c<copy>" (copy 0 keeps
    // the original text, so the sf0.1 slice of the fixture IS the real
    // corpus). Tokenization everywhere is single-space, so the suffix
    // rides inside the token and every word-n-gram / char-k-gram space
    // is disjoint across copies.
    docs.crossJoin(copies)
      .select(
        (col("doc_id") + col("copy") * lit(10000000L)).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1~c"), col("copy"))))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    // event_id shift is a multiple of 70 so event_id % 5 and % 7 (the
    // ping jitter inputs) are copy-invariant: every copy is the same
    // trajectory under a new user id.
    events.crossJoin(copies)
      .select(
        (col("event_id") + col("copy") * lit(1000300L)).as("event_id"),
        col("ts"),
        (col("user_id") + col("copy") * lit(10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    // lineitem (the co-purchase graph source for q121/q122): order AND
    // part keys shift together per copy, so baskets stay intact and the
    // graph becomes nCopies disjoint copies — nodes, edges, and
    // triangles all scale linearly with rows, the honest growth mode
    // (inflating only orders would densify one fixed part space into an
    // unrealistically-complete graph instead).
    Tables.lineitem(spark, src).crossJoin(copies)
      .select(
        (col("l_orderkey") + col("copy") * lit(3000000L)).as("l_orderkey"),
        (col("l_partkey") + col("copy") * lit(1000000L)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    new java.io.File(s"$dst/_OK_v3_$nCopies").createNewFile(): Unit
  }

  /** Additive fixture step: `embeddings` copies for the vector operators
    * (q145 k-means, q148 random projection). Own marker so fixtures
    * built before this table existed gain it WITHOUT a full rebuild;
    * [[buildSf1]]'s marker sweep still clears it on a copy-count change.
    * vec_id shifts per copy; vectors repeat — the honest growth mode for
    * assignment/projection cost (cluster structure is scale-invariant,
    * every pass still reads nCopies x the rows).
    */
  private def ensureEmbeddings(spark: SparkSession, src: String,
                               dst: String, nCopies: Int): Unit = {
    if (new java.io.File(s"$dst/_OK_emb_v1_$nCopies").exists()) return
    val copies = spark.range(0, nCopies).select(col("id").as("copy"))
    Tables.embeddings(spark, src).crossJoin(copies)
      .select(
        (col("vec_id") + col("copy") * lit(10000000L)).as("vec_id"),
        col("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    new java.io.File(s"$dst/_OK_emb_v1_$nCopies").createNewFile(): Unit
  }

  /** Additive fixture step: `part` + `customer` copies for q168 (fuzzy
    * vocab join) and q169 (k-anonymity ladder). part names are salted
    * per copy (copy 0 keeps the originals) so the noisy-name VOCABULARY
    * grows 10x — the honest growth mode for a deletion-neighborhood
    * join (same-name copies would collapse in the distinct). customer
    * keeps its QI columns verbatim: a 10x population with a fixed QI
    * space means 10x-deeper groups, which is what a real release table
    * does — the ladder's window cost scales with rows.
    */
  private def ensureDims(spark: SparkSession, src: String,
                         dst: String, nCopies: Int): Unit = {
    if (new java.io.File(s"$dst/_OK_dims_v1_$nCopies").exists()) return
    val copies = spark.range(0, nCopies).select(col("id").as("copy"))
    Tables.part(spark, src).crossJoin(copies)
      .select(
        // multiple of 110 keeps p_partkey % 10 / % 11 (the q168 noisy
        // derivation inputs) copy-invariant
        (col("p_partkey") + col("copy") * lit(1100000L)).as("p_partkey"),
        when(col("copy") === 0, col("p_name"))
          .otherwise(concat(col("p_name"), lit("~c"), col("copy")))
          .as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/part.parquet")
    Tables.customer(spark, src).crossJoin(copies)
      .select(
        (col("c_custkey") + col("copy") * lit(10000000L)).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    new java.io.File(s"$dst/_OK_dims_v1_$nCopies").createNewFile(): Unit
  }

  /** Additive fixture step: `orders` copies + verbatim small dims for
    * the q201 star join. Order keys shift by lineitem's 3M stride so
    * baskets stay joined; o_custkey shifts by customer's 10M stride so
    * each copy's orders belong to that copy's customers; supplier /
    * nation / region copy VERBATIM — real dims do not grow with the
    * fact table, which is exactly what keeps them broadcast-able at
    * every scale.
    */
  private def ensureFacts2(spark: SparkSession, src: String,
                           dst: String, nCopies: Int): Unit = {
    if (new java.io.File(s"$dst/_OK_facts2_v1_$nCopies").exists()) return
    val copies = spark.range(0, nCopies).select(col("id").as("copy"))
    Tables.orders(spark, src).crossJoin(copies)
      .select(
        (col("o_orderkey") + col("copy") * lit(3000000L)).as("o_orderkey"),
        (col("o_custkey") + col("copy") * lit(10000000L)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    for (t <- Seq("supplier", "nation", "region"))
      Tables.table(spark, src, t).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
    new java.io.File(s"$dst/_OK_facts2_v1_$nCopies").createNewFile(): Unit
  }

  /** Scale-sweep target list: the FULL oracle board, derived from
    * SparkEntry.queries — r12's hand-maintained 126-name list left half
    * the board with no ×10/×100 row and no recorded selection rule (r12
    * verdict ask #2); deriving it removes the selection entirely and
    * covers future queries by construction. SPARK_GRAFT_SCALE_ONLY
    * still prefix-filters for targeted re-measures.
    */
  private def defaultTargets: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted

  /** Materialize the complete N-copy fixture into `dst` (all four
    * builder steps, each marker-guarded) — shared with [[Macro]].
    */
  def ensureFixture(spark: SparkSession, src: String, dst: String,
                    nCopies: Int): Unit = {
    buildSf1(spark, src, dst, nCopies)
    ensureEmbeddings(spark, src, dst, nCopies)
    ensureDims(spark, src, dst, nCopies)
    ensureFacts2(spark, src, dst, nCopies)
  }

  def main(args: Array[String]): Unit = {
    // the x100 streaming gates' memory-sink collects brush past the
    // 1g default (q158 died at 1074.2 MiB mid-sweep, r13); only
    // applies when THIS main creates the session — a fast-path
    // spark-shell launcher must pass the same conf on its own
    val spark = Session.local("graft-scale-smoke",
      "spark.driver.maxResultSize" -> "8g")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    // knobs for bigger sweeps: copy count (10 = sf1, 100 = sf10) and a
    // target-prefix filter (mirrors Bench's BENCH_ONLY)
    val nCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val targets = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(f => defaultTargets.filter(t => f.split(",").exists(t.startsWith)))
      .getOrElse(defaultTargets)
    ensureFixture(spark, src, dst, nCopies)

    // streaming smoke mode: noop sink (no driver-side memory-sink
    // materialization of x100-sized emissions); the ledger records every
    // streaming run's state-store peak — the bounded-state evidence rows
    // for SCALE_sf10 (r9 verdict ask #1)
    if (sys.env.get("SPARK_GRAFT_STREAM_NOOP").contains("1")) {
      spark.conf.set("spark.graft.streamSinkNoop", "true")
      // pin the replay structure so both scales evict at the same 16
      // watermark advances — state-peak fractions stay comparable
      spark.conf.set("spark.graft.streamChunks", "16")
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_sf1.json")
    val ledger = new RunLedger(spark, Some(out))
    def side(dir: String): String = dir.split('/').last
    // The shared pass policy, interleaved across queries AND scales: every
    // pass counts toward the min, quiet passes first. Without the quiet
    // gate one steal burst on the sf0.1 side fabricates a sub-1 "ratio"
    // (or an inflated one on the big side) that reads as a plan change.
    //
    // Plan-shape fingerprint: the ledger counts DISTINCT shuffle exchanges
    // in the final adaptive EXECUTED plan of the SAME df the pass timed
    // (re-constructing a query to fingerprint it would re-run the
    // iterative queries' loops). "No new plan shapes at 10x" = identical
    // counts at both scales. For the iterative CC queries this is the
    // final label-stitching plan, not the per-round loop plans.
    val runs = RunLedger.sweep(for (n <- targets; dir <- Seq(src, dst))
      yield (n, dir)) { case ((n, dir), pass) =>
      ledger.measure(s"$n@${side(dir)}", pass)(SparkEntry.queries(n)(spark, dir))
    }
    val best = runs.flatMap { case (k, rs) => RunLedger.best(rs).map(k -> _) }
    // a target that failed at either scale has no ratio: its row is left
    // out and its cause chain lands in "errors"
    val measured = targets.filter(n => best.contains((n, src)) && best.contains((n, dst)))
    // super-linearity alarm: rows grow x nCopies, so any time ratio past
    // that is growing FASTER than the data — the q216 failure mode (x764
    // at x100 sat silently in the record until a human read it). The
    // 1.2 slack absorbs constant-overhead shifts between scales; every
    // flagged query must be explained or fixed, never shipped silent.
    def isSuper(n: String): Boolean =
      best((n, dst)).wallS / best((n, src)).wallS > nCopies * 1.2
    // state-peak twin of the wall alarm (the q166 failure mode: state
    // grew x139 under x100 input while the wall-only flag stayed green)
    def isSuperState(n: String): Boolean =
      (best((n, src)).stream, best((n, dst)).stream) match {
        case (Some(a), Some(b)) if a.statePeakRows > 0 =>
          b.statePeakRows.toDouble / a.statePeakRows > nCopies * 1.2
        case _ => false
      }
    val rows = measured.map { n =>
      val (a, b) = (best((n, src)), best((n, dst)))
      // streaming rows carry the bounded-state evidence at BOTH scales —
      // acceptance is peak ~ watermark window, not ~ input
      val stream = (a.stream, b.stream) match {
        case (Some(ma), Some(mb)) => List[(String, JValue)](
          "state_peak_src" -> JLong(ma.statePeakRows),
          "input_rows_src" -> JLong(ma.inputRows),
          "state_peak_dst" -> JLong(mb.statePeakRows),
          "input_rows_dst" -> JLong(mb.inputRows),
          "batches_src" -> JLong(ma.batches), "batches_dst" -> JLong(mb.batches),
          "superlinear_state" -> JBool(isSuperState(n)))
        case _ => Nil
      }
      n -> JObject(List[(String, JValue)](
        "sf0.1" -> num(a.wallS), "sf1" -> num(b.wallS),
        "ratio" -> num(b.wallS / a.wallS),
        "exchanges_sf0.1" -> JLong(a.exchanges),
        "exchanges_sf1" -> JLong(b.exchanges),
        "superlinear" -> JBool(isSuper(n))) ++ stream)
    }
    val keys = runs.keys.toSeq.sortBy { case (n, d) => (n, side(d)) }
    def label(k: (String, String)): String = s"${k._1}@${side(k._2)}"
    println(RunLedger.write(out, JObject(
      "metric" -> JString("scale_smoke"), "copies" -> JLong(nCopies),
      "noisy" -> strs(keys.filter(k => RunLedger.noisy(runs(k))).map(label)),
      "superlinear" -> strs((measured.filter(isSuper) ++
        measured.filter(isSuperState).map(n => s"$n#state")).distinct),
      "quiet_steal_pct" -> num(RunLedger.QuietStealPct, 1),
      "errors" -> JObject(keys.flatMap(k => runs(k).flatMap(_.error)
        .lastOption.map(label(k) -> JString(_))): _*),
      "queries" -> JObject(rows: _*))))
    spark.stop()
  }
}
