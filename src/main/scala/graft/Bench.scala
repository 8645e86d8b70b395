package graft

import graft.RunLedger.{Run, best, noisy, num, strs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._

/** The query-board benchmark: every `SparkEntry.queries` entry under the
  * shared pass policy ([[RunLedger.sweep]]), one record with per-pass
  * wall, host load, process CPU and work shape, and a comparator against
  * the previous round's record.
  */
object Bench {

  /** Materialize every output column of `df` and return a fold of them.
    *
    * `count()` is NOT a benchmark: Catalyst prunes all columns under a
    * count, so a "compute a fingerprint column" query benches near-zero
    * work (round-1 failure mode: q30 looked 1.15 s under count() and hung
    * for minutes when actually materialized). xxhash64 over a struct of
    * all columns forces every value to exist, stays inside whole-stage
    * codegen, and reduces to one long — no driver-side collect of data.
    */
  def force(df: DataFrame): Long = {
    // bit_xor, not sum: summing 64-bit hashes overflows under ANSI mode
    val row = df
      .select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(bit_xor(col("h"))).collect()(0)
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** A previous record's per-query figures for the comparator: the
    * recorded min, and process CPU, task count and shuffle bytes of the
    * pass that min came from (work-shape maps are empty for records
    * before r13). `flagged` = its noisy and host-variance queries.
    */
  final case class Prev(path: String, wall: Map[String, Double],
                        cpu: Map[String, Double], tasks: Map[String, Double],
                        shuffle: Map[String, Double], flagged: Set[String])

  def prev(path: String): Option[Prev] =
    if (!new java.io.File(path).exists()) None
    else scala.util.Try {
      val j = RunLedger.parse(path)
      def dbl(v: JValue): Double = v match {
        case JDouble(d) => d
        case JDecimal(d) => d.toDouble
        case JLong(l) => l.toDouble
        case JInt(i) => i.toDouble
        case _ => Double.NaN
      }
      def arr(v: JValue): List[JValue] = v match {
        case JArray(xs) => xs
        case _ => Nil
      }
      def obj(k: String): Map[String, List[JValue]] = j \ k match {
        case JObject(fs) => fs.map { case (n, v) => n -> arr(v) }.toMap
        case _ => Map.empty
      }
      val wall = j \ "queries" match {
        case JObject(fs) => fs.map { case (n, v) => n -> dbl(v) }.toMap
        case _ => Map.empty[String, Double]
      }
      val passes = obj("passes")
      // index of the pass the recorded min came from: the one that equals
      // it (older records took the fastest quiet pass, not the fastest)
      val bestIdx = wall.flatMap { case (n, w) =>
        passes.getOrElse(n, Nil).map(dbl).zipWithIndex
          .minByOption(p => math.abs(p._1 - w)).map(n -> _._2)
      }
      def atBest(k: String): Map[String, Double] = {
        val m = obj(k)
        bestIdx.flatMap { case (n, i) =>
          m.getOrElse(n, Nil).lift(i).map(dbl).filter(_ >= 0).map(n -> _)
        }.toMap
      }
      val flagged = (arr(j \ "noisy") ++ arr(j \ "host_variance"))
        .collect { case JString(s) => s }.toSet
      Prev(path, wall, atBest("cpu"), atBest("tasks"),
        atBest("shuffle_bytes"), flagged)
    }.toOption

  /** A query whose QUIET passes span > 2x in wall while their process
    * CPU stays within 1.5x was descheduled by the host, not re-planned:
    * the steal gate cannot see neighbor load.
    */
  private def hostVariance(runs: Seq[Run]): Boolean = {
    val q = runs.filter(r => r.ok && r.quiet)
    val cpu = q.map(_.cpuS).filter(_ >= 0)
    q.size >= 2 && q.map(_.wallS).max > q.map(_.wallS).min * 2.0 &&
      cpu.size >= 2 && cpu.max <= math.max(cpu.min, 1e-9) * 1.5
  }

  private def median(vs: Seq[Double]): Double =
    if (vs.isEmpty) Double.NaN
    else {
      val s = vs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** The full record. Per-query arrays hold every successful pass in run
    * order, so the recorded min is self-diagnosing (a 129 s min whose
    * twin pass is 7 s is a steal artifact); a query with no successful
    * run is left out of them and lives in `errors`.
    */
  def record(runs: Map[String, Seq[Run]], sf: String,
             prev: Option[Prev]): JObject = {
    val names = runs.keys.toSeq.sorted
    val ok = names.map(n => n -> runs(n).filter(_.ok)).filter(_._2.nonEmpty)
    val bestRun = ok.flatMap { case (n, rs) => best(rs).map(n -> _) }.toMap
    val noisyQs = names.filter(n => noisy(runs(n)))
    val hostVar = names.filter(n => hostVariance(runs(n)))
    def perQ(f: Run => JValue): JObject =
      JObject(ok.map { case (n, rs) => n -> JArray(rs.map(f).toList) }: _*)
    val fields = List[(String, JValue)](
      "metric" -> JString("total"),
      "value" -> num(bestRun.values.map(_.wallS).sum),
      "unit" -> JString("sec"),
      "queries" -> JObject(ok.map { case (n, _) => n -> num(bestRun(n).wallS) }: _*),
      // median next to the min: far above it means steal hit most passes
      "medians" -> JObject(ok.map { case (n, rs) => n -> num(median(rs.map(_.wallS))) }: _*),
      "passes" -> perQ(r => num(r.wallS)),
      "load" -> perQ(r => JArray(List(num(r.stealPct, 1), num(r.busyPct, 1)))),
      // wall up with CPU flat = the host descheduled us; both up = more work
      "cpu" -> perQ(r => num(r.cpuS)),
      // identical task counts and byte volumes across rounds prove the
      // work was the same on a host whose speed drifts round to round
      "tasks" -> perQ(r => JLong(r.tasks)),
      "shuffle_bytes" -> perQ(r => JLong(r.shuffleBytes)),
      "input_bytes" -> perQ(r => JLong(r.inputBytes)),
      "quiet" -> perQ(r => JBool(r.quiet)),
      "noisy" -> strs(noisyQs),
      "host_variance" -> strs(hostVar),
      "quiet_steal_pct" -> num(RunLedger.QuietStealPct, 1),
      "errors" -> JObject(names.flatMap(n =>
        runs(n).flatMap(_.error).lastOption.map(n -> JString(_))): _*),
      "sf" -> JString(sf))
    // vs_prev last: it survives a bounded tail of the stdout line
    JObject(fields ++ prev.map(p =>
      "vs_prev" -> vsPrev(p, bestRun, (noisyQs ++ hostVar).toSet)))
  }

  /** Cross-round comparator: per-query ratio vs the previous record,
    * with a mechanical cause tag on every >1.15x row. Tag ladder, most
    * evidence-backed first:
    *  - "ambient-flagged": either round flagged the query (noisy /
    *    host_variance) — its min has no quiet footing;
    *  - "same-shape": both rounds carry work shape and it matches (tasks
    *    within 2%, shuffle volume within 5%) — the wall moved with the
    *    machine, not the plan (contention inflates process CPU up to 3x
    *    on identical work, which the CPU rules below would misread);
    *  - "work-increase": work shape known and materially different;
    *  - "board-shift": the board moved (median ratio > 1.10) and this
    *    row moved with it (within 15% of the median);
    *  - "ambient": the min pass's CPU covered less than half the wall
    *    growth (descheduled — same work, slower clock);
    *  - "contention": this row's CPU inflation is within 1.5x of the
    *    board's (`cpu_sum_ratio` > 1.10) — cycles per work rose
    *    machine-wide, this row included;
    *  - "work-increase" when CPU grew with the wall; "unattributed"
    *    without a comparable CPU sample.
    */
  private def vsPrev(pr: Prev, now: Map[String, Run],
                     flagged: Set[String]): JObject = {
    val common = now.keySet.intersect(pr.wall.keySet)
      .filter(pr.wall(_) > 0).toSeq.sorted
    val ratios = common.map(n => n -> now(n).wallS / pr.wall(n))
    val med = median(ratios.map(_._2))
    def cpuRatio(n: String): Option[Double] = for {
      b <- pr.cpu.get(n) if b > 0 && now(n).cpuS >= 0
    } yield now(n).cpuS / b
    val cpuPairs = common.flatMap(n => cpuRatio(n).map(_ => (now(n).cpuS, pr.cpu(n))))
    val cpuSumRatio =
      if (cpuPairs.isEmpty) None
      else Some(cpuPairs.map(_._1).sum / cpuPairs.map(_._2).sum)
    val regs = ratios.filter(_._2 > 1.15).sortBy(-_._2).map { case (n, r) =>
      val cr = cpuRatio(n)
      val tasksRatio = pr.tasks.get(n).filter(_ > 0).map(now(n).tasks / _)
      val shuf = pr.shuffle.get(n).map(b => (now(n).shuffleBytes.toDouble, b))
      val shapeKnown = tasksRatio.nonEmpty && shuf.nonEmpty
      val sameShape = tasksRatio.exists(t => t >= 0.98 && t <= 1.02) &&
        shuf.exists { case (a, b) =>
          // sub-MB shuffles jitter with partitioning metadata: equal
          (a < 1e6 && b < 1e6) || (b > 0 && a / b >= 0.95 && a / b <= 1.05)
        }
      val normRatio = if (med > 0) r / med else r
      val cause =
        if (flagged(n) || pr.flagged(n)) "ambient-flagged"
        else if (shapeKnown && sameShape) "same-shape"
        else if (shapeKnown) "work-increase"
        else if (med > 1.10 && normRatio <= 1.15) "board-shift"
        else cr match {
          case Some(c) if c - 1.0 <= (r - 1.0) / 2 => "ambient"
          case Some(c) if cpuSumRatio.exists(b => b > 1.10 && c <= b * 1.5) =>
            "contention"
          case Some(_) => "work-increase"
          case None => "unattributed"
        }
      n -> JObject(List[(String, JValue)](
        "prev" -> num(pr.wall(n)), "now" -> num(now(n).wallS),
        "ratio" -> num(r), "norm_ratio" -> num(normRatio)) ++
        cr.map("cpu_ratio" -> num(_)) ++
        tasksRatio.map("tasks_ratio" -> num(_)) ++
        shuf.map { case (a, b) => "shuffle_ratio" -> num(if (b > 0) a / b else -1.0) } ++
        List("cause" -> JString(cause)))
    }
    JObject(List[(String, JValue)](
      "record" -> JString(pr.path), "compared" -> JLong(common.size),
      "median_ratio" -> num(med)) ++
      cpuSumRatio.map("cpu_sum_ratio" -> num(_)) ++
      List("new_queries" -> strs((now.keySet -- pr.wall.keySet).toSeq.sorted),
        "regressions_gt_1.15" -> JObject(regs: _*)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.out.json")
    // read at START: by default the previous round's committed record,
    // which this run overwrites at the end
    val prevRec = prev(sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", out))
    val spark = Session.local("graft-bench")
    // JIT/codegen warmup so the first measured query isn't charged for it
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val ledger = new RunLedger(spark, Some(out))
    // Dev bisection hook: comma-separated name prefixes to run (default all)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq(""))
    val queries = SparkEntry.queries.filter { case (n, _) => filter.exists(n.startsWith) }
    def run(n: String, pass: String): Run =
      ledger.measure(n, pass)(queries(n)(spark, sfDir))
    var runs: Map[String, Seq[Run]] = RunLedger.sweep(queries.keys.toSeq.sorted)(run)
    // one re-measure pass tightens a host-variance suspect's min on a
    // now-quieter host; what still spans lands in "host_variance"
    val suspects = runs.keys.toSeq.sorted.filter(n => hostVariance(runs(n)))
    if (suspects.nonEmpty) {
      System.err.println(s"[bench] host-variance re-measure: ${suspects.size} " +
        "queries with quiet wall span > 2x at flat CPU")
      suspects.foreach(n => runs += n -> (runs(n) :+ run(n, "var1")))
    }
    val rec = record(runs, sfDir, prevRec)
    // the file is the durable record; stdout gets a compact line that
    // fits a bounded log tail whole
    RunLedger.write(out, rec)
    val short = Set("metric", "value", "unit", "queries", "noisy", "errors",
      "sf", "vs_prev")
    println(RunLedger.line(JObject(rec.obj.filter(f => short(f._1)))))
    spark.stop()
  }
}
