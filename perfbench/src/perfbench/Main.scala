package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{HostLoad, PolaRoam}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, max}

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <city_month|fleet_skew|daily_drops>
  *                  --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Set-up (session start, input generation, a JIT warm-up query) runs
  * three times, each from a fresh session; `setup_s` is their median. An
  * unmeasured fused warm-up repetition on tiny inputs follows. Then whole
  * repetitions run until `--seconds` have passed. With --trace 0 they are
  * fused and give the end-to-end metrics; with --trace 1 half the time
  * runs fused and half staged, which gives the per-layer metrics and the
  * tracing overhead. Every repetition's output is checked; the last line
  * of stdout is the result object.
  */
object Main {
  val Workloads = Seq("city_month", "fleet_skew", "daily_drops")
  private val Setups = 3
  /** A repetition slower than this counts as failed (timed out). */
  private val RepLimitS = 100.0

  final case class RepRecord(mode: String, wall: Double, cpu: Double,
                             taskMemPeak: Long, cachePeak: Long,
                             rep: Option[Pipeline.Rep], failure: Option[String])

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the session graft.Bench runs the query board with
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // keep every file the run writes inside the working directory
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with at least ten samples beyond it
    * (the maximum when there are fewer than eleven), with its percentile.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n) else (s.last, 100.0)
  }

  private def causeChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(6)
      .map(e => s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" ")}")
      .mkString(" <- ")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def bytesUnder(f: File, suffix: String): (Long, Int) =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder(_, suffix))
      .foldLeft((0L, 0))((a, b) => (a._1 + b._1, a._2 + b._2))
    else if (f.getName.endsWith(suffix)) (f.length, 1) else (0L, 0)

  /** Checks one repetition's outputs: the export against the planted H/W
    * sites and, staged, the stop medians and twin-site clusters; the
    * fingerprint must equal the run's first.
    */
  def check(spark: SparkSession, p: Pipeline, in: Inputs, rep: Pipeline.Rep,
            staged: Boolean, refFp: Option[Long]): Seq[String] = {
    val exported = p.readExport(rep.dir).collect().toSeq
    val stops =
      if (!staged) Nil
      else in.truth.checkStops(spark.read.parquet(s"${rep.dir}/medians")
        .select("uid", "start_timestamp", "end_timestamp", "latitude", "longitude")
        .collect().toSeq)
    val twins =
      if (!staged) Nil
      else in.truth.checkTwins(spark.read.parquet(s"${rep.dir}/clusters")
        .select("uid", "latitude", "longitude", "stop_locations").collect().toSeq)
    val fp = refFp.filter(_ != rep.fingerprint)
      .map(r => s"fingerprint ${rep.fingerprint} != first repetition's $r").toSeq
    in.truth.checkExport(exported) ++ stops ++ twins ++ fp
  }

  /** One repetition, timed, checked and recorded. */
  def repetition(spark: SparkSession, meter: Meter, p: Pipeline, in: Inputs,
                 dir: File, staged: Boolean, refFp: Option[Long],
                 log: org.json4s.JValue => Unit): RepRecord = {
    deleteTree(dir)
    meter.takePeaks()
    val ticks0 = HostLoad.cpuTicks()
    val cpu0 = HostLoad.processCpuSeconds()
    val t0 = System.nanoTime()
    val mode = if (staged) "staged" else "fused"
    val (rep, failure) =
      try {
        val r = p.run(dir.getPath, staged)
        (Some(r), None)
      } catch { case NonFatal(e) => (None, Some(causeChain(e))) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = HostLoad.processCpuSeconds() - cpu0
    val (steal, busy) = HostLoad.loadBetween(ticks0, HostLoad.cpuTicks())
    org.apache.spark.GraftSchedulerBridge.drainListenerBus(spark.sparkContext, 60000L)
    val (memPeak, cachePeak) = meter.takePeaks()
    val problems = rep.map { r =>
      try check(spark, p, in, r, staged, refFp)
      catch { case NonFatal(e) => Seq("output check threw: " + causeChain(e)) }
    }.getOrElse(Nil)
    val late = if (wall > RepLimitS) Seq(f"repetition took $wall%.1f s, over the $RepLimitS%.0f s limit") else Nil
    val why = failure.orElse(
      if (problems.isEmpty && late.isEmpty) None else Some((late ++ problems).mkString("; ")))
    log(Json.obj("record" -> Json.obj(
      "mode" -> mode, "wall_s" -> wall, "cpu_s" -> cpu,
      "steal_pct" -> steal, "busy_pct" -> busy,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "task_mem_peak_mb" -> memPeak / 1e6, "cache_peak_mb" -> cachePeak / 1e6,
      "fingerprint" -> rep.map(_.fingerprint.toString).orNull,
      "ok" -> why.isEmpty, "cause" -> why.orNull)))
    RepRecord(mode, wall, cpu, memPeak, cachePeak, rep, why)
  }

  /** One set-up: session start with the benchmark's listener, input
    * generation, and graft.Bench's JIT warm-up query.
    */
  private def setUp(workload: String, seed: Long, work: File): (SparkSession, Meter, Inputs) = {
    val spark = session(work)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    val in = Inputs.generate(spark, workload, seed, Inputs.size(workload), new File(work, "input"))
    spark.range(1000000L).selectExpr("sum(id)").collect()
    (spark, meter, in)
  }

  /** An unchecked fused repetition on tiny inputs (daily_drops: their
    * first two drops), so that measured repetitions run compiled code.
    */
  private def warmUp(spark: SparkSession, meter: Meter, workload: String, seed: Long,
                     work: File): Double = {
    val t0 = System.nanoTime()
    val tiny = Inputs.generate(spark, workload, seed, Inputs.tiny(workload),
      new File(work, "input-tiny"))
    val warm = tiny.copy(files = tiny.files.take(2), dayNames = tiny.dayNames.take(2))
    new Pipeline(spark, meter, warm).run(new File(work, "warm").getPath, asStaged = false)
    deleteTree(new File(work, "warm"))
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = System.out
    def log(v: org.json4s.JValue): Unit = { out.println(Json.line(v)); out.flush() }

    val setupTimes = ArrayBuffer.empty[Double]
    var current: (SparkSession, Meter, Inputs) = null
    (0 until Setups).foreach { _ =>
      if (current != null) current._1.stop()
      deleteTree(work)
      val t0 = System.nanoTime()
      current = setUp(workload, seed, work)
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val (spark, meter, in) = current
    val warmS = warmUp(spark, meter, workload, seed, work)
    val pipeline = new Pipeline(spark, meter, in)
    log(Json.obj("run" -> Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "input_pings" -> in.pings, "input_files" -> in.files.length,
      "users" -> in.truth.homeWork.size,
      "setup_s" -> Json.arr(setupTimes.toSeq), "warmup_s" -> warmS,
      "confs" -> Json.obj(spark.conf.getAll.toSeq.sortBy(_._1)
        .filter { case (k, _) => k.startsWith("spark.sql.") || k.startsWith("spark.graft.") }: _*),
      "extensions" -> spark.conf.getOption("spark.sql.extensions").getOrElse(""))))

    val reps = ArrayBuffer.empty[RepRecord]
    val layerSamples = ArrayBuffer.empty[Map[String, Double]]
    var refFp: Option[Long] = None
    def measure(staged: Boolean, budget: Double): Unit = {
      val t0 = System.nanoTime()
      var first = true
      while (first || (System.nanoTime() - t0) / 1e9 < budget) {
        first = false
        val r = repetition(spark, meter, pipeline, in, new File(work, s"rep-${reps.length}"),
          staged, refFp, log)
        if (refFp.isEmpty) refFp = r.rep.filter(_ => r.failure.isEmpty).map(_.fingerprint)
        reps += r
        if (staged) r.rep.foreach(x => layerSamples += layerSample(spark, meter, pipeline, in, x))
        deleteTree(new File(work, s"rep-${reps.length - 1}"))
      }
    }
    if (trace) { measure(staged = false, seconds / 2); measure(staged = true, seconds / 2) }
    else measure(staged = false, seconds)

    val failed = reps.count(_.failure.nonEmpty)
    val done = reps.filter(_.rep.nonEmpty)
    val fused = done.filter(_.mode == "fused")
    if (fused.isEmpty) {
      System.err.println("perfbench: no repetition completed")
      sys.exit(1)
    }
    if (trace && layerSamples.isEmpty) {
      System.err.println("perfbench: no staged repetition completed")
      sys.exit(1)
    }
    val e2e = median(fused.map(_.wall).toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val (e2eTail, e2ePct) = tail(fused.map(_.wall).toSeq)
        val days = fused.flatMap(_.rep.get.dayLatency).toSeq
        val daily =
          if (days.isEmpty) ""
          else {
            val (dayTail, dayPct) = tail(days)
            f"day_p50_s ${median(days)}%.4f s, day_tail_s (p$dayPct%.1f of ${days.length}) $dayTail%.4f s; "
          }
        out.println(f"e2e_s median $e2e%.4f s, p$e2ePct%.1f $e2eTail%.4f s over ${fused.length} repetitions; " +
          daily + f"failed_frac ${failed.toDouble / reps.length}%.4f (failed $failed of ${reps.length})")
        Seq(
          ("setup_s", median(setupTimes.toSeq), "s"),
          ("e2e_s", e2e, "s"),
          ("pings_per_s", in.pings / e2e, "1/s"),
          ("task_mem_peak_mb", median(fused.map(_.taskMemPeak / 1e6).toSeq), "MB"),
          ("cache_peak_mb", median(fused.map(_.cachePeak / 1e6).toSeq), "MB"))
      } else {
        val staged = done.filter(_.mode == "staged")
        val perLayer = layerSamples.head.keys.toSeq.sorted.map { k =>
          (k, median(layerSamples.map(_(k)).toSeq), layerUnit(k))
        }
        val stagedSum = median(staged.map(_.rep.get.spans.values.sum).toSeq)
        // process CPU did not repeat within a tenth across seeds on a
        // 4-vCPU VM (fleet_skew quartile spread 0.12), so it is reported
        // here rather than bounded as an end-to-end metric
        perLayer ++ Seq(
          ("trace_overhead_frac", (stagedSum - e2e) / e2e, "fraction"),
          ("cpu_s", median(fused.map(_.cpu).toSeq), "s"))
      }
    log(Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> reps.length,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> v, "unit" -> u)
      }: _*)))
    spark.stop()
    deleteTree(work)
  }

  /** Unit of a per-layer metric, by suffix. */
  private def layerUnit(name: String): String = name.substring(name.indexOf('.') + 1) match {
    case "self_s" | "wait_s" | "gc_s" => "s"
    case "shuffle_mb" | "spill_mb" | "output_mb" | "cache_mb" => "MB"
    case "slot_util" | "task_skew" | "kept_frac" | "stop_frac" | "noise_frac" => "ratio"
    case _ => "count"
  }

  /** Per-layer metrics of one staged repetition: the listener's work per
    * job group plus row counts and layer-specific ratios read from the
    * layer outputs after the timed spans.
    */
  def layerSample(spark: SparkSession, meter: Meter, p: Pipeline, in: Inputs,
                  rep: Pipeline.Rep): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors
    val dir = rep.dir
    def rows(path: String) = spark.read.parquet(path).count().toDouble
    val ingested = new File(dir, "ingested")
    val pingsIn = in.pings.toDouble
    val ingestOut = if (ingested.exists) rows(ingested.getPath) else 0.0
    val detectIn = if (ingested.exists) ingestOut else pingsIn
    val detectPings =
      if (ingested.exists) p.ingested(spark.read.parquet(ingested.getPath))
      else spark.read.parquet(in.files.head)
    val inStops = PolaRoam.fitPredictFlat(detectPings, Pipeline.Cfg)
      .filter(col("stop_events") =!= -1L).count().toDouble
    val medians = spark.read.parquet(s"$dir/medians")
    val nMedians = medians.count().toDouble
    val maxGroup = medians.groupBy("uid").agg(count("*").as("n")).agg(max("n")).head().getLong(0).toDouble
    val clusters = spark.read.parquet(s"$dir/clusters")
    val nClusters = clusters.count().toDouble
    val noise = clusters.filter(col("stop_locations") === -1L).count().toDouble
    val nLabeled = rows(s"$dir/labeled")
    val nExport = p.readExport(dir).count().toDouble
    val (ingestBytes, ingestFiles) = bytesUnder(ingested, ".parquet")
    val (exportBytes, _) = bytesUnder(new File(dir, "export"), ".csv")
    val rowsInOut = Map(
      "Ingest" -> (if (ingested.exists) pingsIn else 0.0, ingestOut),
      "StopDetect" -> (detectIn, nMedians),
      "StopClusters" -> (nMedians, nClusters),
      "HomeWork" -> (nClusters, nLabeled),
      "Export" -> (nLabeled, nExport))
    val common = Pipeline.Layers.flatMap { l =>
      val w = meter.take(l)
      val self = rep.spans.getOrElse(l, 0.0)
      Seq(
        s"$l.self_s" -> self,
        s"$l.rows_in" -> rowsInOut(l)._1,
        s"$l.rows_out" -> rowsInOut(l)._2,
        s"$l.jobs" -> w.jobs.toDouble,
        s"$l.stages" -> w.stages.toDouble,
        s"$l.tasks" -> w.tasks.toDouble,
        s"$l.exchanges" -> w.exchanges.toDouble,
        s"$l.shuffle_mb" -> w.shuffleBytes / 1e6,
        s"$l.wait_s" -> w.waitMs / 1e3,
        s"$l.slot_util" -> (if (self > 0) w.runMs / 1e3 / (self * cores) else 0.0),
        s"$l.task_skew" -> (if (w.tasks > 0) w.taskSkew else 0.0),
        s"$l.gc_s" -> w.gcMs / 1e3,
        s"$l.spill_mb" -> w.spillBytes / 1e6)
    }
    (common ++ Seq(
      "Ingest.output_mb" -> ingestBytes / 1e6,
      "Ingest.files_out" -> ingestFiles.toDouble,
      "Ingest.kept_frac" -> (if (ingested.exists) ingestOut / pingsIn else 0.0),
      "StopDetect.stop_frac" -> inStops / detectIn,
      "StopClusters.max_group_rows" -> maxGroup,
      "StopClusters.noise_frac" -> noise / nClusters,
      "HomeWork.cache_mb" -> p.homeWorkCacheBytes / 1e6,
      "Export.output_mb" -> exportBytes / 1e6)).toMap
  }
}

/** JSON for the run records and the result line (json4s, as shipped with
  * Spark).
  */
object Json {
  import org.json4s._

  def obj(kv: (String, Any)*): JObject = JObject(kv.map { case (k, v) => k -> value(v) }.toList)
  def arr(xs: Seq[Any]): JArray = JArray(xs.map(value).toList)
  def line(v: JValue): String = org.json4s.jackson.JsonMethods.compact(v)

  private def value(v: Any): JValue = v match {
    case null => JNull
    case j: JValue => j
    case s: String => JString(s)
    case b: Boolean => JBool(b)
    case d: Double if d.isNaN || d.isInfinite => JNull
    case d: Double => JDouble(d)
    case n: Int => JLong(n)
    case n: Long => JLong(n)
  }
}
