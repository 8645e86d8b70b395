package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.GraftPlanAudit
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The one run ledger of the harness mains (Bench, ScaleSmoke, ScaleTime,
  * Macro, ProfileQ): wall, process CPU, host load and the run's work
  * shape, measured the same way for every run.
  *
  * One listener per SparkContext, installed on first use like
  * [[Session.configure]], sees the scheduler's job/stage/task events and,
  * through `onOtherEvent`, the streaming queries' progress events — so a
  * streaming run's peak state rows, input rows and batch count come from
  * every progress event, not from `recentProgress`'s bounded ring buffer.
  * Runs are attributed by time window: [[measure]] drains the listener
  * bus before and after its body, so it assumes one pipeline drives the
  * session at a time (the harness pattern, as [[CacheScope]] does). A
  * measure nested in another's body also counts toward the outer run.
  *
  * `record` is the harness's output path; each measured run is appended
  * to `<record>.runs.jsonl` as one timestamped JSON line.
  */
final class RunLedger(spark: SparkSession, record: Option[String] = None) {
  import RunLedger._

  private val listener = listenerOf(spark.sparkContext)
  private val journal = record.map(journalPath)

  /** Runs `body` once as run `name`/`pass` and returns its [[Run]]; a
    * throwing body yields a run with `error` set instead of throwing. A
    * body that returns a Dataset is forced with [[Bench.force]] inside
    * the timed window, and its executed plan's shuffle exchanges are
    * counted after it.
    */
  def measure(name: String, pass: String)(body: => Any): Run = {
    // queries that persist internally would serve a later pass from cache
    CacheScope.releaseAll()
    drain()
    val outer = listener.take()
    val ticks0 = HostLoad.cpuTicks()
    val cpu0 = HostLoad.processCpuSeconds()
    val t0 = System.nanoTime()
    val result: Either[Throwable, Option[DataFrame]] =
      try Right(body match {
        case ds: Dataset[_] => val df = ds.toDF(); Bench.force(df); Some(df)
        case _ => None
      }) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu1 = HostLoad.processCpuSeconds()
    val (steal, busy) = HostLoad.loadBetween(ticks0, HostLoad.cpuTicks())
    // task-end and progress events arrive on an async bus: drain before
    // taking the window or this run's tail lands on the next run
    drain()
    val w = listener.take()
    // a measure nested in another hands its events on to the outer run
    listener.putBack(outer.add(w))
    val run = Run(name, pass, wall,
      cpuS = if (cpu0 < 0 || cpu1 < 0) -1.0 else cpu1 - cpu0,
      stealPct = steal, busyPct = busy, jobs = w.jobs, stages = w.stages.toSeq,
      tasks = w.tasks, shuffleReadBytes = w.shuffleRead,
      shuffleWriteBytes = w.shuffleWrite, inputBytes = w.input,
      spillBytes = w.spill, gcS = w.gcMs / 1e3, peakExecMemBytes = w.peakMem,
      exchanges = result.toOption.flatten
        .map(GraftPlanAudit.shuffleCount).getOrElse(-1),
      stream = if (w.batches == 0) None
        else Some(StreamStats(w.statePeak, w.streamRows, w.batches)),
      error = result.left.toOption.map(causeChain))
    System.err.println(run.error.map(e => s"[ledger] $name $pass FAILED: $e")
      .getOrElse(f"[ledger] $name $pass $wall%.2f s (cpu ${run.cpuS}%.2f s " +
        f"steal $steal%.1f%% busy $busy%.1f%% tasks ${run.tasks}" +
        s"${if (run.quiet) "" else " NOISY"})"))
    journal.foreach(p => Files.writeString(Paths.get(p),
      line(toJson(run)) + "\n", StandardOpenOption.CREATE,
      StandardOpenOption.APPEND))
    run
  }

  private def drain(): Unit =
    org.apache.spark.GraftSchedulerBridge
      .drainListenerBus(spark.sparkContext, 10000L): Unit
}

object RunLedger {

  /** A pass is quiet when the hypervisor stole at most this share of the
    * host's CPU during it. This VM suffers bursty steal (identical queries
    * measured 10-30x apart back-to-back), and min-over-passes only
    * protects a record when at least one pass ran quiet. busy% is not
    * gated: it includes the harness's own executor threads.
    */
  val QuietStealPct = 1.0

  /** Extra rounds for keys whose every pass so far was noisy. */
  val RetryRounds = 2

  /** Interleaved passes per key: `SPARK_GRAFT_PASSES`, default 3. With
    * min-of-2, ONE steal burst overlapping both passes of a query
    * poisons its min; a third interleaved pass makes that need two
    * independent bursts on the same query.
    */
  def passes: Int = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)

  final case class Stage(job: Int, id: Int, name: String, wallMs: Long,
                         tasks: Int, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, inputBytes: Long)

  /** @param statePeakRows max over micro-batches of the rows held across
    *   all state stores at batch end
    * @param inputRows     rows ingested over the run
    * @param batches       micro-batches over the run
    */
  final case class StreamStats(statePeakRows: Long, inputRows: Long, batches: Int)

  /** One measured run. `stealPct`/`busyPct`/`cpuS` are -1 when /proc is
    * unreadable; `exchanges` is -1 when the body returned no Dataset;
    * `stream` is set when the run made streaming progress.
    */
  final case class Run(
      name: String, pass: String, wallS: Double,
      cpuS: Double = -1.0, stealPct: Double = -1.0, busyPct: Double = -1.0,
      jobs: Int = 0, stages: Seq[Stage] = Nil, tasks: Long = 0L,
      shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
      inputBytes: Long = 0L, spillBytes: Long = 0L, gcS: Double = 0.0,
      peakExecMemBytes: Long = 0L, exchanges: Int = -1,
      stream: Option[StreamStats] = None, error: Option[String] = None) {
    def ok: Boolean = error.isEmpty
    /** Unreadable steal counts as quiet: one possibly-noisy measurement
      * beats none on an exotic host.
      */
    def quiet: Boolean = stealPct <= QuietStealPct
    def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes
    /** This run, or an exception carrying its cause chain. */
    def checked: Run =
      error.fold(this)(e => throw new IllegalStateException(s"$name: $e"))
  }

  /** The shared pass policy. Every key runs `nPasses` times, interleaved
    * (all keys pass 1, then all pass 2, ...) so a steal burst hits
    * different keys each pass; then up to [[RetryRounds]] rounds re-run
    * the keys that succeeded but never quietly. Every pass counts toward
    * the recorded min ([[best]]). Returns each key's runs in run order.
    */
  def sweep[K](keys: Seq[K], nPasses: Int = passes)(
      run: (K, String) => Run): Map[K, Vector[Run]] = {
    var runs = keys.map(_ -> Vector.empty[Run]).toMap
    def go(k: K, pass: String): Unit = runs += k -> (runs(k) :+ run(k, pass))
    for (pass <- 1 to nPasses; k <- keys) go(k, pass.toString)
    for (r <- 1 to RetryRounds) {
      val retry = keys.filter(k => noisy(runs(k)))
      if (retry.nonEmpty) {
        System.err.println(
          s"[ledger] retry round $r: ${retry.size} keys with no quiet pass")
        retry.foreach(go(_, s"retry$r"))
      }
    }
    runs
  }

  /** The run a record reports: the fastest quiet successful run, else
    * (a [[noisy]] key) the fastest successful run; None when all failed.
    * A failed attempt's wall time is not a measurement.
    */
  def best(runs: Seq[Run]): Option[Run] = {
    val ok = runs.filter(_.ok)
    val quiet = ok.filter(_.quiet)
    (if (quiet.nonEmpty) quiet else ok).minByOption(_.wallS)
  }

  /** Some run succeeded, none of them quietly. */
  def noisy(runs: Seq[Run]): Boolean =
    runs.exists(_.ok) && !runs.exists(r => r.ok && r.quiet)

  /** The first line of every exception in the cause chain: a root cause
    * that sits past a 120-char truncation costs a round to rediscover.
    */
  def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
      .map(t => t.getClass.getSimpleName + ": " +
        Option(t.getMessage).getOrElse("").takeWhile(_ != '\n').take(300))
      .mkString(" <- ")

  /** `v` rounded to `digits` decimals; JSON null when not finite. */
  def num(v: Double, digits: Int = 3): JValue =
    if (v.isNaN || v.isInfinite) JNull
    else JDecimal(BigDecimal(v).setScale(digits,
      scala.math.BigDecimal.RoundingMode.HALF_UP))

  def strs(xs: Iterable[String]): JArray = JArray(xs.map(JString(_)).toList)

  def line(v: JValue): String = JsonMethods.compact(JsonMethods.render(v))

  /** Writes `record` to `path` as one JSON line and returns the line. */
  def write(path: String, record: JValue): String = {
    val s = line(record)
    Files.writeString(Paths.get(path), s + "\n")
    s
  }

  def parse(path: String): JValue =
    JsonMethods.parse(new java.io.File(path))

  private def journalPath(record: String): String =
    record.stripSuffix(".json") + ".runs.jsonl"

  private def toJson(r: Run): JObject = JObject(
    "ts_ms" -> JLong(System.currentTimeMillis()),
    "name" -> JString(r.name), "pass" -> JString(r.pass),
    "wall_s" -> num(r.wallS), "cpu_s" -> num(r.cpuS),
    "steal_pct" -> num(r.stealPct, 1), "busy_pct" -> num(r.busyPct, 1),
    "quiet" -> JBool(r.quiet), "jobs" -> JLong(r.jobs),
    "stages" -> JLong(r.stages.size), "tasks" -> JLong(r.tasks),
    "shuffle_read_bytes" -> JLong(r.shuffleReadBytes),
    "shuffle_write_bytes" -> JLong(r.shuffleWriteBytes),
    "input_bytes" -> JLong(r.inputBytes),
    "spill_bytes" -> JLong(r.spillBytes), "gc_s" -> num(r.gcS),
    "peak_exec_mem_bytes" -> JLong(r.peakExecMemBytes),
    "exchanges" -> JLong(r.exchanges),
    "state_peak_rows" -> r.stream.fold[JValue](JNull)(s => JLong(s.statePeakRows)),
    "stream_input_rows" -> r.stream.fold[JValue](JNull)(s => JLong(s.inputRows)),
    "batches" -> r.stream.fold[JValue](JNull)(s => JLong(s.batches)),
    "error" -> r.error.fold[JValue](JNull)(JString(_)))

  /** One run's events; touched only under the listener's lock. */
  private final class Window {
    var jobs = 0
    val stageJob = scala.collection.mutable.Map.empty[Int, Int]
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    var tasks, shuffleRead, shuffleWrite, input, spill, gcMs, peakMem = 0L
    var batches = 0
    var streamRows, statePeak = 0L

    def add(o: Window): Window = {
      jobs += o.jobs; stageJob ++= o.stageJob; stages ++= o.stages
      tasks += o.tasks; shuffleRead += o.shuffleRead
      shuffleWrite += o.shuffleWrite; input += o.input; spill += o.spill
      gcMs += o.gcMs; peakMem = math.max(peakMem, o.peakMem)
      batches += o.batches; streamRows += o.streamRows
      statePeak = math.max(statePeak, o.statePeak)
      this
    }
  }

  private final class Listener extends SparkListener {
    private var w = new Window

    /** The events since the last take. */
    def take(): Window = synchronized { val cur = w; w = new Window; cur }

    /** Prepends `earlier` to the events since the last take. */
    def putBack(earlier: Window): Unit = synchronized { w = earlier.add(w) }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      w.jobs += 1
      e.stageIds.foreach(w.stageJob(_) = e.jobId)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = Option(si.taskMetrics)
        w.stages += Stage(w.stageJob.getOrElse(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L),
          si.numTasks, m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.inputMetrics.bytesRead))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      w.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.input += m.inputMetrics.bytesRead
        w.spill += m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
        w.peakMem = math.max(w.peakMem, m.peakExecutionMemory)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized {
        val pr = p.progress
        w.batches += 1
        w.streamRows += pr.numInputRows
        w.statePeak = math.max(w.statePeak,
          Option(pr.stateOperators).fold(0L)(_.map(_.numRowsTotal).sum))
      }
      case _ =>
    }
  }

  private val listeners =
    new java.util.WeakHashMap[SparkContext, Listener]()

  private def listenerOf(sc: SparkContext): Listener = listeners.synchronized {
    Option(listeners.get(sc)).getOrElse {
      val l = new Listener
      sc.addSparkListener(l)
      listeners.put(sc, l)
      l
    }
  }
}
