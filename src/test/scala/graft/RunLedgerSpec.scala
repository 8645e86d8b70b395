package graft

import graft.RunLedger.{Run, StreamStats}
import graft.streaming.StreamSessions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.json4s._
import org.json4s.jackson.JsonMethods

class RunLedgerSpec extends SparkSpec {
  private lazy val ledger = new RunLedger(spark)

  test("back-to-back measured runs report their own work, no bleed") {
    def rep(parts: Int): Run = ledger.measure(s"rep$parts", "1")(
      spark.range(0, 10000, 1, parts).repartition(4))
    val (a, b, c) = (rep(2), rep(2), rep(3))
    for (r <- Seq(a, b, c)) {
      assert(r.ok && r.exchanges === 1)
      assert(r.tasks === r.stages.map(_.tasks).sum)
      assert(r.shuffleWriteBytes > 0 && r.shuffleReadBytes > 0)
    }
    assert((b.jobs, b.stages.size, b.tasks, b.shuffleWriteBytes) ===
      ((a.jobs, a.stages.size, a.tasks, a.shuffleWriteBytes)))
    // one more scan partition, one more task
    assert(c.tasks === a.tasks + 1)
    val idle = ledger.measure("idle", "1")(42L)
    assert((idle.jobs, idle.tasks, idle.exchanges, idle.stream) ===
      ((0, 0L, -1, None)))
  }

  test("a throwing body is recorded with its cause chain, not thrown") {
    val r = ledger.measure("boom", "1") {
      throw new IllegalStateException("outer\ndetail",
        new IllegalArgumentException("root"))
    }
    assert(r.error ===
      Some("IllegalStateException: outer <- IllegalArgumentException: root"))
    assert(RunLedger.best(Seq(r)).isEmpty && !RunLedger.noisy(Seq(r)))
    intercept[IllegalStateException](r.checked)
  }

  test("streaming figures equal the query's own recentProgress") {
    val dir = StreamSessions.stageOrderedFrames("run-ledger-spec") {
      (0 until 3).map(k => spark.range(k * 200L, k * 200L + 200L).select(
        (col("id") % 7).as("user_id"),
        timestamp_seconds(col("id") * 60L).as("ts"), lit(1.0).as("value")))
    }
    val started = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQuery]
    val probe = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit =
        Option(spark.streams.get(e.id)).foreach(started.add)
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(probe)
    val r = try ledger.measure("stream", "1") {
      StreamSessions.runToCompletion(StreamSessions.windowedCounts(
        StreamSessions.readParquetStreamThrottled(spark, dir,
          spark.read.parquet(dir).schema), "3600 seconds", "2 hours"),
        "run_ledger_spec")
    } finally spark.streams.removeListener(probe)
    assert(r.ok && started.size === 1)
    val progress = started.peek().recentProgress
    assert(progress.length === 3)
    val want = StreamStats(
      progress.map(_.stateOperators.map(_.numRowsTotal).sum).max,
      progress.map(_.numInputRows).sum, progress.length)
    assert(want.statePeakRows > 0 && want.inputRows === 600L)
    assert(r.stream === Some(want))
  }

  test("pass policy: only never-quiet keys are retried, then flagged noisy") {
    val calls = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    val runs = RunLedger.sweep(Seq("calm", "loud"), nPasses = 2) { (k, pass) =>
      calls(k) += 1
      Run(k, pass, wallS = 10.0 - calls(k),
        stealPct = if (k == "loud") 5.0 else RunLedger.QuietStealPct)
    }
    assert(runs("calm").map(_.pass) === Vector("1", "2"))
    assert(runs("loud").map(_.pass) === Vector("1", "2", "retry1", "retry2"))
    assert(!RunLedger.noisy(runs("calm")) && RunLedger.noisy(runs("loud")))
    // no quiet pass: the min over all of them
    assert(RunLedger.best(runs("loud")).map(_.pass) === Some("retry2"))
    // steal only adds time: warm passes at 1-2 % steal beat a cold quiet
    // first pass, and the record flags the key noisy (not retried: one
    // pass was quiet)
    val coldWarm = Seq(Run("q16", "1", 4.15, stealPct = 0.4),
      Run("q16", "2", 1.66, stealPct = 2.1), Run("q16", "3", 1.73, stealPct = 1.7))
    assert(RunLedger.best(coldWarm).map(_.pass) === Some("2"))
    assert(RunLedger.noisy(coldWarm))
    val again = RunLedger.sweep(Seq("q16"), nPasses = 3)((_, p) =>
      coldWarm(p.toInt - 1))
    assert(again("q16").map(_.pass) === Vector("1", "2", "3"))
  }

  test("Bench's record keeps the committed schema and compares against it") {
    val committed = RunLedger.parse("BENCH.out.json").asInstanceOf[JObject]
    val names = (committed \ "queries").asInstanceOf[JObject].obj.map(_._1)
    val runs = names.take(3).map(n => n -> Seq(Run(n, "1", 1.0, cpuS = 2.0,
      stealPct = 0.0, busyPct = 50.0, tasks = 4))).toMap +
      ("q_failed" -> Seq(Run("q_failed", "1", 0.1, error = Some("boom"))))
    val prev = Bench.prev("BENCH.out.json")
    assert(prev.exists(_.wall.size === names.size))
    val rec = JsonMethods.parse(
      RunLedger.line(Bench.record(runs, "sf", prev))).asInstanceOf[JObject]
    assert(rec.obj.map(_._1).toSet === committed.obj.map(_._1).toSet)
    assert((rec \ "vs_prev" \ "compared") === JInt(3))
    assert((rec \ "errors" \ "q_failed") === JString("boom"))
    assert((rec \ "queries").asInstanceOf[JObject].obj.size === 3)
  }

  test("control characters round-trip through the writer") {
    val s = "tab\there\nnl\r\u0001\u001f \"q\" \\ é"
    val f = java.io.File.createTempFile("ledger", ".json")
    f.deleteOnExit()
    val line = RunLedger.write(f.getPath, JObject("k" -> JString(s)))
    assert(!line.exists(_ < ' '))
    assert(RunLedger.parse(f.getPath) === JObject("k" -> JString(s)))
  }
}
