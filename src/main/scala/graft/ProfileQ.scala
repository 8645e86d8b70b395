package graft

import org.apache.spark.scheduler._

/** Dev-only per-stage profiler (not part of the driver contract).
  *
  * Runs named queries under the [[Session]] profile and prints, per
  * run, the job/stage ledger: stage wall clock (submission -> completion),
  * task count, shuffle bytes — the empirical loop of guide §1.1 without
  * the (disabled) UI. Extra confs for A/B sweeps ride
  * `SPARK_GRAFT_CONF="k=v;k=v"`; runs per query via `SPARK_GRAFT_RUNS`.
  *
  * Usage: ProfileQ <sfDir> <queryName...>
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    // A/B hook: relocate JVM temp (streaming temp checkpoints, staging)
    sys.env.get("SPARK_GRAFT_TMPDIR").foreach { d =>
      new java.io.File(d).mkdirs()
      System.setProperty("java.io.tmpdir", d)
    }
    val sfDir = args.head
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty)).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = Session.local("graft-profile", extra: _*)
    spark.range(1000000L).selectExpr("sum(id)").collect()

    final case class StageRec(jobId: Int, stageId: Int, name: String,
                              wallMs: Long, tasks: Int, shufRead: Long,
                              shufWrite: Long, input: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobT0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
        jobT0.put(js.jobId, js.time)
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val t0 = Option(jobT0.get(je.jobId)).getOrElse(je.time)
        jobs.add((je.jobId, je.time - t0, ""))
        ()
      }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add(StageRec(
          stageJob.getOrDefault(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(60), wall, si.numTasks,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.inputMetrics.bytesRead))
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    def procCpu: Long = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime
    args.tail.foreach { name =>
      var best = Double.MaxValue
      (1 to runs).foreach { r =>
        CacheScope.releaseAll()
        stages.clear(); jobs.clear()
        val c0 = procCpu
        val t0 = System.nanoTime()
        Bench.force(SparkEntry.queries(name)(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = (procCpu - c0) / 1e9
        org.apache.spark.GraftSchedulerBridge
          .drainListenerBus(spark.sparkContext, 10000L)
        best = math.min(best, dt)
        println(f"== $name run $r: $dt%.2f s (cpu $dc%.2f s) ==")
        import scala.jdk.CollectionConverters._
        val recs = stages.asScala.toSeq
        val nJobs = jobs.asScala.size
        val jobWall = jobs.asScala.map(_._2).sum
        println(f"   jobs=$nJobs (sum job wall ${jobWall / 1e3}%.2f s) " +
          f"stages=${recs.size} tasks=${recs.map(_.tasks).sum}")
        recs.sortBy(-_.wallMs).take(14).foreach { s =>
          println(f"   j${s.jobId}%3d st${s.stageId}%4d ${s.wallMs}%6d ms " +
            f"${s.tasks}%4d tasks sr=${s.shufRead / 1024}%8d KB " +
            f"sw=${s.shufWrite / 1024}%8d KB in=${s.input / 1024}%8d KB " +
            s"${s.name}")
        }
      }
      println(f"== $name best: $best%.2f s ==")
    }
    spark.stop()
  }
}
