package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work attributed to one layer: everything its jobs ran, summed over the
  * calls made under the layer's job group.
  */
final class LayerWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  /** shuffle fetch wait plus time tasks queued for a slot */
  var waitMs = 0L
  var gcMs = 0L
  var spillBytes = 0L
  var exchanges = 0
  /** stage id -> (wall ms, task durations ms) */
  val stageTasks = mutable.Map.empty[Int, (Long, mutable.ArrayBuffer[Long])]

  /** Longest task / median task in the layer's longest-running stage. */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ds = stageTasks.values.maxBy(_._1)._2.sorted
      if (ds.isEmpty) 1.0
      else {
        val n = ds.length
        val med = if (n % 2 == 1) ds(n / 2).toDouble else (ds(n / 2 - 1) + ds(n / 2)) / 2.0
        ds.last / math.max(1.0, med)
      }
    }
}

/** The benchmark's listener. It attributes jobs, stages and tasks to the
  * job group set around each layer call, counts executed-plan exchanges of
  * every query run under a group (GraftPlanAudit over the final adaptive
  * plan), and tracks the largest task execution memory and the peak
  * block-manager storage memory (persisted RDD blocks and broadcasts,
  * in memory).
  * Events arrive on the listener bus; read after draining it.
  */
final class Meter extends SparkListener with QueryExecutionListener {
  private val work = mutable.Map.empty[String, LayerWork]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val rdd = mutable.Map.empty[String, Long]
  private val broadcast = mutable.Set.empty[String]
  private var storedNow = 0L
  private var storedPeak = 0L
  private var taskMemPeak = 0L
  @volatile private var group: String = null

  /** The group that query-execution callbacks are charged to. */
  def setGroup(g: String): Unit = group = g

  private def of(g: String): LayerWork = work.getOrElseUpdate(g, new LayerWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      of(g).jobs += 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSubmitted.remove(e.stageInfo.stageId)
    val s = e.stageInfo
    stageGroup.get(s.stageId).foreach { g =>
      val lw = of(g)
      lw.stages += 1
      val wall = (for (a <- s.submissionTime; b <- s.completionTime) yield b - a).getOrElse(0L)
      val prev = lw.stageTasks.getOrElseUpdate(s.stageId, (0L, mutable.ArrayBuffer.empty))
      lw.stageTasks(s.stageId) = (wall, prev._2)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskMemPeak = math.max(taskMemPeak, m.peakExecutionMemory)
      stageGroup.get(e.stageId).foreach { g =>
        val lw = of(g)
        lw.tasks += 1
        lw.runMs += m.executorRunTime
        lw.shuffleBytes += m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead
        val queued = stageSubmitted.get(e.stageId).map(t => math.max(0L, e.taskInfo.launchTime - t))
        lw.waitMs += m.shuffleReadMetrics.fetchWaitTime + queued.getOrElse(0L)
        lw.gcMs += m.jvmGCTime
        lw.spillBytes += m.diskBytesSpilled
        lw.stageTasks.getOrElseUpdate(e.stageId, (0L, mutable.ArrayBuffer.empty))._2 +=
          e.taskInfo.duration
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    val key = b.blockId.name
    val held = b.storageLevel.isValid && b.memSize > 0
    if (b.blockId.isRDD) {
      storedNow -= rdd.getOrElse(key, 0L)
      if (held) rdd(key) = b.memSize else rdd.remove(key)
      storedNow += rdd.getOrElse(key, 0L)
    } else if (b.blockId.isBroadcast && held && !broadcast.contains(key)) {
      // a broadcast is released when the JVM collects it; counting it as
      // held until the window ends keeps the peak independent of GC timing
      broadcast += key
      storedNow += b.memSize
    }
    storedPeak = math.max(storedPeak, storedNow)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = group
    if (g != null) {
      val n = org.apache.spark.sql.perfbench.PlanShape.exchanges(qe)
      synchronized(of(g).exchanges += n)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Returns and forgets the work charged to `g`. */
  def take(g: String): LayerWork = synchronized(work.remove(g).getOrElse(new LayerWork))

  /** (largest task execution memory, peak storage memory) in bytes since
    * the last call. Storage counts only blocks stored since then, so an
    * earlier repetition's asynchronously released caches never count.
    */
  def takePeaks(): (Long, Long) = synchronized {
    val r = (taskMemPeak, storedPeak)
    taskMemPeak = 0L
    rdd.clear()
    broadcast.clear()
    storedNow = 0L
    storedPeak = 0L
    r
  }
}
