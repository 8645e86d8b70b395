package graft.streaming

import graft.operators.StopDetect
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental stop detection over a ping stream, via
  * flatMapGroupsWithState. It applies the same stop rule as the batch
  * StopDetect.stopEvents scan (StopDetect.distance, isStationary and
  * keepRun), one micro-batch at a time, with the open run kept in state.
  *
  * Batch-equivalence contract (verified in StreamingStopDetectSpec):
  * emitted rows match the batch operator exactly for every ping that has
  * been classified — a ping classifies when its successor arrives
  * (stationarity is forward-looking), so each user's latest ping (and any
  * still-open run) stays pending in state rather than being emitted with
  * a provisional label. Event ids are assigned at run START and are not
  * renumbered when a run is later invalidated, matching the batch cumsum
  * (invalidation happens after id assignment, reference utils.py:375-400).
  *
  * Two arrival models:
  *  - stopEvents: assumes per-user in-order arrival ACROSS batches (the
  *    reference's day-partitioned ingestion guarantees it); state per uid
  *    is O(open run).
  *  - stopEventsUnordered: tolerates out-of-order arrival up to a
  *    watermark delay. Pings buffer in state until the event-time
  *    watermark passes them (no earlier ping can still arrive — Spark
  *    drops later-than-watermark stragglers before the state function),
  *    then feed the same automaton in timestamp order. State per uid is
  *    O(pings inside the lateness window) + O(open run).
  */
// Serializable: the state functions below call the shared `advance`
// automaton, so executor closures capture the module reference.
object StreamingStopDetect extends Serializable {

  final case class Ping(uid: String, latitude: Double, longitude: Double,
                        timestamp: Long)

  final case class StopRow(uid: String, stop_events: Long,
                           latitude: Double, longitude: Double,
                           timestamp: Long)

  /** prev = last unclassified ping; run/runTimes = open stationary run
    * (reversed); runId = open run's assigned id (0 = none);
    * nextId = id for the next run start.
    */
  final case class UserState(prev: Option[Ping], run: List[StopRow],
                             runTimes: List[Long], runId: Long, nextId: Long)

  /** stopEventsUnordered state: the automaton plus the not-yet-safe
    * event-time buffer.
    */
  final case class BufferedState(buffer: List[Ping], auto: UserState)

  private val emptyState = UserState(None, Nil, Nil, 0L, 1L)

  /** Advance the per-user automaton over `sorted` (ascending timestamp)
    * pings, returning the new state and every newly classified row.
    */
  private def advance(uid: String, sorted: Seq[Ping], st0: UserState,
                      p: StopDetect.Params)
  : (UserState, Seq[StopRow]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer.empty[StopRow]
    sorted.foreach { cur =>
      st.prev match {
        case None => st = st.copy(prev = Some(cur))
        case Some(prev) =>
          val dt = cur.timestamp - prev.timestamp
          val stationary = StopDetect.isStationary(p,
            StopDetect.distance(p.metric, prev.latitude, prev.longitude,
              cur.latitude, cur.longitude), dt)
          if (stationary) {
            val id = if (st.run.isEmpty) st.nextId else st.runId
            st = UserState(
              prev = Some(cur),
              run = StopRow(uid, id, prev.latitude, prev.longitude,
                prev.timestamp) :: st.run,
              runTimes = dt :: st.runTimes,
              runId = id,
              nextId = if (st.run.isEmpty) st.nextId + 1 else st.nextId)
          } else {
            // prev is non-stationary: close any open run (its times
            // already include each event row's forward gap), emit
            // prev itself as -1
            if (st.run.nonEmpty) {
              val ok = StopDetect.keepRun(p, st.run.size, st.runTimes.sum)
              out ++= (if (ok) st.run.reverse
                else st.run.reverse.map(_.copy(stop_events = -1L)))
            }
            out += StopRow(uid, -1L, prev.latitude, prev.longitude,
              prev.timestamp)
            st = st.copy(prev = Some(cur), run = Nil, runTimes = Nil,
              runId = 0L)
          }
      }
    }
    (st, out.toSeq)
  }

  def stopEvents(pings: Dataset[Ping], p: StopDetect.Params): DataFrame = {
    import pings.sparkSession.implicits._

    def step(uid: String, it: Iterator[Ping],
             gs: GroupState[UserState]): Iterator[StopRow] = {
      val st0 = gs.getOption.getOrElse(emptyState)
      val (st, out) = advance(uid, it.toArray.sortBy(_.timestamp), st0, p)
      gs.update(st)
      out.iterator
    }

    pings
      .groupByKey(_.uid)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(step)
      .toDF()
  }

  /** Ping with the event-time column the watermark rides on. */
  final case class PingEv(uid: String, latitude: Double, longitude: Double,
                          timestamp: Long, ev: java.sql.Timestamp)

  /** Out-of-order-tolerant streaming stop detection. `timestamp` is epoch
    * seconds; pings may arrive shuffled within `latenessSeconds` of the
    * stream's max seen event time. Each micro-batch buffers its pings in
    * state; once the watermark passes a ping (watermark = max event time −
    * lateness, updated at batch boundaries), it is fed to the automaton in
    * timestamp order. Spark itself drops pings that arrive later than the
    * watermark, so the buffer's order, once drained, is final — the
    * batch-equivalence contract is unchanged for every ping that was not
    * dropped as too-late.
    */
  def stopEventsUnordered(pings: Dataset[Ping], p: StopDetect.Params,
                          latenessSeconds: Long): DataFrame = {
    import pings.sparkSession.implicits._

    def step(uid: String, it: Iterator[PingEv],
             gs: GroupState[BufferedState]): Iterator[StopRow] = {
      val st0 = gs.getOption.getOrElse(BufferedState(Nil, emptyState))
      val incoming = it.map(pe =>
        Ping(pe.uid, pe.latitude, pe.longitude, pe.timestamp)).toList
      val buffered = incoming reverse_::: st0.buffer
      // Watermark is in epoch MILLIS; strictly-older pings are safe (a
      // ping exactly at the watermark could still gain an equal-timestamp
      // sibling, so it stays buffered).
      val wmMs = gs.getCurrentWatermarkMs()
      val wmSec = wmMs / 1000L
      val (safe, pending) = buffered.partition(_.timestamp < wmSec)
      val (auto, out) = advance(uid, safe.sortBy(_.timestamp), st0.auto, p)
      gs.update(BufferedState(pending, auto))
      // A quiet user's group is only re-invoked on timeout — without one,
      // buffered pings would never classify until that user pinged again.
      // Fire once the watermark strictly passes the oldest pending ping.
      if (pending.nonEmpty) {
        val due = (pending.map(_.timestamp).min + 1L) * 1000L
        gs.setTimeoutTimestamp(math.max(due, wmMs + 1L))
      }
      out.iterator
    }

    pings
      .withColumn("ev", timestamp_seconds(col("timestamp")))
      .withWatermark("ev", s"$latenessSeconds seconds")
      .as[PingEv]
      .groupByKey(_.uid)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(step)
      .toDF()
  }
}
