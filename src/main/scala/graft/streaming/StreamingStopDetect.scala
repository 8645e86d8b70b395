package graft.streaming

import graft.operators.StopDetect
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental stop detection over a ping stream, via
  * flatMapGroupsWithState. It runs the same walker as the batch
  * StopDetect.stopEvents scan ([[StopDetect.Stretches]]), one micro-batch
  * at a time: each uid's state is the walker value and the pings of its
  * open stretch, and a closed stretch leaves by the batch kernel's rule.
  *
  * Batch-equivalence contract (verified in StreamingStopDetectSpec):
  * emitted rows match the batch operator exactly for every ping that has
  * been classified — a ping classifies when its successor arrives
  * (stationarity is forward-looking), so each user's latest ping (and any
  * still-open run) stays pending in state rather than being emitted with
  * a provisional label. Event ids are the walker's, counted per uid
  * across micro-batches; an invalidated run still uses up its id, as in
  * batch (reference utils.py:375-400).
  *
  * Null contract: [[Ping]]'s coordinates and timestamp are primitive, so a
  * source row with a null in one of them cannot become a Ping. The query
  * fails with `NOT_NULL_ASSERT_VIOLATION` naming the field, where batch
  * stopEvents would break the run at that ping. Drop or fill nulls before
  * the stream reaches these functions.
  *
  * Two arrival models:
  *  - stopEvents: assumes per-user in-order arrival ACROSS batches (the
  *    reference's day-partitioned ingestion guarantees it); state per uid
  *    is O(open run).
  *  - stopEventsUnordered: tolerates out-of-order arrival up to a
  *    watermark delay. Pings buffer in state until the event-time
  *    watermark passes them (no earlier ping can still arrive — Spark
  *    drops later-than-watermark stragglers before the state function),
  *    then feed the same walker in timestamp order. State per uid is
  *    O(pings inside the lateness window) + O(open run). A checkpoint
  *    restores only into the state schema that wrote it.
  */
// Serializable: the state functions below call the shared `walk`, so
// executor closures capture the module reference.
object StreamingStopDetect extends Serializable {

  final case class Ping(uid: String, latitude: Double, longitude: Double,
                        timestamp: Long)

  final case class StopRow(uid: String, stop_events: Long,
                           latitude: Double, longitude: Double,
                           timestamp: Long)

  /** A uid's walker and the pings of its open stretch, newest first. */
  final case class OpenStretch(
      walk: StopDetect.Stretches = StopDetect.Stretches(), pings: List[Ping] = Nil)

  /** stopEventsUnordered state: the open stretch plus the not-yet-safe
    * event-time buffer.
    */
  final case class BufferedState(buffer: List[Ping], open: OpenStretch)

  /** Feeds one uid's `sorted` (ascending timestamp) pings to the walker of
    * `open`; returns the stretch left open and the rows of every stretch
    * that closed: its first k pings with the event id (or -1), the ending
    * ping -1.
    */
  private def walk(open: OpenStretch, sorted: Seq[Ping], p: StopDetect.Params)
  : (OpenStretch, Seq[StopRow]) = {
    val w = open.walk
    var pings = open.pings
    val out = scala.collection.mutable.ArrayBuffer.empty[StopRow]
    sorted.foreach { c =>
      if (w.step(p, located = true, c.latitude, c.longitude, timed = true,
          c.timestamp)) {
        pings.reverse.iterator.zipWithIndex.foreach { case (q, i) =>
          out += StopRow(q.uid, if (i < w.closedK) w.closedId else -1L,
            q.latitude, q.longitude, q.timestamp)
        }
        pings = Nil
      }
      pings = c :: pings
    }
    (OpenStretch(w, pings), out.toSeq)
  }

  def stopEvents(pings: Dataset[Ping], p: StopDetect.Params): DataFrame = {
    import pings.sparkSession.implicits._

    def step(uid: String, it: Iterator[Ping],
             gs: GroupState[OpenStretch]): Iterator[StopRow] = {
      val (open, out) = walk(gs.getOption.getOrElse(OpenStretch()),
        it.toList.sortBy(_.timestamp), p)
      gs.update(open)
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
    * lateness, updated at batch boundaries), it is fed to the walker in
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
      val st0 = gs.getOption.getOrElse(BufferedState(Nil, OpenStretch()))
      val incoming = it.map(pe =>
        Ping(pe.uid, pe.latitude, pe.longitude, pe.timestamp)).toList
      val buffered = incoming reverse_::: st0.buffer
      // Watermark is in epoch MILLIS; strictly-older pings are safe (a
      // ping exactly at the watermark could still gain an equal-timestamp
      // sibling, so it stays buffered).
      val wmMs = gs.getCurrentWatermarkMs()
      val wmSec = wmMs / 1000L
      val (safe, pending) = buffered.partition(_.timestamp < wmSec)
      val (open, out) = walk(st0.open, safe.sortBy(_.timestamp), p)
      gs.update(BufferedState(pending, open))
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
