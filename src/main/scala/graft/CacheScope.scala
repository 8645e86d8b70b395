package graft

import org.apache.spark.sql.Dataset

/** Registry of frames that operators persist INTERNALLY (e.g.
  * simhashCandidates' signatures) so harnesses can release
  * exactly those — `spark.catalog.clearCache()` between queries worked for
  * Verify/Bench but is a footgun in a shared session: it also evicts every
  * cache the EMBEDDING application owns.
  *
  * Contract: an operator whose returned lazy frame re-reads a persisted
  * intermediate registers it via [[track]]; the caller materializes the
  * result, then calls [[releaseAll]]. Releasing before materialization is
  * a performance bug (the recompute the cache existed to prevent), never
  * a correctness bug — operators whose CORRECTNESS depends on observing a
  * stable materialization (globalRowIndex / globalCumSum range
  * partitioning) use localCheckpoint instead, whose blocks free via the
  * ContextCleaner and cannot be dropped by any unpersist call.
  *
  * The registry is process-global and [[releaseAll]] releases EVERY
  * tracked frame: it assumes one pipeline drives the session at a time
  * (the harness pattern). Two concurrent pipelines calling releaseAll
  * would evict each other's live caches — scope handles per pipeline
  * would be the extension point if that usage ever appears.
  */
object CacheScope {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[Dataset[_]]

  def track[T <: Dataset[_]](df: T): T = synchronized { tracked += df; df }

  /** Unpersist every tracked frame (non-blocking) and forget them. */
  def releaseAll(): Unit = synchronized {
    tracked.foreach(_.unpersist(blocking = false))
    tracked.clear()
  }

  /** Visible for specs. */
  def trackedCount: Int = synchronized(tracked.size)
}
