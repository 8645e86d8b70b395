package graft
import org.apache.spark.sql.SparkSession
import org.json4s._
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each query runs under a per-query wall-clock budget in its own job
  * group; on timeout the group is cancelled and Verify moves on, so one
  * pathological query can never starve the results of every query after
  * it in iteration order (round-1 failure mode: q30 hang => empty
  * CORRECTNESS json). Timed-out queries are RETRIED once at end-of-run —
  * a transient CPU-steal burst on this VM must not silently delete a
  * green query from the round's record (round-3 failure mode: q59's
  * missing row) — and every query's fate lands in `outDir/status.json`
  * (`{name: {"status": "ok"|"ok-late"|"timeout"|"fail", "seconds": s}}`
  * — "ok-late" = a timed-out or failed attempt's zombie still delivered
  * a complete result), so a missing parquet dir is always
  * distinguishable from a never-declared query, and a PRESENT dir always
  * has an ok-prefixed status.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "150").toLong
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Single worker: queries still run serially, but from a thread we can
    // abandon on timeout. Job-group tagging happens on the submitting
    // thread (it is thread-local), i.e. inside the task body.
    val pool = Executors.newCachedThreadPool { r =>
      val t = new Thread(r); t.setDaemon(true); t
    }
    val status =
      scala.collection.mutable.LinkedHashMap.empty[String, (String, Double)]
    // Guards both the status map and the scratch->final swap: a cancelled
    // attempt's thread is only interrupted cooperatively, so a zombie
    // stuck in driver-side work can complete LATER, concurrently with the
    // end-of-run retry. Each attempt writes to its own scratch dir and
    // swaps into place only if no attempt has already delivered — two
    // committers never race on the final directory.
    val swapLock = new Object
    // Set (under swapLock) once the run's record is about to be written:
    // from then on a late-delivering zombie attempt must not touch the
    // final directories — without this, a zombie finishing between the
    // status.json write and the scratch sweep could re-create the very
    // ambiguity status.json removes (dir present, status says timeout),
    // or worse, race the sweep into deleting a delivered result.
    var closed = false
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
      f.delete(): Unit
    }

    def runOne(name: String,
               fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
               attempt: Int): Unit = {
      val t0 = System.nanoTime()
      def secs = (System.nanoTime() - t0) / 1e9
      val fut = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          val scratch = s"$outDir/.attempt_${attempt}_$name"
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(scratch)
            swapLock.synchronized {
              if (!closed && !status.get(name).exists(_._1.startsWith("ok"))) {
                val dest = new java.io.File(s"$outDir/$name")
                if (dest.exists()) deleteRec(dest)
                if (!new java.io.File(scratch).renameTo(dest))
                  System.err.println(
                    s"[verify] WARN $name: rename $scratch -> $dest failed")
                // A zombie of a timed-out attempt delivering late: record
                // it, so status.json and the directory listing can never
                // disagree (the main thread overwrites with plain "ok"
                // when this is a live attempt completing normally).
                status.get(name)
                  .filter(v => v._1 == "timeout" || v._1 == "fail")
                  .foreach { case (_, s) => status(name) = ("ok-late", s) }
              } else deleteRec(new java.io.File(scratch))
            }
          } finally spark.sparkContext.clearJobGroup()
        }
      })
      try {
        fut.get(timeoutSec, TimeUnit.SECONDS)
        swapLock.synchronized { status(name) = ("ok", secs) }
        System.err.println(f"[verify] $name ok $secs%.1f s (attempt $attempt)")
      } catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          fut.cancel(true)
          swapLock.synchronized { status(name) = ("timeout", secs) }
          System.err.println(s"[verify] $name timed out after $timeoutSec s")
        case e: Throwable =>
          val cause = Option(e.getCause).getOrElse(e)
          swapLock.synchronized { status(name) = ("fail", secs) }
          System.err.println(s"[verify] $name failed: ${cause.getMessage}")
      }
      // Queries that persist() internally (e.g. simhashCandidates)
      // register with CacheScope; release exactly those
      // — a global clearCache would also evict caches owned by an
      // embedding application in a shared session.
      CacheScope.releaseAll()
    }

    // Dev bisection hook (mirrors Bench): comma-separated name prefixes to
    // run (default all). Also subsets the oracle dump so tools/check.py
    // only judges what ran.
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").toSeq).getOrElse(Seq(""))
    // Sorted: deterministic run order makes driver logs comparable
    // across rounds and a stall attributable by the last "ok" line.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filter.exists(n.startsWith) }
    ordered.foreach { case (name, fn) => runOne(name, fn, attempt = 1) }
    // One end-of-run retry for timeouts only (a deterministic failure
    // would just fail again; a steal burst usually has passed by now).
    ordered.filter { case (name, _) => status(name)._1 == "timeout" }
      .foreach { case (name, fn) => runOne(name, fn, attempt = 2) }

    // From here on the record is authoritative: no zombie may swap into
    // the final directories (they delete their scratch instead).
    swapLock.synchronized { closed = true }
    RunLedger.write(s"$outDir/oracle_sql.json", JObject(SparkEntry.oracleSql
      .filter { case (k, _) => filter.exists(k.startsWith) }
      .map { case (k, v) => k -> JString(v) }.toList))
    RunLedger.write(s"$outDir/status.json", JObject(status.toList.map {
      case (k, (st, s)) => k -> JObject("status" -> JString(st),
        "seconds" -> RunLedger.num(s, 1))
    }))
    spark.stop()
    // After stop no zombie write can complete, and `closed` already stops
    // any straggler from renaming into place — sweep leftover scratch dirs
    // under the same lock the swap path takes, so the sweep can never
    // interleave with a swap-in-progress.
    swapLock.synchronized {
      Option(new java.io.File(outDir).listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith(".attempt_")) deleteRec(f)
      })
    }
  }
}
