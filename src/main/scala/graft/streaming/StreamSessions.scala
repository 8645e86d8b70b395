package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming surface (SURVEY §2.9).
  *
  * The reference has no event-time streaming — its "streaming" is Polars'
  * out-of-core batch engine plus a per-day driver loop
  * (get_stops_and_clusters.py:30-71). We expose the true streaming analogs:
  *  - the per-day micro-batch loop -> file-source stream with
  *    Trigger.AvailableNow (processes what exists, then stops);
  *  - the session-gap logic (max_time_between) -> session_window with a
  *    watermark.
  */
object StreamSessions {

  /** File-source stream over a parquet directory. */
  def readParquetStream(spark: SparkSession, dir: String,
                        schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** File-source stream that admits at most `filesPerTrigger` files per
    * micro-batch — Trigger.AvailableNow honors source rate limits, so an
    * N-file directory becomes ceil(N/filesPerTrigger) ordered
    * micro-batches with a watermark update between each. This is what
    * makes a staged fixture exercise REAL cross-batch watermark
    * progression (the q97 out-of-order gate) instead of collapsing into
    * one batch.
    */
  def readParquetStreamThrottled(spark: SparkSession, dir: String,
                                 schema: StructType,
                                 filesPerTrigger: Int = 1): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger)
      .parquet(dir)

  private val staged =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Recursive shutdown-hook delete: `deleteOnExit` on a non-empty
    * directory is a silent no-op (children survive, the delete fails),
    * so staged fixtures would accumulate in the temp filesystem across
    * bench sessions forever. Shared with [[graft.sources.Staging]] —
    * its batch-staged roundtrip tables leak the same way (ADVICE r12).
    */
  private[graft] def deleteRecursivelyOnExit(dir: java.io.File): Unit =
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir)))

  /** Directory view of a parquet path for the file-stream source.
    *
    * Batch `read.parquet` accepts a single FILE; Spark's
    * `FileStreamSource.getBatch` does not (`Option 'basePath' must be a
    * directory`). Fixtures that ship one file per table therefore can't be
    * streamed in place — stage the file into a temp directory via symlink
    * (fall back to copy on filesystems without symlink support) and stream
    * that. Directories pass through untouched; results are memoized per
    * path so repeated bench passes reuse one staging dir.
    */
  def stageFileAsDir(path: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val p = Paths.get(path)
    if (Files.isDirectory(p)) path
    else staged.computeIfAbsent(path, { _ =>
      val dir = Files.createTempDirectory("graft-stream-src-")
      dir.toFile.deleteOnExit()
      val target = dir.resolve(p.getFileName)
      try Files.createSymbolicLink(target, p.toAbsolutePath)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, target, StandardCopyOption.REPLACE_EXISTING)
      }
      target.toFile.deleteOnExit()
      dir.toString
    })
  }

  /** Materialize a frame as a SINGLE-file parquet directory for the
    * file-stream source, memoized by `key` — the staging step for gate
    * queries whose stream input is derived (e.g. q93's pings + sentinel
    * union). One part file => one AvailableNow micro-batch, which is
    * what lets an in-order-across-batches stateful operator consume a
    * derived fixture safely.
    */
  def stageFrameAsDir(key: String)(df: => DataFrame): String =
    staged.computeIfAbsent(s"frame:$key", { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-stream-stage-")
      deleteRecursivelyOnExit(dir.toFile)
      val out = dir.resolve("data").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      out
    })

  /** Materialize a SEQUENCE of frames as one single-file parquet each,
    * with strictly increasing modification times, memoized by `key`.
    * Spark's FileStreamSource admits files oldest-modification-first, so
    * combined with [[readParquetStreamThrottled]] the staged sequence
    * replays as deterministic ordered micro-batches — the arrival
    * schedule IS part of the fixture (q97 stages a bounded-displacement
    * shuffle of the ping stream this way). Mod times are pinned a minute
    * apart (source ordering must not depend on write speed).
    */
  def stageOrderedFrames(key: String)(build: => Seq[DataFrame]): String =
    staged.computeIfAbsent(s"ordered:$key", { _ =>
      import java.nio.file.Files
      val dir = Files.createTempDirectory("graft-stream-stage-")
      deleteRecursivelyOnExit(dir.toFile)
      val out = dir.resolve("data")
      Files.createDirectories(out)
      build.zipWithIndex.foreach { case (df, i) =>
        val scratch = dir.resolve(s"scratch$i")
        df.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
        val part = Option(scratch.toFile.listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(
            s"no part file written for staged frame $i"))
        val target = out.resolve(f"f$i%04d.parquet")
        Files.move(part.toPath, target)
        // ordering rides these mtimes (FileStreamSource admits files
        // oldest-first); a filesystem refusing the update would fall
        // back to write-speed-dependent order — fail loudly instead
        require(target.toFile.setLastModified(1700000000000L + i * 60000L),
          s"cannot pin mtime on $target: staged arrival order would be " +
            "nondeterministic")
        deleteRecursively(scratch.toFile)
      }
      out.toString
    })

  /** Split a frame into `nChunks` event-time-ordered frames over equal
    * time ranges — the staging step that makes a replayed stream
    * exercise REAL watermark progression and state EVICTION. A fixture
    * staged as one file collapses into one micro-batch: the watermark
    * never advances mid-run, nothing evicts, and the measured state peak
    * is input-sized no matter how tight the watermark — which is a
    * harness artifact, not evidence. Chunked by TIME (not row count) so
    * two streams staged with the same chunk count stay aligned per
    * micro-batch and the watermark delay only has to cover the chunk
    * boundary overlap, not a row-skew bound.
    *
    * The input is persisted (CacheScope-tracked) for the min/max agg +
    * nChunks filtered writes; callers release after staging.
    */
  def timeChunks(df: DataFrame, tsCol: String, maxChunks: Int)
  : Seq[DataFrame] = {
    require(maxChunks >= 1, s"maxChunks must be >= 1: $maxChunks")
    val cached = graft.CacheScope.track(df.persist())
    val mm = cached.agg(
      min(col(tsCol).cast("long")), max(col(tsCol).cast("long")),
      count(lit(1)), count(col(tsCol)))
      .collect()(0)
    // a null ts would fall through EVERY range filter below and vanish
    // from the staged replay — a silent parity gap; reject it BEFORE
    // the empty-input return (an all-null frame has a null min too, and
    // must fail loudly rather than ride the empty-input path)
    require(mm.getLong(2) == mm.getLong(3),
      s"timeChunks: ${mm.getLong(2) - mm.getLong(3)} null $tsCol rows " +
        "would be dropped from every chunk")
    if (mm.isNullAt(0)) return Seq(cached) // empty input: one empty chunk
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    // chunk count ADAPTS to input size (conf `spark.graft.streamChunks`
    // overrides, e.g. the scale smoke pins it so both scales replay the
    // same batch structure): each micro-batch costs per-store commits +
    // planning, so a tiny oracle fixture replays in 2 chunks (one real
    // watermark advance — the semantics are chunk-count-invariant and
    // parity-gated) while a scale-smoke input gets up to `maxChunks`
    // eviction points.
    val nChunks = df.sparkSession.conf
      .getOption("spark.graft.streamChunks").map(_.toInt)
      .getOrElse(
        math.min(maxChunks.toLong,
          math.max(2L, mm.getLong(2) / 50000L)).toInt)
    // the conf path must honor the same bound as the parameter: 0 would
    // divide by zero below, a negative value would stage zero chunks
    require(nChunks >= 1, s"spark.graft.streamChunks must be >= 1: $nChunks")
    val step = math.max(1L, (hi - lo) / nChunks + 1L)
    (0 until nChunks).map { i =>
      val a = lo + i * step
      val b = a + step
      cached.filter(col(tsCol).cast("long") >= a &&
        (if (i == nChunks - 1) lit(true)
         else col(tsCol).cast("long") < b))
    }
  }

  /** Event-time sessionization: per (user, session_window(gap)) counts.
    * Input needs columns (user_id, ts: timestamp-compatible, value:
    * numeric — summed per session alongside the count).
    * The batch twin is Intervals.coalesceRuns / q11_sessions.
    */
  def sessionCounts(events: DataFrame, gap: String,
                    watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Tumbling event-time windowed aggregation with a watermark — the
    * canonical streaming agg: per (user, fixed window) counts/sums over
    * input columns (user_id, ts, value);
    * a window finalizes (and its state frees) once the watermark passes
    * its end, and rows later than the watermark are dropped. The batch
    * twin is a groupBy on date_trunc buckets.
    */
  def windowedCounts(events: DataFrame, width: String,
                     watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), width))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n_events"), col("sum_value"))

  /** Sliding-window twin of [[windowedCounts]]: each event lands in
    * width/slide overlapping windows (Spark expands the row once per
    * covering window BEFORE the aggregate, so partial aggregation and
    * watermark-bounded state both apply per window copy — state is
    * width/slide × the tumbling case, still bounded). Tumbling is the
    * `slide == width` special case; the q158 gate runs 2h windows
    * sliding 1h, where every event belongs to exactly two windows.
    */
  def slidingCounts(events: DataFrame, width: String, slide: String,
                    watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n_events"), col("sum_value"))

  /** Streaming exact dedup: first occurrence per key within the watermark
    * horizon survives (the streaming twin of Dedup.exact — state is
    * bounded by the watermark, the scale requirement for an unbounded
    * source).
    *
    * Multi-column keys are passed as-is — never pre-concatenate key
    * columns into a string: a separator can collide with key content,
    * and concat_ws silently drops NULLs, both of which merge distinct
    * keys.
    */
  def dedupStream(docs: DataFrame, keyCols: Seq[String],
                  watermark: String): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  def dedupStream(docs: DataFrame, keyCol: String,
                  watermark: String): DataFrame =
    dedupStream(docs, Seq(keyCol), watermark)

  /** Stream-stream inner equi-join with an event-time range bound: each
    * left row matches right rows for the same key whose timestamp falls
    * in [left.ts - lookback, left.ts] — "enrich every view with the
    * purchases of the preceding hour", both sides unbounded streams.
    *
    * This is the one streaming primitive whose STATE story differs from
    * its batch twin: both inputs buffer in the state store, and it is the
    * watermark + the time-range predicate together that let Spark evict a
    * buffered row once no future match can reach it (left rows age out
    * `lookback` past the watermark, right rows as soon as the watermark
    * passes them). Without the range bound the state is unbounded — which
    * is why this wrapper REQUIRES it rather than exposing a plain
    * stream-stream equi-join.
    *
    * Inner join, so matches emit as soon as both sides arrive (the
    * watermark gates only eviction, not emission): over a finite
    * AvailableNow run the append output equals the batch join exactly —
    * the q110 gate's contract.
    *
    * Both inputs must carry TimestampType event-time columns named
    * `tsCol` (left) and `rtsCol` (right); the two names must differ
    * (Spark requires unambiguous columns in the join condition).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   tsCol: String, rtsCol: String, lookback: String,
                   watermark: String): DataFrame = {
    val rKey = s"__r_$keyCol"
    val l = left.withWatermark(tsCol, watermark)
    val r = right.withColumnRenamed(keyCol, rKey)
      .withWatermark(rtsCol, watermark)
    l.join(r,
      col(keyCol) === col(rKey) &&
        col(rtsCol) >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(rtsCol) <= col(tsCol))
      .drop(rKey)
  }

  /** Left-outer twin of [[intervalJoin]]: left rows with no right match
    * in the lookback window still emit (right columns null) — but only
    * once the watermark proves no match can arrive, i.e. when it passes
    * the left row's event time (the window is purely backward, so a
    * right row matching left ts must have rts <= ts). That timing is the
    * semantic difference from the inner form: null-joined results are
    * withheld until eviction, so a finite AvailableNow replay must push
    * the final watermark past the real data with trailing rows
    * (the q97 pusher-file trick — see the q151 gate) or the tail never
    * drains. State stays bounded by the same time-range condition.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
                            keyCol: String, tsCol: String, rtsCol: String,
                            lookback: String, watermark: String)
  : DataFrame = {
    val rKey = s"__r_$keyCol"
    val l = left.withWatermark(tsCol, watermark)
    val r = right.withColumnRenamed(keyCol, rKey)
      .withWatermark(rtsCol, watermark)
    l.join(r,
      col(keyCol) === col(rKey) &&
        col(rtsCol) >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(rtsCol) <= col(tsCol),
      "left_outer")
      .drop(rKey)
  }

  /** Run a streaming frame to completion over existing files into an
    * in-memory table (AvailableNow = the reference's batch day-loop).
    */
  def runAvailableNow(df: DataFrame, queryName: String): StreamingQuery = {
    val q = df.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }

  private val runSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run a streaming AGGREGATION to completion over existing files and
    * return its final result as a batch DataFrame — the batch-parity
    * harness for gate queries (q89).
    *
    * COMPLETE output mode, deliberately: in append mode a session/window
    * only emits once the watermark passes its end, so the last session of
    * the globally-latest user is withheld forever on a finite file set —
    * batch parity is impossible by construction. Complete mode re-emits
    * the full state at the final trigger instead; state is the whole
    * aggregate, which is exactly what a parity check materializes anyway.
    * Production streams keep the append+watermark forms above (bounded
    * state); this runner is for AvailableNow backfills and gates.
    *
    * The memory-sink table name is suffixed with a run counter so
    * repeated invocations in one session (bench passes) never collide; the
    * sink's rows are lifted into a localized frame and the temp view is
    * dropped before returning, so repeated passes don't accumulate
    * result-sized tables in the driver for the session's lifetime. (The
    * memory sink is driver-resident by design — complete-mode state is the
    * final aggregate — so the lift adds no new scale cost.)
    */
  def runToCompletion(df: DataFrame, namePrefix: String,
                      statePartitions: Int = 4): DataFrame =
    runAndLift(df, namePrefix, "complete", statePartitions)

  /** Append-mode twin of [[runToCompletion]] for streaming operators that
    * forbid complete mode (stateful dedup, plain projections): every row
    * the stream emitted over the AvailableNow run is returned. Used by
    * the q90 gate, where [[dedupStream]]'s append emissions over a finite
    * file set ARE the final answer (first arrival per key).
    */
  def runToCompletionAppend(df: DataFrame, namePrefix: String,
                            statePartitions: Int = 4): DataFrame =
    runAndLift(df, namePrefix, "append", statePartitions)

  /** `statePartitions` sizes the stateful operators' state-store count:
    * a streaming query fixes it from `spark.sql.shuffle.partitions` at
    * START (and bakes it into any checkpoint), independently of how the
    * batch session is tuned — and every micro-batch pays a per-store
    * commit, so a gate-sized backfill under a 32-partition batch conf
    * spends more wall clock on store commits than on data (measured
    * 9.6 s -> 4.3 s on the q110 join at 8 stores). The conf is set only
    * around `start()` and restored after; pass 0 to leave the session
    * value untouched (production jobs size it to their own key
    * cardinality). Default 4: the gate state is ~20k rows, and each
    * halving of the store count removes a batch's worth of per-store
    * commits (measured 4.2 s -> 3.1 s on the q110 join going 8 -> 4;
    * flat from 4 -> 2, so 4 keeps multi-partition state exercised at the
    * knee of the curve).
    *
    * No-data micro-batches are disabled for the gate run (restored
    * after): AvailableNow appends one trailing 0-row batch whose only
    * job is to fire watermark-eviction work — it costs a full
    * state-store load+commit round (~1 s measured on q110) and, for
    * every gate on the board, emits nothing: complete-mode gates re-emit
    * on the last DATA batch, append emissions are arrival-driven, and
    * the watermark-buffered automata (q97) drain inside their trailing
    * pusher DATA batch by design. The ORACLE gates adjudicate this:
    * every streaming query hash-matches DuckDB at sf0.01 and sf0.1 with
    * the trailing batch off. Production streams (continuous triggers)
    * keep their session default — the override lives only around the
    * gate's start().
    */
  private def runAndLift(df: DataFrame, namePrefix: String,
                         mode: String, statePartitions: Int): DataFrame = {
    val name = s"${namePrefix}_${runSeq.incrementAndGet()}"
    val spark = df.sparkSession
    // noop-sink mode (spark.graft.streamSinkNoop=true): run the stream
    // for its side metrics only and return an EMPTY frame of the right
    // schema. The memory sink materializes every emitted row in the
    // driver — correct for the oracle gates, lethal for a x100 scale
    // smoke whose emissions are input-sized; the smoke only needs wall
    // clock + the state-peak figures of graft.RunLedger.
    val noop = spark.conf.getOption("spark.graft.streamSinkNoop")
      .contains("true")
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val savedNoData = spark.conf.getOption(noDataKey)
    if (statePartitions > 0) spark.conf.set(key, statePartitions.toString)
    spark.conf.set(noDataKey, "false")
    val q = try {
      val writer = df.writeStream
        .outputMode(mode)
        .trigger(Trigger.AvailableNow())
      val started =
        (if (noop) writer.format("noop")
         else writer.format("memory").queryName(name)).start()
      try started.processAllAvailable() finally started.stop()
      started
    } finally {
      if (statePartitions > 0) spark.conf.set(key, saved)
      savedNoData match {
        case Some(v) => spark.conf.set(noDataKey, v)
        case None => spark.conf.unset(noDataKey)
      }
    }
    q.exception.foreach(throw _)
    if (noop)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        df.schema)
    val sink = spark.table(name)
    // one driver-resident copy: wrap the collected array directly (no
    // ArrayList re-copy) — the memory sink itself is dropped with the view
    val out = spark.createDataFrame(
      java.util.Arrays.asList(sink.collect(): _*), sink.schema)
    spark.catalog.dropTempView(name)
    out
  }
}
