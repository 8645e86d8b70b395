package graft.streaming

import graft.operators.IncrementalAgg
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
import org.apache.spark.sql.streaming.Trigger

/** Streaming materialized-view maintenance: fold each micro-batch's
  * partial aggregate into a versioned per-key state snapshot with
  * `foreachBatch` — the production pattern for keeping a 100 TB rollup
  * current without ever re-scanning history ([[IncrementalAgg]] is the
  * algebra; this is its streaming driver).
  *
  * Exactly-once without a transactional sink: version = batchId. Batch
  * b ALWAYS merges `state_v{b-1}` + its own partial and overwrites
  * `state_v{b}` — a retried batch recomputes the identical snapshot
  * from the identical predecessor (idempotent), and a crash between
  * write and commit just replays the same deterministic merge. This is
  * the same replay contract Structured Streaming's file sinks rely on,
  * expressed over plain parquet.
  *
  * Scale shape per batch: one partial-agg shuffle over the BATCH, one
  * key-sized outer merge against the previous snapshot. State size is
  * the key cardinality, not history volume — and the snapshot WRITE is
  * key-hash partitioned with a file count sized from the previous
  * snapshot's on-disk bytes ([[graft.sources.Export.parquetBytes]], the
  * compactParquet sizing idiom), so a wide key space never funnels
  * through one task the way the earlier `coalesce(1)` write did. The
  * target file size rides `spark.graft.stateTargetBytes` (default
  * 64 MiB); sizing from the b-1 snapshot lags growth by one batch,
  * which stays within ~2x of ideal while keys accumulate.
  *
  * All state-dir IO — including the delta layout's manifest, its
  * COMMIT POINT — goes through the Hadoop `FileSystem` API resolved
  * from the path itself, never `java.io`: a production rollup's state
  * lives on s3a/hdfs, and the manifest must commit where the data
  * does. Manifest publication is write-tmp-then-rename — the
  * atomic-visibility idiom — so a reader never observes a torn
  * manifest.
  */
object StreamMatView {

  /** Snapshot file count for batch `bid`: previous snapshot bytes /
    * target, 1 for the first batch (no predecessor to size from —
    * a fresh state is one batch's key set).
    */
  private def stateFiles(spark: SparkSession,
                         stateDir: String, bid: Long): Int =
    if (bid == 0) 1
    else {
      val target = spark.conf
        .getOption("spark.graft.stateTargetBytes")
        .map(_.toLong).getOrElse(64L << 20)
      val bytes = graft.sources.Export.parquetBytes(
        spark, s"$stateDir/state_v${bid - 1}")
      math.max(1L, (bytes + target - 1) / target).toInt
    }

  private def writeState(merged: DataFrame, keys: Seq[String],
                         stateDir: String, bid: Long, nFiles: Int): Unit =
    merged.repartition(nFiles, keys.map(col): _*)
      .write.mode("overwrite").parquet(s"$stateDir/state_v$bid")

  /** Durable-checkpoint hook: when `spark.graft.streamCheckpointDir` is
    * set, the fold stream commits its source offsets under that BASE
    * directory — a LATER run over the same source/state/checkpoint trio
    * resumes from the next unprocessed file and keeps FOLDING FORWARD
    * (batchIds and state versions continue), instead of replaying
    * history. This is the production incremental-refresh shape: the job
    * restarts daily, each run folds only what arrived since the last
    * commit. Without the conf, each run gets a fresh temp checkpoint
    * and replays the whole source — the deterministic-replay contract
    * the oracle gates rely on.
    *
    * The actual checkpoint location is `base/md5(stateDir)`: the conf
    * is session-global, but offsets are a property of ONE fold's
    * source/state pairing — two folds sharing a literal checkpoint
    * would inherit each other's batchId sequence and file log (the
    * second fold's first bid would be > 0 against a state dir with no
    * manifest history). Keying by stateDir keeps the conf a one-line
    * opt-in while giving every fold its own offset lineage, stable
    * across restarts.
    */
  private def checkpointFor(spark: SparkSession, stateDir: String)
  : Option[String] =
    spark.conf.getOption("spark.graft.streamCheckpointDir").map { base =>
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(stateDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      s"$base/$key"
    }

  private def withCheckpoint(
      w: org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row],
      spark: SparkSession, stateDir: String)
  : org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    checkpointFor(spark, stateDir)
      .fold(w)(dir => w.option("checkpointLocation", dir))

  /** The highest batchId THIS fold's checkpoint lineage has committed —
    * read from the checkpoint's own `commits` log, never from a state
    * directory listing: a listing may hold HIGHER versions left by an
    * earlier, longer run sharing the stateDir, and adopting those would
    * return another lineage's rollup. None when no checkpoint is
    * configured or nothing committed yet.
    */
  private def lastCommittedBid(spark: SparkSession, stateDir: String)
  : Option[Long] =
    checkpointFor(spark, stateDir).flatMap { ck =>
      val p = new Path(s"$ck/commits")
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!hfs.exists(p)) None
      else hfs.listStatus(p).toSeq.map(_.getPath.getName)
        .filter(n => n.nonEmpty && n.forall(_.isDigit))
        .map(_.toLong).maxOption
    }

  /** The delta layout's bucket count is a PROPERTY OF THE STATE DIR,
    * not of the session: bucket = pmod(hash, B), so folding new batches
    * with a different B against existing buckets would split every
    * key's aggregate across two bucket homes — silently wrong state. A
    * fresh state dir takes B from `spark.graft.stateBuckets` (default
    * 16) and pins it in `_layout.tsv`; every later run (including
    * checkpointed restarts under a re-tuned session) reads the pinned
    * value back and uses THAT, ignoring the conf.
    */
  private def layoutBuckets(spark: SparkSession, stateDir: String): Int = {
    val hfs = fsOf(spark, stateDir)
    val p = new Path(s"$stateDir/_layout.tsv")
    if (hfs.exists(p)) {
      val in = hfs.open(p)
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      finally in.close()
      val txt = new String(buf.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8).trim
      require(txt.startsWith("buckets\t"), s"malformed _layout.tsv: $txt")
      txt.stripPrefix("buckets\t").toInt
    } else {
      val b = spark.conf.getOption("spark.graft.stateBuckets")
        .map(_.toInt).getOrElse(16)
      require(b > 0, "stateBuckets must be positive")
      val out = hfs.create(p, true)
      try out.write(s"buckets\t$b\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      b
    }
  }

  /** Committed manifest versions present in a delta state dir. */
  private def manifestVersions(spark: SparkSession, stateDir: String)
  : Seq[Long] = {
    val hfs = fsOf(spark, stateDir)
    val root = new Path(stateDir)
    if (!hfs.exists(root)) Seq.empty
    else hfs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("manifest_v") && n.endsWith(".tsv"))
      .map(_.stripPrefix("manifest_v").stripSuffix(".tsv").toLong)
  }

  /** Run `body` with the fold-internal shuffle width, restoring the
    * session value after (the conf is read per job inside foreachBatch).
    * Each foreachBatch body runs 2-3 key-sized jobs (partial aggregate,
    * outer merge, state write) whose reduce sides are state-sized, not
    * history-sized — running them at the session's scan-width shuffle
    * setting pays per-task scheduling for empty partitions every batch
    * (measured ~0.3 s/batch at 32 vs 16 on the q247 gate). The session
    * value is clamped to `cap` (the delta layout passes its bucket count —
    * the write's own granularity).
    */
  private def withFoldShuffle[T](spark: SparkSession, cap: Int)(body: => T)
  : T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key,
      math.min(spark.sessionState.conf.numShufflePartitions, cap).toString)
    try body finally spark.conf.set(key, saved)
  }

  /** Full-snapshot fold loop shared by [[runFold]] and
    * [[runFoldBitmap]]: every batch merges the previous snapshot with
    * its own partial (already shaped by `aggregate`) and overwrites
    * `state_v{bid}`.
    */
  private def foldSnapshotLoop(stream: DataFrame, keys: Seq[String],
                               stateDir: String,
                               aggregate: DataFrame => DataFrame,
                               merge: (DataFrame, DataFrame) => DataFrame,
                               opName: String): DataFrame = {
    val spark = stream.sparkSession
    // the final version is THIS run's highest written batchId — never
    // inferred from the directory listing, which may hold more versions
    // from an earlier, longer run sharing the stateDir (a listing-max
    // would silently return that stale snapshot)
    val lastBid = new java.util.concurrent.atomic.AtomicLong(-1L)
    val w = stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val inc = aggregate(batch)
        val nFiles = stateFiles(spark, stateDir, bid)
        val merged =
          if (bid == 0) inc
          else merge(spark.read.parquet(s"$stateDir/state_v${bid - 1}"), inc)
        writeState(merged, keys, stateDir, bid, nFiles)
        lastBid.getAndUpdate(m => math.max(m, bid))
        (): Unit
      }
      .trigger(Trigger.AvailableNow())
    withFoldShuffle(spark, 16) {
      val q = withCheckpoint(w, spark, stateDir).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(throw _)
    }
    if (lastBid.get() < 0) {
      // zero batches is legitimate ONLY under the durable-checkpoint
      // contract (a daily restart with no new files), and the last
      // version comes from the checkpoint's OWN commits log — never a
      // state-dir listing, which may hold higher versions left by an
      // earlier run sharing the stateDir (another lineage's rollup)
      val v = lastCommittedBid(spark, stateDir).getOrElse(
        throw new IllegalArgumentException(
          s"$opName: stream produced no batches and this checkpoint " +
            "lineage has no prior commits"))
      return spark.read.parquet(s"$stateDir/state_v$v")
    }
    spark.read.parquet(s"$stateDir/state_v${lastBid.get()}")
  }

  /** Run the stream to completion (AvailableNow), folding batches into
    * `stateDir/state_v{batchId}`; returns the final state frame.
    * `prep` shapes each raw micro-batch into (keys..., valueCol) rows
    * before aggregation (filters/derivations — kept OUT of the stream
    * plan so the whole pipeline is plain batch code under foreachBatch).
    */
  def runFold(stream: DataFrame, keys: Seq[String], valueCol: String,
              stateDir: String, prep: DataFrame => DataFrame): DataFrame =
    foldSnapshotLoop(stream, keys, stateDir,
      b => IncrementalAgg.aggregate(prep(b), keys, valueCol),
      (s, i) => IncrementalAgg.merge(s, i, keys), "runFold")

  /** Bitmap-state twin of [[runFold]] over
    * [[IncrementalAgg.aggregateBitmap]]/[[IncrementalAgg.mergeBitmap]]:
    * the streaming engagement-bitmap maintainer. OR-merge is idempotent,
    * so a replayed batch is harmless even beyond the versioned-snapshot
    * replay contract.
    */
  def runFoldBitmap(stream: DataFrame, keys: Seq[String], dayCol: String,
                    stateDir: String, prep: DataFrame => DataFrame)
  : DataFrame =
    foldSnapshotLoop(stream, keys, stateDir,
      b => IncrementalAgg.aggregateBitmap(prep(b), keys, dayCol),
      (s, i) => IncrementalAgg.mergeBitmap(s, i, keys), "runFoldBitmap")

  /** Changed-bucket delta fold — [[runFold]] upgraded so a micro-batch
    * rewrites ONLY the state buckets its keys hash into, instead of the
    * full snapshot. At 100 TB key cardinalities the full-snapshot fold
    * reads and rewrites the entire rollup every batch even when the
    * batch touches a sliver of the key space (the common shape: a
    * time-local batch touches recently-active keys); here per-batch IO
    * is proportional to the TOUCHED-bucket state, and untouched buckets
    * are carried forward by manifest pointer — zero bytes moved.
    *
    * Layout: state rows live under `delta_v{bid}/__bucket={b}/` (hive
    * partitioned by the key-hash bucket, `pmod(xxhash64(keys), B)`,
    * `B` = `spark.graft.stateBuckets`, default 16 — the file-sizing
    * knob: one bucket ≈ state bytes / B). `manifest_v{bid}.tsv` maps
    * every bucket to the delta version currently holding it (one
    * `bucket<TAB>path` line per bucket — trivially parseable, robust
    * to any path charset short of tab/newline); the manifest rename
    * into place is the batch's commit point. Batch 0 also writes an
    * empty `state_schema` parquet so an all-empty stream still has a
    * well-defined (empty, correctly-typed) state — the same contract
    * as [[runFold]]'s empty snapshot.
    *
    * Exactly-once is the same idempotent-replay contract as [[runFold]]:
    * batch b derives everything from `manifest_v{b-1}` plus its own
    * deterministic partial, so a retried batch overwrites
    * `delta_v{b}` and `manifest_v{b}` with identical content. A crash
    * between the delta write and the manifest write replays into the
    * same overwrite. The touched-bucket list is a ≤B-element distinct
    * collect — bounded by configuration, never by data.
    *
    * Retention: superseded bucket directories (rewritten by a later
    * batch) are NOT reclaimed inline — they keep every historical
    * version readable (time travel / crash replay). A long-running
    * fold's state dir therefore grows with touched-bucket CHURN, not
    * live state; reclaim with [[gcDelta]] once versions ≤ v are no
    * longer needed, or set `spark.graft.stateGcOnComplete=true` to
    * collect down to the final version when the run completes.
    *
    * @param keepHistory true = ignore `spark.graft.stateGcOnComplete`
    *   for THIS fold: the caller intends to time-travel older versions
    *   after the run (q248's read-of-version-2 would break if a
    *   session-wide gc conf collected to the final version first —
    *   ADVICE r12). GC remains available explicitly via [[gcDelta]].
    */
  def runFoldDelta(stream: DataFrame, keys: Seq[String], valueCol: String,
                   stateDir: String, prep: DataFrame => DataFrame,
                   keepHistory: Boolean = false)
  : DataFrame =
    foldDeltaLoop(stream, keys, stateDir,
      b => IncrementalAgg.aggregate(prep(b), keys, valueCol),
      (s, i) => IncrementalAgg.merge(s, i, keys), "runFoldDelta",
      keepHistory)

  /** Changed-bucket delta twin of [[runFoldBitmap]]: the engagement
    * bitmap maintained under the manifest/delta layout. OR-state is the
    * ideal delta algebra — idempotent merge on top of the layout's own
    * replay contract — and per-batch IO is touched-bucket state, not
    * key cardinality.
    */
  def runFoldBitmapDelta(stream: DataFrame, keys: Seq[String],
                         dayCol: String, stateDir: String,
                         prep: DataFrame => DataFrame,
                         keepHistory: Boolean = false): DataFrame =
    foldDeltaLoop(stream, keys, stateDir,
      b => IncrementalAgg.aggregateBitmap(prep(b), keys, dayCol),
      (s, i) => IncrementalAgg.mergeBitmap(s, i, keys), "runFoldBitmapDelta",
      keepHistory)

  /** The delta-layout fold loop shared by [[runFoldDelta]] and
    * [[runFoldBitmapDelta]] — `aggregate` collapses a raw batch to
    * per-key state, `merge` folds two state frames; both algebras are
    * associative/commutative so the per-bucket re-merge lands on the
    * same state as a whole-history fold.
    */
  private def foldDeltaLoop(stream: DataFrame, keys: Seq[String],
                            stateDir: String,
                            aggregate: DataFrame => DataFrame,
                            merge: (DataFrame, DataFrame) => DataFrame,
                            opName: String,
                            keepHistory: Boolean = false): DataFrame = {
    val spark = stream.sparkSession
    val nBuckets = layoutBuckets(spark, stateDir)
    def bucketOf = pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
    val lastBid = new java.util.concurrent.atomic.AtomicLong(-1L)
    val w = stream.writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // persisted: the key-sized partial feeds TWO actions (the
        // touched-bucket collect and the merged write) — without the
        // cache the batch aggregation shuffle runs twice per batch.
        // Measured r14: dropping the persist is ~0.3-0.5 s/query FASTER
        // at gate scale (cache build >= one recompute of a tiny batch),
        // but the cache holds the KEY-SIZED partial while the recompute
        // re-scans the whole micro-batch source — at production batch
        // sizes the persist wins by the full second source pass, so the
        // scale-correct form stays.
        val inc = aggregate(batch).withColumn("__bucket", bucketOf)
          .persist()
        try {
          if (bid == 0)
            // empty-state contract: an all-empty (or empty-after-prep)
            // stream must still read back as a typed empty frame
            inc.drop("__bucket").limit(0)
              .write.mode("overwrite").parquet(s"$stateDir/state_schema")
          // bounded by nBuckets (a config constant), not by keys — safe
          val touched = inc.select("__bucket").distinct()
            .collect().map(_.getLong(0)).sorted
          val prev = if (bid == 0) Map.empty[Long, String]
            else readManifest(spark, stateDir, bid - 1)
          val prevPaths = touched.flatMap(prev.get).distinct
          if (touched.nonEmpty) {
            // bucket is a pure function of the key, so the union of the
            // touched buckets' rows merges by key and re-derives
            // __bucket on the way out — no bucket column needs to live
            // in the files
            val merged =
              if (prevPaths.isEmpty) inc
              else merge(
                spark.read.parquet(
                  prevPaths.map(p => s"$stateDir/$p").toIndexedSeq: _*),
                inc.drop("__bucket")).withColumn("__bucket", bucketOf)
            // explicit width: the write's granularity is the bucket, so
            // more than nBuckets shuffle partitions only schedules empty
            // tasks (bare repartition(col) takes the session width)
            merged.repartition(nBuckets, col("__bucket"))
              .write.partitionBy("__bucket").mode("overwrite")
              .parquet(s"$stateDir/delta_v$bid")
          }
          val manifest = prev ++ touched.map(b =>
            b -> s"delta_v$bid/__bucket=$b")
          writeManifest(spark, stateDir, bid, manifest)
          lastBid.getAndUpdate(m => math.max(m, bid))
        } finally inc.unpersist(): Unit
        (): Unit
      }
      .trigger(Trigger.AvailableNow())
    withFoldShuffle(spark, nBuckets) {
      val q = withCheckpoint(w, spark, stateDir).start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(throw _)
    }
    val last =
      if (lastBid.get() >= 0) lastBid.get()
      else
        // zero batches: legitimate only under the durable-checkpoint
        // contract, and the version comes from the checkpoint's OWN
        // commits log (see foldSnapshotLoop — a state-dir listing may
        // carry another lineage's higher versions)
        lastCommittedBid(spark, stateDir).getOrElse(
          throw new IllegalArgumentException(
            s"$opName: stream produced no batches and this checkpoint " +
              "lineage has no prior commits"))
    if (!keepHistory &&
        spark.conf.getOption("spark.graft.stateGcOnComplete")
          .contains("true"))
      gcDelta(spark, stateDir, last)
    readStateDelta(spark, stateDir, last)
  }

  /** Current state under the delta layout: the union of every bucket's
    * manifest-pointed file set (partition-pruned — only live versions
    * are ever opened). An empty manifest reads the batch-0
    * `state_schema` sentinel: an empty frame with the state's schema,
    * matching [[runFold]]'s empty-snapshot behavior.
    */
  def readStateDelta(spark: SparkSession,
                     stateDir: String, bid: Long): DataFrame = {
    val paths = readManifest(spark, stateDir, bid).values.toSeq.sorted
      .map(p => s"$stateDir/$p")
    if (paths.isEmpty) spark.read.parquet(s"$stateDir/state_schema")
    else spark.read.parquet(paths: _*)
  }

  /** Pin a committed manifest version against [[gcDelta]] under
    * `owner`'s name: while any pin exists, GC clamps its cut to the
    * oldest pinned version, so the pinned version and everything after
    * it stay readable. This closes the in-flight-reader race in the
    * retention contract WITHOUT a lock service: a long-lived reader
    * (time-travel audit, slow export) pins its version up front, reads,
    * and unpins — the same explicit-handle discipline as an Iceberg
    * snapshot reference, one atomic file per owner, no coordinator.
    *
    * The pin file is `_pin_<owner>.tsv` in the state dir, published via
    * the same tmp-then-atomic-rename path as the manifests, so a
    * concurrent GC's listing sees it fully written or not at all —
    * never torn. Re-pinning under the same owner atomically REPLACES
    * that owner's pin (move your own handle; other owners' pins are
    * untouched). Pinning a version with no committed manifest (never
    * written, or already GC'd) fails loudly — a pin can only protect
    * history that still exists.
    *
    * Guarantee boundary: a pin protects against every GC that LISTS
    * pins after the pin's rename lands (GC re-reads pins at the top of
    * its run). A pin racing an IN-FLIGHT GC — renamed after that GC
    * already listed pins — can lose; this method therefore re-checks
    * the manifest AFTER publishing the pin (validate-after-publish)
    * and fails loudly if the version was cut in between, withdrawing
    * the stale pin. The residual window (GC deletes after the
    * re-check) degrades to the unpinned contract: the read fails
    * FileNotFound, never returns partial state. Closing it entirely
    * needs a lock service, which a state DIRECTORY deliberately does
    * not have.
    *
    * Pins are ownership handles, not leases: nothing expires them. A
    * crashed reader leaves its pin behind and blocks GC below it until
    * an operator clears it ([[pinnedDeltaVersions]] to audit,
    * [[unpinDeltaVersion]] to clear) — the fail-safe direction for a
    * retention mechanism (storage leak, never data loss). Callers that
    * want bounded exposure use [[withDeltaPin]], which unpins in a
    * finally block.
    */
  def pinDeltaVersion(spark: SparkSession, stateDir: String,
                      version: Long, owner: String): Unit = {
    require(owner.nonEmpty && owner.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"pin owner must be [A-Za-z0-9._-]+, got '$owner'")
    require(manifestVersions(spark, stateDir).contains(version),
      s"pinDeltaVersion: no committed manifest at version $version " +
        s"in $stateDir (never written, or already GC'd)")
    val hfs = fsOf(spark, stateDir)
    val tmp = new Path(s"$stateDir/_tmp_pin_$owner")
    val dst = new Path(s"$stateDir/_pin_$owner.tsv")
    val out = hfs.create(tmp, true)
    try out.write(s"$version\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, spark.sessionState.newHadoopConf())
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (hfs.exists(dst)) hfs.delete(dst, false)
        require(hfs.rename(tmp, dst), s"pin rename failed: $tmp -> $dst")
    }
    // validate-after-publish: an in-flight GC that listed pins before
    // this rename may have cut the version meanwhile — detect it now,
    // withdraw the stale pin, and fail loudly so the caller re-resolves
    if (!manifestVersions(spark, stateDir).contains(version)) {
      hfs.delete(dst, false)
      throw new IllegalStateException(
        s"pinDeltaVersion: version $version was GC'd while pinning " +
          s"in $stateDir — pin withdrawn, re-resolve to a live version")
    }
  }

  /** Remove `owner`'s pin. Returns whether a pin existed. Idempotent —
    * unpinning twice (or an owner that never pinned) is a no-op.
    */
  def unpinDeltaVersion(spark: SparkSession, stateDir: String,
                        owner: String): Boolean =
    fsOf(spark, stateDir)
      .delete(new Path(s"$stateDir/_pin_$owner.tsv"), false)

  /** Current pins: owner -> pinned version. Operator surface for
    * auditing what blocks GC (and clearing crashed readers' pins).
    */
  def pinnedDeltaVersions(spark: SparkSession, stateDir: String)
  : Map[String, Long] = {
    val hfs = fsOf(spark, stateDir)
    val root = new Path(stateDir)
    if (!hfs.exists(root)) Map.empty
    else hfs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("_pin_") && n.endsWith(".tsv"))
      .map { n =>
        val owner = n.stripPrefix("_pin_").stripSuffix(".tsv")
        val in = hfs.open(new Path(s"$stateDir/$n"))
        val buf = new java.io.ByteArrayOutputStream()
        try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        finally in.close()
        owner -> new String(buf.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      }.toMap
  }

  /** Loan-pattern read guard: pin `version`, run `f`, unpin in a
    * finally block — the bounded-exposure way to hold history open
    * across a long read (the pin outlives a crash only if the JVM dies
    * inside `f`; see [[pinDeltaVersion]] for the operator story).
    */
  def withDeltaPin[T](spark: SparkSession, stateDir: String,
                      version: Long, owner: String)(f: => T): T = {
    pinDeltaVersion(spark, stateDir, version, owner)
    try f finally unpinDeltaVersion(spark, stateDir, owner)
  }

  /** Reclaim delta-layout storage: delete every `__bucket=…` directory
    * (under any `delta_v…`) NOT referenced by any manifest at or after
    * `version`, and every manifest older than `version`. After GC,
    * `version` and every later committed version remain readable —
    * liveness is the UNION of the surviving manifests, not just
    * `version`'s (a bucket referenced only by a later manifest is
    * current state and must survive). Call it when history below
    * `version` is no longer needed for replay/time travel. Returns
    * (bucket dirs deleted, manifests deleted).
    *
    * ==Retention contract under concurrent readers==
    * GC coordinates with readers by VERSION, like a watermark:
    *  - a read STARTED after GC returns is safe at `version` and every
    *    later committed version (their manifests and every file they
    *    reference survive — spec-pinned);
    *  - a read of a version BELOW the cut fails loudly
    *    (`FileNotFoundException` at scan time under Spark's default
    *    `spark.sql.files.ignoreMissingFiles=false`), never silently
    *    returns partial state — also spec-pinned;
    *  - an IN-FLIGHT reader that resolved its manifest at version k
    *    races the cut UNLESS it holds a pin: [[pinDeltaVersion]] clamps
    *    every GC's effective cut to the oldest pinned version, so a
    *    pinned read's snapshot survives any concurrent GC. Unpinned
    *    readers keep the watermark discipline: the CALLER owns the
    *    retention window — cut only to versions at least one full
    *    reader-lifetime old (keep N versions or T hours of history, the
    *    Delta/Iceberg `VACUUM` discipline) — and readers that may
    *    outlive it must re-resolve and retry on FileNotFound; the
    *    failure is always loud, never wrong data.
    *
    * Returns (bucket dirs deleted, manifests deleted) at the EFFECTIVE
    * cut — `min(version, oldest pin)` — so a GC blocked by a pin
    * reports the smaller reclaim honestly instead of pretending the
    * requested cut happened.
    */
  def gcDelta(spark: SparkSession, stateDir: String, version: Long)
  : (Int, Int) = {
    val root = new Path(stateDir)
    val hfs = fsOf(spark, stateDir)
    val versions = manifestVersions(spark, stateDir)
    require(versions.contains(version),
      s"gcDelta: no manifest at version $version in $stateDir")
    // pins clamp the cut; listed as late as possible (after the
    // manifest check) so the freshest pin set wins — a pin renamed
    // after THIS listing races the cut and is handled by
    // pinDeltaVersion's validate-after-publish re-check
    val cut = (version +: pinnedDeltaVersions(spark, stateDir)
      .values.toSeq).min
    val live = versions.filter(_ >= cut)
      .flatMap(v => readManifest(spark, stateDir, v).values).toSet
    var buckets = 0
    var manifests = 0
    hfs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith("delta_v")) {
        // only bucket children count as live content — the write's
        // _SUCCESS marker must not keep an emptied version dir alive
        val kept = hfs.listStatus(st.getPath)
          .filter(_.getPath.getName.startsWith("__bucket=")).count { b =>
            val rel = s"$name/${b.getPath.getName}"
            if (!live(rel)) {
              hfs.delete(b.getPath, true); buckets += 1; false
            } else true
          }
        if (kept == 0) hfs.delete(st.getPath, true)
      } else if (st.isFile && name.startsWith("manifest_v") &&
                 name.endsWith(".tsv")) {
        val v = name.stripPrefix("manifest_v").stripSuffix(".tsv").toLong
        if (v < cut) { hfs.delete(st.getPath, false); manifests += 1 }
      }
    }
    (buckets, manifests)
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** bucket -> relative path, one `bucket<TAB>path` line per bucket,
    * bucket-sorted — the content is a pure function of the fold
    * history, so a replayed batch rewrites it byte-identically.
    * Published via write-tmp-then-rename on the Hadoop filesystem
    * resolved from the path (works on file:/hdfs:/s3a:, creates parent
    * dirs). The rename goes through `FileContext` with
    * `Options.Rename.OVERWRITE` — an atomic REPLACE, so a concurrent
    * reader of an already-committed version sees old-or-new content
    * during a replayed batch's rewrite, never a missing or torn file
    * (a `FileSystem.rename` can't overwrite, and delete-then-rename
    * would expose a not-found window at the commit point). Filesystems
    * without an `AbstractFileSystem` binding fall back to
    * delete-then-rename, trading that window for portability.
    */
  private[graft] def writeManifest(spark: SparkSession,
                                       stateDir: String, bid: Long,
                                       m: Map[Long, String]): Unit = {
    val hfs = fsOf(spark, stateDir)
    val tmp = new Path(s"$stateDir/_tmp_manifest_v$bid")
    val dst = new Path(s"$stateDir/manifest_v$bid.tsv")
    val out = hfs.create(tmp, true)
    try out.write(m.toSeq.sortBy(_._1)
      .map { case (b, p) => s"$b\t$p" }.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, spark.sessionState.newHadoopConf())
      fc.rename(fc.makeQualified(tmp), fc.makeQualified(dst),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (hfs.exists(dst)) hfs.delete(dst, false)
        require(hfs.rename(tmp, dst),
          s"manifest rename failed: $tmp -> $dst")
    }
  }

  private[graft] def readManifest(spark: SparkSession,
                                      stateDir: String,
                                      bid: Long): Map[Long, String] = {
    val hfs = fsOf(spark, stateDir)
    val in = hfs.open(new Path(s"$stateDir/manifest_v$bid.tsv"))
    val buf = new java.io.ByteArrayOutputStream()
    try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
    finally in.close()
    new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").iterator.map(_.trim).filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed manifest entry: '$line'")
        line.substring(0, i).toLong -> line.substring(i + 1)
      }.toMap
  }
}
