package graft

import graft.RunLedger.{StreamStats, num}
import graft.streaming.{StreamIngestGate, StreamMatView, StreamSessions, StreamingStopDetect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

/** Time-EXTENDED streaming scale smoke (dev main) — the bounded-state
  * proof [[ScaleSmoke]]'s densified fixture cannot give.
  *
  * ScaleSmoke grows volume by stacking user-shifted copies into the SAME
  * event-time span, so per-window density grows xN and every watermark
  * state peak honestly scales xN with input — that proves EVICTION
  * works, not that state is bounded. The 100 TB claim is "state ≈
  * window, independent of history length": only a fixture with the SAME
  * density over an xN-LONGER horizon can show a flat state peak. This
  * main builds that fixture (events only: ts shifted by a whole-day-
  * aligned span stride per copy, SAME user population, event_id shifted
  * by a multiple of 70 so the %5/%7 ping jitter is copy-invariant) and
  * measures EVERY stateful gate at both shapes with per-batch event-time
  * width HELD CONSTANT (chunk count ∝ horizon). Acceptance:
  * `peak_ratio` ≈ 1 while input grows xN.
  *
  * Three target forms, recorded per row as `form`:
  *  - `gate`: the oracle gate itself is watermark-bounded
  *    (q97/q110/q151) — run verbatim.
  *  - `bounded_variant`: the oracle gate deliberately runs COMPLETE
  *    mode (or an effectively-infinite horizon) for finite-backfill
  *    exactness, so its state is input-sized BY HARNESS CHOICE — here
  *    the production shape (append mode + a real horizon) of the same
  *    operator is measured instead (q89 sessions, q90 dedup, q104
  *    tumbling, q158 sliding, q93's automaton, q94/q166 ingest gates).
  *  - `matview_fold`: foreachBatch folds have no state store; their
  *    "state" is the per-key snapshot itself, so the row records final
  *    snapshot ROWS (monotone fold → final = peak). Bounded by KEY
  *    cardinality, which the constant-user horizon fixture holds flat.
  *
  * q162 is excluded with a recorded reason: stateless model scoring has
  * no state at all (SCALE_sf10 records state_peak 0 at both scales).
  *
  * q94/q166 ride a different fixture: a FIXED history index (built once
  * from the source corpus — production shape: the index does not grow
  * with ingest time) and an incoming stream of N time-shifted copies of
  * the source's incoming slice at constant arrival density, flagged-pair
  * dedup behind a REAL 600 s horizon. This is the direct answer to the
  * densified smoke's q166 super-linear state row: there BOTH the index
  * and the batch multiply (every incoming image legitimately flags ~xN
  * pairs — output-driven growth), and the 3650-day gate horizon makes
  * the finite replay exact (state = total output by design). Under the
  * production shape, state is pairs-per-horizon-window — flat.
  */
object ScaleTime {

  /** `run` returns a fold target's final snapshot. A mat-view fold has no
    * state store, so its `state_peak` is that snapshot's row count (a
    * monotone fold's final = peak), counted after the timed run; input
    * rows and batches come from the ledger's progress events, as for
    * every target.
    */
  private final case class Target(
    name: String, form: String, bound: String, baseChunks: Int,
    run: (SparkSession, String, Int, String) => Option[DataFrame])

  /** Events normalized to (user_id, event_type, ts timestamp, value
    * cents) — the shared input shape for the bounded variants.
    */
  private def eventsTs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(col("user_id"), col("event_type"),
      timestamp_seconds(expr("ts div 1000000000")).as("ts"),
      round(col("value") * 100, 0).as("value"))

  /** Stage `frame` as time-ordered single-file chunks (count pinned by
    * `spark.graft.streamChunks`, set per run) and open it as a
    * one-file-per-trigger stream — the replay shape under which the
    * watermark advances every batch and eviction is real.
    */
  private def chunkedStream(spark: SparkSession, key: String,
                            frame: DataFrame, tsCol: String): DataFrame = {
    val dir = StreamSessions.stageOrderedFrames(key) {
      StreamSessions.timeChunks(frame, tsCol, 4096)
    }
    StreamSessions.readParquetStreamThrottled(
      spark, dir, spark.read.parquet(dir).schema)
  }

  private def gateRunner(name: String)
  : (SparkSession, String, Int, String) => Option[DataFrame] =
    (s, d, _, _) => { Bench.force(SparkEntry.queries(name)(s, d)); None }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val matviewPrep: DataFrame => DataFrame =
    b => b.filter(col("event_type") === "purchase")
      .select("user_id", "cents")

  private def matviewFrame(s: SparkSession, d: String): DataFrame =
    eventsTs(s, d).withColumn("cents", col("value").cast("long"))
      .select("user_id", "event_type", "ts", "cents")

  private def targets(src: String): Seq[Target] = Seq(
    Target("q97_stream_stops_unordered", "gate", "watermark window", 16,
      gateRunner("q97_stream_stops_unordered")),
    Target("q110_stream_join", "gate", "join time-range window", 16,
      gateRunner("q110_stream_join")),
    Target("q151_stream_outer_join", "gate", "join time-range window", 16,
      gateRunner("q151_stream_outer_join")),

    Target("q89_stream_sessions", "bounded_variant",
      "open sessions + 1h watermark", 8, (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t89:$tag",
          eventsTs(s, d).select("user_id", "ts", "value"), "ts")
        StreamSessions.runToCompletionAppend(
          StreamSessions.sessionCounts(raw, "1800 seconds", "3600 seconds"),
          "q89_stream_sessions")
        None
      }),
    Target("q90_stream_dedup", "bounded_variant",
      "keys seen within 1-day horizon", 8, (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t90:$tag",
          eventsTs(s, d).select("user_id", "event_type", "ts"), "ts")
        StreamSessions.runToCompletionAppend(
          StreamSessions.dedupStream(raw,
            Seq("user_id", "event_type"), "1 day")
            .select("user_id", "event_type"),
          "q90_stream_dedup")
        None
      }),
    Target("q93_stream_stops", "bounded_variant",
      "one automaton state per user", 8, (s, d, _, tag) => {
        import s.implicits._
        val pings = Tables.pings(s, d)
          .select("uid", "latitude", "longitude", "timestamp")
        val maxTs = pings.agg(max("timestamp")).collect()(0).getLong(0)
        val sentinels = pings.select("uid").distinct()
          .select(col("uid"), lit(0.0).as("latitude"),
            lit(0.0).as("longitude"),
            lit(maxTs + graft.queries.Shared.stopParams.maxStayingTime + 1L)
              .as("timestamp"))
        val raw = chunkedStream(s, s"t93:$tag",
          pings.union(sentinels), "timestamp")
          .as[StreamingStopDetect.Ping]
        StreamSessions.runToCompletionAppend(
          StreamingStopDetect.stopEvents(raw,
            graft.queries.Shared.stopParams),
          "q93_stream_stops")
        None
      }),
    Target("q104_stream_window", "bounded_variant",
      "unfinalized 1h windows behind 2h watermark", 8, (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t104:$tag",
          eventsTs(s, d).select("user_id", "ts", "value"), "ts")
        StreamSessions.runToCompletionAppend(
          StreamSessions.windowedCounts(raw, "3600 seconds", "2 hours"),
          "q104_stream_window")
        None
      }),
    Target("q158_stream_sliding", "bounded_variant",
      "unfinalized 2h/1h windows behind 2h watermark", 8,
      (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t158:$tag",
          eventsTs(s, d).select("user_id", "ts", "value"), "ts")
        StreamSessions.runToCompletionAppend(
          StreamSessions.slidingCounts(raw,
            "7200 seconds", "3600 seconds", "2 hours"),
          "q158_stream_sliding")
        None
      }),
    Target("q244_stream_benford", "gate", "9-digit domain", 1,
      gateRunner("q244_stream_benford")),

    Target("q143_stream_matview", "matview_fold",
      "snapshot rows = key cardinality", 8, (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t143:$tag", matviewFrame(s, d), "ts")
        Some(StreamMatView.runFold(raw, Seq("user_id"), "cents",
          tmpDir("t143state"), matviewPrep))
      }),
    Target("q203_stream_bitmap", "matview_fold",
      "snapshot rows = key cardinality (8-byte bitmap per key)", 8,
      (s, d, _, tag) => {
        // day wraps mod 60: the engagement bitmap is a 60-day window by
        // contract (aggregateBitmap drops day >= 60), so an extended
        // horizon must rotate through the window — state stays one
        // 8-byte row per user no matter how long the stream runs
        val frame = eventsTs(s, d).select(col("user_id"), col("ts"),
          pmod(expr("unix_timestamp(ts) div 86400"), lit(60L)).as("day"))
        val raw = chunkedStream(s, s"t203:$tag", frame, "ts")
        Some(StreamMatView.runFoldBitmapDelta(raw, Seq("user_id"),
          "day", tmpDir("t203state"), prep = _.select("user_id", "day")))
      }),
    Target("q247_stream_matview_delta", "matview_fold",
      "snapshot rows = key cardinality; per-batch IO = touched buckets",
      8, (s, d, _, tag) => {
        val raw = chunkedStream(s, s"t247:$tag", matviewFrame(s, d), "ts")
        Some(StreamMatView.runFoldDelta(raw, Seq("user_id"), "cents",
          tmpDir("t247state"), matviewPrep))
      }),

    Target("q249_stream_quantile_matview", "matview_fold",
      "snapshot rows = bounded value domain (distinct event_type x cents)",
      8, (s, d, _, tag) => {
        val frame = eventsTs(s, d).select(col("event_type"), col("ts"),
          col("value").cast("long").as("cents"))
        val raw = chunkedStream(s, s"t249:$tag", frame, "ts")
        Some(StreamMatView.runFoldDelta(raw,
          Seq("event_type", "cents"), "cents", tmpDir("t249state"),
          prep = _.select("event_type", "cents")))
      }),

    // ingest gates: FIXED source-corpus index, incoming stream = mult
    // time-shifted copies of the source incoming slice at constant
    // arrival density (ts rides the id axis: 1 doc / 30 s, 1 image /
    // 2 s), flagged-pair dedup behind a REAL 600 s horizon (≈20 docs /
    // 300 images in flight — eviction exercised at BOTH shapes) — the
    // production shape (the oracle gates run a 3650-day horizon so the
    // finite replay is exact, making state output-sized by design)
    Target("q94_stream_ingest_gate", "bounded_variant",
      "flagged pairs within 600s horizon against a fixed index", 8,
      (s, _, mult, tag) => {
        val docs = Tables.documents(s, src)
        val index = StreamIngestGate.bandIndex(
          docs.filter(col("doc_id") % 3 =!= 0), "text", "doc_id")
        val span = docs.agg(max("doc_id")).head().getLong(0) + 1L
        val copies = s.range(0, mult).select(col("id").as("copy"))
        val shifted = col("doc_id") + col("copy") * lit(span)
        val incoming = docs.filter(col("doc_id") % 30 === 0)
          .crossJoin(copies)
          .select(shifted.as("doc_id"), col("text"),
            timestamp_seconds(shifted).as("ts"))
        val raw = chunkedStream(s, s"t94:$tag", incoming, "ts")
        StreamSessions.runToCompletionAppend(
          StreamIngestGate.flagStream(raw, index, "text", "doc_id",
            "600 seconds"),
          "q94_stream_ingest_gate")
        None
      }),
    Target("q166_stream_image_gate", "bounded_variant",
      "flagged pairs within 600s horizon against a fixed index", 8,
      (s, _, mult, tag) => {
        val ids = Tables.documents(s, src).select("doc_id")
        val index = StreamIngestGate.imageHashIndex(
          graft.operators.Multimodal.perceptualHashes(
            graft.operators.Multimodal.synthImages(
              ids.filter(col("doc_id") % 2 === 0), "doc_id")))
        val odd = graft.operators.Multimodal.synthImages(
          ids.filter(col("doc_id") % 2 === 1), "doc_id").toDF()
        val span = ids.agg(max("doc_id")).head().getLong(0) + 1L
        val copies = s.range(0, mult).select(col("id").as("copy"))
        val shifted = col("media_id") + col("copy") * lit(span)
        val incoming = odd.crossJoin(copies)
          .select(shifted.as("media_id"), col("payload"),
            timestamp_seconds(shifted).as("ts"))
        val raw = chunkedStream(s, s"t166:$tag", incoming, "ts")
        StreamSessions.runToCompletionAppend(
          StreamIngestGate.imageFlagStream(
            graft.operators.Multimodal.perceptualHashStream(
              raw, "media_id", "payload", "ts"),
            index, "600 seconds"),
          "q166_stream_image_gate")
        None
      })
  )

  private val excluded = Map(
    "q162_stream_score" -> ("stateless model scoring: no state store at " +
      "all; SCALE_sf10 records state_peak 0 at both scales"),
    "q248_matview_time_travel" -> ("a read of q247's fold at an earlier " +
      "version — state shape identical to q247's matview_fold row"))

  /** Build `dst/events.parquet`: nCopies copies of src events tiling the
    * TIME axis at constant density. Marker-guarded like ScaleSmoke.
    */
  private def buildTimeExtended(spark: SparkSession, src: String,
                                dst: String, nCopies: Int): Unit = {
    val fs = new java.io.File(dst)
    if (new java.io.File(s"$dst/_OK_time_v1_$nCopies").exists()) return
    fs.mkdirs()
    Option(fs.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("_OK_"))
      .foreach(_.delete())
    val events = Tables.events(spark, src) // ts normalized to ns Long
    val mm = events.agg(min("ts"), max("ts")).collect()(0)
    val dayNs = 86400L * 1000000000L
    // whole-day-aligned stride >= span+1: copies tile contiguously (no
    // overlap, no gap beyond day rounding), keeping density constant
    val stride = ((mm.getLong(1) - mm.getLong(0)) / dayNs + 1L) * dayNs
    val copies = spark.range(0, nCopies).select(col("id").as("copy"))
    events.crossJoin(copies)
      .select(
        // multiple of 70 keeps event_id % 5 / % 7 (ping jitter inputs)
        // copy-invariant — every copy replays the same trajectories,
        // just later in time
        (col("event_id") + col("copy") * lit(1000300L)).as("event_id"),
        (col("ts") + col("copy") * lit(stride)).as("ts"),
        col("user_id"), // SAME users: density per unit time is constant
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    new java.io.File(s"$dst/_OK_time_v1_$nCopies").createNewFile(): Unit
  }

  def main(args: Array[String]): Unit = {
    // streaming replay cost is per-batch per-state-partition commits; at
    // 16·N batches the default 32 state partitions would dominate wall
    // clock without touching the measured peaks (peaks are row counts
    // summed over partitions)
    val spark = Session.local("graft-scale-time", "spark.sql.shuffle.partitions" ->
      sys.env.getOrElse("SPARK_GRAFT_TIME_SHUFFLE", "8"))

    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dst = sys.env.getOrElse("SPARK_GRAFT_TIME_DIR", "/tmp/graft_time")
    val nCopies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val all = targets(src)
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(f => all.filter(t => f.split(",").exists(t.name.startsWith)))
      .getOrElse(all)
    buildTimeExtended(spark, src, dst, nCopies)

    spark.conf.set("spark.graft.streamSinkNoop", "true")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_time.json")
    val ledger = new RunLedger(spark, Some(out))
    def run(t: Target, dir: String, mult: Int, shape: String): (Double, StreamStats) = {
      spark.conf.set("spark.graft.streamChunks", (t.baseChunks * mult).toString)
      spark.conf.set("spark.graft.streamFiles", (8 * mult).toString)
      var snapshot: Option[DataFrame] = None
      val r = ledger.measure(t.name, shape) {
        snapshot = t.run(spark, dir, mult, s"$shape:$mult")
      }.checked
      val progress = r.stream
        .getOrElse(sys.error(s"${t.name} $shape: no streaming progress"))
      val m = snapshot.fold(progress)(f => progress.copy(statePeakRows = f.count()))
      System.err.println(s"[scale-time] ${t.name} $shape peak=${m.statePeakRows} " +
        s"rows=${m.inputRows} batches=${m.batches}")
      (r.wallS, m)
    }
    val rows = only.map { t =>
      val ((wa, a), (wb, b)) = (run(t, src, 1, "src"), run(t, dst, nCopies, "time"))
      t.name -> JObject(
        "form" -> JString(t.form), "bound" -> JString(t.bound),
        "wall_src" -> num(wa), "wall_time" -> num(wb),
        "state_peak_src" -> JLong(a.statePeakRows),
        "state_peak_time" -> JLong(b.statePeakRows),
        "input_rows_src" -> JLong(a.inputRows), "input_rows_time" -> JLong(b.inputRows),
        "batches_src" -> JLong(a.batches), "batches_time" -> JLong(b.batches),
        "peak_ratio" -> num(b.statePeakRows.toDouble / math.max(1L, a.statePeakRows), 6))
    }
    println(RunLedger.write(out, JObject(
      "metric" -> JString("scale_time_extended"), "copies" -> JLong(nCopies),
      "fixture" -> JString("constant_density_extended_horizon"),
      "excluded" -> JObject(excluded.toList.map { case (k, v) => k -> JString(v) }),
      "queries" -> JObject(rows: _*))))
    spark.stop()
  }
}
