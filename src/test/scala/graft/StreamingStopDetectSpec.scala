package graft

import graft.operators.StopDetect
import graft.streaming.StreamingStopDetect
import graft.streaming.StreamingStopDetect.Ping
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class StreamingStopDetectSpec extends SparkSpec {
  import spark.implicits._

  private val p = StopDetect.Params(50.0, 2L, 600L, 3600L, "haversine")

  // one user: dwell (3 pings), jump, second dwell (2 pings), far tail.
  // The tail ping stays pending in streaming (no successor yet).
  private val batch1 = Seq(
    Ping("u", 19.0000, -99.0, 0L),
    Ping("u", 19.0001, -99.0, 400L),
    Ping("u", 19.0002, -99.0, 800L))
  private val batch2 = Seq(
    Ping("u", 19.0100, -99.0, 1200L), // breaks run 1
    Ping("u", 19.0101, -99.0, 1600L),
    Ping("u", 19.0102, -99.0, 2400L), // run 2 (too short -> -1)
    Ping("u", 19.1000, -99.0, 2500L)) // breaks run 2; pending tail

  test("streaming output matches batch for all classified pings") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ping]
    val q = StreamingStopDetect.stopEvents(mem.toDS(), p)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sstops").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val streamed = spark.table("sstops")
        .orderBy("timestamp")
        .collect().map(r => (r.getAs[Long]("stop_events"),
          r.getAs[Long]("timestamp")))

      val batchAll = StopDetect.stopEvents(
        (batch1 ++ batch2).toDF("uid", "latitude", "longitude", "timestamp"),
        p)
        .orderBy("timestamp")
        .collect().map(r => (r.getAs[Long]("stop_events"),
          r.getAs[Long]("timestamp")))

      // pending = the user's latest ping
      assert(streamed.toSeq === batchAll.toSeq.dropRight(1))
    } finally q.stop()
  }

  test("unordered arrival matches batch once the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ping]
    // lateness must cover batch A's span: A's max event time is 1600, so
    // a smaller delay (e.g. 1000) puts the watermark at 600 and Spark
    // correctly DROPS the ts=0 back-fill as too late.
    val q = StreamingStopDetect
      .stopEventsUnordered(mem.toDS(), p, latenessSeconds = 2000L)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sstops_ooo").start()
    try {
      // +10000: a ping at event time == the initial watermark (0) falls
      // on Spark's drop-late boundary; real timelines don't start at
      // epoch 0, so shift instead of special-casing the operator.
      val all = (batch1 ++ batch2).map(pg =>
        pg.copy(timestamp = pg.timestamp + 10000L))
      // Deliver shuffled WITHIN the lateness window: batch A holds the
      // middle of the timeline, batch B back-fills the earliest pings.
      val a = Seq(all(3), all(1), all(4)) // ts 11200, 10400, 11600
      val b = Seq(all(0), all(2), all(5), all(6)) // 10000,10800,12400,12500
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
      // Flush: another user's far-future ping drives the watermark past
      // every "u" ping; "u" itself is quiet, so only the event-time
      // timeout can drain its buffer.
      mem.addData(Ping("z", 0.0, 0.0, 100000L)); q.processAllAvailable()
      // One more batch: watermark advances at batch BOUNDARIES, so the
      // timeout registered while processing z's batch fires here.
      mem.addData(Ping("z", 0.0, 0.0, 100001L)); q.processAllAvailable()

      val streamed = spark.table("sstops_ooo")
        .filter($"uid" === "u")
        .orderBy("timestamp")
        .collect().map(r => (r.getAs[Long]("stop_events"),
          r.getAs[Long]("timestamp")))
      val batchAll = StopDetect.stopEvents(
        all.toDF("uid", "latitude", "longitude", "timestamp"), p)
        .orderBy("timestamp")
        .collect().map(r => (r.getAs[Long]("stop_events"),
          r.getAs[Long]("timestamp")))
      // the user's latest ping still pends (forward-looking stationarity)
      assert(streamed.toSeq === batchAll.toSeq.dropRight(1))
    } finally q.stop()
  }

  test("a null coordinate fails the stream, where batch breaks the run") {
    import org.apache.spark.SparkThrowable
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.streaming.StreamingQueryException
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("uid", StringType),
      StructField("latitude", DoubleType), StructField("longitude", DoubleType),
      StructField("timestamp", LongType)))
    val rows = Seq(0L, 400L, 800L, 1200L, 1600L).map(t =>
      Row("u", if (t == 400L) null else 19.0, -99.0, t))
    val pings = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val src = java.nio.file.Files.createTempDirectory("graft-null-src-")
    pings.coalesce(1).write.mode("overwrite").parquet(src.toString)

    // batch: the null ping and the ping before it are -1, the rest a stop
    assert(StopDetect.stopEvents(pings, p).orderBy("timestamp")
      .collect().map(_.getAs[Long]("stop_events")).toSeq ===
      Seq(-1L, -1L, 1L, 1L, -1L))

    // streaming: the null cannot become a Ping's primitive latitude
    val q = StreamingStopDetect.stopEvents(
      spark.readStream.schema(schema).parquet(src.toString).as[Ping], p)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sstops_null").start()
    val e = try intercept[StreamingQueryException](q.processAllAvailable())
      finally q.stop()
    // the cause is a SparkRuntimeException, a class private to Spark
    val cause = Iterator.iterate(e.getCause)(_.getCause).takeWhile(_ != null)
      .collectFirst { case r: SparkThrowable => r }
    assert(cause.map(c => (c.getClass.getName, c.getCondition)) ===
      Some(("org.apache.spark.SparkRuntimeException", "NOT_NULL_ASSERT_VIOLATION")), e)
    assert(e.getMessage.contains("name: \"latitude\""), e)
  }
}
