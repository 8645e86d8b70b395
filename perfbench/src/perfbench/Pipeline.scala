package perfbench

import java.io.File

import scala.collection.mutable

import graft.{Bench, CacheScope, PolaRoam}
import graft.operators.HomeWork
import graft.sources.{Export, Ingest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The paper's pipeline as a user runs it, on one workload's inputs:
  * Ingest.localizeCsv -> PolaRoam.fitPredictFlat -> computeLabelMedians ->
  * computeDbscan -> HomeWork.label -> hwWide -> Export.csvSingle, then the
  * exported result read back.
  *
  * Fused, the layers hand lazy frames to each other (only the program's own
  * writes materialize). Staged, each layer's output is written to parquet
  * and read back by the next layer, and every layer call runs inside a
  * span: a job group named after the layer plus wall time around the call.
  */
object Pipeline {
  val Layers = Seq("Ingest", "StopDetect", "StopClusters", "HomeWork", "Export")

  /** The reference's production configuration (FIXTURES.md §7). */
  val Cfg = PolaRoam.Config(r1 = 20, r2 = 20, min_staying_time = 300,
    max_time_between = 3600, min_size = 2)
  /** Work hours 8-18 are explicit: hwParams' default 8..6 leaves the work
    * candidates empty and W unmeasured.
    */
  val Hw = HomeWork.Params(7, 21, 8, 18, 0.08, 0.08, 0.05, 0.05,
    totalDays = Some(31), convertTz = true, tz = "America/Mexico_City")

  /** What one repetition produced. `spans` holds per-layer wall seconds
    * (staged only); `dayLatency` the per-day drop-to-committed seconds.
    */
  final case class Rep(fingerprint: Long, dir: String,
                       spans: Map[String, Double], dayLatency: Seq[Double])
}

final class Pipeline(spark: SparkSession, meter: Meter, in: Inputs) {
  import Pipeline._

  private val sc = spark.sparkContext
  private val tz = Gen.Tz.getId
  private var staged = false
  private val spans = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** HomeWork's persisted bytes, measured before release (staged only). */
  var homeWorkCacheBytes = 0L

  /** Runs `body` as layer `name`: charged to its job group and timed when
    * staged; a plain call when fused.
    */
  private def layer[T](name: String)(body: => T): T =
    if (!staged) body
    else {
      sc.setJobGroup(name, name)
      meter.setGroup(name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(name) += (System.nanoTime() - t0) / 1e9
        org.apache.spark.GraftSchedulerBridge.drainListenerBus(sc, 60000L)
        meter.setGroup(null)
        sc.clearJobGroup()
      }
    }

  /** Staged: writes the layer's output and returns the read-back frame. */
  private def handOff(df: DataFrame, path: String): DataFrame =
    if (!staged) df
    else { df.write.mode("overwrite").parquet(path); spark.read.parquet(path) }

  def run(dir: String, asStaged: Boolean): Pipeline.Rep = {
    staged = asStaged
    spans.clear()
    homeWorkCacheBytes = 0L
    val days = mutable.ArrayBuffer.empty[Double]
    val medians = in.workload match {
      case "city_month" =>
        layer("Ingest") {
          Ingest.localizeCsv(spark, in.files.head, s"$dir/ingested", tz,
            Gen.MaxError, Some(6))
        }
        stopDetect(ingested(spark.read.parquet(s"$dir/ingested")), s"$dir/medians")
      case "fleet_skew" =>
        stopDetect(spark.read.parquet(in.files.head), s"$dir/medians")
      case "daily_drops" =>
        in.files.zip(in.dayNames).foreach { case (drop, day) =>
          val t0 = System.nanoTime()
          layer("Ingest") {
            Ingest.localizeCsv(spark, drop, s"$dir/ingested/day=$day", tz,
              Gen.MaxError, None)
          }
          layer("StopDetect") {
            val pings = ingested(spark.read.parquet(s"$dir/ingested")
              .filter(col("day") === day))
            PolaRoam.computeLabelMedians(PolaRoam.fitPredictFlat(pings, Cfg))
              .write.mode("append").parquet(s"$dir/medians")
          }
          days += (System.nanoTime() - t0) / 1e9
        }
        spark.read.parquet(s"$dir/medians")
    }
    val clusters = layer("StopClusters") {
      handOff(PolaRoam.computeDbscan(medians, Cfg), s"$dir/clusters")
    }
    val labeled = layer("HomeWork") {
      val out = handOff(HomeWork.label(clusters, Hw), s"$dir/labeled")
      if (staged) {
        homeWorkCacheBytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        CacheScope.releaseAll()
      }
      out
    }
    val fp = layer("Export") {
      Export.csvSingle(PolaRoam.hwWide(labeled), s"$dir/export")
      CacheScope.releaseAll()
      Bench.force(readExport(dir))
    }
    Pipeline.Rep(fp, dir, spans.toMap, days.toSeq)
  }

  /** Ingest writes `timestamp` as double seconds (ms / 1000.0), but
    * StopClusters decodes start/end timestamps as Long and refuses the
    * double with CANNOT_UP_CAST_DATATYPE. The chain therefore reads the
    * ingested pings back with whole-second Long timestamps (exact: the
    * drops carry whole seconds), as a caller of both layers must today.
    */
  def ingested(df: DataFrame): DataFrame =
    df.withColumn("timestamp", col("timestamp").cast("long"))

  /** `pings` is by name so that reading the input counts in the span. */
  private def stopDetect(pings: => DataFrame, path: String): DataFrame =
    layer("StopDetect") {
      handOff(PolaRoam.computeLabelMedians(PolaRoam.fitPredictFlat(pings, Cfg)), path)
    }

  def readExport(dir: String): DataFrame =
    spark.read.option("header", "true").csv(s"$dir/export")
}

/** A workload's generated input files and planted truth. */
final case class Inputs(workload: String, files: Seq[String],
                        dayNames: Seq[String], pings: Long, truth: Truth)

object Inputs {
  /** gz is unsplittable, so the part count bounds Ingest's scan tasks. */
  val CityParts = 4

  /** Input size of each workload. */
  def size(workload: String): Gen.Size = workload match {
    case "city_month" => Gen.Size(50, Nil, 0)
    case "fleet_skew" => Gen.Size(30, Seq(1.0, 0.6, 0.35), 1500)
    case "daily_drops" => Gen.Size(40, Nil, 0)
  }

  /** The self-test and warm-up size. */
  def tiny(workload: String): Gen.Size =
    if (workload == "fleet_skew") Gen.Size(6, Seq(0.3, 0.1), 200) else Gen.Size(12, Nil, 0)

  /** Writes the workload's inputs under `dir`; the program receives only
    * these files.
    */
  def generate(spark: SparkSession, workload: String, seed: Long,
               sz: Gen.Size, dir: File): Inputs = {
    val users = Gen.population(seed, sz, bad = workload != "fleet_skew")
    dir.mkdirs()
    workload match {
      case "city_month" =>
        // one drop of CityParts gz part files, users split among them
        val drop = new File(dir, "city-month")
        val n = (0 until CityParts).map { k =>
          Gen.writeCsvGz(new File(drop, f"part-$k%05d.csv.gz"),
            users.zipWithIndex.collect { case (u, i) if i % CityParts == k => u }, _ => true)
        }.sum
        Inputs(workload, Seq(drop.getPath), Nil, n,
          Truth.of(users.filter(Gen.activeMonth), hashed = true, _ => 0))
      case "daily_drops" =>
        val days = (0 until Gen.Days).map(Gen.FirstDay.plusDays(_))
        var n = 0L
        val files = days.map { day =>
          val f = new File(dir, s"drop-$day.csv.gz")
          n += Gen.writeCsvGz(f, users, p => Gen.localDate(p.ts) == day)
          f.getPath
        }
        Inputs(workload, files, days.map(_.toString), n,
          Truth.of(users, hashed = true, p => Gen.localDate(p.ts)))
      case "fleet_skew" =>
        val out = new File(dir, "pings")
        Parquet.writePings(spark, users, out)
        Inputs(workload, Seq(out.getPath), Nil, users.map(_.pings.length.toLong).sum,
          Truth.of(users, hashed = false, _ => 0))
    }
  }
}

object Parquet {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(
    StructField("uid", StringType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    StructField("timestamp", LongType, nullable = false)))

  /** Parquet pings in generation order, one file per user group, renamed
    * to fixed names so the directory is byte-identical per seed.
    */
  def writePings(spark: SparkSession, users: Seq[Gen.User], out: File): Unit = {
    val rows = new java.util.ArrayList[Row]()
    users.foreach(u => u.pings.foreach(p => rows.add(Row(u.uid, p.lat, p.lon, p.ts))))
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(out.getPath)
    val parts = out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    out.listFiles().filterNot(_.getName.startsWith("part-")).foreach(_.delete())
    parts.zipWithIndex.foreach { case (f, i) =>
      f.renameTo(new File(out, f"part-$i%05d.snappy.parquet"))
    }
  }
}
