package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Ingest layer (EP3, src/polaroam/read_localize_write.py): raw ping
  * CSV/Parquet -> clean -> timezone-localize -> hive-partitioned Parquet.
  *
  * Scale design: the drop is read once. Every step is a narrow
  * transformation over that one scan except the optional active-days
  * filter (a uid window: one exchange on uid, no join) and the partitioned
  * write (hash repartition on the partition column keeps one file per
  * partition per task instead of a small-files explosion).
  */
object Ingest {

  /** The gz-CSV drop's six positional columns `_c0`..`_c5` (the
    * reference's Polars `column_1..6`), all strings: the names and types
    * schema inference gives a headerless read, without its job over the
    * first line.
    */
  private val RawCsvSchema: StructType =
    StructType((0 until 6).map(i => StructField(s"_c$i", StringType)))

  /** Positional raw schema of the reference's parquet drops
    * (read_localize_write.py:11-13: _c0=uid, _c2=lat, _c3=lon, _c5=ts,
    * _c4=error).
    */
  def renameRaw(raw: DataFrame,
                mapping: Map[String, String]): DataFrame =
    mapping.foldLeft(raw) { case (df, (from, to)) =>
      df.withColumnRenamed(from, to)
    }

  /** Headerless (optionally gzipped) CSV scan; codec inferred from the
    * file extension (S3: read_localize_write.py:50).
    */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "false").csv(path)

  /** GPS accuracy filter (P4: error < 20/30 m). */
  def filterAccuracy(df: DataFrame, maxError: Double): DataFrame =
    df.filter(col("error") < maxError)

  /** Anonymize a string uid to a non-negative Long with the reference's
    * exact semantics: int.from_bytes(sha256(x)) % 2^63
    * (read_localize_write.py:38-46 — note the reference hashes the literal
    * string "uid", a latent bug; we implement the intended per-value
    * form). mod 2^63 = the low 63 bits = the last 16 hex digits with the
    * top bit of that group masked; masking is done at the HEX level
    * (leading digit & 7 via translate: 8..f -> 0..7) so the 16-digit
    * parse always fits a signed 64-bit integer in any engine — the same
    * translate+parse spells it in DuckDB, keeping the oracle exact.
    */
  def uidHash(uid: Column): Column = {
    val hex = sha2(uid.cast("binary"), 256)
    conv(concat(
        translate(substring(hex, 49, 1), "89abcdef", "01234567"),
        substring(hex, 50, 15)), 16, 10)
      .cast("long")
  }

  /** Epoch-seconds -> UTC-stamped -> tz-localized wall-clock timestamp +
    * date partition string (read_localize_write.py:19-27). The returned
    * datetime column carries the LOCAL wall clock (the reference's
    * convert_time_zone trick); date_trunc is its yyyy-MM-dd.
    */
  def localize(df: DataFrame, tsCol: String, tz: String): DataFrame =
    df.withColumn("datetime",
        from_utc_timestamp(timestamp_seconds(col(tsCol)), tz))
      .withColumn("date_trunc", date_format(col("datetime"), "yyyy-MM-dd"))

  /** Keep only users active on more than `minDays` distinct partition days
    * (read_localize_write.py:71-83): the reference's count+join+drop as
    * one uid window, the distinct days of each row's uid, so the rows are
    * read once and no join is planned.
    *
    * A null uid keeps no row, as in the join: its day set is empty. The
    * guard sits inside `collect_set`, not in a `uid IS NOT NULL` filter,
    * because the optimizer pushes such a filter through the window and
    * below the projection that computes uid, where it would evaluate the
    * uid expression ([[uidHash]]'s sha256) a second time per row.
    */
  def filterActiveDays(df: DataFrame, minDays: Int): DataFrame = {
    require(minDays >= 0, s"minDays must be >= 0, got $minDays")
    val days = size(collect_set(when(col("uid").isNotNull, col("date_trunc")))
      .over(Window.partitionBy("uid")))
    df.withColumn("__active_days", days)
      .filter(col("__active_days") > minDays)
      .drop("__active_days")
  }

  /** Hive-partitioned sink (K2). maxRecordsPerFile guards against
    * single-partition whales at scale.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCol: String = "date_trunc"): Unit =
    df.repartition(col(partitionCol))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", 5000000)
      .partitionBy(partitionCol)
      .parquet(path)

  /** Full parquet-drop pipeline (read_localize_write.py:6-33). */
  def localizeParquet(spark: SparkSession, inPath: String, outPath: String,
                      tz: String, maxError: Double = 20.0): Unit = {
    val raw = spark.read.parquet(inPath)
    val renamed = renameRaw(raw, Map(
      "_c0" -> "uid", "_c2" -> "latitude", "_c3" -> "longitude",
      "_c5" -> "timestamp", "_c4" -> "error"))
    val cleaned = filterAccuracy(renamed, maxError)
    writePartitioned(localize(cleaned, "timestamp", tz), outPath)
  }

  /** Full gz-CSV sample pipeline (read_localize_write.py:50-107): headerless
    * gz CSV -> positional rename (Polars column_1/3/4/5/6 = Spark
    * _c0/_c2/_c3/_c4/_c5) -> error filter -> uid anonymization -> ms ->
    * whole epoch seconds (Long, the type StopClusters decodes) ->
    * tz-localize -> optional active-days filter -> hive-partitioned write.
    * Codec is inferred from the .gz extension by the CSV source. The drop
    * is parsed once, with [[RawCsvSchema]] (no inference job), and each
    * row's uid is hashed once: every step before the active-days window is
    * a narrow map over that one scan, and the window's uid exchange feeds
    * the write's date exchange.
    */
  def localizeCsv(spark: SparkSession, inPath: String, outPath: String,
                  tz: String, maxError: Double = 30.0,
                  minActiveDays: Option[Int] = Some(6)): Unit = {
    val raw = spark.read.option("header", "false").schema(RawCsvSchema)
      .csv(inPath)
    val renamed = renameRaw(raw, Map(
      "_c0" -> "uid", "_c2" -> "latitude", "_c3" -> "longitude",
      "_c5" -> "timestamp", "_c4" -> "error"))
      .select("uid", "latitude", "longitude", "timestamp", "error")
      .withColumn("latitude", col("latitude").cast("double"))
      .withColumn("longitude", col("longitude").cast("double"))
      .withColumn("error", col("error").cast("double"))
    val cleaned = filterAccuracy(renamed, maxError)
      .withColumn("uid", uidHash(col("uid")))
      .withColumn("timestamp", expr("CAST(timestamp AS BIGINT) div 1000"))
    val localized = localize(cleaned, "timestamp", tz)
    val kept = minActiveDays.fold(localized)(filterActiveDays(localized, _))
    writePartitioned(kept, outPath)
  }

  /** Fail-fast pre-flight validation — the raise-on-bad behavior of the
    * reference's _data_assertions (models.py:24-47), distributed: all
    * violation counts come from ONE aggregation job over the frame, plus a
    * window pass when an ordering column is supplied. Throws
    * IllegalArgumentException naming each failed check and its row count;
    * returns normally on clean data.
    *
    * @param seqCol if set, timestamps must be non-decreasing per uid along
    *               this column's order (the reference asserts its input
    *               files arrive time-sorted per user; a distributed engine
    *               needs the intended order named explicitly).
    * @param checkRanges lat/lon range checks apply to the haversine metric
    *                    (reference skips them for euclidean).
    */
  def validatePings(df: DataFrame, checkRanges: Boolean = true,
                    seqCol: Option[String] = None): Unit = {
    val required = Seq("latitude", "longitude")
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"Missing columns: ${missing.mkString(", ")}")

    val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    if (checkRanges) {
      checks += ("Latitude must be between -90 and 90" ->
        (col("latitude") <= -90.0 || col("latitude") >= 90.0 ||
          col("latitude").isNull))
      checks += ("Longitude must be between -180 and 180" ->
        (col("longitude") <= -180.0 || col("longitude") >= 180.0 ||
          col("longitude").isNull))
    }
    val base = seqCol match {
      case Some(sc) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("uid").orderBy(col(sc))
        checks += ("Timestamps must be ordered" ->
          (col("timestamp") < col("__prev")))
        df.withColumn("__prev", lag(col("timestamp"), 1).over(w))
      case None => df
    }
    if (checks.isEmpty) return
    val aggs = checks.toSeq.zipWithIndex.map { case ((_, c), i) =>
      count(when(c, 1)).as(s"c$i")
    }
    val counts = base.agg(aggs.head, aggs.tail: _*).collect()(0)
    val failed = checks.zipWithIndex.collect {
      case ((msg, _), i) if counts.getLong(i) > 0 =>
        s"$msg (${counts.getLong(i)} rows)"
    }
    require(failed.isEmpty, failed.mkString("; "))
  }
}
