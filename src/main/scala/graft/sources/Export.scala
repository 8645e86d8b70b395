package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Export layer (K1/K3 + the CSV dumps of
  * src/polaroam/get_stops_and_clusters.py:157-185), plus JSONL — the
  * lingua franca of LLM corpus interchange (beyond the reference's
  * surface).
  */
object Export {

  /** JSONL sink: one JSON document per line, gzip by default (corpus
    * dumps ship compressed; Spark writes one .json.gz per partition, so
    * file count — and downstream read parallelism — follows the frame's
    * partitioning).
    */
  def jsonl(df: DataFrame, path: String, compress: Boolean = true): Unit = {
    val w = df.write.mode("overwrite")
    (if (compress) w.option("compression", "gzip") else w).json(path)
  }

  /** JSONL source with an EXPLICIT schema: inference scans the data an
    * extra time and samples nondeterministically — at 100 TB the schema
    * is a contract, not a discovery. Corrupt lines land in
    * `_corrupt_record` (PERMISSIVE) instead of failing the job; callers
    * that want fail-fast pass mode=FAILFAST.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
                mode: String = "PERMISSIVE"): DataFrame =
    spark.read.schema(schema).option("mode", mode).json(path)

  /** Single-file CSV with header (K3): an explicit small-result
    * convenience, as in the reference's collected write — do not use for
    * large frames. `repartition(1)`, not `coalesce(1)`: a coalesce would
    * pull the upstream stage into one task, and after the wide export
    * that stage is the whole stop pipeline.
    */
  def csvSingle(df: DataFrame, path: String): Unit =
    df.repartition(1).write.mode("overwrite")
      .option("header", "true").csv(path)

  /** Snappy parquet sink (K1). */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Distributed gzip CSV sink (K3's at-scale form): headerless by
    * default — the reference's raw drops are positional
    * (read_localize_write.py:50) — one .csv.gz per partition, so file
    * count follows the frame's partitioning (unlike [[csvSingle]]'s
    * explicit single partition).
    */
  def csvGz(df: DataFrame, path: String, header: Boolean = false): Unit =
    df.write.mode("overwrite")
      .option("header", header.toString)
      .option("compression", "gzip")
      .csv(path)

  /** Recursive on-disk byte total of a parquet directory — the sizing
    * input for [[compactParquet]] and the streaming mat-view state
    * writer. One FS listing, no data read.
    */
  def parquetBytes(spark: SparkSession, dir: String): Long = {
    // Hadoop FileSystem, not java.io: dir may be s3a://, hdfs://, …
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes / targetBytes) balanced files. THE background maintenance
    * op of any long-lived ingest: streaming sinks and per-day jobs leave
    * thousands of KB-sized files per partition, and at 100 TB the
    * resulting open/seek overhead (plus NameNode/object-store listing
    * pressure) dominates scan time long before data volume does.
    *
    * File count is sized from the SOURCE's on-disk bytes (compression
    * carries over approximately between parquet rewrites — close enough
    * for sizing). `repartition(n)` (round-robin, one shuffle) rather than
    * `coalesce(n)`: coalesce merges whole input partitions without
    * moving rows, so a skewed source (one fat file + a thousand tiny
    * ones) would re-emerge skewed; compaction is a maintenance job where
    * output balance is the point and the shuffle IS the work.
    *
    * Returns the target file count. Content is preserved exactly (the
    * q118 gate aggregates the compacted copy against the source's
    * oracle); row ORDER is not a parquet-directory contract and is not
    * preserved.
    */
  def compactParquet(spark: SparkSession, srcDir: String, dstDir: String,
                     targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val bytes = parquetBytes(spark, srcDir)
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(srcDir).repartition(n)
      .write.mode("overwrite").parquet(dstDir)
    n
  }

  /** Token-balanced sharded parquet: documents are packed into shards of
    * ~`budgetTokens` each (contiguous in `orderCols` order, so shard
    * membership is deterministic and re-runs produce identical files) and
    * written one file per shard via partitionBy("shard"). The "size the
    * output files" step of a corpus build: downstream trainers stream
    * equal-work files instead of whatever partition sizes the last
    * shuffle happened to leave.
    *
    * Shard assignment = [[graft.operators.Packing.packChunks]]'s pack id
    * (range exchange + per-partition cumsum — no global window); the
    * repartition keys each shard's rows to one task so each shard
    * directory holds exactly one parquet file. A doc larger than
    * `budgetTokens` gets its own shard(s) boundary like any straddler —
    * the shard where its first token lands.
    */
  def parquetShardedByTokens(docs: DataFrame, tokensCol: String,
                             budgetTokens: Long, path: String,
                             orderCols: org.apache.spark.sql.Column*)
  : Unit = {
    import org.apache.spark.sql.functions.col
    graft.operators.Packing
      .packChunks(docs, col(tokensCol), budgetTokens, orderCols: _*)
      .withColumnRenamed("pack_id", "shard")
      .drop("offset_in_pack", "n_packs_spanned")
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }
}
