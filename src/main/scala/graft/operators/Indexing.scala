package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable global row index (P8: the reference's with_row_index,
  * src/polaroam/models.py:75, testing.py:210).
  *
  * A global `row_number() over (order by ...)` collapses to a single
  * partition — a driver-sized bottleneck at 100 TB. Instead: range
  * partition by the sort key, sort within partitions, then add each
  * partition's starting offset. The per-partition ordinal comes from
  * `monotonically_increasing_id()` (pid << 33 | row-in-partition counter),
  * and the offsets come from one tiny per-partition count job. The
  * checkpoint scan feeds whole-stage codegen directly as InternalRows —
  * unlike an RDD zipWithIndex round-trip through `df.rdd`, which
  * deserializes every row to objects and re-encodes on the way back.
  *
  * The sorted frame is LOCAL-CHECKPOINTED (lazily — the counts pass is
  * what materializes it) so the count pass and the indexed output observe
  * the identical partitioning and the sort runs once. A plain persist()
  * carried a correctness footgun: anything dropping the cache before the
  * caller materialized (a stray clearCache, memory pressure + recompute)
  * re-ran range-partitioner sampling on a fresh RDD id, which may draw
  * DIFFERENT boundaries than the counts pass observed and silently corrupt
  * the offsets. Checkpoint blocks cannot be unpersisted out from under the
  * plan — they free via the ContextCleaner when the returned frame is
  * unreferenced, so there is no caller-side lifecycle contract at all.
  * (On a multi-executor cluster an executor loss fails the job loudly —
  * acceptable, and strictly better than the silent-corruption mode.)
  */
object Indexing {

  def globalRowIndex(df: DataFrame, indexCol: String,
                     sortCols: Column*): DataFrame = {
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint(eager = false)
    val counts = sorted.select(spark_partition_id().as("pid"))
      .groupBy("pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) { // empty input: no offsets to wire up
      return sorted.withColumn(indexCol, lit(0L)).filter(lit(false))
    }
    val offsets = new Array[Long](counts.keys.max + 1)
    var acc = 0L
    offsets.indices.foreach { p =>
      offsets(p) = acc; acc += counts.getOrElse(p, 0L)
    }
    val offsetOfPid =
      element_at(array(offsets.map(lit).toIndexedSeq: _*),
        spark_partition_id() + 1)
    val inPartitionOrdinal =
      monotonically_increasing_id().bitwiseAND((1L << 33) - 1)
    sorted.withColumn(indexCol, offsetOfPid + inPartitionOrdinal)
  }
}
