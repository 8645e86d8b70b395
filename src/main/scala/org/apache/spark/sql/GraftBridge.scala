package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the private[sql] Column <-> Expression converters —
  * the supported path for third-party Catalyst expressions that want a
  * Column-builder API (the registry + call_function route needs a live
  * session; this one is static like functions._).
  */
object GraftBridge {
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** DataFrame over an already-computed RDD[InternalRow] — the private
    * internalCreateDataFrame, needed when a loop materializes an RDD
    * itself (e.g. to fold a metric into the materialization job via
    * accumulator) and must re-enter the DataFrame world without a
    * Row-conversion pass.
    */
  def internalDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** DataFrame over a logical plan (the private[sql] `Dataset.ofRows`),
    * for operators that add their own plan node (graft.plans.UidScan).
    */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The private[spark] ordered `withColumns`: `withColumn`'s rule
    * (replace in place, else append) for several columns in one Project.
    */
  def withColumns(df: DataFrame, names: Seq[String],
                  cols: Seq[Column]): DataFrame =
    df.withColumns(names, cols)
}
