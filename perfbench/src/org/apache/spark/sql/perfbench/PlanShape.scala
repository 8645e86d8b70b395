package org.apache.spark.sql.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{GraftPlanAudit, QueryExecution}

/** Executed-plan shape of a query the program ran itself (a write inside
  * Ingest or Export included): wraps its QueryExecution so that
  * GraftPlanAudit can walk the final adaptive plan. The wrapper shares the
  * executed plan and runs nothing.
  */
object PlanShape {
  def exchanges(qe: QueryExecution): Int =
    GraftPlanAudit.shuffleCount(new Dataset[Row](qe,
      () => ExpressionEncoder(RowEncoder.encoderFor(qe.analyzed.schema))))
}
