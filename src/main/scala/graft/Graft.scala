package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL convenience surface: register every driver table (plus the pings
  * view) as temp views and the engine's SQL functions, and run Spark SQL
  * against them — the engine's equivalent of handing users a SQL prompt
  * over the data model. The caller's session confs are left as they are.
  */
object Graft {

  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    tableNames.foreach { t =>
      Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }
    Tables.pings(spark, sfDir).createOrReplaceTempView("pings")
  }

  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    registerViews(spark, sfDir)
    graft.plans.GraftExtensions.register(spark)
    spark.sql(query)
  }
}
