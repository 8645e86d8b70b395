package graft

import graft.plans.GeoPruneRule
import org.apache.spark.sql.SparkSession

class SessionSpec extends SparkSpec {

  private def ruleCount(s: SparkSession): Int =
    s.experimental.extraOptimizations.count(_ eq GeoPruneRule)

  private def haversine(s: SparkSession): Double =
    s.sql("SELECT haversine_m(19.0D, -99.0D, 19.1D, -99.0D) AS d")
      .collect().head.getDouble(0)

  private def jaroWinkler(s: SparkSession): Double =
    s.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS s")
      .collect().head.getDouble(0)

  private def assertProfile(s: SparkSession): Unit = {
    assert(s.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(s.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") === "128k")
    assert(s.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") === "true")
    assert(ruleCount(s) === 1)
    val d = haversine(s)
    assert(d > 11000 && d < 11200)
    assert(math.abs(jaroWinkler(s) - 0.9611111111111111) < 1e-12)
  }

  test("the test session runs the shared profile") {
    assertProfile(spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") ===
      spark.sparkContext.defaultParallelism.toString)
  }

  test("configure is idempotent and reaches a newSession") {
    Session.configure(spark)
    Session.configure(spark)
    assertProfile(spark)
    val fresh = spark.newSession()
    assert(ruleCount(fresh) === 0)
    Session.configure(fresh)
    assertProfile(fresh)
  }

  test("Graft.sql registers the SQL functions it promises") {
    // temp functions are not copied into a newSession, so this only
    // passes when Graft.sql registers them itself
    val fresh = spark.newSession()
    assert(scala.util.Try(haversine(fresh)).isFailure)
    // every table Graft.sql registers, with the columns the pings view reads
    val sfDir = java.nio.file.Files.createTempDirectory("graft_sql")
      .toFile.getAbsolutePath
    Graft.tableNames.foreach { t =>
      spark.range(1).selectExpr("id AS user_id", "id AS ts", "id AS event_id")
        .write.parquet(s"$sfDir/$t.parquet")
    }
    val d = Graft.sql(fresh, sfDir,
      "SELECT haversine_m(19.0D, -99.0D, 19.1D, -99.0D) AS d")
      .collect().head.getDouble(0)
    assert(d > 11000 && d < 11200) // ~11.1 km per 0.1 deg latitude
    // a library call leaves the caller's session confs alone
    assert(ruleCount(fresh) === 0)
  }
}
