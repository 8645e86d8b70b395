package graft

import graft.plans.{GeoPruneRule, GraftExtensions}
import org.apache.spark.sql.SparkSession

/** The one session profile: the confs and extensions that Verify checks,
  * Bench times, the tests run and the README path uses.
  *
  * [[configure]] applies the profile to a live session (idempotently), so
  * it also reaches a session that a launcher such as `spark-shell` built
  * before a harness `main` ran. [[local]] builds the harnesses'
  * `local[cores]` session and configures it. Library operators call
  * neither: a library call never rewrites its caller's session confs.
  */
object Session {

  /** Worker threads for [[local]]: `SPARK_GRAFT_CPUS`, else every core. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Applies the runtime SQL confs, registers the engine's SQL functions
    * and adds [[GeoPruneRule]] to the session's extra optimizations
    * unless it is already there. Returns `spark`.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // AQE coalescing floor: parallelism-first coalescing still packs
    // sub-1MB-per-core shuffles into ONE partition (default
    // minPartitionSize 1m), which serializes CPU-dense tiny shuffles —
    // the stop-detect window/median/DBSCAN pipeline ran 1-wide for
    // ~1.2 s/stage at sf0.1. A 128k floor keeps those parallel; at
    // production sizes bytes/parallelism >> 64k, so the floor is inert
    // (measured r13: q12-q18/q84 family -25..-45%, no regressions).
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
    // Let AQE re-partition cached-plan materializations too (default
    // false): the repo's operator persists otherwise materialize at the
    // session's full shuffle width and every InMemoryTableScan consumer
    // inherits it — measured r13: q17 3.3->2.5 s, q245 2.9->1.9 s with
    // the flag on, no regressions (results are partitioning-blind).
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    GraftExtensions.register(spark)
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(GeoPruneRule)) {
      ex.extraOptimizations = ex.extraOptimizations :+ GeoPruneRule
    }
    spark
  }

  /** Gets or creates a `local[cores]` session with one shuffle partition
    * per core and no UI, then [[configure]]s it. `extra` confs win over
    * both: they are set on the builder after its defaults and, when
    * runtime-modifiable, again after [[configure]].
    */
  def local(appName: String, extra: (String, String)*): SparkSession = {
    val n = cores.toString
    val builder = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    extra.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) spark.conf.set(k, v)
    }
    spark
  }
}
