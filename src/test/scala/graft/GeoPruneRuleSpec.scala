package graft

import graft.plans.{GeoPruneRule, Haversine}
import graft.sources.Layout
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class GeoPruneRuleSpec extends SparkSpec {
  import spark.implicits._

  // the session profile installs the rule; the baseline runs without it
  private def withoutRule[A](body: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq GeoPruneRule)
    try body
    finally spark.experimental.extraOptimizations = saved
  }

  test("radius filter gains coordinate bands that reach PushedFilters") {
    val dir = java.nio.file.Files.createTempDirectory("graft_geo")
      .toFile.getAbsolutePath
    // 100x100 grid, ~111 m spacing
    spark.range(10000L)
      .select(((col("id") % 100).cast("double") * 0.001 + 19.0).as("lat"),
        ((col("id") / 100).cast("long").cast("double") * 0.001 - 99.05)
          .as("lon"),
        col("id"))
      .write.mode("overwrite").parquet(s"$dir/pts")
    val pts = spark.read.parquet(s"$dir/pts")
    def radius = pts.filter(
      Haversine.distanceMeters($"lat", $"lon", lit(19.05), lit(-99.0))
        <= lit(500.0))

    val without = withoutRule(radius.collect().map(_.getLong(2)).toSet)
    assert(without.nonEmpty)
    val plan = radius.queryExecution.executedPlan.toString
    // the synthesized lat band must be pushed to the parquet scan
    // (PushedFilters' toString truncates, so check lat there and both
    // bands in the Filter condition)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(lat"),
      s"expected pushed lat band in:\n$plan")
    assert("""lon#\d+ >=""".r.findFirstIn(plan).isDefined,
      s"expected lon band in:\n$plan")
    // result unchanged: bands are conservative supersets of the ball
    assert(radius.collect().map(_.getLong(2)).toSet === without)
  }

  test("no rewrite when the center is not foldable") {
    val df = Seq((19.0, -99.0, 19.01, -99.01)).toDF("a", "b", "c", "d")
    val q = df.filter(
      Haversine.distanceMeters($"a", $"b", $"c", $"d") <= lit(5000.0))
    // optimized plan keeps exactly the haversine predicate — no bands
    val cond = q.queryExecution.optimizedPlan.toString
    assert(!cond.contains(">= 18."), s"unexpected band in:\n$cond")
    assert(q.count() === 1)
  }

  test("antimeridian center keeps wrapped matches (OR-band synthesized)") {
    // center at lon 179.9: the 50 km ball wraps to lon -179.9 side.
    // haversine is periodic in delta-lon so (0.0, -179.9) is ~22 km away;
    // a naive [179.45, 180.35] lon band would exclude it. The rule must
    // emit the wrapped disjunction (lon >= lo OR lon <= hi-360) instead.
    // parquet-backed so the optimizer can't fold the whole query into a
    // LocalRelation before the plan assertion
    val dir = java.nio.file.Files.createTempDirectory("graft_geo_seam")
      .toFile.getAbsolutePath
    Seq((0.0, 179.95, 1L), (0.0, -179.9, 2L), (0.0, 179.0, 3L),
      (0.0, 170.0, 4L), (0.0, -179.2, 5L)).toDF("lat", "lon", "id")
      .write.mode("overwrite").parquet(s"$dir/pts")
    val pts = spark.read.parquet(s"$dir/pts")
    def kept = pts.filter(
      Haversine.distanceMeters($"lat", $"lon", lit(0.0), lit(179.9))
        <= lit(50000.0)).select("id").as[Long].collect().toSet
    val without = withoutRule(kept)
    assert(without === Set(1L, 2L))
    assert(kept === without)
    // the wrapped OR-band is present (both sides of the seam bounded)
    val cond = pts.filter(
      Haversine.distanceMeters($"lat", $"lon", lit(0.0), lit(179.9))
        <= lit(50000.0)).queryExecution.optimizedPlan.toString
    assert("""lon#\d+ >= 179\.""".r.findFirstIn(cond).isDefined &&
      """lon#\d+ <= -179\.""".r.findFirstIn(cond).isDefined,
      s"expected wrapped lon disjunction in:\n$cond")
  }

  test("antimeridian center on the -180 side gets the mirrored OR-band") {
    val pts = Seq((0.0, -179.95, 1L), (0.0, 179.9, 2L), (0.0, -179.0, 3L),
      (0.0, -170.0, 4L)).toDF("lat", "lon", "id")
    def kept = pts.filter(
      Haversine.distanceMeters($"lat", $"lon", lit(0.0), lit(-179.9))
        <= lit(50000.0)).select("id").as[Long].collect().toSet
    val without = withoutRule(kept)
    assert(without === Set(1L, 2L))
    assert(kept === without)
  }

  test("bands are conservative near the radius edge (boundary kept)") {
    // 0.0044 deg lat = 489.3 m (within); 0.0045 deg = 500.4 m (outside
    // the exact ball but INSIDE the conservative band, r/110574 = 0.00452
    // deg — the band must admit it and leave the exact predicate to cut)
    val pts = Seq((19.0, -99.0, 1L), (19.0044, -99.0, 2L),
      (19.0045, -99.0, 3L), (19.02, -99.0, 4L)).toDF("lat", "lon", "id")
    def kept = pts.filter(
      Haversine.distanceMeters($"lat", $"lon", lit(19.0), lit(-99.0))
        <= lit(500.0)).select("id").as[Long].collect().toSet
    val without = withoutRule(kept)
    assert(kept === without && kept === Set(1L, 2L))
  }

  test("z-ordered layout: the rule cuts the rows a radius query scans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_geo_z")
      .toFile.getAbsolutePath
    // 200x200 grid, ~111 m spacing, z-ordered into small row groups so
    // parquet min/max stats are tight in both coordinates
    val grid = spark.range(40000L)
      .select(((col("id") % 200).cast("double") * 0.001 + 19.0).as("lat"),
        ((col("id") / 200).cast("long").cast("double") * 0.001 - 99.1)
          .as("lon"),
        col("id"))
    Layout.zorderByRange(grid,
        Layout.zValue($"lat", $"lon", 19.0, 0.2, -99.1, 0.2), 4)
      .write.option("parquet.block.size", 16384L)
      .mode("overwrite").parquet(s"$dir/pts")
    val pts = spark.read.parquet(s"$dir/pts")
    // (ids in the ball, rows the parquet scan handed upward)
    def run(): (Set[Long], Long) = {
      val q = pts.filter(
        Haversine.distanceMeters($"lat", $"lon", lit(19.1), lit(-99.0))
          <= lit(500.0))
      val ids = q.collect().map(_.getLong(2)).toSet
      val plan = q.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      (ids, plan.collect { case s: FileSourceScanExec =>
        s.metrics("numOutputRows").value }.sum)
    }
    val (offIds, offRows) = withoutRule(run())
    val (onIds, onRows) = run()
    info(s"scan numOutputRows: rule off $offRows, rule on $onRows")
    assert(offIds.nonEmpty && onIds === offIds)
    assert(offRows === 40000L)
    assert(onRows < offRows,
      s"rule on scanned $onRows rows, rule off $offRows")
  }
}
