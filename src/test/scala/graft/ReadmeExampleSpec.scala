package graft

import org.apache.spark.sql.functions._

/** The README quickstart's doc spec (r12 verdict #7): the fenced example
  * between the README-EXAMPLE markers is compiled AND executed here, and
  * the README's copy is asserted line-identical to this file's — the
  * example cannot rot without failing `sbt test`.
  */
class ReadmeExampleSpec extends SparkSpec {

  test("README quickstart block runs end to end on the fixture") {
    val pings = Tables.pings(spark, "/root/testdata/sf0.001")
    val outDir = java.nio.file.Files.createTempDirectory("readme")
      .resolve("home_work").toString
    // README-EXAMPLE-START (pinned verbatim by ReadmeExampleSpec)
    // radii in meters, times in seconds — tune to your ping cadence
    val cfg = PolaRoam.Config(r1 = 100, r2 = 100,
      min_staying_time = 3600, max_time_between = 7 * 86400, min_size = 3)
    val stops = PolaRoam.fitPredictFlat(pings, cfg) // stationary segments
    val medians = PolaRoam.computeLabelMedians(stops) // median coords/stop
    val locations = PolaRoam.computeDbscan(medians, cfg) // recurring sites
    val labeled = graft.operators.HomeWork.label(locations,
      PolaRoam.hwParams( // H/W by time-of-day + recurrence-rate rules
        min_periods_over_window_home = 0.08, span_period_home = 0.08,
        min_periods_over_window_work = 0.05, span_period_work = 0.05,
        total_days = None))
    graft.sources.Export.csvSingle(PolaRoam.hwWide(labeled), outDir)
    // README-EXAMPLE-END
    val back = spark.read.option("header", "true").csv(outDir)
    assert(back.count() > 0, "the quickstart must export labeled users")
    assert(Seq("uid", "h_lat", "h_lon", "w_lat", "w_lon")
      .forall(back.columns.contains),
      s"wide export columns: ${back.columns.toSeq}")
  }

  test("README carries this spec's example block verbatim") {
    def block(path: String): Seq[String] = {
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(path))
      val start = text.indexOf("README-EXAMPLE-START")
      val end = text.indexOf("// README-EXAMPLE-END")
      assert(start >= 0 && end > start, s"markers missing in $path")
      text.substring(start, end).linesIterator.drop(1)
        .map(_.trim).filter(_.nonEmpty).toSeq
    }
    val readme = block("README.md")
    val spec = block("src/test/scala/graft/ReadmeExampleSpec.scala")
    assert(readme === spec,
      "README example drifted from the compiled spec copy")
  }
}
