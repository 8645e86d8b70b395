package perfbench

import java.io.File
import java.nio.file.Files

import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** Self-tests of the benchmark itself:
  *  - the generator is byte-deterministic per seed (and the seed matters);
  *  - the output check rejects a perturbed result (one user's home moved
  *    by 1 km; one stop's start moved by a minute);
  *  - a tiny-size repetition of each workload, fused and staged, passes
  *    every check, with equal fingerprints.
  * Prints one PASS/FAIL line per test; exits non-zero on any failure.
  *
  *   perfbench.SelfTest --work <dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(args.grouped(2).collect { case Array("--work", v) => v }.toSeq.head)
    Main.deleteTree(work)
    val spark = Main.session(work)
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    var failures = 0
    def test(name: String)(body: => Option[String]): Unit = {
      val r = try body catch { case NonFatal(e) => Some(e.toString) }
      r match {
        case None => println(s"PASS $name")
        case Some(why) => failures += 1; println(s"FAIL $name: $why")
      }
    }

    def files(d: File): Seq[(String, Array[Byte])] =
      Files.walk(d.toPath).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p)).sortBy(_.toString)
        .map(p => d.toPath.relativize(p).toString -> Files.readAllBytes(p))
    def same(a: Seq[(String, Array[Byte])], b: Seq[(String, Array[Byte])]): Boolean =
      a.map(_._1) == b.map(_._1) && a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x._2, y._2) }

    Main.Workloads.foreach { w =>
      test(s"generator is byte-deterministic per seed: $w") {
        val dirs = Seq((7L, "a"), (7L, "b"), (8L, "c")).map { case (seed, tag) =>
          val d = new File(work, s"gen-$w-$tag")
          Inputs.generate(spark, w, seed, Inputs.tiny(w), d)
          files(d)
        }
        if (dirs.head.isEmpty) Some("no files written")
        else if (!same(dirs(0), dirs(1))) Some("seed 7 wrote different bytes twice")
        else if (same(dirs(0), dirs(2))) Some("seeds 7 and 8 wrote the same bytes")
        else None
      }
    }

    Main.Workloads.foreach { w =>
      val in = Inputs.generate(spark, w, 3L, Inputs.tiny(w), new File(work, s"in-$w"))
      val p = new Pipeline(spark, meter, in)
      val log = (_: org.json4s.JValue) => ()
      val fused = Main.repetition(spark, meter, p, in, new File(work, s"rep-$w-f"),
        staged = false, None, log)
      val fp = fused.rep.map(_.fingerprint)
      val staged = Main.repetition(spark, meter, p, in, new File(work, s"rep-$w-s"),
        staged = true, fp, log)
      test(s"tiny repetition passes its checks, fused and staged, equal fingerprints: $w") {
        Seq(fused, staged).flatMap(_.failure).headOption
      }
      if (w == "city_month") {
        val rows = p.readExport(new File(work, s"rep-$w-f").getPath).collect().toSeq
        test("export check accepts the unperturbed result") {
          in.truth.checkExport(rows).headOption
        }
        test("export check rejects one user's home moved by 1 km") {
          val moved = rows.head
          val lat = moved.getAs[String]("h_lat").toDouble + 1000.0 / 111320.0
          val vals = moved.toSeq.toArray
          vals(moved.fieldIndex("h_lat")) = lat.toString
          val perturbed = new GenericRowWithSchema(vals, moved.schema) +: rows.tail
          if (in.truth.checkExport(perturbed).isEmpty) Some("perturbed export accepted") else None
        }
        val medians = spark.read.parquet(new File(work, s"rep-$w-s/medians").getPath)
          .select("uid", "start_timestamp", "end_timestamp", "latitude", "longitude")
          .collect().toSeq
        test("stop check rejects one stop whose start moved by a minute") {
          val m = medians.head
          val perturbed = Row(m.get(0), m.getAs[Long](1) + 60, m.get(2), m.get(3), m.get(4)) +: medians.tail
          if (in.truth.checkStops(medians).nonEmpty) Some("unperturbed stops rejected")
          else if (in.truth.checkStops(perturbed).isEmpty) Some("perturbed stops accepted")
          else None
        }
      }
    }
    spark.stop()
    Main.deleteTree(work)
    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
