package graft

/** Dev-only per-stage profiler (not part of the driver contract).
  *
  * Runs named queries under the [[Session]] profile and prints, per
  * run, the ledger's job/stage record: stage wall clock (submission ->
  * completion), task count, shuffle bytes — a stage profile without
  * the (disabled) UI. Extra confs for A/B sweeps ride
  * `SPARK_GRAFT_CONF="k=v;k=v"`; runs per query via `SPARK_GRAFT_PASSES`.
  *
  * Usage: ProfileQ <sfDir> <queryName...>
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    // A/B hook: relocate JVM temp (streaming temp checkpoints, staging)
    sys.env.get("SPARK_GRAFT_TMPDIR").foreach { d =>
      new java.io.File(d).mkdirs()
      System.setProperty("java.io.tmpdir", d)
    }
    val sfDir = args.head
    val extra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty)).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
    val spark = Session.local("graft-profile", extra: _*)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val ledger = new RunLedger(spark)
    args.tail.foreach { name =>
      val runs = (1 to RunLedger.passes).map { p =>
        val r = ledger.measure(name, p.toString)(SparkEntry.queries(name)(spark, sfDir))
        println(f"== $name run $p: ${r.wallS}%.2f s (cpu ${r.cpuS}%.2f s) ==" +
          r.error.fold("")(e => s" FAILED: $e"))
        println(f"   jobs=${r.jobs} stages=${r.stages.size} tasks=${r.tasks} " +
          f"gc=${r.gcS}%.2f s spill=${r.spillBytes / 1024} KB " +
          f"peak_mem=${r.peakExecMemBytes / 1024} KB exchanges=${r.exchanges}")
        r.stages.sortBy(-_.wallMs).take(14).foreach { s =>
          println(f"   j${s.job}%3d st${s.id}%4d ${s.wallMs}%6d ms " +
            f"${s.tasks}%4d tasks sr=${s.shuffleReadBytes / 1024}%8d KB " +
            f"sw=${s.shuffleWriteBytes / 1024}%8d KB in=${s.inputBytes / 1024}%8d KB " +
            s"${s.name}")
        }
        r
      }
      RunLedger.best(runs).foreach(b => println(f"== $name best: ${b.wallS}%.2f s =="))
    }
    spark.stop()
  }
}
