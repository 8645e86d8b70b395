package graft

/** /proc/stat CPU-jiffy and process-CPU snapshots — the noise-gating
  * primitive that [[RunLedger.measure]] (and the mobility benchmark)
  * takes around every run. This VM suffers bursty hypervisor CPU steal
  * (identical queries measured 10-30x apart back-to-back), so every
  * recorded timing carries a [steal%, busy%] fingerprint and the ledger's
  * pass policy prefers passes whose steal stays under a quiet bound.
  */
object HostLoad {

  /** (steal, idle+iowait, total) jiffies from the aggregate cpu line. */
  def cpuTicks(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((if (v.length > 7) v(7) else 0L,
          v(3) + (if (v.length > 4) v(4) else 0L), v.sum))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** (stealPct, busyPct) across two snapshots; (-1, -1) when either
    * snapshot is unavailable (treat as quiet: one possibly-noisy
    * measurement beats none on an exotic host).
    */
  def loadBetween(t0: Option[(Long, Long, Long)],
                  t1: Option[(Long, Long, Long)]): (Double, Double) =
    (t0, t1) match {
      case (Some((s0, i0, a0)), Some((s1, i1, a1))) if a1 > a0 =>
        val d = (a1 - a0).toDouble
        (100.0 * (s1 - s0) / d, 100.0 * ((a1 - a0) - (i1 - i0)) / d)
      case _ => (-1.0, -1.0)
    }

  /** Cumulative process CPU seconds (utime+stime over every thread of
    * this JVM) from /proc/self/stat, falling back to the HotSpot
    * OperatingSystemMXBean; -1 when neither is readable. The per-pass
    * DELTA of this next to wall time separates host-state noise from
    * plan nondeterminism: a pass whose wall doubled while its CPU
    * seconds stayed flat was descheduled (steal, neighbor load), not
    * doing more work.
    */
  def processCpuSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try {
        val line = src.getLines().next()
        // the comm field (2) is parenthesized and may itself contain
        // spaces/parens — split only AFTER the last ')'
        val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
        // rest is fields 3..: utime = field 14 -> rest(11),
        // stime = field 15 -> rest(12); USER_HZ is 100 on linux
        (rest(11).toDouble + rest(12).toDouble) / 100.0
      } finally src.close()
    } catch {
      case scala.util.control.NonFatal(_) =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
          case x: com.sun.management.OperatingSystemMXBean =>
            val ns = x.getProcessCpuTime
            if (ns < 0) -1.0 else ns / 1e9
          case _ => -1.0
        }
    }
}
