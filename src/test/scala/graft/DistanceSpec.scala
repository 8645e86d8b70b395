package graft

import graft.operators.StopDetect
import org.scalatest.funsuite.AnyFunSuite

/** `StopDetect.distance` is the one scalar distance of the per-user
  * kernels; it must return the very bits of the per-kernel copies it
  * replaced (DBSCAN labels and community weights compare against eps
  * and feed FP-order-sensitive sums).
  */
class DistanceSpec extends AnyFunSuite {

  /** The replaced kernel copies, verbatim. */
  private def haversineRef(aLat: Double, aLon: Double,
                           bLat: Double, bLon: Double): Double = {
    val la1 = math.toRadians(aLat); val la2 = math.toRadians(bLat)
    val dLat = la2 - la1
    val dLon = math.toRadians(bLon) - math.toRadians(aLon)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(la1) * math.cos(la2) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371000.0 * math.asin(math.sqrt(a))
  }

  private def euclideanRef(aLat: Double, aLon: Double,
                           bLat: Double, bLon: Double): Double =
    math.sqrt((bLat - aLat) * (bLat - aLat) + (bLon - aLon) * (bLon - aLon))

  test("bit-identical to the replaced copies on random and edge pairs") {
    val rnd = new scala.util.Random(11)
    def lat() = rnd.nextDouble() * 180 - 90
    def lon() = rnd.nextDouble() * 360 - 180
    val random = Seq.fill(20000)((lat(), lon(), lat(), lon()))
    val near = Seq.fill(5000) {
      val (a, b) = (lat(), lon())
      (a, b, a + rnd.nextGaussian() * 1e-4, b + rnd.nextGaussian() * 1e-4)
    }
    val edges = Seq.fill(2000) {
      val (a, b) = (lat(), lon())
      Seq((a, b, a, b), // identical
        (a, b, -a, if (b > 0) b - 180 else b + 180), // antipodal
        (a, 180.0, -a, -180.0), (a, -180.0, a, 180.0), // the antimeridian
        (90.0, b, -90.0, -b), (0.0, 0.0, 0.0, 180.0))
    }.flatten
    for ((aLat, aLon, bLat, bLon) <- random ++ near ++ edges) {
      def same(got: Double, want: Double): Unit =
        assert(java.lang.Double.doubleToLongBits(got) ===
          java.lang.Double.doubleToLongBits(want),
          s"($aLat, $aLon) -> ($bLat, $bLon)")
      same(StopDetect.distance("haversine", aLat, aLon, bLat, bLon),
        haversineRef(aLat, aLon, bLat, bLon))
      same(StopDetect.distance("euclidean", aLat, aLon, bLat, bLon),
        euclideanRef(aLat, aLon, bLat, bLon))
    }
  }
}
