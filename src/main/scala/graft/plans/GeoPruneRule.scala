package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: radius-search filters become partition/row-group
  * prunable.
  *
  * `haversine_m(lat, lon, LAT0, LON0) <= R` is opaque to every storage
  * optimization — parquet min/max skipping, partition pruning, and
  * z-order layout (Layout.scala) all need plain comparisons on the
  * coordinate columns. But the haversine ball of radius R around a fixed
  * center is CONTAINED in the latitude band |lat − LAT0| ≤ R/M_LAT (M_LAT
  * = the minimum meters-per-degree of latitude, so the band is
  * conservatively wide), so conjoining the band predicate preserves the
  * result exactly while handing the scanner a sargable range. A longitude
  * band is added too when the ball stays clear of the poles (degree width
  * scales by cos(lat); evaluated at the band edge nearest a pole, again
  * conservative).
  *
  * Fires only on Filter conjuncts of shape `Haversine(a, b, c, d) cmp r`
  * (either operand order; cmp in <, <=) where exactly one (lat, lon) pair
  * is foldable and r is foldable — the fixed-center radius query. The
  * added predicates are Literal bounds computed AT OPTIMIZE TIME, so
  * nothing new is evaluated per row; idempotence (the optimizer runs
  * batches to fixpoint) is guaranteed by skipping filters that already
  * contain a semantically-equal bound.
  *
  * Installed by `graft.Session.configure` (as an extra optimization) or
  * by [[GraftExtensions]] (via injectOptimizerRule).
  */
object GeoPruneRule extends Rule[LogicalPlan] {

  /** Minimum meters per degree of latitude (at the equator; meridian arc
    * degree grows toward the poles, so dividing by the minimum widens the
    * band — always safe).
    */
  private val MetersPerDegLatMin = 110574.0

  private def asDouble(e: Expression): Option[Double] =
    if (e.foldable && e.dataType == org.apache.spark.sql.types.DoubleType)
      Option(e.eval()).map(_.asInstanceOf[Double])
    else None

  /** (latExpr, lonExpr, latCenter, lonCenter, radius) for a matching
    * conjunct.
    */
  private def radiusFilter(c: Expression)
  : Option[(Expression, Expression, Double, Double, Double)] = {
    def fromHav(h: Haversine, r: Expression)
    : Option[(Expression, Expression, Double, Double, Double)] =
      asDouble(r).flatMap { radius =>
        (asDouble(h.third), asDouble(h.fourth)) match {
          case (Some(la), Some(lo)) if !h.first.foldable =>
            Some((h.first, h.second, la, lo, radius))
          case _ =>
            (asDouble(h.first), asDouble(h.second)) match {
              case (Some(la), Some(lo)) if !h.third.foldable =>
                Some((h.third, h.fourth, la, lo, radius))
              case _ => None
            }
        }
      }
    c match {
      case LessThanOrEqual(h: Haversine, r) => fromHav(h, r)
      case LessThan(h: Haversine, r) => fromHav(h, r)
      case GreaterThanOrEqual(r, h: Haversine) => fromHav(h, r)
      case GreaterThan(r, h: Haversine) => fromHav(h, r)
      case _ => None
    }
  }

  private def bounds(lat: Expression, lon: Expression,
                     la0: Double, lo0: Double, r: Double): Seq[Expression] = {
    val dLat = r / MetersPerDegLatMin
    val latBand = Seq(
      GreaterThanOrEqual(lat, Literal(la0 - dLat)),
      LessThanOrEqual(lat, Literal(la0 + dLat)))
    // lon degree width shrinks by cos(lat); bound it at the band edge
    // nearest a pole. Skip near the poles where cos -> 0. When the band
    // crosses the antimeridian the plain interval is WRONG (haversine is
    // periodic in delta-lon: a center at 179.9 matches points at -179.9),
    // so emit the wrapped disjunction instead — parquet min/max skipping
    // handles OR-of-ranges, keeping seam-adjacent queries prunable.
    val edgeLat = math.min(89.0, math.abs(la0) + dLat)
    if (edgeLat < 89.0) {
      val dLon = r / (MetersPerDegLatMin * math.cos(math.toRadians(edgeLat)))
      if (dLon >= 180.0) latBand
      else if (lo0 + dLon > 180.0)
        latBand :+ Or(
          GreaterThanOrEqual(lon, Literal(lo0 - dLon)),
          LessThanOrEqual(lon, Literal(lo0 + dLon - 360.0)))
      else if (lo0 - dLon < -180.0)
        latBand :+ Or(
          LessThanOrEqual(lon, Literal(lo0 + dLon)),
          GreaterThanOrEqual(lon, Literal(lo0 - dLon + 360.0)))
      else
        latBand ++ Seq(
          GreaterThanOrEqual(lon, Literal(lo0 - dLon)),
          LessThanOrEqual(lon, Literal(lo0 + dLon)))
    } else latBand
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val extra = conjuncts.flatMap(radiusFilter).flatMap {
        case (lat, lon, la0, lo0, r) => bounds(lat, lon, la0, lo0, r)
      }.filterNot(b => conjuncts.exists(_.semanticEquals(b)))
      if (extra.isEmpty) f
      else Filter((conjuncts ++ extra).reduce(And), child)
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }
}
