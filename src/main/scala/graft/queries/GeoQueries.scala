package graft.queries

import graft.{CacheScope, Graft, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, HomeWork, Intervals, Multimodal, Similarity, StopClusters, StopDetect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Shared._

/** Mobility + spatial pipeline: stop detection, clustering,
  * home/work, hulls, grids, as-of/range joins, communities.
  *
  * One registry slice of [[graft.SparkEntry]] (split per r9 verdict ask
  * #3): `defs` are the Spark-side query definitions, `oracles` the
  * DuckDB twins, merged back into the single driver-contract maps by
  * SparkEntry. Entry semantics, names and column contracts are the
  * SparkEntry originals, moved verbatim.
  */
private[graft] object GeoQueries extends QuerySlice {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // W1/W3: lead over (user, time) — inter-event gap in microseconds
    "q10_lead_gap" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"))
        .withColumn("gap_us", lead("ts_us", 1).over(w) - col("ts_us"))
        .select("user_id", "event_id", "gap_us")
    }),

    // W2/W4/W5: sessionization (lag + run-start flag + cumulative sum)
    "q11_sessions" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"))
        .withColumn("new_sess",
          when(col("ts_us") - lag("ts_us", 1).over(w) > 1800L * 1000000L
            || lag("ts_us", 1).over(w).isNull, 1).otherwise(0))
        .withColumn("session_id", sum("new_sess").over(cum))
        .groupBy("user_id")
        .agg(max(col("session_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    // Core mobility operator: stationary-event segmentation (W1-W5 + A1)
    "q12_stop_events" -> ((s, d) =>
      StopDetect.stopEvents(Tables.pings(s, d), stopParams)
        .select("uid", "timestamp", "stop_events", "latitude", "longitude")),

    // A2/A3 over the segmentation: per-stop median coords + span
    "q13_event_medians" -> ((s, d) =>
      StopDetect.eventMedians(
        StopDetect.stopEvents(Tables.pings(s, d), stopParams))),

    // M3: per-user DBSCAN (union-find uid kernel) + cluster stats
    "q16_stop_clusters" -> ((s, d) =>
      stopClusters(s, d)
        .select("uid", "stop_events", "stop_locations", "cluster_counts",
          "cluster_latitude", "cluster_longitude")),

    // EP2: full home/work inference (P5, A4, J4, J5)
    "q17_home_work" -> ((s, d) =>
      HomeWork.label(stopClusters(s, d), hwParams)
        .select("uid", "stop_events", "stop_locations", "year", "month",
          "day", "hour", "weekday", "date", "duration", "location_type",
          "home_label", "work_label")),

    // R4/W9: wide H/W export, one row per uid
    "q18_hw_wide" -> ((s, d) =>
      HomeWork.wideExport(HomeWork.label(stopClusters(s, d), hwParams))),

    // W10: run-length interval coalescing with max-gap split
    "q19_intervals" -> ((s, d) =>
      Intervals.coalesceRuns(
        Tables.events(s, d).select(col("user_id"), col("event_type"),
          col("event_id"), expr("ts div 1000").as("ts_us")),
        col("user_id"), col("event_type"), col("ts_us"), col("event_id"),
        3600L * 1000000L)
        .select(col("key").as("user_id"), col("interval_id"),
          col("label").as("event_type"), col("t_start"), col("t_end"),
          col("n_rows"))),

    // F4: grid snap + cell counts
    "q34_grid_cells" -> ((s, d) =>
      Tables.pings(s, d)
        .select(
          graft.functions.GeoFunctions.gridSnap(col("latitude"), 0.01)
            .as("cell_lat"),
          graft.functions.GeoFunctions.gridSnap(col("longitude"), 0.01)
            .as("cell_lon"))
        .groupBy("cell_lat", "cell_lon")
        .agg(count(lit(1)).as("n"))),

    // M1/M2: weighted radius graph + label propagation (Infomap stand-in;
    // oracle: r2-graph connected components over unique coords — equal to
    // the LPA labels on clustered mobility data, see communityCtes)
    "q37_communities" -> ((s, d) =>
      graft.operators.Communities.assignLocations(
        StopDetect.eventMedians(
          StopDetect.stopEvents(Tables.pings(s, d), stopParams)),
        graft.operators.Communities.Params(r2 = 100.0))),

    // M5/M6: per-cluster convex hull + max pairwise distance (rows-only)
    "q38_cluster_hulls" -> ((s, d) =>
      graft.operators.Geometry.clusterHulls(
        stopClusters(s, d).filter(col("stop_locations") =!= -1L))
        .select(col("uid"), col("stop_locations"),
          size(col("hull_lats")).as("hull_size"),
          round(col("max_pair_dist"), 3).as("max_pair_dist"))),

    // As-of join: each event enriched with the user's latest purchase at
    // or before it (union + last-value window; single key shuffle)
    "q45_asof_join" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"), col("value"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("ts_us").as("purchase_ts"), col("value").as("purchase_value"))
      graft.operators.AsofJoin.lastValue(
        base.drop("value"), purchases, Seq("user_id"), "ts_us",
        Seq("purchase_ts", "purchase_value"))
        .select("user_id", "event_id", "purchase_ts", "purchase_value")
    }),

    // Binned point-in-interval range join: points equi-join intervals on
    // (key, time bin) instead of a quadratic BNLJ range predicate
    "q48_range_join" -> ((s, d) => {
      val base = Tables.events(s, d).select(col("user_id"),
        col("event_type"), col("event_id"), expr("ts div 1000").as("ts_us"))
      val iv = Intervals.coalesceRuns(base, col("user_id"),
          col("event_type"), col("ts_us"), col("event_id"),
          3600L * 1000000L)
        .select(col("key").as("user_id"), col("interval_id"),
          col("label").as("event_type"), col("t_start"), col("t_end"))
      graft.operators.RangeJoin.pointInInterval(
        base.select("user_id", "ts_us"), iv, Seq("user_id"), "ts_us",
        "t_start", "t_end", 3600L * 1000000L)
        .groupBy("user_id", "interval_id", "event_type")
        .agg(count(lit(1)).as("n_in_range"))
    }),

    // Per-cluster diameter class via within-cluster self-join; haversine
    // stays in a comparison so the oracle hash-matches (M5, upgraded from
    // the rows-only hull check)
    "q51_cluster_diameter" -> ((s, d) =>
      graft.operators.Geometry.clusterDiameters(
        stopClusters(s, d).filter(col("stop_locations") =!= -1L), 150.0)),

    // Spark's native session_window in BATCH mode (the same operator the
    // streaming path uses — one engine artifact for both), 30-min gap;
    // oracle = the classic gap-islands rewrite
    "q64_session_window" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), expr("ts div 1000000000").as("tsec"))
        .groupBy(col("user_id"),
          session_window(timestamp_seconds(col("tsec")), "1800 seconds"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("s_start"),
          unix_timestamp(col("session_window.end")).as("s_end"),
          col("n_events"))),

    // Global cross-user radius self-join over stop medians: grid-bucketed
    // equi-join (SURVEY M1's "geohash-bucketed self-join" scale form) with
    // exact haversine verification, aggregated to per-point neighbor
    // degree (the density statistic; the raw pair set is quadratic on
    // co-located sites). Oracle = brute-force theta join.
    "q68_radius_pairs" -> ((s, d) => {
      val medians = StopDetect.eventMedians(
        StopDetect.stopEvents(Tables.pings(s, d), stopParams))
        .select(concat(col("uid"), lit("#"),
          col("stop_events").cast("string")).as("id"),
          col("latitude"), col("longitude"))
        // deterministic ~10% hash sample (q55's trick): every user shares
        // the same 16 synthetic dwell sites, so the full all-pairs set is
        // quadratic in co-located points — the sample bounds it while the
        // bucketed join is exercised identically
        .filter(substring(md5(col("id").cast("binary")), 1, 2) < "1a")
      val pairs = graft.operators.SpatialJoin.radiusPairs(
        medians, "id", "latitude", "longitude", 150.0)
      pairs.select(col("id_a").as("id"))
        .union(pairs.select(col("id_b").as("id")))
        .groupBy("id")
        .agg(count(lit(1)).as("n_neighbors"))
    }),

    // Hull regime + bounding box per cluster — the oracle-expressible
    // projection of q38's hulls. The kernel's degenerate decision uses
    // the oracle's exact extremes-cross formula (bit-reproducible); a
    // real hull's bbox equals its point set's bbox (exact min/max in any
    // engine). The degenerate SQUARE's bbox is centroid-derived — a
    // sum-order-sensitive float no relational twin can reproduce
    // bit-for-bit — so degenerate rows emit the flag and NULL bbox
    // (square values are pinned by GeometrySpec's hand cases instead).
    "q73_hull_bbox" -> ((s, d) =>
      graft.operators.Geometry.clusterHulls(
        stopClusters(s, d).filter(col("stop_locations") =!= -1L))
        .select(col("uid"), col("stop_locations"),
          col("degenerate").cast("long").as("degenerate"),
          when(!col("degenerate"),
            round(array_min(col("hull_lats")), 6)).as("hull_lat_min"),
          when(!col("degenerate"),
            round(array_max(col("hull_lats")), 6)).as("hull_lat_max"),
          when(!col("degenerate"),
            round(array_min(col("hull_lons")), 6)).as("hull_lon_min"),
          when(!col("degenerate"),
            round(array_max(col("hull_lons")), 6)).as("hull_lon_max"))),

    // M2 full form: the reference's Infomap mode with its actual objective
    // (two-level map equation, deterministic local moves). Rows-only: the
    // map equation is not SQL-expressible; q37 pins the same graph via its
    // CC oracle and CommunitiesSpec pins the objective (exhaustive-search
    // parity on a hand graph + optimality vs baseline partitions).
    // Infomap community IDs are search-order-dependent across engines, so
    // the dump hashes the ENGINE-PORTABLE certificate instead (r8 verdict
    // ask #3): cc_locations (the r2-radius connected component, which the
    // oracle recomputes via the q37 recursive CTE), refines (every found
    // community sits inside one CC) and improves (map-equation codelength
    // beats the all-singletons baseline) — both pinned literal-true by
    // the oracle, so a partition regression flips a hashed bit.
    "q82_infomap" -> ((s, d) =>
      graft.operators.Communities.assignLocationsCertified(
        StopDetect.eventMedians(
          StopDetect.stopEvents(Tables.pings(s, d), stopParams)),
        graft.operators.Communities.Params(
          r2 = 100.0, algorithm = "infomap"))
        .select(col("uid"), col("stop_events"), col("latitude"),
          col("longitude"), col("start_timestamp"), col("end_timestamp"),
          col("cc_locations"), col("refines").cast("long").as("refines"),
          col("improves").cast("long").as("improves"))),

    // Global cross-user POI table: grid-cell connectivity clustering over
    // ALL users' stop medians (the per-user reference cannot express a
    // shared-place table). Pure integer cell arithmetic -> exact oracle.
    "q84_grid_pois" -> ((s, d) =>
      graft.operators.SpatialJoin.gridClusters(
        StopDetect.eventMedians(
          StopDetect.stopEvents(Tables.pings(s, d), stopParams)),
        "uid", "latitude", "longitude", 0.001)),

    // Bounded-staleness as-of join: q45's enrichment, but a purchase
    // older than 1 hour no longer qualifies (2114 of 9451 matches
    // survive at sf0.01 — both regimes exercised).
    "q86_asof_tolerance" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"), col("value"))
      val purchases = base.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("ts_us").as("purchase_ts"), col("value").as("purchase_value"))
      graft.operators.AsofJoin.lastValue(
        base.drop("value"), purchases, Seq("user_id"), "ts_us",
        Seq("purchase_ts", "purchase_value"),
        tolerance = Some(3600000000L))
        .select("user_id", "event_id", "purchase_ts", "purchase_value")
    }),

    // Two-sided ASOF (linear interpolation): each view event gets the
    // purchase-value signal linearly interpolated between the
    // surrounding purchases of the same user — one union + one window
    // pass (AsofJoin.interpolateLinear), no range join. The signal is
    // pre-aggregated to one row per (user, ts) so the endpoints are
    // well-defined; flat extrapolation outside the signal's span.
    "q111_interpolate" -> ((s, d) => {
      val base = Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"), col("value"))
      val views = base.filter(col("event_type") === "view")
        .select("user_id", "event_id", "ts_us")
      val sig = base.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts_us").agg(max("value").as("value"))
      graft.operators.AsofJoin.interpolateLinear(
        views, sig, Seq("user_id"), "ts_us", "value")
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("interp"))
    }),

    // Time-series resampling: every user sampled on a fixed 6-hour grid
    // over the fixture month, value = the purchase signal linearly
    // interpolated at each grid instant — sequence() explode for the
    // grid (zero shuffle) composed with AsofJoin.interpolateLinear (one
    // exchange). The regular-grid feature matrix a downstream model
    // trains on.
    "q117_resample" -> ((s, d) => {
      val start = 1704067200L            // 2024-01-01 00:00:00 UTC
      val end = start + 30L * 86400L
      val grid = Tables.events(s, d).select("user_id").distinct()
        .select(col("user_id"),
          explode(sequence(lit(start), lit(end), lit(21600L))).as("ts_s"))
      val sig = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000000000").as("ts_s"),
          col("value"))
        .groupBy("user_id", "ts_s").agg(max("value").as("value"))
      graft.operators.AsofJoin.interpolateLinear(
        grid, sig, Seq("user_id"), "ts_s", "value")
        .select(col("user_id"), col("ts_s"),
          round(col("value"), 6).as("interp"))
    }),

    // Geohash encoding (GeoFunctions.geohash over the fused
    // InterleaveBits): the portable, prefix-hierarchical spatial cell
    // id — 6-char cells over the ping trajectories, aggregated to a
    // per-cell density report. Pure per-row projection + one cell
    // aggregate.
    "q200_geohash" -> ((s, d) =>
      Tables.pings(s, d)
        .select(graft.functions.GeoFunctions.geohash(
          col("latitude"), col("longitude"), 6).as("gh"), col("uid"))
        .groupBy("gh")
        .agg(count(lit(1)).as("n_pings"),
          count_distinct(col("uid")).as("n_users"))),

    // F2 euclidean metric gate (GeoFunctions.euclideanDegrees, the
    // reference's alternate planar metric — utils.py:315-329): per-user
    // consecutive-ping steps. The float-parity discipline holds: the
    // sqrt/pow distance is used ONLY in a comparison (near = step within
    // 0.005 deg; the fixture's steps are either < 2e-5 within a dwell
    // site or > 0.014 between sites, so the cut is ulp-safe), while the
    // EMITTED magnitudes are the squared steps in integer 1e-14 units —
    // dx*dx + dy*dy is a fixed-order chain of single correctly-rounded
    // IEEE ops, bit-identical in any engine.
    "q251_euclidean_steps" -> ((s, d) => {
      val w = Window.partitionBy("uid").orderBy(col("timestamp"), col("event_id"))
      val p = Tables.pings(s, d)
        .withColumn("plat", lag("latitude", 1).over(w))
        .withColumn("plon", lag("longitude", 1).over(w))
        .filter(col("plat").isNotNull)
      val dx = col("latitude") - col("plat")
      val dy = col("longitude") - col("plon")
      p.select(
          col("uid"),
          round((dx * dx + dy * dy) * lit(1e14), 0).cast("long").as("d2"),
          (graft.functions.GeoFunctions.euclideanDegrees(
            col("plat"), col("plon"),
            col("latitude"), col("longitude")) <= lit(0.005)).as("near"))
        .groupBy("uid")
        .agg(count(lit(1)).as("n_steps"),
          sum(when(col("near"), 1L).otherwise(0L)).as("n_near"),
          sum("d2").as("sum_d2_e14"),
          max("d2").as("max_d2_e14"))
    }),
  )

  val oracles: Map[String, String] = Map(

    "q10_lead_gap" ->
      """SELECT user_id, event_id,
        |  lead(ts_us) OVER w - ts_us AS gap_us
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)""".stripMargin,

    "q11_sessions" ->
      """SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM (
        |  SELECT user_id,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts_us,
        |      CASE WHEN ts_us - lag(ts_us) OVER w > 1800 * 1000000
        |        OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |    FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)))
        |GROUP BY user_id""".stripMargin,

    "q12_stop_events" -> (s"WITH ${Tables.pingsSql},\n" + stopEventsSql +
      """SELECT uid, "timestamp", stop_events, latitude, longitude
        |FROM stop_events""".stripMargin),

    "q13_event_medians" -> (s"WITH ${Tables.pingsSql},\n" + stopEventsSql +
      """SELECT uid, stop_events,
        |  median(latitude) AS latitude, median(longitude) AS longitude,
        |  min("timestamp") AS start_timestamp,
        |  max("timestamp") AS end_timestamp
        |FROM stop_events WHERE stop_events != -1
        |GROUP BY uid, stop_events""".stripMargin),

    "q16_stop_clusters" -> (clusterCtes +
      """SELECT uid, stop_events, stop_locations, cluster_counts,
        |  cluster_latitude, cluster_longitude
        |FROM clustered""".stripMargin),

    "q17_home_work" -> (clusterCtes + ",\n" + hwCtes +
      """SELECT uid, stop_events, stop_locations, year, month, day, hour,
        |  weekday, "date", duration, location_type, home_label, work_label
        |FROM hw_final""".stripMargin),

    "q18_hw_wide" -> (clusterCtes + ",\n" + hwCtes + ",\n" +
      """picked AS (
        |  SELECT *, row_number() OVER (PARTITION BY uid, location_type
        |    ORDER BY cluster_counts DESC, stop_locations ASC) AS rn
        |  FROM hw_final WHERE location_type IN ('H', 'W')
        |)
        |SELECT uid,
        |  max(CASE WHEN location_type = 'H' THEN cluster_latitude END) AS h_lat,
        |  max(CASE WHEN location_type = 'H' THEN cluster_longitude END) AS h_lon,
        |  max(CASE WHEN location_type = 'W' THEN cluster_latitude END) AS w_lat,
        |  max(CASE WHEN location_type = 'W' THEN cluster_longitude END) AS w_lon
        |FROM picked WHERE rn = 1 GROUP BY uid""".stripMargin),

    "q19_intervals" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |fl AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w != event_type
        |    OR ts_us - lag(ts_us) OVER w >= 3600000000 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |iv AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS interval_id
        |  FROM fl)
        |SELECT user_id, interval_id, min(event_type) AS event_type,
        |  min(ts_us) AS t_start, max(ts_us) AS t_end, count(*) AS n_rows
        |FROM iv GROUP BY user_id, interval_id""".stripMargin,

    "q34_grid_cells" -> (s"WITH ${Tables.pingsSql}\n" +
      """SELECT round(latitude / 0.01, 0) * 0.01 AS cell_lat,
        |  round(longitude / 0.01, 0) * 0.01 AS cell_lon,
        |  count(*) AS n
        |FROM pings GROUP BY 1, 2""".stripMargin),

    "q37_communities" -> (communityCtes +
      """SELECT m.uid, m.stop_events, m.latitude, m.longitude,
        |  m.start_timestamp, m.end_timestamp, l.stop_locations
        |FROM medians m JOIN clabels l
        |  ON m.uid = l.uid AND m.latitude = l.latitude
        |    AND m.longitude = l.longitude""".stripMargin),

    // Full-hull oracle: hull_size via the Carathéodory extreme-point test
    // (p is NOT a hull vertex iff some closed triangle of three other
    // distinct cluster points contains it — cross-product sign tests in
    // the IDENTICAL formula and operand order as the q73 regime check, so
    // the decision is bit-reproducible cross-engine). On the current
    // fixtures every cluster has <= 3 distinct points (verified at sf0.01
    // and sf0.1), where the test is vacuous (no triple of "others"
    // exists) and hull_size = n_distinct exactly — and the kernel's
    // chain agrees bit-for-bit because for 3 sorted points the chain's
    // orientation cross is the exact IEEE negation of the degenerate
    // formula's cross (same two products, subtracted in opposite order).
    // For the degenerate regime the square has 4 vertices; its diameter
    // equals the lexicographic-extremes distance, which for a collinear
    // set IS the max pairwise distance — so one max-pairwise diam CTE
    // serves both regimes (trig ulp differences sit ~1e-8 m below the
    // round-3 boundary). Reference: utils.py:136-165.
    "q38_cluster_hulls" -> (clusterCtes + ",\n" +
      """pts AS (
        |  SELECT uid, stop_locations, latitude, longitude FROM clustered
        |  WHERE stop_locations != -1),
        |dp AS (
        |  SELECT DISTINCT uid, stop_locations, latitude, longitude FROM pts),
        |ext AS (
        |  SELECT uid, stop_locations, count(*) AS n_distinct,
        |    min(struct_pack(la := latitude, lo := longitude)) AS mn,
        |    max(struct_pack(la := latitude, lo := longitude)) AS mx
        |  FROM dp GROUP BY uid, stop_locations),
        |colin AS (
        |  SELECT d.uid, d.stop_locations,
        |    max(abs((e.mx.la - e.mn.la) * (d.longitude - e.mn.lo)
        |          - (e.mx.lo - e.mn.lo) * (d.latitude - e.mn.la))) AS maxcross
        |  FROM dp d JOIN ext e
        |    ON d.uid = e.uid AND d.stop_locations = e.stop_locations
        |  GROUP BY d.uid, d.stop_locations),
        |contained AS (
        |  -- branch 1: p inside/on a NON-degenerate triangle of three
        |  -- other points. The area guard matters: a collinear triple's
        |  -- sign tests are all-zero and would swallow points on the
        |  -- line but OUTSIDE the segment (a hull vertex at a lattice
        |  -- line's end would be undercounted).
        |  SELECT DISTINCT p.uid, p.stop_locations, p.latitude, p.longitude
        |  FROM dp p
        |  JOIN dp a ON a.uid = p.uid AND a.stop_locations = p.stop_locations
        |    AND (a.latitude, a.longitude) != (p.latitude, p.longitude)
        |  JOIN dp b ON b.uid = p.uid AND b.stop_locations = p.stop_locations
        |    AND (b.latitude, b.longitude) > (a.latitude, a.longitude)
        |    AND (b.latitude, b.longitude) != (p.latitude, p.longitude)
        |  JOIN dp c ON c.uid = p.uid AND c.stop_locations = p.stop_locations
        |    AND (c.latitude, c.longitude) > (b.latitude, b.longitude)
        |    AND (c.latitude, c.longitude) != (p.latitude, p.longitude)
        |  WHERE (b.latitude - a.latitude) * (c.longitude - a.longitude)
        |      - (b.longitude - a.longitude) * (c.latitude - a.latitude) != 0
        |   AND (
        |    ((b.latitude - a.latitude) * (p.longitude - a.longitude)
        |      - (b.longitude - a.longitude) * (p.latitude - a.latitude) >= 0
        |     AND (c.latitude - b.latitude) * (p.longitude - b.longitude)
        |      - (c.longitude - b.longitude) * (p.latitude - b.latitude) >= 0
        |     AND (a.latitude - c.latitude) * (p.longitude - c.longitude)
        |      - (a.longitude - c.longitude) * (p.latitude - c.latitude) >= 0)
        |    OR
        |    ((b.latitude - a.latitude) * (p.longitude - a.longitude)
        |      - (b.longitude - a.longitude) * (p.latitude - a.latitude) <= 0
        |     AND (c.latitude - b.latitude) * (p.longitude - b.longitude)
        |      - (c.longitude - b.longitude) * (p.latitude - b.latitude) <= 0
        |     AND (a.latitude - c.latitude) * (p.longitude - c.longitude)
        |      - (a.longitude - c.longitude) * (p.latitude - c.latitude) <= 0))
        |  UNION
        |  -- branch 2: p on the closed segment between two other points
        |  -- (collinear + inside the segment bbox) — the Caratheodory
        |  -- 2-point case branch 1's area guard excludes
        |  SELECT DISTINCT p.uid, p.stop_locations, p.latitude, p.longitude
        |  FROM dp p
        |  JOIN dp a ON a.uid = p.uid AND a.stop_locations = p.stop_locations
        |    AND (a.latitude, a.longitude) != (p.latitude, p.longitude)
        |  JOIN dp b ON b.uid = p.uid AND b.stop_locations = p.stop_locations
        |    AND (b.latitude, b.longitude) > (a.latitude, a.longitude)
        |    AND (b.latitude, b.longitude) != (p.latitude, p.longitude)
        |  WHERE (b.latitude - a.latitude) * (p.longitude - a.longitude)
        |      - (b.longitude - a.longitude) * (p.latitude - a.latitude) = 0
        |    AND p.latitude BETWEEN least(a.latitude, b.latitude)
        |      AND greatest(a.latitude, b.latitude)
        |    AND p.longitude BETWEEN least(a.longitude, b.longitude)
        |      AND greatest(a.longitude, b.longitude)),
        |ncont AS (
        |  SELECT uid, stop_locations, count(*) AS n_in FROM contained
        |  GROUP BY uid, stop_locations),
        |diam AS (
        |  SELECT a.uid, a.stop_locations,
        |    max(2 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(b.latitude) - radians(a.latitude)) / 2), 2)
        |      + cos(radians(a.latitude)) * cos(radians(b.latitude))
        |        * pow(sin((radians(b.longitude) - radians(a.longitude)) / 2), 2)
        |    ))) AS d
        |  FROM dp a JOIN dp b
        |    ON a.uid = b.uid AND a.stop_locations = b.stop_locations
        |  GROUP BY a.uid, a.stop_locations)
        |SELECT e.uid, e.stop_locations,
        |  CAST(CASE WHEN (e.n_distinct <= 2 OR c.maxcross = 0) THEN 4
        |    ELSE e.n_distinct - coalesce(n.n_in, 0) END AS INT) AS hull_size,
        |  round(d.d, 3) AS max_pair_dist
        |FROM ext e
        |JOIN colin c ON e.uid = c.uid AND e.stop_locations = c.stop_locations
        |JOIN diam d ON e.uid = d.uid AND e.stop_locations = d.stop_locations
        |LEFT JOIN ncont n
        |  ON e.uid = n.uid AND e.stop_locations = n.stop_locations""".stripMargin),

    "q45_asof_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    event_type, value FROM events),
        |p AS (SELECT user_id AS p_uid, ts_us AS pts, value AS pval
        |  FROM e WHERE event_type = 'purchase')
        |SELECT e.user_id, e.event_id, p.pts AS purchase_ts,
        |  p.pval AS purchase_value
        |FROM e ASOF LEFT JOIN p
        |  ON e.user_id = p.p_uid AND e.ts_us >= p.pts""".stripMargin,

    "q48_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
        |  FROM events),
        |fl AS (
        |  SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w != event_type
        |    OR ts_us - lag(ts_us) OVER w >= 3600000000 THEN 1 ELSE 0 END AS nw
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |ivr AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS interval_id
        |  FROM fl),
        |iv AS (
        |  SELECT user_id, interval_id, min(event_type) AS event_type,
        |    min(ts_us) AS t_start, max(ts_us) AS t_end
        |  FROM ivr GROUP BY user_id, interval_id)
        |SELECT iv.user_id, iv.interval_id, iv.event_type,
        |  count(*) AS n_in_range
        |FROM e JOIN iv ON e.user_id = iv.user_id
        |  AND e.ts_us BETWEEN iv.t_start AND iv.t_end
        |GROUP BY iv.user_id, iv.interval_id, iv.event_type""".stripMargin,

    "q51_cluster_diameter" -> (clusterCtes + ",\n" +
      """pts AS (
        |  SELECT uid, stop_locations, latitude, longitude FROM clustered
        |  WHERE stop_locations != -1),
        |diam AS (
        |  SELECT a.uid, a.stop_locations,
        |    max(2 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(b.latitude) - radians(a.latitude)) / 2), 2)
        |      + cos(radians(a.latitude)) * cos(radians(b.latitude))
        |        * pow(sin((radians(b.longitude) - radians(a.longitude)) / 2), 2)
        |    ))) AS d
        |  FROM pts a JOIN pts b
        |    ON a.uid = b.uid AND a.stop_locations = b.stop_locations
        |  GROUP BY a.uid, a.stop_locations),
        |np AS (
        |  SELECT uid, stop_locations, count(*) AS n_points FROM pts
        |  GROUP BY uid, stop_locations)
        |SELECT np.uid, np.stop_locations, np.n_points,
        |  CAST(diam.d > 150.0 AS BIGINT) AS wide
        |FROM diam JOIN np
        |  ON diam.uid = np.uid AND diam.stop_locations = np.stop_locations""".stripMargin),

    // Boundary semantics pinned empirically: Spark's session_window
    // MERGES an event arriving exactly `gap` after the previous one (the
    // next window's start equals the session end, and touching intervals
    // coalesce) — so a new session starts only on a STRICTLY larger gap.
    // sf0.01 had no exactly-1800 s inter-event gap; sf0.1 has one, which
    // is what exposed a >= here.
    "q64_session_window" -> sqlQ64Sessions,

    "q68_radius_pairs" -> (s"WITH ${Tables.pingsSql},\n" + stopEventsSql +
      "," + """
        |m AS (
        |  SELECT uid, stop_events, median(latitude) AS lat,
        |    median(longitude) AS lon
        |  FROM stop_events WHERE stop_events != -1
        |  GROUP BY uid, stop_events),
        |p AS (
        |  SELECT uid || '#' || CAST(stop_events AS VARCHAR) AS id, lat, lon
        |  FROM m
        |  WHERE substr(md5(uid || '#' || CAST(stop_events AS VARCHAR)), 1, 2) < '1a'),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM p a JOIN p b ON a.id < b.id
        |  AND 2 * 6371000.0 * asin(sqrt(
        |      pow(sin((radians(b.lat) - radians(a.lat)) / 2), 2)
        |      + cos(radians(a.lat)) * cos(radians(b.lat))
        |        * pow(sin((radians(b.lon) - radians(a.lon)) / 2), 2)
        |    )) <= 150.0)
        |SELECT id, count(*) AS n_neighbors FROM (
        |  SELECT id_a AS id FROM pairs
        |  UNION ALL SELECT id_b AS id FROM pairs)
        |GROUP BY id""".stripMargin),

    // Mirrors Geometry.hullAndDiameterPoints' two regimes: a real chain
    // hull's bbox is the point-set bbox (the chain keeps every extreme-
    // coordinate point); the degenerate fallback (fewer than 3 distinct
    // points, or all collinear — max |cross| vs the lexicographic
    // extremes is 0) is the centroid square, bbox = mean(all rows) +/-
    // side/2 with side = distance between the extremes (5e-5 for a
    // single row). Same double arithmetic order as the Scala kernel.
    "q73_hull_bbox" -> (clusterCtes + ",\n" +
      """pts AS (
        |  SELECT uid, stop_locations, latitude, longitude FROM clustered
        |  WHERE stop_locations != -1),
        |dp AS (
        |  SELECT DISTINCT uid, stop_locations, latitude, longitude FROM pts),
        |ext AS (
        |  SELECT uid, stop_locations, count(*) AS n_distinct,
        |    min(struct_pack(la := latitude, lo := longitude)) AS mn,
        |    max(struct_pack(la := latitude, lo := longitude)) AS mx
        |  FROM dp GROUP BY uid, stop_locations),
        |colin AS (
        |  SELECT d.uid, d.stop_locations,
        |    max(abs((e.mx.la - e.mn.la) * (d.longitude - e.mn.lo)
        |          - (e.mx.lo - e.mn.lo) * (d.latitude - e.mn.la))) AS maxcross
        |  FROM dp d JOIN ext e
        |    ON d.uid = e.uid AND d.stop_locations = e.stop_locations
        |  GROUP BY d.uid, d.stop_locations),
        |agg AS (
        |  SELECT uid, stop_locations,
        |    min(latitude) AS lat_min, max(latitude) AS lat_max,
        |    min(longitude) AS lon_min, max(longitude) AS lon_max
        |  FROM pts GROUP BY uid, stop_locations),
        |shaped AS (
        |  SELECT a.uid, a.stop_locations,
        |    (e.n_distinct <= 2 OR c.maxcross = 0) AS deg,
        |    a.lat_min, a.lat_max, a.lon_min, a.lon_max
        |  FROM agg a
        |  JOIN ext e ON a.uid = e.uid AND a.stop_locations = e.stop_locations
        |  JOIN colin c ON a.uid = c.uid AND a.stop_locations = c.stop_locations)
        |SELECT uid, stop_locations,
        |  CAST(deg AS BIGINT) AS degenerate,
        |  CASE WHEN deg THEN NULL ELSE round(lat_min, 6) END
        |    AS hull_lat_min,
        |  CASE WHEN deg THEN NULL ELSE round(lat_max, 6) END
        |    AS hull_lat_max,
        |  CASE WHEN deg THEN NULL ELSE round(lon_min, 6) END
        |    AS hull_lon_min,
        |  CASE WHEN deg THEN NULL ELSE round(lon_max, 6) END
        |    AS hull_lon_max
        |FROM shaped""".stripMargin),

    // Community gate, portable columns (community ids are search-order
    // engine state): the CC label recomputes exactly via the q37
    // recursive CTE; refines/improves pinned literal-1 — the engine
    // computes them from the found partition + map-equation codelengths.
    "q82_infomap" -> (communityCtes +
      """SELECT m.uid, m.stop_events, m.latitude, m.longitude,
        |  m.start_timestamp, m.end_timestamp,
        |  l.stop_locations AS cc_locations,
        |  CAST(1 AS BIGINT) AS refines,
        |  CAST(1 AS BIGINT) AS improves
        |FROM medians m JOIN clabels l
        |  ON m.uid = l.uid AND m.latitude = l.latitude
        |    AND m.longitude = l.longitude""".stripMargin),

    "q84_grid_pois" -> sqlQ84GridPois,

    "q86_asof_tolerance" -> sqlQ86AsofTolerance,

    "q111_interpolate" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    value
        |  FROM events),
        |v AS (SELECT user_id, event_id, ts_us FROM base
        |      WHERE event_type = 'view'),
        |sig AS (SELECT user_id, ts_us, max(value) AS value FROM base
        |        WHERE event_type = 'purchase' GROUP BY user_id, ts_us),
        |u AS (
        |  SELECT user_id, event_id, ts_us, 1 AS side,
        |    CAST(NULL AS DOUBLE) AS rv
        |  FROM v
        |  UNION ALL SELECT user_id, NULL, ts_us, 0, value FROM sig),
        |f AS (
        |  SELECT user_id, event_id, ts_us, side,
        |    last_value(CASE WHEN side = 0 THEN CAST(ts_us AS DOUBLE) END
        |      IGNORE NULLS) OVER w_prev AS pts,
        |    last_value(CASE WHEN side = 0 THEN rv END IGNORE NULLS)
        |      OVER w_prev AS pv,
        |    first_value(CASE WHEN side = 0 THEN CAST(ts_us AS DOUBLE) END
        |      IGNORE NULLS) OVER w_next AS nts,
        |    first_value(CASE WHEN side = 0 THEN rv END IGNORE NULLS)
        |      OVER w_next AS nv
        |  FROM u
        |  WINDOW
        |    w_prev AS (PARTITION BY user_id ORDER BY ts_us ASC, side ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_next AS (PARTITION BY user_id ORDER BY ts_us ASC, side ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, event_id,
        |  round(CASE WHEN pts IS NOT NULL AND nts IS NOT NULL
        |      THEN pv + (nv - pv) * (CAST(ts_us AS DOUBLE) - pts)
        |        / (nts - pts)
        |    WHEN pts IS NOT NULL THEN pv
        |    WHEN nts IS NOT NULL THEN nv END, 6) AS interp
        |FROM f WHERE side = 1""".stripMargin,

    // The identical quantization (operand order fixed), the q170
    // interleave ladder with lat on even / lon on odd bits, and the
    // same base32 slices.
    "q200_geohash" ->
      (s"""WITH ${Tables.pingsSql},
        |q AS (
        |  SELECT uid,
        |    CAST(least(floor((latitude + 90.0) * 32768.0 / 180.0),
        |      32767) AS BIGINT) AS qla,
        |    CAST(least(floor((longitude + 180.0) * 32768.0 / 360.0),
        |      32767) AS BIGINT) AS qlo
        |  FROM pings),
        |s1 AS (SELECT uid, (qla | (qla << 8)) & 16711935 AS x1,
        |  (qlo | (qlo << 8)) & 16711935 AS y1 FROM q),
        |s2 AS (SELECT uid, (x1 | (x1 << 4)) & 252645135 AS x2,
        |  (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT uid, (x2 | (x2 << 2)) & 858993459 AS x3,
        |  (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |s4 AS (SELECT uid, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |  (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
        |z AS (SELECT uid, x4 | (y4 << 1) AS zv FROM s4),
        |g AS (SELECT uid,
        |  substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST((zv >> 25) & 31 AS INT) + 1, 1)
        |  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST((zv >> 20) & 31 AS INT) + 1, 1)
        |  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST((zv >> 15) & 31 AS INT) + 1, 1)
        |  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST((zv >> 10) & 31 AS INT) + 1, 1)
        |  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST((zv >> 5) & 31 AS INT) + 1, 1)
        |  || substr('0123456789bcdefghjkmnpqrstuvwxyz',
        |    CAST(zv & 31 AS INT) + 1, 1) AS gh
        |  FROM z)
        |SELECT gh, count(*) AS n_pings,
        |  CAST(count(DISTINCT uid) AS BIGINT) AS n_users
        |FROM g GROUP BY 1""").stripMargin,

    "q117_resample" ->
      """WITH grid AS (
        |  SELECT u.user_id, g.ts_s
        |  FROM (SELECT DISTINCT user_id FROM events) u,
        |    unnest(generate_series(1704067200,
        |      1704067200 + 30 * 86400, 21600)) AS g(ts_s)),
        |sig AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS ts_s,
        |    max(value) AS value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, epoch_us(ts) // 1000000),
        |u AS (
        |  SELECT user_id, ts_s, 1 AS side, CAST(NULL AS DOUBLE) AS rv
        |  FROM grid
        |  UNION ALL SELECT user_id, ts_s, 0, value FROM sig),
        |f AS (
        |  SELECT user_id, ts_s, side,
        |    last_value(CASE WHEN side = 0 THEN CAST(ts_s AS DOUBLE) END
        |      IGNORE NULLS) OVER w_prev AS pts,
        |    last_value(CASE WHEN side = 0 THEN rv END IGNORE NULLS)
        |      OVER w_prev AS pv,
        |    first_value(CASE WHEN side = 0 THEN CAST(ts_s AS DOUBLE) END
        |      IGNORE NULLS) OVER w_next AS nts,
        |    first_value(CASE WHEN side = 0 THEN rv END IGNORE NULLS)
        |      OVER w_next AS nv
        |  FROM u
        |  WINDOW
        |    w_prev AS (PARTITION BY user_id ORDER BY ts_s ASC, side ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_next AS (PARTITION BY user_id ORDER BY ts_s ASC, side ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, ts_s,
        |  round(CASE WHEN pts IS NOT NULL AND nts IS NOT NULL
        |      THEN pv + (nv - pv) * (CAST(ts_s AS DOUBLE) - pts)
        |        / (nts - pts)
        |    WHEN pts IS NOT NULL THEN pv
        |    WHEN nts IS NOT NULL THEN nv END, 6) AS interp
        |FROM f WHERE side = 1""".stripMargin,

    // q251: identical dx*dx + dy*dy operand order as the Spark side; the
    // sqrt(pow..) form appears only inside the 0.005-deg comparison
    "q251_euclidean_steps" -> (s"WITH ${Tables.pingsSql},\n" +
      """steps AS (
        |  SELECT uid,
        |    latitude - lag(latitude) OVER w AS dx,
        |    longitude - lag(longitude) OVER w AS dy,
        |    lag(latitude) OVER w AS plat
        |  FROM pings
        |  WINDOW w AS (PARTITION BY uid ORDER BY "timestamp", event_id)),
        |d AS (
        |  SELECT uid,
        |    CAST(round((dx * dx + dy * dy) * 1e14, 0) AS BIGINT) AS d2,
        |    CASE WHEN sqrt(pow(dx, 2) + pow(dy, 2)) <= 0.005
        |      THEN 1 ELSE 0 END AS near
        |  FROM steps WHERE plat IS NOT NULL)
        |SELECT uid, CAST(count(*) AS BIGINT) AS n_steps,
        |  CAST(sum(near) AS BIGINT) AS n_near,
        |  CAST(sum(d2) AS BIGINT) AS sum_d2_e14,
        |  CAST(max(d2) AS BIGINT) AS max_d2_e14
        |FROM d GROUP BY uid""".stripMargin),
  )
}
