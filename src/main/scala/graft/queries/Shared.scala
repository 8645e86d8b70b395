package graft.queries

import graft.{CacheScope, Graft, Tables}
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, HomeWork, Intervals, Multimodal, Similarity, StopClusters, StopDetect}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Common trait of the per-domain registry slices merged by
  * [[graft.SparkEntry]].
  */
private[graft] trait QuerySlice {
  def defs: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** Shared parameters, staged fixtures and oracle CTE fragments used
  * across the graft.queries.* slices — the former SparkEntry privates,
  * moved verbatim (visibility widened to private[graft]).
  */
private[graft] object Shared {

  // Stop-detection parameters tuned for the synthetic pings view (Tables
  // .pings): dwell sites ~8 consecutive pings, inter-ping gaps are hours.
  private[graft] val stopParams = StopDetect.Params(
    rC = 100.0, minSize = 3L, minStayingTime = 3600L,
    maxStayingTime = 7 * 86400L, metric = "haversine")

  private[graft] val clusterParams = StopClusters.Params(
    eps = 100.0, minSamples = 2, metric = "haversine")

  // Production-config home/work params (reference
  // get_stops_and_clusters.py:118-128), Mexico City tz (fixed UTC-6 since
  // 2022 — the oracle uses offset arithmetic).
  private[graft] val hwParams = HomeWork.Params(
    startHourDay = 7, endHourDay = 21,
    startWorkingHour = 8, endWorkingHour = 18,
    minPeriodsHome = 0.08, spanPeriodHome = 0.08,
    minPeriodsWork = 0.05, spanPeriodWork = 0.05,
    // None = the reference's default path (utils.py:434-454): the span is
    // floor((max-min start_timestamp)/1d)+1 computed over each candidate
    // frame as a scalar subquery — the gated q17/q18 exercise J5 (the
    // reference's scalar cross join) + F9 (day span +1) end-to-end
    totalDays = None, convertTz = true, tz = "America/Mexico_City")

  /** Day-partitioned hive copy of `events` (UTC day key), staged once per
    * sf dir — shared by the K2/S2 roundtrip gate (q96) and the per-day
    * driver gate (q108).
    */
  private[graft] def stagedDailyEvents(s: SparkSession, d: String): String =
    graft.sources.Staging.once(s"dailyevents:$d") { out =>
      graft.sources.Ingest.writePartitioned(
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"),
            expr("ts div 1000000000").as("ts_s"))
          .withColumn("date_trunc",
            date_format(timestamp_seconds(col("ts_s")), "yyyy-MM-dd")),
        out)
    }

  /** q139/q144's shared SCD2 dimension: each user's daily activity tier
    * (>=6 high / >=3 mid / else low) versioned by [[graft.operators
    * .MergeOps.scd2]]. One definition so the point-in-time join always
    * joins exactly what the SCD2 gate verifies.
    */
  private[graft] def userTierScd2(s: SparkSession, d: String): DataFrame =
    graft.operators.MergeOps.scd2(
      Tables.events(s, d)
        .select(col("user_id"),
          expr("ts div 86400000000000").as("day"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"))
        .withColumn("tier",
          when(col("n") >= 6, "high")
            .when(col("n") >= 3, "mid").otherwise("low"))
        .drop("n"),
      Seq("user_id"), "day", Seq("tier"))

  private[graft] def stopClusters(s: SparkSession, d: String): DataFrame =
    StopClusters.cluster(
      StopDetect.eventMedians(
        StopDetect.stopEvents(Tables.pings(s, d), stopParams)),
      clusterParams)

  /** doc_id + distinct word-bigram shingles, xxhash64'd to longs: same
    * jaccard value (64-bit collision odds ~1e-15/pair) at a fraction of
    * the intersect/serialize cost of string arrays. Shared by q23/q47/
    * q56/q69. Fused single-pass expression — the composed
    * transform/array_distinct column walks the array through interpreted
    * lambdas twice per row (parity spec: WordShingleHashesSpec).
    */
  private[graft] def bigramHashShingles(s: SparkSession, d: String): DataFrame =
    graft.operators.Spread.spreadIfNarrow(
        Tables.documents(s, d).select("doc_id", "text"), col("doc_id"))
      .select(col("doc_id").as("id"),
        graft.plans.WordShingleHashes(split(col("text"), " "), 2)
          .as("shingles"))

  /** The q47/q56/q87 near-dup component pipeline — ONE definition, because
    * all three oracles share ccReachCtes: a threshold or anchor-count
    * tuned in one copy but not another would silently diverge a query
    * from its own oracle.
    */
  private[graft] def nearDupComponents(s: SparkSession, d: String): DataFrame = {
    val sh = bigramHashShingles(s, d)
    val pairs = Dedup.jaccardToAnchors(sh, sh.orderBy("id").limit(50))
      .filter(col("jaccard") >= 0.05)
      .select("id_a", "id_b")
    graft.operators.Graphs.connectedComponents(pairs, "id_a", "id_b",
      Tables.documents(s, d).select("doc_id"), "doc_id")
  }



  /** Shared oracle CTEs for q47/q56: bigram-jaccard anchor pairs then the
    * recursive reachability closure. sh/pairs must be MATERIALIZED —
    * DuckDB inlines CTEs by default, and `pairs` is referenced twice
    * (56 s inlined vs 1.4 s materialized at sf0.01, identical result).
    */
  private[graft] val ccReachCtes: String =
    """WITH RECURSIVE sh AS MATERIALIZED (
      |  SELECT doc_id AS id, list_distinct(list_transform(
      |    range(1, len(string_split(text, ' '))),
      |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
      |  )) AS bg FROM documents),
      |pairs AS MATERIALIZED (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM (SELECT * FROM sh ORDER BY id LIMIT 50) a
      |  JOIN sh b ON a.id < b.id
      |  WHERE CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
      |      / len(list_distinct(a.bg || b.bg)) >= 0.05),
      |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |      UNION SELECT id_b AS src, id_a AS dst FROM pairs),
      |reach AS (
      |  SELECT doc_id AS id, doc_id AS r FROM documents
      |  UNION
      |  SELECT e.dst AS id, reach.r AS r
      |  FROM e JOIN reach ON e.src = reach.id)""".stripMargin

  /** q29 oracle: the minhash-LSH candidate pipeline re-expressed in DuckDB
    * SQL. Cross-engine reproducible because (a) the base hash is the
    * md5-derived [[graft.functions.TextFunctions.portableHash32]] and (b)
    * band buckets key on the band VALUE tuple, not an engine-specific
    * hash. Parameters mirror the q29 call exactly: 3-gram shingles, k=32
    * permutations, 8 bands of 4 rows, bucket cap 64.
    */
  /** Deterministic synthetic URL per doc id (shared by q183/q206):
    * every canonicalization rule is exercised — mixed-case scheme/host,
    * default ports, doubled trailing slashes, tracking params,
    * fragments — and every branch derives from the same md5 hash, so
    * the oracle reproduces each byte.
    */
  private[graft] def synthUrlFrame(ids: org.apache.spark.sql.DataFrame,
                            siteMod: Long = 5, pathMod: Long = 10,
                            idMod: Long = 10)
  : org.apache.spark.sql.DataFrame = {
    val withH = ids
      .withColumn("__h", graft.functions.TextFunctions.portableHash32(
        concat(lit("url"), col("doc_id").cast("string"))))
    val h = col("__h")
    val idp = pmod(col("doc_id"), lit(idMod)).cast("string")
    val qcase = expr("(__h div 16) % 4")
    val url = concat(
      when(h % 2 === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(expr("(__h div 2) % 2") === 0, lit("www.Site"))
        .otherwise(lit("WWW.site")),
      pmod(h, lit(siteMod)).cast("string"), lit(".Com"),
      when(h % 2 === 0 && expr("(__h div 4) % 3") === 0, lit(":80"))
        .when(h % 2 === 1 && expr("(__h div 4) % 3") === 1, lit(":443"))
        .otherwise(lit("")),
      lit("/Docs/"), pmod(col("doc_id"), lit(pathMod)).cast("string"),
      when(expr("(__h div 8) % 3") === 0, lit("/"))
        .when(expr("(__h div 8) % 3") === 1, lit("//"))
        .otherwise(lit("")),
      when(qcase === 0, concat(lit("?utm_source=feed&id="), idp))
        .when(qcase === 1, concat(lit("?id="), idp, lit("&ref=tw")))
        .when(qcase === 2, lit("?utm_campaign=x"))
        .otherwise(lit("")),
      when(expr("(__h div 64) % 2") === 0,
        concat(lit("#sec"), pmod(h, lit(3L)).cast("string")))
        .otherwise(lit("")))
    withH.withColumn("url", url).drop("__h")
  }

  /** The u/raw/c oracle CTEs for [[synthUrlFrame]]'s synthesis +
    * canonicalization, parameterized over the doc-id source relation
    * (q183 runs it on `documents`, q206 on the dup-injected union).
    */
  private[graft] def sqlUrlCanonCtes(src: String, siteMod: Long = 5,
                              pathMod: Long = 10, idMod: Long = 10)
  : String =
    s"""u AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5('url' || CAST(doc_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) AS h
       |  FROM $src),
       |raw AS (
       |  SELECT doc_id,
       |    (CASE WHEN h % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://'
       |    || (CASE WHEN (h // 2) % 2 = 0 THEN 'www.Site'
       |        ELSE 'WWW.site' END)
       |    || CAST(h % $siteMod AS VARCHAR) || '.Com'
       |    || (CASE WHEN h % 2 = 0 AND (h // 4) % 3 = 0 THEN ':80'
       |        WHEN h % 2 = 1 AND (h // 4) % 3 = 1 THEN ':443'
       |        ELSE '' END)
       |    || '/Docs/' || CAST(doc_id % $pathMod AS VARCHAR)
       |    || (CASE WHEN (h // 8) % 3 = 0 THEN '/'
       |        WHEN (h // 8) % 3 = 1 THEN '//' ELSE '' END)
       |    || (CASE WHEN (h // 16) % 4 = 0
       |          THEN '?utm_source=feed&id=' || CAST(doc_id % $idMod AS VARCHAR)
       |        WHEN (h // 16) % 4 = 1
       |          THEN '?id=' || CAST(doc_id % $idMod AS VARCHAR) || '&ref=tw'
       |        WHEN (h // 16) % 4 = 2 THEN '?utm_campaign=x'
       |        ELSE '' END)
       |    || (CASE WHEN (h // 64) % 2 = 0
       |          THEN '#sec' || CAST(h % 3 AS VARCHAR) ELSE '' END) AS url
       |  FROM u),
       |c AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) || '://'
       |    || regexp_replace(lower(regexp_extract(url,
       |         '^[A-Za-z]+://([^/?#]*)', 1)), ':(80|443)$$', '')
       |    || regexp_replace(regexp_extract(url,
       |         '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/+$$', '')
       |    || (CASE WHEN regexp_extract(regexp_extract(url, '\\?([^#]*)', 1),
       |           '(^|&)id=([^&]*)', 2) <> ''
       |         THEN '?id=' || regexp_extract(regexp_extract(url,
       |           '\\?([^#]*)', 1), '(^|&)id=([^&]*)', 2)
       |         ELSE '' END) AS canonical_url
       |  FROM raw)"""

  /** The q123 funnel stage CTEs (e/f0/f1/f2) — shared with q218's
    * conversion-latency percentiles. No leading pipe on the first line
    * and no own stripMargin (the q183/q206 double-strip trap).
    */
  private[graft] val sqlFunnelCtes: String =
    """e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |f0 AS (SELECT user_id, min(ts_us) AS t0 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |f1 AS (SELECT e.user_id, f0.t0, min(e.ts_us) AS t1
      |       FROM e JOIN f0 USING (user_id)
      |       WHERE e.event_type = 'click' AND e.ts_us > f0.t0
      |         AND e.ts_us <= f0.t0 + 86400000000
      |       GROUP BY e.user_id, f0.t0),
      |f2 AS (SELECT e.user_id, min(e.ts_us) AS t2
      |       FROM e JOIN f1 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND e.ts_us > f1.t1
      |         AND e.ts_us <= f1.t0 + 86400000000
      |       GROUP BY e.user_id)"""

  /** q126 oracle: exact trigram-Jaccard self-join, every candidate pair
    * verified via the element equi-join intersection (no prefix filter —
    * the operator's pruning must be lossless against this). Shared with
    * q190's evaluation gate as its exact ground truth.
    */
  private[graft] val sqlQ126SetSim: String =
    """WITH toks AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |el AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS e
      |  FROM toks),
      |sz AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n FROM el GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |  FROM el a JOIN el b ON a.e = b.e AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT i.id_a, i.id_b,
      |  round(CAST(i.c AS DOUBLE) / (sa.n + sb.n - i.c), 6) AS jaccard
      |FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
      |JOIN sz sb ON sb.doc_id = i.id_b
      |WHERE i.c * 2 >= 1 * (sa.n + sb.n - i.c)""".stripMargin

  private[graft] val sqlQ29Minhash: String = {
    val k = 32; val bands = 8; val rows = k / bands; val maxBucket = 64
    val p = 2147483647L
    val mins = (0 until k).map { i =>
      val a = 1L + 2L * i
      val b = 12582917L * (i + 1)
      s"    min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n")
    val bandSelects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"m${b * rows + r}")
      if (b == 0)
        "  SELECT doc_id, 0 AS band, " +
          cols.zipWithIndex.map { case (c, j) => s"$c AS x$j" }
            .mkString(", ") + " FROM sig"
      else s"  UNION ALL SELECT doc_id, $b, " + cols.mkString(", ") + " FROM sig"
    }.mkString("\n")
    val xEq = (0 until rows).map(j => s"a.x$j = b.x$j").mkString(" AND ")
    val sEq = (0 until rows).map(j => s"s.x$j = a.x$j").mkString(" AND ")
    val xCols = (0 until rows).map(j => s"x$j").mkString(", ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8) AS BIGINT) AS h
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |banded AS MATERIALIZED (
       |$bandSelects),
       |sized AS (SELECT band, $xCols, count(*) AS n FROM banded GROUP BY ALL)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM banded a
       |JOIN banded b ON a.band = b.band AND $xEq AND a.doc_id < b.doc_id
       |JOIN sized s ON s.band = a.band AND $sEq
       |WHERE s.n <= $maxBucket""".stripMargin
  }

  /** q83 oracle: the cross-batch minhash near-dup gate in DuckDB SQL —
    * the q29 signature/banding CTEs computed once over all documents,
    * split into history (doc_id % 3 <> 0) and incoming (= 0) sides,
    * bucket cap applied to the HISTORY side only (mirroring the
    * operator's index-side cap), full-signature agreement count, then
    * the smallest qualifying historical id per incoming doc.
    */
  /** q94 oracle: the md5-portable signature pipeline's BAND-COLLISION
    * pairs between the 1/30 incoming slice and the %3!=0 history — the
    * q83 candidate structure without the hot-bucket cap or the
    * agree_k verification (the stream gate is the early filter in front
    * of both).
    */
  private[graft] val sqlQ94StreamGate: String = {
    val k = 32; val bands = 8; val rows = k / bands
    val p = 2147483647L
    val mins = (0 until k).map { i =>
      val a = 1L + 2L * i
      val b = 12582917L * (i + 1)
      s"    min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n")
    def bandSelects(src: String) = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"m${b * rows + r}")
      if (b == 0)
        s"  SELECT doc_id, 0 AS band, " +
          cols.zipWithIndex.map { case (c, j) => s"$c AS x$j" }
            .mkString(", ") + s" FROM $src"
      else s"  UNION ALL SELECT doc_id, $b, " + cols.mkString(", ") +
        s" FROM $src"
    }.mkString("\n")
    val xEq = (0 until rows).map(j => s"i.x$j = h.x$j").mkString(" AND ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8) AS BIGINT) AS h
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |hsig AS MATERIALIZED (SELECT * FROM sig WHERE doc_id % 3 <> 0),
       |isig AS MATERIALIZED (SELECT * FROM sig WHERE doc_id % 30 = 0),
       |hband AS MATERIALIZED (
       |${bandSelects("hsig")}),
       |iband AS MATERIALIZED (
       |${bandSelects("isig")})
       |SELECT DISTINCT i.doc_id AS in_id, h.doc_id AS hist_id
       |FROM iband i
       |JOIN hband h ON i.band = h.band AND $xEq""".stripMargin
  }

  private[graft] val sqlQ83Incremental: String = {
    val k = 32; val bands = 8; val rows = k / bands; val maxBucket = 64
    val minAgreeK = 16
    val p = 2147483647L
    val mins = (0 until k).map { i =>
      val a = 1L + 2L * i
      val b = 12582917L * (i + 1)
      s"    min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n")
    def bandSelects(src: String) = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"m${b * rows + r}")
      if (b == 0)
        s"  SELECT doc_id, 0 AS band, " +
          cols.zipWithIndex.map { case (c, j) => s"$c AS x$j" }
            .mkString(", ") + s" FROM $src"
      else s"  UNION ALL SELECT doc_id, $b, " + cols.mkString(", ") +
        s" FROM $src"
    }.mkString("\n")
    val xEq = (0 until rows).map(j => s"i.x$j = h.x$j").mkString(" AND ")
    val sEq = (0 until rows).map(j => s"s.x$j = h.x$j").mkString(" AND ")
    val xCols = (0 until rows).map(j => s"x$j").mkString(", ")
    val agree = (0 until k).map(i =>
      s"(CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id, CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8) AS BIGINT) AS h
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$mins
       |  FROM sh GROUP BY doc_id),
       |hsig AS MATERIALIZED (SELECT * FROM sig WHERE doc_id % 3 <> 0),
       |isig AS MATERIALIZED (SELECT * FROM sig WHERE doc_id % 3 = 0),
       |hband AS MATERIALIZED (
       |${bandSelects("hsig")}),
       |iband AS MATERIALIZED (
       |${bandSelects("isig")}),
       |hsized AS (SELECT band, $xCols, count(*) AS n
       |  FROM hband GROUP BY ALL),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS in_id, h.doc_id AS hist_id
       |  FROM iband i
       |  JOIN hband h ON i.band = h.band AND $xEq
       |  JOIN hsized s ON s.band = h.band AND $sEq
       |  WHERE s.n <= $maxBucket)
       |SELECT c.in_id, c.hist_id, CAST($agree AS BIGINT) AS agree_k
       |FROM cand c
       |JOIN isig a ON a.doc_id = c.in_id
       |JOIN hsig b ON b.doc_id = c.hist_id
       |WHERE $agree >= $minAgreeK
       |QUALIFY row_number() OVER (PARTITION BY c.in_id
       |  ORDER BY c.hist_id) = 1""".stripMargin
  }

  /** q86 oracle: DuckDB's native ASOF join with the staleness bound
    * applied as a projection (matches further back than the tolerance
    * null out, exactly like the operator's windowed form).
    */
  private[graft] val sqlQ86AsofTolerance: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    event_type, value FROM events),
      |p AS (SELECT user_id AS p_uid, ts_us AS pts, value AS pval
      |  FROM e WHERE event_type = 'purchase')
      |SELECT e.user_id, e.event_id,
      |  CASE WHEN e.ts_us - p.pts <= 3600000000 THEN p.pts END
      |    AS purchase_ts,
      |  CASE WHEN e.ts_us - p.pts <= 3600000000 THEN p.pval END
      |    AS purchase_value
      |FROM e ASOF LEFT JOIN p
      |  ON e.user_id = p.p_uid AND e.ts_us >= p.pts""".stripMargin

  /** q30 oracle: per-doc simhash signatures as two unsigned 32-bit halves.
    * Same portable-md5 shingle hash and bit-vote tallies as sqlQ57Simhash;
    * the halves stay in non-negative BIGINT, sidestepping the signed-64
    * packing DuckDB's overflow-checked arithmetic rejects.
    */
  private[graft] val sqlQ30Simhash: String = {
    val tallies = (0 until 64).map { j =>
      val half = if (j < 32) "lo" else "hi"
      val shift = j % 32
      s"    sum(CASE WHEN $half IS NULL THEN 0 WHEN (($half >> $shift) & 1) = 1" +
        s" THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n")
    def packed(lo: Int): String = (0 until 32).map { j =>
      s"(CASE WHEN v${lo + j} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8) AS BIGINT) AS hi,
       |    CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 9, 8) AS BIGINT) AS lo
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
       |  UNION ALL
       |  SELECT doc_id, NULL, NULL FROM toks WHERE t IS NULL OR len(t) < 3),
       |v AS MATERIALIZED (
       |  SELECT doc_id,
       |$tallies
       |  FROM sh GROUP BY doc_id)
       |SELECT doc_id,
       |  CAST(${packed(32)} AS BIGINT) AS sh_hi,
       |  CAST(${packed(0)} AS BIGINT) AS sh_lo
       |FROM v""".stripMargin
  }

  /** q32 oracle: the LSH-bucketed ANN in DuckDB SQL. Bucket bits come from
    * the portable md5 plane table (graft.plans.LshPlanes: u = md5_32 of
    * "seed:bit:pos" / 2^31 − 1 — exact double ops), and the projection is
    * a `list_reduce` sequential fold, matching the fused codegen loop's
    * element-order accumulation bit for bit. Multi-probe radius 1 at
    * bits=4 = XOR masks {0,1,2,4,8}; cosine + rank as in the q24 oracle.
    * The hot-bucket cap (2^20) cannot fire at gate scale and is omitted.
    */
  private[graft] val sqlQ32LshTopK: String = {
    val bits = 4; val seed = 42L
    def proj(i: Int) =
      s"""      list_reduce(list_transform(range(len(embedding)), pos ->
         |        CAST(embedding[pos + 1] AS DOUBLE) *
         |        (CAST(('0x' || substr(md5('$seed:$i:' || pos), 1, 8)) AS BIGINT)
         |          / 2147483648.0 - 1.0)), (a, b) -> a + b) AS p$i""".stripMargin
    val projs = (0 until bits).map(proj).mkString(",\n")
    val pack = (0 until bits)
      .map(i => s"(CASE WHEN p$i >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    val masks = (Seq(0L) ++ (0 until bits).map(1L << _)).mkString(", ")
    s"""WITH buck AS MATERIALIZED (
       |  SELECT vec_id, embedding, $pack AS bucket FROM (
       |    SELECT vec_id, embedding,
       |$projs
       |    FROM embeddings)),
       |qprobe AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb,
       |    xor(bucket, m) AS bucket
       |  FROM buck, unnest([$masks]) AS t(m)
       |  WHERE vec_id < 5),
       |scored AS (
       |  SELECT DISTINCT q.query_id, c.vec_id,
       |    round(list_sum(list_transform(list_zip(c.embedding, q.q_emb),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(c.embedding,
       |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(q.q_emb,
       |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))), 6) AS sim
       |  FROM buck c JOIN qprobe q USING (bucket)),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** q40 oracle: seeded-quantizer IVF in DuckDB SQL. Centroids = the 16
    * corpus vectors with smallest md5(vec_id) (cells numbered in that
    * order); assignment/probing rank round-6 cosine with ties to the
    * smallest cell, mirroring ivfTopKSeeded exactly.
    */
  private[graft] val sqlQ40IvfTopK: String = {
    val nlist = 16; val nprobe = 3
    def cos(a: String, b: String) =
      s"""round(list_sum(list_transform(list_zip($a, $b),
         |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform($a,
         |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b,
         |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))), 6)""".stripMargin
    s"""WITH cents AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) AS cell,
       |    embedding AS centroid
       |  FROM embeddings
       |  QUALIFY cell <= $nlist),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC,
       |          c.cell ASC) AS arank
       |    FROM embeddings e, cents c)
       |  WHERE arank = 1),
       |qcells AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC,
       |          c.cell ASC) AS crank
       |    FROM embeddings e, cents c
       |    WHERE e.vec_id < 5)
       |  WHERE crank <= $nprobe),
       |scored AS (
       |  SELECT q.query_id, a.vec_id,
       |    ${cos("a.embedding", "q.q_emb")} AS sim
       |  FROM assigned a JOIN qcells q USING (cell)),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** q109 oracle: Graphs.pageRank's fixed-iteration power method unrolled
    * as 10 chained MATERIALIZED CTEs (DuckDB inlines CTEs by default; the
    * symmetric edge list and degree table are referenced every round).
    * The damping constants are emitted as exact double literals so both
    * engines evaluate the identical IEEE expression; the per-node
    * contribution sums are the one place summation order differs, hence
    * the round-6 on both sides.
    */
  private[graft] val sqlQ109PageRank: String = {
    val iters = 10; val damping = 0.85
    val baseLit = (1.0 - damping).toString
    val prs = (1 to iters).map { i =>
      s"""pr$i AS MATERIALIZED (
         |  SELECT g.id,
         |    (SELECT CAST($baseLit AS DOUBLE) / n FROM nn)
         |      + CAST($damping AS DOUBLE) * s.s AS rank
         |  FROM deg g JOIN (
         |    SELECT sym.dst AS id, sum(p.rank / dg.deg) AS s
         |    FROM sym JOIN pr${i - 1} p ON sym.src = p.id
         |    JOIN deg dg ON dg.id = p.id
         |    GROUP BY sym.dst) s ON g.id = s.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey % 997 AS src,
       |    1000 + l_partkey % 997 AS dst
       |  FROM lineitem),
       |sym AS MATERIALIZED (
       |  SELECT src, dst FROM e0 WHERE src <> dst
       |  UNION SELECT dst, src FROM e0 WHERE src <> dst),
       |deg AS MATERIALIZED (
       |  SELECT src AS id, count(*) AS deg FROM sym GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
       |$prs
       |SELECT id, round(rank, 6) AS rank FROM pr$iters""".stripMargin
  }

  /** q113 oracle: the full PQ/ADC pipeline in DuckDB — hash-ordered
    * codebook (the q40 seeded-quantizer trick), per-subspace slices,
    * round-6 argmin encoding with ties to the smallest code, lookup-table
    * scoring, rank with ties to vec_id. Per-row sub-distances are
    * bit-exact across engines (sequential fold both sides); only the
    * 8-term ADC sum needs the round-6.
    */
  private[graft] val sqlQ113PqAnn: String = {
    val m = 8; val sd = 8; val codes = 16; val k = 10
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    s"""WITH cbb AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) AS code,
       |    embedding
       |  FROM embeddings
       |  QUALIFY code <= $codes),
       |subs AS (SELECT unnest(range(0, $m)) AS sub),
       |cb AS MATERIALIZED (
       |  SELECT code, sub, embedding[sub*$sd+1 : sub*$sd+$sd] AS cvec
       |  FROM cbb, subs),
       |corp AS MATERIALIZED (
       |  SELECT vec_id, sub, embedding[sub*$sd+1 : sub*$sd+$sd] AS svec
       |  FROM embeddings, subs),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT c.vec_id, c.sub, b.code,
       |      row_number() OVER (PARTITION BY c.vec_id, c.sub
       |        ORDER BY round(${l2("c.svec", "b.cvec")}, 6) ASC,
       |          b.code ASC) AS rn
       |    FROM corp c JOIN cb b USING (sub))
       |  WHERE rn = 1),
       |qt AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, q.sub, b.code,
       |    round(${l2("q.svec", "b.cvec")}, 6) AS qdist
       |  FROM corp q JOIN cb b USING (sub)
       |  WHERE q.vec_id < 5),
       |adc AS (
       |  SELECT q.query_id, e.vec_id, round(sum(q.qdist), 6) AS adist
       |  FROM enc e JOIN qt q ON q.sub = e.sub AND q.code = e.code
       |  GROUP BY q.query_id, e.vec_id)
       |SELECT query_id, vec_id, adist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS INT) AS rank FROM adc)
       |WHERE rank <= $k""".stripMargin
  }

  /** q119 oracle: the IVF-PQ index build + query path in DuckDB — q40's
    * seeded coarse quantizer (cells, round-6 cosine assignment, ties to
    * the smallest cell) composed with q113's PQ machinery (codebook,
    * round-6 L2 argmin encoding, ADC tables), pruned to each query's
    * nprobe cells.
    */
  private[graft] val sqlQ119IvfPq: String = {
    val nlist = 16; val nprobe = 4; val m = 8; val sd = 8
    val codes = 16; val k = 10
    def l2(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))""".stripMargin
    def cos(a: String, b: String) =
      s"""round(list_sum(list_transform(list_zip($a, $b),
         |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |      / (sqrt(list_sum(list_transform($a,
         |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
         |       * sqrt(list_sum(list_transform($b,
         |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))), 6)""".stripMargin
    val sl = s"e.embedding[s.sub*$sd+1 : s.sub*$sd+$sd]"
    val sla = s"a.embedding[s.sub*$sd+1 : s.sub*$sd+$sd]"
    s"""WITH cents AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) AS cell,
       |    embedding AS centroid
       |  FROM embeddings QUALIFY cell <= $nlist),
       |cbb AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
       |      vec_id) AS code,
       |    embedding
       |  FROM embeddings QUALIFY code <= $codes),
       |subs AS (SELECT unnest(range(0, $m)) AS sub),
       |cb AS MATERIALIZED (
       |  SELECT code, sub, embedding[sub*$sd+1 : sub*$sd+$sd] AS cvec
       |  FROM cbb, subs),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC,
       |          c.cell ASC) AS arank
       |    FROM embeddings e, cents c)
       |  WHERE arank = 1),
       |enc AS MATERIALIZED (
       |  SELECT vec_id, cell, sub, code FROM (
       |    SELECT a.vec_id, a.cell, s.sub, b.code,
       |      row_number() OVER (PARTITION BY a.vec_id, s.sub
       |        ORDER BY round(${l2(sla, "b.cvec")}, 6) ASC,
       |          b.code ASC) AS rn
       |    FROM assigned a, subs s JOIN cb b ON b.sub = s.sub)
       |  WHERE rn = 1),
       |qcells AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "c.centroid")} DESC,
       |          c.cell ASC) AS crank
       |    FROM embeddings e, cents c WHERE e.vec_id < 5)
       |  WHERE crank <= $nprobe),
       |qt AS MATERIALIZED (
       |  SELECT e.vec_id AS query_id, s.sub, b.code,
       |    round(${l2(sl, "b.cvec")}, 6) AS qdist
       |  FROM embeddings e, subs s JOIN cb b ON b.sub = s.sub
       |  WHERE e.vec_id < 5),
       |adc AS (
       |  SELECT q.query_id, e.vec_id, round(sum(t.qdist), 6) AS adist
       |  FROM enc e JOIN qcells q ON q.cell = e.cell
       |  JOIN qt t ON t.query_id = q.query_id AND t.sub = e.sub
       |    AND t.code = e.code
       |  GROUP BY q.query_id, e.vec_id)
       |SELECT query_id, vec_id, adist, rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY adist ASC, vec_id ASC) AS INT) AS rank FROM adc)
       |WHERE rank <= $k""".stripMargin
  }

  /** q145 oracle: the integer-exact Lloyd trajectory unrolled as
    * materialized CTEs — same quantization, same hash-ordered seed, same
    * (dist, j) argmin tie-break, same round-half-up integer mean
    * ((2s+n)//(2n) on non-negative sums), same keep-previous rule for
    * empty centroids. Exact integer arithmetic end to end, so the final
    * assignment AND distances hash-match bit-for-bit.
    */
  private[graft] val sqlQ145KMeans: String =
    s"""WITH ${kmeansCtes(8, 4)}
       |SELECT vec_id, j AS cluster, CAST(fdist AS BIGINT) AS dist
       |FROM fin WHERE rn = 1""".stripMargin

  /** Shared q164/q165 CTEs: the synthetic image's channel formulas
    * (Multimodal.synthImages) fed through the 8×8 aHash — sample grid
    * (x·w div 8, y·h div 8), integer ITU-601 luma, strict-mean bits,
    * bits packed into two BIGINT halves (bit p of a half contributes
    * 2^p with p <= 31 — no sign-bit arithmetic anywhere).
    */
  private[graft] val sqlPhashCtes: String =
    """WITH dims AS (
      |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, p,
      |    (doc_id + 3 * (((p % 8) * w) // 8)
      |      + 7 * (((p // 8) * h) // 8)) % 256 AS r,
      |    (2 * doc_id + 5 * (((p % 8) * w) // 8)
      |      + (((p // 8) * h) // 8)) % 256 AS g,
      |    (3 * doc_id + (((p % 8) * w) // 8)
      |      + 2 * (((p // 8) * h) // 8)) % 256 AS b
      |  FROM dims, unnest(range(64)) AS t(p)),
      |lum AS (
      |  SELECT doc_id, p, 299 * r + 587 * g + 114 * b AS l FROM px),
      |tot AS (
      |  SELECT doc_id, CAST(sum(l) AS BIGINT) AS s FROM lum GROUP BY 1),
      |bits AS (
      |  SELECT l.doc_id, l.p,
      |    CASE WHEN l.l * 64 > t.s THEN 1 ELSE 0 END AS bit
      |  FROM lum l JOIN tot t USING (doc_id)),
      |hh AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN p >= 32
      |      THEN bit * (CAST(2 AS BIGINT) ^ CAST(p - 32 AS BIGINT))
      |      ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN p < 32
      |      THEN bit * (CAST(2 AS BIGINT) ^ CAST(p AS BIGINT))
      |      ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Shared k-means trajectory CTEs (through `fin`) for the q145 and
    * q154 oracles — one source of truth for the unrolled Lloyd rounds.
    */
  private[graft] def kmeansCtes(k: Int, rounds: Int): String = {
    def dist(a: String, b: String) =
      s"""list_sum(list_transform(list_zip($a, $b),
         |        x -> (x[1]-x[2])*(x[1]-x[2])))""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""q AS MATERIALIZED (
         |  SELECT vec_id, list_transform(embedding,
         |    x -> CAST(round((CAST(x AS DOUBLE) + 1) * 10000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
         |      vec_id) AS j, qv AS cv
         |  FROM q QUALIFY j <= $k),
         |""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(
        s"""a$r AS MATERIALIZED (
           |  SELECT vec_id, qv, j FROM (
           |    SELECT q.vec_id, q.qv, c.j,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${dist("q.qv", "c.cv")} ASC, c.j ASC) AS rn
           |    FROM q, c$p c) WHERE rn = 1),
           |m$r AS (
           |  SELECT j, list(CAST((2*s + n)//(2*n) AS BIGINT) ORDER BY d) AS cv
           |  FROM (
           |    SELECT j, d, sum(e) AS s, count(*) AS n FROM (
           |      SELECT j, generate_subscripts(qv, 1) AS d, unnest(qv) AS e
           |      FROM a$r) GROUP BY j, d)
           |  GROUP BY j),
           |c$r AS MATERIALIZED (
           |  SELECT pc.j, coalesce(mv.cv, pc.cv) AS cv
           |  FROM c$p pc LEFT JOIN m$r mv ON mv.j = pc.j),
           |""".stripMargin)
    }
    sb.append(
      s"""fin AS (
         |  SELECT q.vec_id, c.j,
         |    ${dist("q.qv", "c.cv")} AS fdist,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dist("q.qv", "c.cv")} ASC, c.j ASC) AS rn
         |  FROM q, c$rounds c)""".stripMargin)
    sb.toString
  }

  /** q154 oracle: the q145 trajectory's final assignment, then the
    * intra-cluster integer-cosine prune — same signed quantization
    * (positive-domain round, then unshift), same cross-multiplied
    * threshold in HUGEINT (tau = 2/5: 25·dot² >= 4·|a|²·|b|², dot > 0),
    * same smallest-id-wins drop rule.
    */
  private[graft] val sqlQ154SemDedup: String =
    s"""WITH ${kmeansCtes(8, 4)},
       |asg AS MATERIALIZED (
       |  SELECT vec_id, j AS cluster FROM fin WHERE rn = 1),
       |sv AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round((CAST(x AS DOUBLE) + 1) * 1000) - 1000
       |      AS BIGINT)) AS sv
       |  FROM embeddings),
       |sn AS MATERIALIZED (
       |  SELECT s.vec_id, a.cluster, s.sv,
       |    CAST(list_sum(list_transform(s.sv, x -> x * x)) AS BIGINT)
       |      AS n2
       |  FROM sv s JOIN asg a USING (vec_id)),
       |pr AS (
       |  SELECT b.vec_id AS bid, a.n2 AS na2, b.n2 AS nb2,
       |    CAST(list_sum(list_transform(list_zip(a.sv, b.sv),
       |      x -> x[1] * x[2])) AS BIGINT) AS dot
       |  FROM sn a JOIN sn b ON a.cluster = b.cluster
       |    AND a.vec_id < b.vec_id),
       |dups AS (
       |  SELECT DISTINCT bid FROM pr
       |  WHERE dot > 0 AND 25 * CAST(dot AS HUGEINT) * dot
       |    >= 4 * CAST(na2 AS HUGEINT) * nb2)
       |SELECT a.vec_id, a.cluster, d.bid IS NULL AS kept
       |FROM asg a LEFT JOIN dups d ON d.bid = a.vec_id""".stripMargin

  /** q128 oracle: the k-core peel unrolled as materialized rounds.
    * Peeling converges in ~36 rounds on this graph at both scales; 48
    * rounds bound it with margin, and post-fixpoint rounds are the
    * identity. Every round CTE must be MATERIALIZED — each is referenced
    * twice (both endpoints), so inlining would double the plan per round.
    */
  private[graft] val sqlQ128KCore: String = {
    val k = 4; val rounds = 48
    val ctes = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT x.id FROM a${i - 1} x JOIN sym e ON e.u = x.id
         |  JOIN a${i - 1} y ON y.id = e.v
         |  GROUP BY x.id HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS (
       |  SELECT l_orderkey, l_partkey FROM lineitem
       |  WHERE l_quantity <= 10),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
       |    greatest(a.l_partkey, b.l_partkey) AS v
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
       |a0 AS MATERIALIZED (
       |  SELECT u AS id FROM und UNION SELECT v FROM und),
       |$ctes
       |SELECT x.id, count(*) AS core_deg
       |FROM a$rounds x JOIN sym e ON e.u = x.id
       |JOIN a$rounds y ON y.id = e.v GROUP BY x.id""".stripMargin
  }

  /** q31/q67 oracles: the synthetic-image pixel model of
    * Multimodal.synthImages in SQL — w = 4 + id%13, h = 3 + id%7,
    * channels integer functions of (id, x, y) — enumerated per pixel via
    * unnest(range(w*h)). Channel sums are exact integers in double, so
    * avg() reproduces the kernel's mean bit for bit; what the compare
    * actually pins is that the REAL PNG encode/decode round trip
    * preserved every pixel.
    */
  private[graft] val mediaPixelCtes: String =
    """dims AS (
      |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |    (doc_id + 3 * (p % w) + 7 * (p // w)) % 256 AS r,
      |    (2 * doc_id + 5 * (p % w) + (p // w)) % 256 AS g,
      |    (3 * doc_id + (p % w) + 2 * (p // w)) % 256 AS b
      |  FROM dims, unnest(range(w * h)) AS t(p)),
      |imgf AS (
      |  SELECT doc_id, w, h,
      |    avg(r) AS mean_r, avg(g) AS mean_g, avg(b) AS mean_b
      |  FROM px GROUP BY doc_id, w, h)""".stripMargin

  private[graft] val sqlQ31MediaFeatures: String =
    s"""WITH $mediaPixelCtes
       |SELECT doc_id AS media_id, 'image/png' AS kind,
       |  w AS width, h AS height, mean_r, mean_g, mean_b
       |FROM imgf""".stripMargin

  /** q91 oracle: the resampled thumbnail's pixels in closed form. Source
    * pixel of dst (x, y) is (x*w//8, y*h//6) — the same floor map
    * [[graft.operators.Multimodal.resizeImages]] computes — fed through
    * the q31 synthetic channel formulas; the mean over the 48 thumbnail
    * pixels is one exact integer sum divided once, same as the decoder.
    */
  private[graft] val sqlQ91MediaResize: String =
    """WITH dims AS (
      |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id,
      |    (doc_id + 3 * (((p % 8) * w) // 8) + 7 * (((p // 8) * h) // 6)) % 256 AS r,
      |    (2 * doc_id + 5 * (((p % 8) * w) // 8) + (((p // 8) * h) // 6)) % 256 AS g,
      |    (3 * doc_id + (((p % 8) * w) // 8) + 2 * (((p // 8) * h) // 6)) % 256 AS b
      |  FROM dims, unnest(range(48)) AS t(p))
      |SELECT doc_id AS media_id, 'image/png' AS kind,
      |  CAST(8 AS BIGINT) AS width, CAST(6 AS BIGINT) AS height,
      |  avg(r) AS mean_r, avg(g) AS mean_g, avg(b) AS mean_b
      |FROM px GROUP BY doc_id""".stripMargin

  private[graft] val sqlQ67MediaAnn: String =
    s"""WITH $mediaPixelCtes,
       |f AS (
       |  SELECT doc_id AS vec_id,
       |    [CAST(w AS REAL), CAST(h AS REAL), CAST(mean_r AS REAL),
       |     CAST(mean_g AS REAL), CAST(mean_b AS REAL),
       |     CAST(0 AS REAL), CAST(0 AS REAL), CAST(0 AS REAL)] AS embedding
       |  FROM imgf),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |  FROM f WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, f.vec_id,
       |    round(list_sum(list_transform(list_zip(f.embedding, q.q_emb),
       |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform(f.embedding,
       |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
       |       * sqrt(list_sum(list_transform(q.q_emb,
       |            y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))), 6) AS sim
       |  FROM f, q),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY sim DESC, vec_id ASC) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10""".stripMargin

  /** q64/q89 oracle: gap-islands sessionization. `> gap`, not `>= gap` —
    * Spark's session_window MERGES an event arriving exactly `gap` after
    * the previous one (touching windows coalesce; pinned empirically in
    * round 5). Shared by the batch (q64) and streaming (q89) forms, which
    * must agree exactly.
    */
  private[graft] val sqlQ64Sessions: String =
    """WITH base AS (
      |  SELECT user_id, epoch_us(ts) // 1000000 AS tsec FROM events),
      |x AS (
      |  SELECT user_id, tsec,
      |    CASE WHEN lag(tsec) OVER w IS NULL
      |      OR tsec - lag(tsec) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
      |  FROM base
      |  WINDOW w AS (PARTITION BY user_id ORDER BY tsec)),
      |y AS (
      |  SELECT user_id, tsec,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsec
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM x)
      |SELECT user_id, min(tsec) AS s_start, max(tsec) + 1800 AS s_end,
      |  count(*) AS n_events
      |FROM y GROUP BY user_id, sid""".stripMargin

  /** q57 oracle: the simhash banded near-dup pipeline in DuckDB SQL. The
    * portable 64-bit hash is handled as two 32-bit halves (hi = md5 hex
    * 1-8, lo = 9-16) so every intermediate stays in non-negative BIGINT —
    * DuckDB errors on signed overflow where the JVM wraps. Signature = 4
    * 16-bit band values; Hamming over the full 64 bits = sum of band-wise
    * bit_count(xor). Mirrors the q57 call: 3-gram shingles, 4 bands,
    * maxHamming 8, bucket cap 64.
    */
  private[graft] val sqlQ57Simhash: String = {
    val bands = 4; val width = 16; val maxBucket = 64; val maxHamming = 8
    val tallies = (0 until 64).map { j =>
      val half = if (j < 32) "lo" else "hi"
      val shift = j % 32
      s"    sum(CASE WHEN $half IS NULL THEN 0 WHEN (($half >> $shift) & 1) = 1" +
        s" THEN 1 ELSE -1 END) AS v$j"
    }.mkString(",\n")
    val bandVals = (0 until bands).map { b =>
      val terms = (0 until width).map { j =>
        s"(CASE WHEN v${b * width + j} > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
      s"    $terms AS s$b"
    }.mkString(",\n")
    val bandSelects = (0 until bands).map { b =>
      if (b == 0) "  SELECT doc_id, 0 AS band, s0 AS x FROM sig"
      else s"  UNION ALL SELECT doc_id, $b, s$b FROM sig"
    }.mkString("\n")
    val ham = (0 until bands).map(b => s"bit_count(xor(sa.s$b, sb.s$b))")
      .mkString(" + ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 1, 8) AS BIGINT) AS hi,
       |    CAST('0x' || substr(
       |      md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]), 9, 8) AS BIGINT) AS lo
       |  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
       |  UNION ALL
       |  SELECT doc_id, NULL, NULL FROM toks WHERE t IS NULL OR len(t) < 3),
       |v AS MATERIALIZED (
       |  SELECT doc_id,
       |$tallies
       |  FROM sh GROUP BY doc_id),
       |sig AS MATERIALIZED (
       |  SELECT doc_id,
       |$bandVals
       |  FROM v),
       |banded AS MATERIALIZED (
       |$bandSelects),
       |sized AS (SELECT band, x, count(*) AS n FROM banded GROUP BY ALL),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a
       |  JOIN banded b ON a.band = b.band AND a.x = b.x AND a.doc_id < b.doc_id
       |  JOIN sized s ON s.band = a.band AND s.x = a.x
       |  WHERE s.n <= $maxBucket)
       |SELECT id_a, id_b, hamming FROM (
       |  SELECT p.id_a, p.id_b, CAST($ham AS BIGINT) AS hamming
       |  FROM pairs p
       |  JOIN sig sa ON sa.doc_id = p.id_a
       |  JOIN sig sb ON sb.doc_id = p.id_b)
       |WHERE hamming <= $maxHamming""".stripMargin
  }

  private[graft] val sqlQ39: String =
    """SELECT n_name, count(*) AS n_customers,
      |  round(sum(c_acctbal), 2) AS total_bal
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin



  /** q84 oracle: the occupied-cell connectivity clustering in DuckDB —
    * identical integer cell packing, the same 4 canonical neighbor
    * probes as an equi-join, recursive min-label closure over the cell
    * graph (singleton cells seed themselves), then per-POI stop/user
    * counts.
    */
  private[graft] def sqlQ84GridPois: String =
    s"WITH RECURSIVE ${Tables.pingsSql},\n" + stopEventsSql + "," +
      """
        |medians AS (
        |  SELECT uid, stop_events, median(latitude) AS latitude,
        |    median(longitude) AS longitude
        |  FROM stop_events WHERE stop_events != -1
        |  GROUP BY uid, stop_events
        |),
        |pcell AS (
        |  SELECT uid,
        |    (CAST(floor(latitude / 0.001) AS BIGINT) + 1073741824)
        |      * 4294967296
        |    + (CAST(floor(longitude / 0.001) AS BIGINT) + 1073741824)
        |      AS cell
        |  FROM medians
        |),
        |cells AS (SELECT DISTINCT cell FROM pcell),
        |probes AS (
        |  SELECT cell AS src, cell + o AS dst
        |  FROM cells, (VALUES (1), (4294967296), (4294967297),
        |    (4294967295)) t(o)
        |),
        |edges AS (
        |  SELECT p.src AS i, p.dst AS j
        |  FROM probes p JOIN cells c ON c.cell = p.dst
        |),
        |sym AS (SELECT i, j FROM edges UNION ALL SELECT j, i FROM edges),
        |reach AS (
        |  SELECT cell AS i, cell AS r FROM cells
        |  UNION
        |  SELECT s.j, reach.r FROM sym s JOIN reach ON s.i = reach.i
        |),
        |comp AS (SELECT i AS cell, min(r) AS poi_id FROM reach GROUP BY i)
        |SELECT c.poi_id, count(*) AS n_stops,
        |  count(DISTINCT p.uid) AS n_users
        |FROM pcell p JOIN comp c ON p.cell = c.cell
        |GROUP BY 1""".stripMargin

  /** q78 oracle: the four curation stages chained as CTEs — the same
    * langid votes as q72, the q71 normalization key, the q75 gram-hash
    * halves, and the q76 seeded-hash cumsum (CAST per the q70 HUGEINT
    * lesson).
    */
  private[graft] val sqlQ78Curation: String = {
    val n = 5
    val gram = (1 to n).map(k => s"t[i + ${k - 1}]").mkString(" || ' ' || ")
    langVotesSql.trim + ",\n" +
      s"""q AS MATERIALIZED (
         |  SELECT d.doc_id, d.text
         |  FROM votes v JOIN documents d USING (doc_id)
         |  WHERE len(string_split(d.text, ' ')) BETWEEN 20 AND 1000
         |    AND (CASE WHEN v_en = best AND v_en > 0 THEN 'en'
         |         WHEN v_es = best AND v_es > 0 THEN 'es'
         |         WHEN v_fr = best AND v_fr > 0 THEN 'fr'
         |         WHEN v_de = best AND v_de > 0 THEN 'de'
         |         ELSE 'und' END) = v.lang),
         |k AS (
         |  SELECT min(doc_id) AS doc_id FROM q
         |  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
         |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))),
         |dd AS MATERIALIZED (
         |  SELECT q.doc_id, q.text FROM q JOIN k USING (doc_id)),
         |ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM dd),
         |cg AS MATERIALIZED (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5($gram), 1, 8) AS BIGINT) AS hi,
         |    CAST('0x' || substr(md5($gram), 9, 8) AS BIGINT) AS lo
         |  FROM ct, unnest(range(1, len(t) - ${n - 2})) AS u(i)),
         |bt AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         |  WHERE doc_id % 41 = 0),
         |bg AS MATERIALIZED (
         |  SELECT DISTINCT
         |    CAST('0x' || substr(md5($gram), 1, 8) AS BIGINT) AS hi,
         |    CAST('0x' || substr(md5($gram), 9, 8) AS BIGINT) AS lo
         |  FROM bt, unnest(range(1, len(t) - ${n - 2})) AS u(i)),
         |contam AS (SELECT DISTINCT c.doc_id FROM cg c
         |  JOIN bg b ON c.hi = b.hi AND c.lo = b.lo),
         |clean AS (SELECT dd.doc_id, dd.text FROM dd
         |  WHERE dd.doc_id NOT IN (SELECT doc_id FROM contam)),
         |tt AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text,
         |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]')) AS BIGINT) AS n_tokens,
         |    substr(md5('cur' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
         |  FROM clean),
         |cc AS (
         |  SELECT doc_id, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens
         |  FROM tt)
         |SELECT doc_id, n_tokens, cum_tokens FROM cc
         |WHERE cum_tokens <= 8000""".stripMargin
  }

  /** q75 oracle: the decontamination pipeline in DuckDB SQL. N-gram
    * hashes are handled as (hi, lo) 32-bit md5 halves (the q57 trick —
    * DuckDB errors on signed-64 overflow where the JVM wraps), packed
    * into a HUGEINT for the distinct counts; Spark counts distinct over
    * the bijectively-packed signed long, so the counts agree. Every doc
    * survives via the final left join (short docs score 0), mirroring
    * keepEmptyDocs = true.
    */
  private[graft] val sqlQ75Decontaminate: String = {
    val n = 5
    val gram = (1 to n).map(k => s"t[i + ${k - 1}]").mkString(" || ' ' || ")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |cg AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5($gram), 1, 8) AS BIGINT) AS hi,
       |    CAST('0x' || substr(md5($gram), 9, 8) AS BIGINT) AS lo
       |  FROM toks, unnest(range(1, len(t) - ${n - 2})) AS u(i)),
       |bg AS MATERIALIZED (
       |  SELECT DISTINCT hi, lo FROM cg WHERE doc_id % 41 = 0),
       |agg AS (
       |  SELECT c.doc_id,
       |    count(DISTINCT CAST(c.hi AS HUGEINT) * 4294967296 + c.lo)
       |      AS n_grams,
       |    count(DISTINCT CASE WHEN b.hi IS NOT NULL
       |      THEN CAST(c.hi AS HUGEINT) * 4294967296 + c.lo END) AS n_hit
       |  FROM cg c
       |  LEFT JOIN bg b ON c.hi = b.hi AND c.lo = b.lo
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(coalesce(a.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(CASE WHEN coalesce(a.n_hit, 0) >= 1 THEN 1 ELSE 0 END
       |    AS BIGINT) AS contaminated
       |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin
  }

  /** q76 oracle: seeded-hash order + window cumsum. The window form is
    * fine HERE (DuckDB is single-node by design); the Spark side uses the
    * distributed globalCumSum instead. CAST to BIGINT per the q70 lesson
    * (DuckDB window sum returns HUGEINT -> float64 in pandas). Order keys
    * (hex md5 prefix, doc_id) are total and engine-neutral.
    */
  private[graft] val sqlQ76TokenBudget: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text,
      |      '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS n_tokens,
      |    substr(md5('s5' || CAST(doc_id AS VARCHAR)), 1, 8) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM t)
      |SELECT doc_id, n_tokens, cum_tokens FROM c
      |WHERE cum_tokens <= 15000""".stripMargin

  /** Oracle CTEs for q37: community labels via connected components of
    * the r2 radius graph over each user's UNIQUE median coordinates
    * (the LPA kernel's downsample step — a coordinate with no DISTINCT
    * neighbor inside r2 is a singleton labeled -1 even when several
    * stops collapse onto it). On clustered mobility data the LPA labels
    * equal these components (checked empirically at sf0.01: 150 users,
    * 0 mismatching rows); a pathological bridge topology could split a
    * component under LPA, in which case this oracle would catch the
    * divergence rather than hide it. Canonicalization matches
    * Communities.canonicalizeLabels: dense_rank by component min-index =
    * first-appearance order, singletons excluded from the id space.
    */
  private[graft] def communityCtes: String =
    s"WITH RECURSIVE ${Tables.pingsSql},\n" + stopEventsSql + "," +
      s"""
         |medians AS (
         |  SELECT uid, stop_events, median(latitude) AS latitude,
         |    median(longitude) AS longitude,
         |    min("timestamp") AS start_timestamp,
         |    max("timestamp") AS end_timestamp
         |  FROM stop_events WHERE stop_events != -1
         |  GROUP BY uid, stop_events
         |),
         |cnodes AS (
         |  SELECT uid, latitude, longitude,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY uid ORDER BY min_se) - 1
         |      AS BIGINT) AS i
         |  FROM (SELECT uid, latitude, longitude, min(stop_events) AS min_se
         |        FROM medians GROUP BY uid, latitude, longitude)
         |),
         |cedges AS (
         |  -- node index >= 20000 (Params.maxGroupSize default) is the
         |  -- whale trim: the engine neither partitions nor certifies
         |  -- those nodes (labels pinned -1), so the oracle graph
         |  -- excludes them identically
         |  SELECT a.uid, a.i AS i, b.i AS j FROM cnodes a JOIN cnodes b
         |  ON a.uid = b.uid AND a.i != b.i
         |  AND a.i < 20000 AND b.i < 20000
         |  AND 2 * 6371000.0 * asin(sqrt(
         |      pow(sin((radians(b.latitude) - radians(a.latitude)) / 2), 2)
         |      + cos(radians(a.latitude)) * cos(radians(b.latitude))
         |        * pow(sin((radians(b.longitude) - radians(a.longitude)) / 2), 2)
         |    )) <= 100.0
         |),
         |creach AS (
         |  SELECT uid, i, i AS r FROM (SELECT DISTINCT uid, i FROM cedges)
         |  UNION
         |  SELECT e.uid, e.i, creach.r FROM cedges e
         |  JOIN creach ON e.uid = creach.uid AND e.j = creach.i
         |),
         |ccomp AS (SELECT uid, i, min(r) AS root FROM creach GROUP BY uid, i),
         |clabels AS (
         |  SELECT n.uid, n.latitude, n.longitude,
         |    CASE WHEN n.i >= 20000 THEN -1
         |      WHEN c.root IS NULL THEN -1
         |      ELSE CAST(dense_rank() OVER (PARTITION BY n.uid
         |        ORDER BY coalesce(c.root, 9223372036854775807)) AS BIGINT) - 1
         |    END AS stop_locations
         |  FROM cnodes n LEFT JOIN ccomp c ON n.uid = c.uid AND n.i = c.i
         |)
         |""".stripMargin

  private[graft] def clusterCtes: String =
    s"WITH RECURSIVE ${Tables.pingsSql},\n" + stopEventsSql + "," +
      s"""
         |medians AS (
         |  SELECT uid, stop_events, median(latitude) AS latitude,
         |    median(longitude) AS longitude,
         |    min("timestamp") AS start_timestamp,
         |    max("timestamp") AS end_timestamp
         |  FROM stop_events WHERE stop_events != -1
         |  GROUP BY uid, stop_events
         |),
         |idx AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY uid
         |    ORDER BY stop_events) - 1 AS BIGINT) AS i
         |  FROM medians
         |),
         |edges AS (
         |  SELECT a.uid, a.i AS i, b.i AS j FROM idx a JOIN idx b
         |  ON a.uid = b.uid AND a.i != b.i
         |  AND 2 * 6371000.0 * asin(sqrt(
         |      pow(sin((radians(b.latitude) - radians(a.latitude)) / 2), 2)
         |      + cos(radians(a.latitude)) * cos(radians(b.latitude))
         |        * pow(sin((radians(b.longitude) - radians(a.longitude)) / 2), 2)
         |    )) <= ${clusterParams.eps}
         |),
         |reach AS (
         |  SELECT uid, i, i AS r FROM (SELECT DISTINCT uid, i FROM edges)
         |  UNION
         |  SELECT e.uid, e.i, reach.r FROM edges e
         |  JOIN reach ON e.uid = reach.uid AND e.j = reach.i
         |),
         |comp AS (SELECT uid, i, min(r) AS root FROM reach GROUP BY uid, i),
         |labeled AS (
         |  SELECT idx.uid, idx.stop_events, idx.latitude, idx.longitude,
         |    idx.start_timestamp, idx.end_timestamp,
         |    CASE WHEN comp.root IS NULL THEN -1
         |      ELSE CAST(dense_rank() OVER (PARTITION BY idx.uid
         |        ORDER BY coalesce(comp.root, 9223372036854775807)) AS BIGINT) - 1
         |    END AS stop_locations
         |  FROM idx LEFT JOIN comp ON idx.uid = comp.uid AND idx.i = comp.i
         |),
         |clustered AS (
         |  SELECT uid, stop_events, latitude, longitude, start_timestamp,
         |    end_timestamp, stop_locations,
         |    CAST(CASE WHEN stop_locations = -1 THEN 1
         |      ELSE count(*) OVER c END AS BIGINT) AS cluster_counts,
         |    CASE WHEN stop_locations = -1 THEN latitude
         |      ELSE median(latitude) OVER c END AS cluster_latitude,
         |    CASE WHEN stop_locations = -1 THEN longitude
         |      ELSE median(longitude) OVER c END AS cluster_longitude
         |  FROM labeled
         |  WINDOW c AS (PARTITION BY uid, stop_locations)
         |)
         |""".stripMargin

  /** Oracle CTEs for home/work labeling over `clustered`. Local wall clock
    * is fixed UTC-6 integer arithmetic (America/Mexico_City, DST-free
    * since 2022; data is 2024) so no session-timezone dependence.
    */
  private[graft] def hwCtes: String =
    s"""prep0 AS (
       |  SELECT *, start_timestamp - 21600 AS ls,
       |    end_timestamp - start_timestamp AS duration
       |  FROM clustered
       |),
       |prep1 AS (
       |  SELECT *, DATE '1970-01-01' + CAST(ls // 86400 AS INT) AS "date",
       |    CAST((ls % 86400) // 3600 AS INT) AS hour,
       |    CAST(((ls // 86400) + 3) % 7 + 1 AS INT) AS weekday
       |  FROM prep0
       |),
       |prep AS (
       |  SELECT *, CAST(year("date") AS INT) AS year,
       |    CAST(month("date") AS INT) AS month,
       |    CAST(day("date") AS INT) AS day
       |  FROM prep1
       |),
       |home_cand AS (
       |  SELECT * FROM prep
       |  WHERE (hour >= ${hwParams.endHourDay} OR hour <= ${hwParams.startHourDay}
       |    OR weekday BETWEEN 6 AND 7) AND stop_locations != -1
       |),
       |home_counts AS (
       |  SELECT uid, stop_locations, count(DISTINCT "date") AS cluster_dates
       |  FROM home_cand GROUP BY uid, stop_locations
       |),
       |home_tot AS (
       |  SELECT uid, count(DISTINCT "date") AS total_dates
       |  FROM home_cand GROUP BY uid
       |),
       |home_lab AS (
       |  SELECT hc.uid, hc.stop_locations FROM home_counts hc
       |  JOIN home_tot ht ON hc.uid = ht.uid
       |  WHERE hc.cluster_dates / ht.total_dates >= ${hwParams.minPeriodsHome}
       |    AND hc.cluster_dates / (SELECT CAST(floor((max(start_timestamp)
       |      - min(start_timestamp)) / 86400) + 1 AS BIGINT) FROM home_cand)
       |      >= ${hwParams.spanPeriodHome}
       |),
       |homed AS (
       |  SELECT p.*,
       |    CASE WHEN hl.uid IS NOT NULL THEN 'H' ELSE 'O' END AS location_type,
       |    CASE WHEN hl.uid IS NOT NULL THEN CAST(${hwParams.minPeriodsHome} AS DOUBLE)
       |      ELSE CAST(-1.0 AS DOUBLE) END AS home_label
       |  FROM prep p LEFT JOIN home_lab hl
       |  ON p.uid = hl.uid AND p.stop_locations = hl.stop_locations
       |),
       |work_cand AS (
       |  SELECT * FROM homed
       |  WHERE hour BETWEEN ${hwParams.startWorkingHour} AND ${hwParams.endWorkingHour}
       |    AND weekday BETWEEN 1 AND 5
       |    AND location_type != 'H' AND stop_locations != -1
       |),
       |work_counts AS (
       |  SELECT uid, stop_locations, count(DISTINCT "date") AS cluster_dates
       |  FROM work_cand GROUP BY uid, stop_locations
       |),
       |work_tot AS (
       |  SELECT uid, count(DISTINCT "date") AS total_dates
       |  FROM work_cand GROUP BY uid
       |),
       |work_lab AS (
       |  SELECT wc.uid, wc.stop_locations FROM work_counts wc
       |  JOIN work_tot wt ON wc.uid = wt.uid
       |  WHERE wc.cluster_dates / wt.total_dates >= ${hwParams.minPeriodsWork}
       |    AND wc.cluster_dates / (SELECT CAST(floor((max(start_timestamp)
       |      - min(start_timestamp)) / 86400) + 1 AS BIGINT) FROM work_cand)
       |      >= ${hwParams.spanPeriodWork}
       |),
       |hw_final AS (
       |  SELECT h.* EXCLUDE (location_type, ls),
       |    CASE WHEN wl.uid IS NOT NULL THEN 'W' ELSE h.location_type END
       |      AS location_type,
       |    CASE WHEN wl.uid IS NOT NULL THEN CAST(${hwParams.minPeriodsWork} AS DOUBLE)
       |      ELSE CAST(-1.0 AS DOUBLE) END AS work_label
       |  FROM homed h LEFT JOIN work_lab wl
       |  ON h.uid = wl.uid AND h.stop_locations = wl.stop_locations
       |)
       |""".stripMargin

  /** Oracle CTE computing per-language marker votes for q22. */
  private[graft] def langVotesSql: String = {
    def cnt(m: String) =
      s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $m ', ''))) // ${m.length + 2}"
    val votes = TextFunctions.langMarkers.map { case (lang, ms) =>
      ms.map(cnt).mkString(" + ") + s" AS v_$lang"
    }.mkString(",\n    ")
    s"""WITH votes AS (
       |  SELECT doc_id, lang,
       |    $votes,
       |    greatest(${TextFunctions.langMarkers.map("v_" + _._1).mkString(", ")}) AS best
       |  FROM documents
       |)
       |""".stripMargin
  }

  /** DuckDB CTEs replicating StopDetect.stopEvents over the pings CTE —
    * shared by the mobility oracle queries. Mirrors stopParams above.
    */
  private[graft] def stopEventsSql: String =
    s"""base AS (
       |  SELECT uid, latitude, longitude, "timestamp",
       |    2 * 6371000.0 * asin(sqrt(
       |      pow(sin((radians(lead(latitude) OVER w) - radians(latitude)) / 2), 2)
       |      + cos(radians(latitude)) * cos(radians(lead(latitude) OVER w))
       |        * pow(sin((radians(lead(longitude) OVER w) - radians(longitude)) / 2), 2)
       |    )) AS distance,
       |    lead("timestamp") OVER w - "timestamp" AS time_diff
       |  FROM pings
       |  WINDOW w AS (PARTITION BY uid ORDER BY "timestamp")
       |),
       |flagged AS (
       |  SELECT *,
       |    (distance <= ${stopParams.rC}
       |      AND (time_diff IS NULL OR time_diff <= ${stopParams.maxStayingTime}))
       |      AS stationary
       |  FROM base
       |),
       |changes AS (
       |  SELECT *, CASE WHEN stationary AND NOT coalesce(
       |      lag(stationary) OVER (PARTITION BY uid ORDER BY "timestamp"),
       |      false) THEN 1 ELSE 0 END AS event_change
       |  FROM flagged
       |),
       |ids AS (
       |  SELECT *, CAST(CASE WHEN stationary THEN
       |      sum(event_change)
       |        OVER (PARTITION BY uid ORDER BY "timestamp"
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    ELSE -1 END AS BIGINT) AS event_id
       |  FROM changes
       |),
       |stop_events AS (
       |  SELECT uid, latitude, longitude, "timestamp",
       |    CAST(CASE WHEN event_id != -1
       |      AND count(*) OVER e >= ${stopParams.minSize}
       |      AND sum(time_diff) OVER e >= ${stopParams.minStayingTime}
       |    THEN event_id ELSE -1 END AS BIGINT) AS stop_events
       |  FROM ids
       |  WINDOW e AS (PARTITION BY uid, event_id)
       |)
       |""".stripMargin
}
