package graft
package registry

import org.apache.spark.sql.functions._
import graft.operators.{EventOps, Temporal}
import graft.streaming.EventStream

import graft.SparkEntry._

/** Events: the batch form of the streaming surface
  * ([[graft.operators.EventOps]], [[graft.operators.Temporal]]). */
private[graft] object EventsQueries {

  val specs: Seq[QuerySpec] = Seq(
    // Incremental rollup maintenance: the event history split in id
    // halves, each half aggregated separately, states merged — the
    // oracle recomputes over the FULL history, so the hash match IS
    // the merge ≡ recompute proof (all-mergeable state: counts +
    // integer-cent sums). At 100 TB the delta aggregates at delta
    // cost and the merge shuffles rollup-scale keys, never history.
    QuerySpec("rollup_incremental", (s, dir) => {
      val (delta, old) = halvesByMaxId(Tables.events(s, dir), "event_id")
      EventOps.rollupMerge(EventOps.rollup(old), EventOps.rollup(delta))
        .orderBy("user_id", "event_type")
    },
      oracle =
      """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Ordered signup→click→purchase funnel (unbounded window).
    QuerySpec("funnel_counts", (s, dir) =>
      EventOps.funnel(Tables.events(s, dir),
        Seq("signup", "click", "purchase")).orderBy("stage"),
      oracle =
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'signup' AS event_type,
        |  CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS users
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click',
        |  CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase',
        |  CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
        |ORDER BY stage""".stripMargin),
    // Weekly retention triangle from each user's first-event cohort.
    QuerySpec("retention_cohorts", (s, dir) =>
      EventOps.retentionCohorts(Tables.events(s, dir))
        .orderBy("cohort_week", "week_k"),
      oracle =
      """WITH f AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT f.cohort_week,
        |        CAST(date_diff('day', f.cohort_week, e.ts) // 7 AS BIGINT) AS week_k,
        |        e.user_id
        |      FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_week, week_k, CAST(COUNT(*) AS BIGINT) AS users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Robust outlier audit: Hampel |x-med| > 3*MAD per event type —
    // medians are percentile_disc PICKS, so the audit is engine-exact.
    QuerySpec("mad_outliers", (s, dir) =>
      EventOps.madOutliers(Tables.events(s, dir), "event_type", "value")
        .orderBy("event_type"),
      oracle =
      """WITH med AS (SELECT event_type,
        |    CAST(quantile_disc(value, 0.5) AS DOUBLE) AS med
        |  FROM events GROUP BY 1),
        |dev AS (SELECT e.event_type, abs(e.value - med.med) AS adev, med.med
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (SELECT event_type,
        |    CAST(quantile_disc(adev, 0.5) AS DOUBLE) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  MAX(d.med) AS med, MAX(mad.mad) AS mad,
        |  CAST(SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN d.adev > 3.0 * mad.mad THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS outlier_ppm
        |FROM dev d JOIN mad USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("events_by_type", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000)).as("sum_value_q"),
          countDistinct(col("user_id")).as("users"))
        .orderBy("event_type"),
      oracle =
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_q,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("events_hourly", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("HOUR", col("ts")).as("hour_start"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 1000)).as("sum_value_q"))
        .orderBy("hour_start"),
      oracle =
      """SELECT date_trunc('hour', ts) AS hour_start, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS sum_value_q
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // Semi-structured props (real JSON — the reference's quasi-JSON
    // `extra` column done right): from_json → typed field → aggregate.
    QuerySpec("events_props_parsed", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
        .orderBy("event_type"),
      oracle =
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    // As-of join: attribute each purchase to the user's most recent
    // prior-or-simultaneous click. Checked against DuckDB's NATIVE
    // ASOF JOIN. Right side pre-aggregated unique per (user, ts).
    QuerySpec("asof_purchase_click", (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      Temporal.asOfJoin(purchases, clicks, "user_id", "ts",
        leftCols = Seq("purchase_id"), rightCols = Seq("click_id"))
        .orderBy("user_id", "ts", "purchase_id")
    },
      oracle =
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.ts, p.purchase_id,
        |  c.ts AS r_ts, c.click_id AS r_click_id
        |FROM p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |ORDER BY 1, 2, 3""".stripMargin),
    // as-of with a 30-minute staleness bound (pandas merge_asof
    // `tolerance`): same window, one integer-microsecond residual —
    // purchases whose latest prior click is older than the bound drop.
    QuerySpec("asof_tolerance", (s, dir) => {
      val e = Tables.events(s, dir)
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      Temporal.asOfJoinTolerance(purchases, clicks, "user_id", "ts",
        toleranceSeconds = 1800L,
        leftCols = Seq("purchase_id"), rightCols = Seq("click_id"))
        .orderBy("user_id", "ts", "purchase_id")
    },
      oracle =
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT user_id, ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.ts, p.purchase_id,
        |  c.ts AS r_ts, c.click_id AS r_click_id
        |FROM p ASOF JOIN clicks c
        |  ON p.user_id = c.user_id AND c.ts <= p.ts
        |WHERE epoch_us(p.ts) - epoch_us(c.ts) <= 1800000000
        |ORDER BY 1, 2, 3""".stripMargin),
    // Bucketed range join: clicks in the 5 minutes before each error.
    QuerySpec("range_clicks_before_error", (s, dir) => {
      val e = Tables.events(s, dir)
      val errors = e.filter(col("event_type") === "error")
        .select("user_id", "ts").distinct()
      val clicks = e.filter(col("event_type") === "click")
        .select("user_id", "ts")
      Temporal.rangeJoinBucketed(errors, clicks, "user_id", "ts",
        windowSeconds = 300L, countAs = "clicks_5m")
        .orderBy("user_id", "ts")
    },
      oracle =
      """WITH e AS (SELECT DISTINCT user_id, ts FROM events WHERE event_type = 'error'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT e.user_id, e.ts, CAST(COUNT(c.ts) AS BIGINT) AS clicks_5m
        |FROM e LEFT JOIN c
        |  ON e.user_id = c.user_id
        | AND c.ts >= e.ts - INTERVAL 300 SECONDS AND c.ts < e.ts
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Batch form of the streaming sessionization (session_window; the
    // streaming twin is EventStream.sessionize over readStream).
    QuerySpec("sessionize", (s, dir) =>
      EventStream.sessionize(Tables.events(s, dir))
        .orderBy("user_id", "session_start"),
      // session_window semantics: same session iff gap to previous event
      // < 30 min; session end = last event + gap (exclusive bound).
      oracle =
      """WITH e AS (SELECT user_id, ts, CAST(FLOOR(value * 1000) AS BIGINT) AS q
        |           FROM events),
        |s AS (SELECT *, CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                          >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |      FROM e),
        |g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                               ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM s)
        |SELECT MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        |  user_id, CAST(COUNT(*) AS BIGINT) AS events,
        |  CAST(SUM(q) AS BIGINT) AS sum_value_q
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
  )
}
