package graft
package registry

import org.apache.spark.sql.functions._
import graft.operators.Sketches

import graft.SparkEntry._

/** Approximate-counting sketches ([[graft.operators.Sketches]]): HLL,
  * count-min, heavy hitters and quantiles, each with an exact oracle. */
private[graft] object SketchesQueries {
  /** `heavy_hitters` shape: exact top-k beside a depth×width count-min
    * table (query + oracle). */
  private val HeavyK = 20
  private val CmsDepth = 4
  private val CmsWidth = 1024

  /** `hll_registers`/`hll_merged` precision: p index bits, m = 2^p
    * buckets (query + oracle). */
  private val HllP = 8

  val specs: Seq[QuerySpec] = Seq(
    // Count-min heavy hitters over token occurrences: exact top-20
    // beside the never-undercounting CMS point estimate.
    QuerySpec("heavy_hitters", (s, dir) =>
      Sketches.heavyHitters(
        Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("token")),
        "token", k = HeavyK, depth = CmsDepth, width = CmsWidth)
        .orderBy("token"),
      oracle = {
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS k FROM documents),
         |cnt AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact
         |  FROM tok GROUP BY 1),
         |top AS (SELECT k, exact FROM cnt ORDER BY exact DESC, k LIMIT $HeavyK),
         |cells AS (SELECT dd.d,
         |    CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR) || ':' || tok.k), 1, 15)) AS BIGINT) % $CmsWidth AS b,
         |    CAST(COUNT(*) AS BIGINT) AS c
         |  FROM tok CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS d) dd
         |  GROUP BY 1, 2),
         |pr AS (SELECT top.k, top.exact, dd.d,
         |    CAST(concat('0x', substr(md5(CAST(dd.d AS VARCHAR) || ':' || top.k), 1, 15)) AS BIGINT) % $CmsWidth AS b
         |  FROM top CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS d) dd)
         |SELECT pr.k AS token, pr.exact, CAST(MIN(c.c) AS BIGINT) AS cms_est
         |FROM pr JOIN cells c ON pr.d = c.d AND pr.b = c.b
         |GROUP BY 1, 2 ORDER BY token""".stripMargin
    }),
    // KMV distinct-count sketch (deterministic, so still hash-checkable):
    // distinct users per event type, k=32, alongside the exact count.
    QuerySpec("approx_distinct_users", (s, dir) =>
      Sketches.kmvDistinct(Tables.events(s, dir), "event_type", "user_id",
        k = 32).orderBy("event_type"),
      oracle =
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM dh)
         |SELECT event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  MAX(CASE WHEN rn <= 32 THEN h END) AS kth_hash,
         |  CASE WHEN SUM(CASE WHEN rn <= 32 THEN 1 ELSE 0 END) < 32
         |       THEN CAST(COUNT(*) AS DOUBLE)
         |       ELSE ${Sketches.kmvNumeratorSql(32)}
         |            / CAST(MAX(CASE WHEN rn <= 32 THEN h END) AS DOUBLE)
         |  END AS kmv_estimate
         |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin),
    // Production KMV form: rank-limit pushdown, no exact column — the
    // distinct set never materializes past the partial agg.
    QuerySpec("approx_distinct_sketch", (s, dir) =>
      Sketches.kmvDistinctSketch(Tables.events(s, dir), "event_type",
        "user_id", k = 32).orderBy("event_type"),
      oracle =
      s"""WITH dh AS (SELECT DISTINCT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |r AS (SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         |  FROM dh)
         |SELECT event_type,
         |  MAX(h) AS kth_hash,
         |  CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
         |       ELSE ${Sketches.kmvNumeratorSql(32)} / CAST(MAX(h) AS DOUBLE)
         |  END AS kmv_estimate
         |FROM r WHERE rn <= 32 GROUP BY 1 ORDER BY event_type""".stripMargin),
    // Sketch MERGE: distinct users over {click, purchase} from the
    // per-type k-min sketches — the oracle recomputes the union sketch
    // from scratch, so a hash match proves the merge is lossless.
    QuerySpec("approx_distinct_merged", (s, dir) =>
      Sketches.kmvMergedEstimate(Tables.events(s, dir), "event_type",
        "user_id", k = 32, include = Seq("click", "purchase")),
      oracle =
      s"""WITH dh AS (SELECT DISTINCT
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events WHERE event_type IN ('click', 'purchase')),
         |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM dh)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  MAX(h) AS kth_hash,
         |  CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
         |       ELSE ${Sketches.kmvNumeratorSql(32)} / CAST(MAX(h) AS DOUBLE)
         |  END AS kmv_estimate
         |FROM r WHERE rn <= 32""".stripMargin),
    // Mergeable quantile sketch: k-min-hash sample per event type,
    // discrete p50/p90/p99 estimates beside the exact quantiles.
    QuerySpec("quantile_sketch", (s, dir) =>
      Sketches.kmvQuantileSketch(Tables.events(s, dir), "event_type",
        "event_id", "value", k = 256).orderBy("event_type"),
      oracle =
      """WITH h AS (SELECT event_type, event_id, value,
        |    CAST(concat('0x', substr(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rn
        |  FROM h),
        |e AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |    CAST(quantile_disc(value, 0.5) AS DOUBLE) AS p50_est,
        |    CAST(quantile_disc(value, 0.9) AS DOUBLE) AS p90_est,
        |    CAST(quantile_disc(value, 0.99) AS DOUBLE) AS p99_est
        |  FROM r WHERE rn <= 256 GROUP BY 1),
        |x AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(quantile_disc(value, 0.5) AS DOUBLE) AS p50_exact,
        |    CAST(quantile_disc(value, 0.9) AS DOUBLE) AS p90_exact,
        |    CAST(quantile_disc(value, 0.99) AS DOUBLE) AS p99_exact
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, x.n, e.n_sampled,
        |  e.p50_est, x.p50_exact, e.p90_est, x.p90_exact,
        |  e.p99_est, x.p99_exact
        |FROM e JOIN x USING (event_type) ORDER BY event_type""".stripMargin),
    // HyperLogLog register table (p=8, m=256 buckets): distinct users
    // per event type as the mergeable max-ρ sketch — deterministic
    // bit-position arithmetic, so the oracle rebuilds it exactly.
    QuerySpec("hll_registers", (s, dir) =>
      Sketches.hllRegisters(Tables.events(s, dir), "event_type",
        "user_id", p = HllP).orderBy("event_type", "bucket"),
      oracle =
      s"""WITH h AS (SELECT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM events),
         |b AS (SELECT event_type, h >> ${60 - HllP} AS bucket,
         |    h & ((CAST(1 AS BIGINT) << ${60 - HllP}) - 1) AS rest
         |  FROM h)
         |SELECT event_type, bucket,
         |  MAX(CASE WHEN rest = 0 THEN CAST(${61 - HllP} AS BIGINT)
         |           ELSE CAST(${61 - HllP} - length(bin(rest)) AS BIGINT) END) AS register
         |FROM b GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin),
    // HLL merge proof: per-half register tables (split by event_id
    // hash parity) max-merged vs the whole-corpus build, row-by-row.
    QuerySpec("hll_merged", (s, dir) =>
      Sketches.hllMerged(Tables.events(s, dir), "event_type", "user_id",
        splitKey = "event_id", p = HllP).orderBy("event_type", "bucket"),
      oracle =
      s"""WITH h AS (SELECT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
         |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS half
         |  FROM events),
         |r AS (SELECT event_type, half, h >> ${60 - HllP} AS bucket,
         |    CASE WHEN (h & ((CAST(1 AS BIGINT) << ${60 - HllP}) - 1)) = 0
         |         THEN CAST(${61 - HllP} AS BIGINT)
         |         ELSE CAST(${61 - HllP} - length(bin(h & ((CAST(1 AS BIGINT) << ${60 - HllP}) - 1))) AS BIGINT)
         |    END AS rho
         |  FROM h),
         |ph AS (SELECT event_type, half, bucket, MAX(rho) AS register
         |  FROM r GROUP BY 1, 2, 3),
         |m AS (SELECT event_type, bucket, MAX(register) AS register_merged
         |  FROM ph GROUP BY 1, 2),
         |w AS (SELECT event_type, bucket, MAX(rho) AS register
         |  FROM r GROUP BY 1, 2)
         |SELECT m.event_type, m.bucket, m.register_merged, w.register,
         |  m.register_merged = w.register AS agree
         |FROM m JOIN w USING (event_type, bucket)
         |ORDER BY event_type, bucket""".stripMargin),
  )
}
