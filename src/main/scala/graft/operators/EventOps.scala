package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product-analytics operators over the `events` table — the
  * user-journey tier (north-star extension): ordered funnels and
  * weekly retention cohorts, the two queries every event pipeline is
  * eventually asked for.
  *
  * Both are joins/aggregations keyed by `user_id`, so after the first
  * shuffle every later stage is co-partitioned — the per-user state
  * never leaves its partition, at any event volume.
  */
object EventOps {

  /** Ordered funnel: stage k counts users whose earliest qualifying
    * stage-k event occurs AT OR AFTER their stage-(k−1) qualifying time
    * (the standard "did A, then B, then C" chain, unbounded window).
    * Each stage is one filtered min-aggregation joined to the previous
    * stage's per-user frontier; output is one row per stage.
    *
    * The per-stage count subtrees share the frontier chain, which
    * Catalyst re-executes per count (no cross-branch reuse) — O(k²)
    * stage passes for k stages. Fine for the handful of stages funnels
    * actually have; a long-funnel variant would persist each frontier
    * (the measured break-even at this corpus size favors re-execution,
    * see Dedup.tokenPostings).
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    var frontier = events.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("ts").as("t"))
    val counts = scala.collection.mutable.ListBuffer(
      frontier.agg(count(lit(1)).as("users"))
        .select(lit(1).as("stage"), lit(stages.head).as("event_type"),
          col("users")))
    for ((st, idx) <- stages.tail.zipWithIndex) {
      frontier = events.filter(col("event_type") === st)
        .join(frontier.select(col("user_id"), col("t").as("prev_t")),
          "user_id")
        .filter(col("ts") >= col("prev_t"))
        .groupBy("user_id").agg(min("ts").as("t"))
      counts += frontier.agg(count(lit(1)).as("users"))
        .select(lit(idx + 2).as("stage"), lit(st).as("event_type"),
          col("users"))
    }
    counts.reduce(_ unionByName _)
  }

  /** Weekly retention cohorts: a user's cohort is the Monday-truncated
    * week of their FIRST event; `week_k` is how many whole weeks after
    * that week each activity falls. Day arithmetic stays integral
    * (calendar-day difference, floor-divided by 7), so the bucketing is
    * engine-exact. Output: (cohort_week, week_k, users) — the retention
    * triangle.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firsts = events.groupBy("user_id")
      .agg(date_trunc("WEEK", min("ts")).as("cohort_week"))
    events.join(firsts, "user_id")
      .select(col("cohort_week"),
        expr("CAST(datediff(ts, cohort_week) div 7 AS BIGINT)").as("week_k"),
        col("user_id"))
      .distinct()
      .groupBy("cohort_week", "week_k")
      .agg(count(lit(1)).as("users"))
  }

  /** Robust per-group outlier audit via median absolute deviation
    * (Hampel's rule): flag x where |x − median| > 3·MAD — the
    * heavy-tail-safe filter a mean/stddev z-score is not (one extreme
    * value drags the mean AND inflates sigma; the median and MAD
    * ignore it). Engine-exact despite doubles: both medians are
    * `percentile_disc` PICKS of existing values (no interpolation),
    * the deviation is one subtraction of exactly-representable
    * doubles, and the 3·MAD compare is one correctly-rounded multiply
    * — no summation order anywhere.
    *
    * Plan shape: two group-sorted median aggregations over the corpus
    * plus two broadcast joins of the per-group scalar tables; the
    * output is one row per group. At 100 TB the exact medians are the
    * audit path — the serving path reads the same quantiles off
    * [[Sketches.kmvQuantileSketch]]'s mergeable sample. */
  def madOutliers(events: DataFrame, group: String,
                  valueCol: String): DataFrame = {
    val med = events.groupBy(group)
      .agg(expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $valueCol)")
        .as("med"))
    val dev = events.join(broadcast(med), group)
      .withColumn("adev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(group)
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)")
        .as("mad"))
    dev.join(broadcast(mad), group)
      .groupBy(group)
      .agg(count(lit(1)).as("n"), max("med").as("med"),
        max("mad").as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), lit(1L))
          .otherwise(lit(0L))).as("n_outliers"))
      .withColumn("outlier_ppm",
        expr("CAST(n_outliers * 1000000 div n AS BIGINT)"))
      .select(col(group), col("n"), col("med"), col("mad"),
        col("n_outliers"), col("outlier_ppm"))
  }

  // --------------------------------------------------------------------
  // Incremental rollup maintenance
  // --------------------------------------------------------------------

  /** The per-(user, event_type) rollup relation: row count + value sum
    * in integer cents (⌊value·100⌋ — association-insensitive, so merge
    * order can never change a digit). This is the MAINTAINED STATE of
    * the incremental path, deliberately all mergeable aggregates:
    * counts and sums re-aggregate losslessly, which is what makes
    * [[rollupMerge]] ≡ recompute provable by hash.
    */
  def rollup(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))

  /** Merge rollup states: union + re-aggregate. The 100 TB point of
    * the incremental path: a day's delta aggregates at DELTA cost
    * (map-side partial sums), and the merge shuffles ROLLUP-scale rows
    * (distinct user×type keys) — the event history is never rescanned.
    * Merge is associative and commutative by construction, so daily /
    * hourly / backfill batches compose in any order to the same bytes.
    */
  def rollupMerge(states: DataFrame*): DataFrame =
    states.reduce(_.unionByName(_))
      .groupBy("user_id", "event_type")
      .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"))
}
