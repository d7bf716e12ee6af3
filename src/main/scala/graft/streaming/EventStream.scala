package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface over the `events` table shape
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * The reference is batch-only (SURVEY.md §2.5); this is the north-star
  * streaming extension, built so every aggregation has a batch twin in
  * SparkEntry (`events_hourly`, `events_by_type`) — the same code path
  * `readStream` drives incrementally is what the DuckDB oracle checks in
  * batch form.
  *
  * Scale: watermark + windowed aggregation keeps state bounded (late
  * data beyond 2h is dropped, window state is evicted past the
  * watermark); sessionization uses the declarative `session_window`
  * (state store managed) and custom state uses
  * `mapGroupsWithState` keyed by user — both shuffle once on the group
  * key and scale with active keys, not history.
  */
object EventStream {

  /** Streaming twin of the `events_hourly`/`events_by_type` batch
    * queries: 1-hour tumbling windows per event type, 2-hour watermark. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 1000)).as("sum_value_q"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value_q"))

  /** Streaming twin of [[graft.operators.EventOps.rollup]] — the
    * serving-layer form of the incremental rollup: the same
    * all-mergeable state (per-(user, event_type) count + integer-cent
    * sum) maintained by the engine's streaming aggregation instead of
    * explicit [[graft.operators.EventOps.rollupMerge]] batches. Update
    * output mode; NO watermark on purpose — rollup keys never expire,
    * and the state store holds exactly the rollup relation
    * (key-cardinality-bounded, not history-bounded: the same reason
    * the batch merge never rescans history). StreamingSpec pins the
    * final state bit-equal to the batch rollup under out-of-order,
    * multi-batch arrival. */
  def rollupStream(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("sum_cents"))

  /** Gap-based sessionization, declarative: `session_window` merges
    * events per user whose gaps are under `gap`. */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("events"),
        sum(floor(col("value") * 1000)).as("sum_value_q"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("events"), col("sum_value_q"))

  final case class UserEvent(user_id: Long, event_type: String, value: Double)
  final case class UserStats(user_id: Long, events: Long, sum_value_q: Long)

  /** Custom running state via `mapGroupsWithState`: cumulative per-user
    * counters that survive across micro-batches — the escape hatch for
    * semantics `session_window`/windowed aggs can't express. */
  def runningUserStats(events: Dataset[UserEvent])
                      (implicit spark: SparkSession): Dataset[UserStats] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(uid, 0L, 0L))
          val next = batch.foldLeft(prev) { (s, e) =>
            UserStats(uid, s.events + 1, s.sum_value_q + math.floor(e.value * 1000).toLong)
          }
          state.update(next)
          next
      }
  }

  /** Stream-stream temporal enrichment: join a purchase stream to a
    * click stream per user within a time bound (click in the `window`
    * before or at the purchase) — the streaming twin of
    * `Temporal.rangeJoinBucketed`. Watermarks on BOTH sides bound the
    * join state: clicks older than purchase-watermark − window are
    * evicted, so state size tracks the window, not history.
    */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame,
                        window: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    p.join(c,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $window"))
      .select("user_id", "p_ts", "purchase_id", "c_ts", "click_id")
  }

  /** Tagged input row for [[asOfPurchaseClick]] (top-level-encodable).
    * `ts` stays a TIMESTAMP so the watermark tag survives into the
    * stateful operator (projecting it to a long strips the tag and the
    * event-time-timeout checker rejects the query). */
  final case class AsOfInput(user_id: Long, ts: java.sql.Timestamp,
                             side: Int, id: Long) {
    def tsUs: Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }

  /** Per-user as-of state: the single dominating click at-or-before the
    * watermark, plus in-watermark clicks and not-yet-final purchases. */
  final case class AsOfPending(hasLatest: Boolean, latestTsUs: Long,
                               latestId: Long,
                               clicks: List[(Long, Long)],
                               purchases: List[(Long, Long)])

  /** Output row of [[asOfPurchaseClick]] — the batch twin's exact
    * column names ([[graft.operators.Temporal.asOfJoin]] as declared by
    * `asof_purchase_click`). */
  final case class AsOfMatch(user_id: Long, ts: java.sql.Timestamp,
                             purchase_id: Long, r_ts: java.sql.Timestamp,
                             r_click_id: Long)

  private def tsOfMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stream-stream AS-OF join: for each purchase, the single latest
    * click with `c_ts <= p_ts` for the same user — the streaming twin
    * of `asof_purchase_click` (a windowed range join can't express
    * "latest prior", and Spark's stream-stream join has no as-of mode,
    * so this is the `flatMapGroupsWithState` case from the build
    * ladder).
    *
    * Event-time correctness under out-of-order input: a purchase is
    * emitted only once the watermark passes it — any click at or before
    * that purchase has either arrived or would be dropped as late — so
    * arrival order across micro-batches can never change a result
    * (spec-asserted equal to the batch twin). State stays bounded by
    * the same watermark: all clicks behind it collapse to the single
    * dominating `(ts, id)`-max click (older clicks can never win an
    * as-of against the purchases that remain), so per-user state is
    * one click plus only the in-watermark tail. Ties at equal ts take
    * the max id, mirroring the batch query's `max(event_id)` per-ts
    * dedup. Users with no pending purchases carry one compacted click
    * indefinitely — as-of lookback is unbounded by definition; a
    * deployment wanting eviction adds a TTL timeout on top.
    *
    * Inputs: purchases `(user_id, ts, purchase_id)`, clicks
    * `(user_id, ts, click_id)`. */
  def asOfPurchaseClick(purchases: DataFrame, clicks: DataFrame,
                        watermark: String = "1 hour")
                       (implicit spark: SparkSession): Dataset[AsOfMatch] = {
    import spark.implicits._
    val tagged = purchases
      .select(col("user_id"), col("ts"), lit(1).as("side"),
        col("purchase_id").as("id"))
      .unionByName(clicks.select(col("user_id"), col("ts"),
        lit(0).as("side"), col("click_id").as("id")))
      .withWatermark("ts", watermark)
      .as[AsOfInput]
    tagged.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfPending, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[AsOfInput], state: GroupState[AsOfPending]) =>
          val prev = state.getOption.getOrElse(
            AsOfPending(hasLatest = false, 0L, 0L, Nil, Nil))
          var clicksBuf = prev.clicks
          var purchasesBuf = prev.purchases
          batch.foreach { e =>
            if (e.side == 0) clicksBuf = (e.tsUs, e.id) :: clicksBuf
            else purchasesBuf = (e.tsUs, e.id) :: purchasesBuf
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // strict bound on BOTH finalize and compact: immune to which
          // side of the watermark Spark's late-row filter keeps
          val (ready, stillPending) = purchasesBuf.partition(_._1 < wmUs)
          val out = ready.sortBy(identity).flatMap { case (pTs, pid) =>
            val within = clicksBuf.filter(_._1 <= pTs)
            val cand =
              if (prev.hasLatest && prev.latestTsUs <= pTs)
                (prev.latestTsUs, prev.latestId) :: within
              else within
            if (cand.isEmpty) None
            else {
              val best = cand.max
              Some(AsOfMatch(uid, tsOfMicros(pTs), pid,
                tsOfMicros(best._1), best._2))
            }
          }
          val (behind, ahead) = clicksBuf.partition(_._1 < wmUs)
          val latestCand =
            (if (prev.hasLatest) List((prev.latestTsUs, prev.latestId))
             else Nil) ::: behind
          val next =
            if (latestCand.nonEmpty) {
              val m = latestCand.max
              AsOfPending(hasLatest = true, m._1, m._2, ahead, stillPending)
            } else AsOfPending(hasLatest = false, 0L, 0L, ahead, stillPending)
          if (!next.hasLatest && next.clicks.isEmpty && next.purchases.isEmpty) {
            state.remove()
          } else {
            state.update(next)
            if (stillPending.nonEmpty) {
              // wake this key when the watermark passes its earliest
              // pending purchase, even if no further data arrives
              val minPendingMs = stillPending.map(_._1).min / 1000L
              state.setTimeoutTimestamp(
                math.max(state.getCurrentWatermarkMs() + 1L, minPendingMs + 1L))
            }
          }
          out.iterator
      }
  }

  /** Input row for [[funnelStream]] (`ts` stays TIMESTAMP — see
    * [[AsOfInput]]). */
  final case class FunnelInput(user_id: Long, ts: java.sql.Timestamp,
                               event_type: String) {
    def tsUs: Long =
      ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
  }

  /** Per-user funnel state: stages completed so far, the completion
    * frontier (event time of the last completed stage), and the
    * in-watermark event buffer awaiting finalization. */
  final case class FunnelPending(stage: Int, frontierUs: Long,
                                 pending: List[(Long, String)])

  /** A stage-advance record: `user_id` completed `stage` (1-based) at
    * event time `ts`. */
  final case class FunnelAdvance(user_id: Long, stage: Int,
                                 event_type: String,
                                 ts: java.sql.Timestamp)

  /** Streaming ordered funnel — the unbounded twin of
    * [[graft.operators.EventOps.funnel]]: emits one record per user per
    * stage completion, where stage k requires a stage-k event at or
    * after the stage-(k−1) completion time.
    *
    * Event-time correct under out-of-order delivery by the same
    * buffer-then-finalize discipline as [[asOfPurchaseClick]]: events
    * buffer until the watermark passes them, then fold in (ts, stage
    * rank) order — so an advance, once emitted, can never be
    * invalidated by a late arrival (anything that could reorder the
    * fold would be dropped as late anyway). Equal-timestamp events
    * fold in stage order, matching the batch operator's `>=` chain.
    * State per user is the bounded in-watermark buffer of FUNNEL-TYPED
    * events plus two scalars; completed-stage history is two numbers,
    * never a list. */
  def funnelStream(events: DataFrame, stages: Seq[String],
                   watermark: String = "1 hour")
                  (implicit spark: SparkSession): Dataset[FunnelAdvance] = {
    import spark.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    val rank = stages.zipWithIndex.toMap
    val in = events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withWatermark("ts", watermark)
      .as[FunnelInput]
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelPending, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[FunnelInput],
         state: GroupState[FunnelPending]) =>
          val prev = state.getOption.getOrElse(FunnelPending(0, 0L, Nil))
          val buf = prev.pending ++
            batch.map(e => (e.tsUs, e.event_type)).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, ahead) = buf.partition(_._1 < wmUs)
          var stage = prev.stage
          var frontier = prev.frontierUs
          val out = scala.collection.mutable.ListBuffer[FunnelAdvance]()
          ready.sortBy { case (t, ty) => (t, rank(ty)) }.foreach {
            case (t, ty) =>
              if (stage < stages.length && ty == stages(stage) &&
                (stage == 0 || t >= frontier)) {
                stage += 1
                frontier = t
                out += FunnelAdvance(uid, stage, ty, tsOfMicros(t))
              }
          }
          if (stage >= stages.length && ahead.isEmpty) state.remove()
          else {
            state.update(FunnelPending(stage, frontier, ahead))
            if (ahead.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                state.getCurrentWatermarkMs() + 1L,
                ahead.map(_._1).min / 1000L + 1L))
          }
          out.iterator
      }
  }

  /** Per-user retention state: the (final) cohort week as an epoch day,
    * the week_k indices already emitted, and the in-watermark buffer. */
  final case class RetentionState(hasCohort: Boolean, cohortDay: Long,
                                  emitted: List[Long], pending: List[Long])

  /** One first-activity-per-week record: `user_id` was active in week
    * `week_k` of its `cohort_week`. */
  final case class RetentionHit(user_id: Long,
                                cohort_week: java.sql.Timestamp,
                                week_k: Long)

  /** Streaming weekly retention — the unbounded twin of
    * [[graft.operators.EventOps.retentionCohorts]]: emits one record
    * the first time each user is active in each week relative to its
    * first-event cohort (downstream, `groupBy(cohort_week, week_k)
    * count` is the retention triangle).
    *
    * The cohort is the user's FIRST event by EVENT TIME, which a
    * stream can only fix once the watermark passes it — the same
    * buffer-then-finalize discipline as [[funnelStream]]: events
    * buffer in state; on finalization the earliest buffered event
    * fixes the cohort permanently (any event that could precede it
    * would be dropped as late), and week indices dedupe against the
    * emitted set. Week truncation is Monday-start UTC, matching the
    * batch operator's `date_trunc('WEEK')` under the engine's UTC
    * session (asserted by the batch-twin spec). State per user: two
    * scalars, the emitted week indices, and the bounded in-watermark
    * buffer. */
  def retentionStream(events: DataFrame, watermark: String = "1 hour")
                     (implicit spark: SparkSession): Dataset[RetentionHit] = {
    import spark.implicits._
    val in = events.select(col("user_id"), col("ts"), lit(0).as("side"),
        col("event_id").as("id"))
      .withWatermark("ts", watermark)
      .as[AsOfInput] // reuse the (user_id, ts) encodable carrier
    in.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[AsOfInput],
         state: GroupState[RetentionState]) =>
          val prev = state.getOption.getOrElse(
            RetentionState(hasCohort = false, 0L, Nil, Nil))
          val buf = prev.pending ++ batch.map(_.tsUs).toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, ahead) = buf.partition(_ < wmUs)
          var hasCohort = prev.hasCohort
          var cohortDay = prev.cohortDay
          var emitted = prev.emitted
          val out = scala.collection.mutable.ListBuffer[RetentionHit]()
          if (ready.nonEmpty) {
            if (!hasCohort) {
              // Monday-start week of the earliest finalized event:
              // 1970-01-05 (epoch day 4) was a Monday
              val firstDay = Math.floorDiv(ready.min, 86400000000L)
              cohortDay = firstDay - Math.floorMod(firstDay - 4L, 7L)
              hasCohort = true
            }
            ready.foreach { us =>
              val k = (Math.floorDiv(us, 86400000000L) - cohortDay) / 7L
              if (!emitted.contains(k)) {
                emitted = k :: emitted
                out += RetentionHit(uid,
                  tsOfMicros(cohortDay * 86400000000L), k)
              }
            }
          }
          state.update(RetentionState(hasCohort, cohortDay, emitted, ahead))
          if (ahead.nonEmpty)
            state.setTimeoutTimestamp(math.max(
              state.getCurrentWatermarkMs() + 1L, ahead.min / 1000L + 1L))
          out.iterator
      }
  }

  /** Streaming ingestion dedup: drop re-delivered events by id while the
    * watermark keeps the dedup state bounded (ids older than the
    * watermark are evicted — at-least-once upstream becomes effectively-
    * once downstream without unbounded state). */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Wire a directory of events parquet as a stream (file source) —
    * production entry: `readStream` over an append-only events lake. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** Streaming ingest into a MANIFEST-TRACKED lake — the stream twin
    * of [[graft.operators.Layout.appendWithManifest]] (r16, the r15
    * verdict #7: the one lake-lifecycle op without a stream sibling;
    * the LSH and PQ indexes both have ingest twins). `foreachBatch` is
    * the correct streaming shape for a SINK lifecycle (the op is a
    * write protocol, not a transformation): each micro-batch runs the
    * exact batch append — write part files, stat ONLY the fresh files
    * from a before/after listing, append their manifest rows — so the
    * streamed manifest is ROW-IDENTICAL to rebuilding from scratch
    * with [[graft.operators.Layout.writeStatsManifest]] over the same
    * lake (StreamingSpec pins the equality; STREAM_PROBE_r16 prices
    * it). Per micro-batch cost is delta-scale: one write of the
    * batch's rows + one stat pass over just-written files.
    *
    * Replay-safe (r17, the r16 ADVICE item): each micro-batch applies
    * through [[graft.operators.Layout.appendWithManifestIdempotent]]
    * keyed by `batchId` — an applied-batch marker ledger plus
    * batch-tagged file names, so a batch re-delivered after a crash
    * between the data write and the checkpoint commit scrubs its own
    * partial files and redoes (or no-ops if it fully landed), instead
    * of duplicating lake and manifest rows. The remaining caveat is
    * the batch op's own: single-writer — the ledger serializes
    * replays of ONE writer; concurrent writers need a table format. */
  def manifestIngestStream(events: DataFrame, dataPath: String,
      manifestPath: String, statsCols: Seq[String],
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        // an empty re-trigger must not reach the append (its
        // fresh-file require is the guard against silent no-op stats)
        if (!batch.isEmpty)
          graft.operators.Layout.appendWithManifestIdempotent(
            batch.sparkSession, batch.toDF(), dataPath, manifestPath,
            statsCols, tag = batchId)
      }
      .start()
}
