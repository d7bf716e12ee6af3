package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{DocStream, EventStream}

/** Event row shape for streaming specs — top-level so Spark can build
  * a product encoder without an outer-instance scope. */
final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
                    event_type: String, value: Double, props: String)

/** Document row shape for the streaming dedup spec. */
final case class Doc(doc_id: Long, ts: Timestamp, text: String)

/** Document row shape with language, for the streaming LM scorer. */
final case class LDoc(doc_id: Long, ts: Timestamp, text: String,
                      lang: String)

/** Embedding row shape for the streaming semantic dedup spec. */
final case class VDoc(vec_id: Long, ts: Timestamp,
                      embedding: Array[Float])

/** Structured Streaming surface driven through MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("streaming rollup state equals the batch rollup under reordering") {
    val input = MemoryStream[Ev](spark)
    // complete mode: the sink shows the whole state relation — which
    // IS the rollup, the op's key-cardinality-bounded-state point
    val query = EventStream.rollupStream(input.toDF())
      .writeStream.format("memory").queryName("rollup_stream")
      .outputMode("complete").start()
    try {
      val rows = Seq(
        Ev(3, ts("10:30"), 1, "click", 2.49, ""), // out of order
        Ev(1, ts("10:00"), 1, "click", 1.51, ""),
        Ev(2, ts("10:10"), 2, "view", 0.99, ""),
        Ev(4, ts("10:40"), 1, "view", 3.10, ""))
      input.addData(rows.take(2)); query.processAllAvailable()
      input.addData(rows.drop(2)); query.processAllAvailable()
      val streamed = spark.table("rollup_stream")
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.EventOps.rollup(rows.toDF())
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(streamed === batch)
      assert(streamed((1L, "click")) === ((2L, 400L))) // 249 + 151 cents
    } finally query.stop()
  }

  test("windowed streaming agg matches its batch twin across micro-batches") {
    val input = MemoryStream[Ev](spark)
    val query = EventStream.hourlyByType(input.toDF())
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try {
      input.addData(
        Ev(1, ts("10:05"), 1, "click", 1.5, ""),
        Ev(2, ts("10:35"), 2, "click", 2.5, ""),
        Ev(3, ts("11:05"), 1, "view", 3.5, ""))
      query.processAllAvailable()
      input.addData(Ev(4, ts("10:55"), 3, "click", 4.5, "")) // late but in-watermark
      query.processAllAvailable()

      val streamed = spark.table("hourly_stream")
      val batch = EventStream.hourlyByType(
        Seq(
          Ev(1, ts("10:05"), 1, "click", 1.5, ""),
          Ev(2, ts("10:35"), 2, "click", 2.5, ""),
          Ev(3, ts("11:05"), 1, "view", 3.5, ""),
          Ev(4, ts("10:55"), 3, "click", 4.5, "")).toDF())
      val s = streamed.orderBy("hour_start", "event_type").collect().toSeq
      val b = batch.orderBy("hour_start", "event_type").collect().toSeq
      assert(s === b)
      val clicks10 = streamed.filter(col("event_type") === "click" &&
        col("hour_start") === ts("10:00")).select("n").collect().head.getLong(0)
      assert(clicks10 === 3) // late row merged into the open window
    } finally query.stop()
  }

  test("session_window merges events within the gap per user") {
    val df = Seq(
      Ev(1, ts("10:00"), 1, "click", 1.0, ""),
      Ev(2, ts("10:10"), 1, "click", 1.0, ""), // same session (gap 30m)
      Ev(3, ts("11:30"), 1, "click", 1.0, ""), // new session
      Ev(4, ts("10:05"), 2, "view", 1.0, "")).toDF()
    val sessions = EventStream.sessionize(df).orderBy("user_id", "session_start")
      .collect()
    assert(sessions.length === 3)
    val first = sessions.head
    assert(first.getAs[Long]("user_id") === 1L)
    assert(first.getAs[Long]("events") === 2L)
    assert(first.getAs[Timestamp]("session_end") === ts("10:40")) // last+gap
  }

  test("mapGroupsWithState accumulates per-user state across micro-batches") {
    implicit val s = spark
    val input = MemoryStream[EventStream.UserEvent](spark)
    val query = EventStream.runningUserStats(input.toDS())
      .writeStream.format("memory").queryName("user_stats")
      .outputMode("update").start()
    try {
      input.addData(EventStream.UserEvent(1, "click", 1.5))
      query.processAllAvailable()
      input.addData(EventStream.UserEvent(1, "view", 2.5),
        EventStream.UserEvent(2, "click", 0.5))
      query.processAllAvailable()
      val rows = spark.table("user_stats")
        .groupBy("user_id").agg(max("events").as("events"),
          max("sum_value_q").as("sum_value_q"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // user 1: state carried 1500 + 2500 across batches
      assert(rows.contains((1L, 2L, 4000L)))
      assert(rows.contains((2L, 1L, 500L)))
    } finally query.stop()
  }

  test("stream-stream join enriches purchases with in-window clicks") {
    val purchases = MemoryStream[Ev](spark)
    val clicks = MemoryStream[Ev](spark)
    val q = EventStream.purchaseClickJoin(purchases.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      clicks.addData(
        Ev(10, ts("09:55"), 1, "click", 1.0, ""),  // in window
        Ev(11, ts("09:45"), 1, "click", 1.0, ""),  // too old (>10m)
        Ev(12, ts("09:58"), 2, "click", 1.0, ""))  // other user
      purchases.addData(Ev(20, ts("10:00"), 1, "purchase", 5.0, ""))
      q.processAllAvailable()
      val rows = spark.table("ss_join").collect()
      assert(rows.length === 1)
      assert(rows.head.getAs[Long]("purchase_id") === 20L)
      assert(rows.head.getAs[Long]("click_id") === 10L)
    } finally q.stop()
  }

  test("stream-stream as-of join equals the batch twin under out-of-order input") {
    implicit val s = spark
    import spark.implicits._
    val purchases = MemoryStream[Ev](spark)
    val clicks = MemoryStream[Ev](spark)
    def pDF(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    def cDF(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val q = EventStream.asOfPurchaseClick(
        pDF(purchases.toDF()), cDF(clicks.toDF()), watermark = "2 hours")
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").start()
    try {
      val pRows = Seq(
        Ev(20, ts("10:00"), 1, "purchase", 0, ""), // click arrives LATER (batch 2)
        Ev(21, ts("10:20"), 1, "purchase", 0, ""),
        Ev(22, ts("10:05"), 2, "purchase", 0, ""), // no prior click ever: dropped
        Ev(23, ts("10:30"), 3, "purchase", 0, ""))
      val cRows = Seq(
        Ev(10, ts("09:58"), 1, "click", 0, ""),    // out-of-order arrival
        Ev(11, ts("10:10"), 1, "click", 0, ""),    // latest prior for 21
        Ev(12, ts("10:10"), 1, "click", 0, ""),    // tie: max id wins
        Ev(13, ts("10:40"), 2, "click", 0, ""),    // AFTER 2's purchase: no match
        Ev(14, ts("09:00"), 3, "click", 0, ""))    // deep lookback for 23
      // batch 1: purchases first — their prior clicks are NOT here yet
      purchases.addData(pRows.take(3): _*)
      clicks.addData(cRows(4))
      q.processAllAvailable()
      // batch 2: the prior clicks arrive out-of-order, within watermark
      clicks.addData(cRows(0), cRows(1), cRows(2), cRows(3))
      purchases.addData(pRows(3))
      q.processAllAvailable()
      // advance the watermark (2h delay) far past every purchase, then
      // run one more batch so timeouts fire with the advanced watermark
      clicks.addData(Ev(99, ts("20:00"), 99, "click", 0, ""))
      q.processAllAvailable()
      clicks.addData(Ev(98, ts("20:01"), 99, "click", 0, ""))
      q.processAllAvailable()

      val streamed = spark.table("asof_stream")
        .select("user_id", "ts", "purchase_id", "r_ts", "r_click_id")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getTimestamp(3), r.getLong(4))).toSet
      val batch = graft.operators.Temporal.asOfJoin(
          pDF(pRows.toDF()),
          cDF(cRows.toDF()).groupBy("user_id", "ts")
            .agg(max("click_id").as("click_id")),
          "user_id", "ts",
          leftCols = Seq("purchase_id"), rightCols = Seq("click_id"))
        .select("user_id", "ts", "purchase_id", "r_ts", "r_click_id")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getTimestamp(3), r.getLong(4))).toSet
      assert(streamed === batch)
      // the semantics the twin-equality could mask if both were wrong:
      assert(streamed.contains((1L, ts("10:00"), 20L, ts("09:58"), 10L)))
      assert(streamed.contains((1L, ts("10:20"), 21L, ts("10:10"), 12L))) // tie → max id
      assert(streamed.contains((3L, ts("10:30"), 23L, ts("09:00"), 14L))) // deep lookback
      assert(!streamed.exists(_._3 == 22L)) // inner as-of: no prior click
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids across micro-batches") {
    val input = MemoryStream[Ev](spark)
    val q = EventStream.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("10:00"), 1, "click", 1.0, ""),
        Ev(2, ts("10:01"), 1, "view", 1.0, ""),
        Ev(1, ts("10:00"), 1, "click", 1.0, "")) // duplicate in-batch
      q.processAllAvailable()
      input.addData(Ev(2, ts("10:01"), 1, "view", 1.0, ""), // re-delivery
        Ev(3, ts("10:02"), 2, "click", 1.0, ""))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("file-source stream over the events lake produces the batch result") {
    val dir = java.nio.file.Files.createTempDirectory("events_stream").toString
    val checkpoint = java.nio.file.Files.createTempDirectory("ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("out").toString
    Seq(Ev(1, ts("10:05"), 1, "click", 1.5, ""),
      Ev(2, ts("11:15"), 2, "view", 2.5, "")).toDF()
      .write.mode("overwrite").parquet(dir)
    val stream = EventStream.readEventStream(spark, dir)
    val q = EventStream.hourlyByType(stream)
      .writeStream.format("memory").queryName("file_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("file_stream").count() === 2)
    } finally q.stop()
    // silence unused warnings for the parquet-sink helper paths
    assert(checkpoint.nonEmpty && out.nonEmpty)
  }

  test("streaming minhash dedup collapses re-crawled duplicate docs") {
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.DocStream.dedupDocStream(input.toDF())
      .writeStream.format("memory").queryName("doc_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1, ts("10:00"), "the quick brown fox jumps over the dog"),
        Doc(2, ts("10:01"), "an entirely different document body here"))
      q.processAllAvailable()
      // doc 3 = re-crawl of doc 1 (identical text, new id, later ts):
      // same signature → dropped; doc 4 is novel → kept
      input.addData(
        Doc(3, ts("10:05"), "the quick brown fox jumps over the dog"),
        Doc(4, ts("10:06"), "yet another unrelated piece of text"))
      q.processAllAvailable()
      val kept = spark.table("doc_dedup_stream").select("doc_id")
        .collect().map(_.getLong(0)).sorted
      assert(kept.toSeq === Seq(1L, 2L, 4L))
    } finally q.stop()
  }

  test("row-local minhash signature equals the batch aggregation sketch") {
    val docs = Seq(
      (0L, "alpha beta gamma delta", "en", "s0", 22L),
      (1L, "the quick brown fox", "en", "s0", 19L),
      (2L, "alpha beta gamma delta", "fr", "s1", 22L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = graft.operators.Dedup.minhashSignatures(docs, 32)
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val rowLocal = docs
      .select(col("doc_id"),
        graft.operators.Dedup.minhashSigColumn(col("text"), 32).as("sig"))
      .orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(batch.toSeq === rowLocal.toSeq)
    assert(batch(0) === batch(2)) // identical text → identical sketch
  }

  test("streaming funnel advances stages correctly under out-of-order input") {
    implicit val s = spark
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.EventStream
      .funnelStream(input.toDF(), Seq("signup", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").start()
    try {
      // u1's click+purchase arrive BEFORE its signup (out of order);
      // u2 clicks before signing up in EVENT TIME (stalls at stage 1)
      input.addData(
        Ev(1, ts("10:30"), 1, "click", 0.0, ""),
        Ev(2, ts("10:40"), 1, "purchase", 0.0, ""),
        Ev(3, ts("09:00"), 2, "click", 0.0, ""))
      q.processAllAvailable()
      input.addData(
        Ev(4, ts("10:20"), 1, "signup", 0.0, ""), // late, in-watermark
        Ev(5, ts("10:00"), 2, "signup", 0.0, ""),
        Ev(6, ts("12:30"), 3, "signup", 0.0, "")) // advances watermark
      q.processAllAvailable()
      input.addData(Ev(7, ts("12:31"), 3, "click", 0.0, "")) // finalize wm
      q.processAllAvailable()

      val adv = spark.table("funnel_stream")
        .select("user_id", "stage", "event_type").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      // u1 completes all three stages despite arrival order; u2 stalls
      // at signup (its click predates the signup in event time)
      assert(adv.contains((1L, 1, "signup")))
      assert(adv.contains((1L, 2, "click")))
      assert(adv.contains((1L, 3, "purchase")))
      assert(adv.filter(_._1 == 2L) === Set((2L, 1, "signup")))
      // agrees with the batch operator on the finalized users
      val batchCounts = graft.operators.EventOps.funnel(
        Seq(
          Ev(1, ts("10:30"), 1, "click", 0.0, ""),
          Ev(2, ts("10:40"), 1, "purchase", 0.0, ""),
          Ev(3, ts("09:00"), 2, "click", 0.0, ""),
          Ev(4, ts("10:20"), 1, "signup", 0.0, ""),
          Ev(5, ts("10:00"), 2, "signup", 0.0, "")).toDF(),
        Seq("signup", "click", "purchase"))
        .orderBy("stage").collect().map(_.getAs[Long]("users"))
      assert(batchCounts.toSeq === Seq(2L, 1L, 1L))
      assert(adv.count(_._2 == 1) >= 2 && adv.count(_._2 == 2) >= 1 &&
        adv.count(_._2 == 3) >= 1)
    } finally q.stop()
  }

  test("streaming retention matches the batch triangle under late first events") {
    implicit val s = spark
    val input = MemoryStream[Ev](spark)
    // a 10-day watermark keeps the cross-batch disorder below
    // in-watermark (a 1-hour watermark would — correctly — drop the
    // days-late first event instead of reordering it)
    val q = graft.streaming.EventStream
      .retentionStream(input.toDF(), watermark = "10 days")
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode("append").start()
    try {
      // u1's chronologically-FIRST event (Jan 3) arrives second; its
      // cohort must still be the week of Jan 1. 2024-01-01 is a Monday.
      input.addData(
        Ev(1, Timestamp.valueOf("2024-01-05 10:00:00"), 1, "view", 0.0, ""),
        Ev(2, Timestamp.valueOf("2024-01-10 10:00:00"), 2, "click", 0.0, ""))
      q.processAllAvailable()
      input.addData(
        Ev(3, Timestamp.valueOf("2024-01-03 10:00:00"), 1, "click", 0.0, ""),
        Ev(4, Timestamp.valueOf("2024-01-09 10:00:00"), 1, "view", 0.0, ""),
        Ev(5, Timestamp.valueOf("2024-02-01 00:00:00"), 3, "view", 0.0, ""))
      q.processAllAvailable()
      input.addData( // advance the watermark past everything above
        Ev(6, Timestamp.valueOf("2024-03-01 00:00:00"), 3, "view", 0.0, ""))
      q.processAllAvailable()

      val all = Seq(
        Ev(1, Timestamp.valueOf("2024-01-05 10:00:00"), 1, "view", 0.0, ""),
        Ev(2, Timestamp.valueOf("2024-01-10 10:00:00"), 2, "click", 0.0, ""),
        Ev(3, Timestamp.valueOf("2024-01-03 10:00:00"), 1, "click", 0.0, ""),
        Ev(4, Timestamp.valueOf("2024-01-09 10:00:00"), 1, "view", 0.0, ""),
        Ev(5, Timestamp.valueOf("2024-02-01 00:00:00"), 3, "view", 0.0, ""))
      val batch = graft.operators.EventOps.retentionCohorts(all.toDF())
        .collect().map(r => (r.getTimestamp(0).toString.take(10),
          r.getAs[Long]("week_k"), r.getAs[Long]("users"))).toSet
      val streamed = spark.table("retention_stream")
        .filter(col("user_id") =!= 3L) // u3's tail events aren't finalized
        .groupBy("cohort_week", "week_k")
        .agg(count(lit(1)).as("users")).collect()
        .map(r => (r.getTimestamp(0).toString.take(10),
          r.getAs[Long]("week_k"), r.getAs[Long]("users"))).toSet
      // every finalized streamed cell appears in the batch triangle
      // with the same user count, and u1's late-first-event cohort is
      // the Jan-1 week
      assert(streamed.nonEmpty && streamed.subsetOf(batch),
        s"streamed=$streamed batch=$batch")
      assert(streamed.contains(("2024-01-01", 0L, 1L)))
      assert(streamed.contains(("2024-01-01", 1L, 1L)))
    } finally q.stop()
  }

  test("stream-static decontamination flags only eval-overlapping docs") {
    val evalGrams = Seq("two three four five six").toDF("gram")
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.DocStream
      .contaminationStream(input.toDF(), evalGrams, n = 5)
      .writeStream.format("memory").queryName("contam_stream")
      .outputMode("update").start()
    try {
      input.addData(
        // contains the eval 5-gram twice over its distinct-gram set? no:
        // distinct grams, so one hit
        Doc(1, ts("10:00"), "one two three four five six seven"),
        Doc(2, ts("10:01"), "completely unrelated clean document text here"))
      q.processAllAvailable()
      val rows = spark.table("contam_stream")
        .select("doc_id", "eval_hits").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows === Map(1L -> 1L)) // doc 2 never emits
    } finally q.stop()
  }

  test("streaming winnow match equals the batch fingerprint join") {
    val ref = Seq(
      (100L, "a protected reference passage long enough to winnow fully"),
      (101L, "another reference document with entirely different words"))
      .toDF("doc_id", "text")
    val refFps = graft.operators.TextOps.winnowFingerprints(ref)
    val docs = Seq(
      Doc(1, ts("10:01"), "prefix a protected reference passage long enough to winnow fully suffix"),
      Doc(2, ts("10:00"), "totally unrelated incoming content sharing no substring at all"))
    val input = MemoryStream[Doc](spark)
    // APPEND mode, the docstring's contract: each per-doc count emits
    // exactly once, FINAL, when the watermark passes its event time —
    // update mode would re-emit evolving counts per micro-batch
    val q = graft.streaming.DocStream
      .winnowMatchStream(input.toDF(), refFps, k = 12, w = 8, minShared = 2)
      .writeStream.format("memory").queryName("winnow_stream")
      .outputMode("append").start()
    try {
      input.addData(docs: _*) // out of order: doc 2's ts precedes doc 1's
      q.processAllAvailable()
      // advance the watermark past both docs (1 h bound) so their
      // groups finalize; the advancer itself stays pending forever
      input.addData(Doc(99, ts("12:00"), "watermark advancer nothing shared"))
      q.processAllAvailable()
      val streamed = spark.table("winnow_stream")
        .select("doc_id", "shared_fps").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch twin: same fingerprint join + count + threshold
      val batch = graft.operators.TextOps.winnowFingerprints(
          docs.toDF().select(col("doc_id"), col("text")))
        .join(broadcast(refFps.select("fp").distinct()), "fp")
        .groupBy("doc_id").agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed === batch)
      assert(streamed.contains(1L) && !streamed.contains(2L))
    } finally q.stop()
  }

  test("streaming fuzzy ingest equals the batch corpus match on matched keys") {
    val corpus = Seq("alice", "bob", "carol").toDF("name")
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.DocStream
      .fuzzyIngestStream(input.toDF(), corpus.select(col("name").as("text")),
        keyCol = "text")
      .writeStream.format("memory").queryName("fuzzy_ingest_stream")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1, ts("10:00"), "alice"), // exact re-occurrence (ED 0)
        Doc(2, ts("10:01"), "alicx"), // one substitution from alice
        Doc(3, ts("10:02"), "bo"),    // one deletion from bob
        Doc(4, ts("10:03"), "zzzzz")) // fresh key
      q.processAllAvailable()
      // advance the watermark past all four keys so groups finalize
      input.addData(Doc(99, ts("12:30"), "advancer-key-matches-nothing"))
      q.processAllAvailable()
      val streamed = spark.table("fuzzy_ingest_stream")
        .select("name", "n_matches", "nearest").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      // batch twin: the matched subset must agree exactly (the stream
      // emits matches only; keep=true keys are the absent ones)
      val batch = graft.operators.Dedup.fuzzyMatchAgainstCorpus(
          Seq("alice", "alicx", "bo", "zzzzz").toDF("text"),
          corpus.select(col("name").as("text")), "text")
        .filter(col("n_matches") > 0)
        .select("name", "n_matches", "nearest").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed === batch)
      assert(streamed.map(_._1) === Set("alice", "alicx", "bo"))
      assert(streamed.forall(_._3.nonEmpty)) // nearest always present
    } finally q.stop()
  }

  test("streaming media ingest equals the batch band probe on matched media") {
    // corpus kinds by id % 3: 0 → image, 1 → audio, 2 → video
    val corpusDocs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta " * 6, "en", "s0"),
      (1L, "un deux trois quatre cinq six sept huit neuf " * 6, "en", "s0"),
      (2L, "video payload content stream frame sample data " * 6, "en", "s1"))
      .toDF("doc_id", "text", "lang", "source")
    val corpus = graft.operators.Multimodal.fromDocuments(corpusDocs)
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.MediaStream.mediaIngestStream(spark,
      graft.streaming.MediaStream.mediaFromDocStream(input.toDF()), corpus)
      .writeStream.format("memory").queryName("media_ingest_stream")
      .outputMode("append").start()
    try {
      input.addData(
        // 30 % 3 = 0 → image, exact payload of corpus 0 → Hamming 0
        Doc(30, ts("10:00"), "alpha beta gamma delta epsilon zeta eta theta " * 6),
        // 33 → image, one-token edit of corpus 0 → perceptual near-dup
        Doc(33, ts("10:01"), ("alpha beta gamma delta epsilon zeta eta theta " * 6)
          .replace("zeta", "zetA")),
        // 34 → audio, fresh payload → no match
        Doc(34, ts("10:02"), "totally novel audio-ish bytes nothing shared here " * 6))
      q.processAllAvailable()
      input.addData(Doc(99, ts("12:30"), "watermark advancer nothing")) // advance
      q.processAllAvailable()
      val streamed = spark.table("media_ingest_stream")
        .select("media_id", "n_matches", "nearest_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === Set((30L, 1L, 0L), (33L, 1L, 0L)))
      // batch twin: matched stream ids = batch media MINUS survivors
      val batchDocs = Seq(
        (30L, "alpha beta gamma delta epsilon zeta eta theta " * 6, "en", "s2"),
        (33L, ("alpha beta gamma delta epsilon zeta eta theta " * 6)
          .replace("zeta", "zetA"), "en", "s2"),
        (34L, "totally novel audio-ish bytes nothing shared here " * 6, "en", "s2"))
        .toDF("doc_id", "text", "lang", "source")
      val batchMedia = graft.operators.Multimodal.fromDocuments(batchDocs)
      val survivors = graft.operators.Multimodal.dedupAgainstCorpusMedia(
          spark, batchMedia, corpus)
        .collect().map(_.getAs[Long]("media_id")).toSet
      assert(survivors === Set(34L))
      assert(streamed.map(_._1) === Set(30L, 33L) -- survivors)
    } finally q.stop()
  }

  test("streaming LM scorer equals the batch scorer on model-covered docs") {
    val corpus = Seq(
      (0L, "a b a b", "en", "s0", 7L),
      (1L, "a b c", "en", "s0", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val model = graft.operators.TextOps.lmModel(corpus)
    val input = MemoryStream[LDoc](spark)
    // append mode: each per-doc score emits exactly once, final, when
    // the watermark passes its event time (the winnow-spec contract)
    val q = graft.streaming.DocStream
      .lmScoreStream(input.toDF(), model)
      .writeStream.format("memory").queryName("lm_stream")
      .outputMode("append").start()
    try {
      input.addData(
        LDoc(10, ts("10:00"), "a b a b", "en"), // = corpus doc 0
        LDoc(11, ts("10:01"), "x y z", "en"))   // fully OOV: never emits
      q.processAllAvailable()
      input.addData(LDoc(99, ts("12:00"), "a b", "en")) // watermark advancer
      q.processAllAvailable()
      val streamed = spark.table("lm_stream")
        .select("doc_id", "n_bigrams", "avg_pmilli", "min_pmilli")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      // doc 10 carries corpus doc 0's text: identical score to the
      // batch scorer (model-covered mass is the same relation)
      val batch = graft.operators.TextOps.lmScore(corpus).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(streamed === Map(10L -> batch(0L)))
    } finally q.stop()
  }

  test("streaming perceptron scorer equals the batch margins") {
    val corpus = Seq(
      (0L, "the the cat sat", "en", "s0", 7L),
      (1L, "cat dog fox run", "en", "s0", 7L),
      (2L, "the a big dog", "en", "s0", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val cfg = graft.operators.Curation.PerceptronConfig(buckets = 16,
      rounds = 2)
    val weights = graft.operators.Curation.perceptronWeights(corpus, cfg)
    val input = MemoryStream[LDoc](spark)
    val q = graft.streaming.DocStream
      .qclfScoreStream(input.toDF(), weights, buckets = 16)
      .writeStream.format("memory").queryName("qclf_stream")
      .outputMode("append").start()
    try {
      input.addData(
        LDoc(10, ts("10:00"), "the the cat sat", "en"), // = corpus doc 0
        LDoc(11, ts("10:01"), "cat dog fox run", "en")) // = corpus doc 1
      q.processAllAvailable()
      input.addData(LDoc(99, ts("12:00"), "the a", "en")) // watermark advancer
      q.processAllAvailable()
      val streamed = spark.table("qclf_stream")
        .select("doc_id", "margin", "pred").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val batch = graft.operators.Curation.perceptronScore(corpus, cfg)
        .select("doc_id", "margin", "pred").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed(10L) === batch(0L))
      assert(streamed(11L) === batch(1L))
    } finally q.stop()
  }

  test("streaming KMV sketch is bit-identical to the batch sketch " +
    "under out-of-order, duplicated delivery") {
    val users = (0L until 40L)
    val k = 8
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.SketchStream
      .kmvDistinctStream(input.toDF(), "event_type", "user_id", k)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode("update").start()
    try {
      // batch 1: second half of the users, shuffled; batch 2: first half
      // plus REDELIVERY of some of batch 1 — order and duplication must
      // not matter to a k-min set
      input.addData(users.drop(20).reverse.map(u =>
        Ev(u, ts("10:00"), u, "click", 0.0, "")): _*)
      q.processAllAvailable()
      input.addData((users.take(20) ++ users.drop(35)).map(u =>
        Ev(u, ts("10:05"), u, "click", 0.0, "")): _*)
      q.processAllAvailable()

      val finalRow = spark.table("kmv_stream").collect()
        .filter(_.getAs[String]("grp") == "click").last
      val batch = graft.operators.Sketches.kmvDistinct(
        users.map(u => ("click", u)).toDF("event_type", "user_id"),
        "event_type", "user_id", k).collect().head
      assert(finalRow.getAs[Long]("kth_hash") === batch.getAs[Long]("kth_hash"))
      assert(finalRow.getAs[Double]("kmv_estimate") ===
        batch.getAs[Double]("kmv_estimate"))
      assert(finalRow.getAs[Int]("n_kept") === k)
    } finally q.stop()
  }

  test("streaming quantile sketch matches the batch estimates " +
    "under split, duplicated delivery") {
    val n = 50
    val k = 16
    val input = MemoryStream[Ev](spark)
    val q = graft.streaming.SketchStream
      .kmvQuantileStream(input.toDF(), "event_type", "event_id", "value", k)
      .writeStream.format("memory").queryName("kq_stream")
      .outputMode("update").start()
    try {
      def ev(i: Long) = Ev(i, ts("10:00"), i % 7, "click", i * 1.5, "")
      // out-of-order halves with re-delivered overlap
      input.addData((n / 2 until n).reverse.map(i => ev(i.toLong)): _*)
      q.processAllAvailable()
      input.addData((0 until n / 2).map(i => ev(i.toLong)) ++
        (n - 5 until n).map(i => ev(i.toLong)): _*)
      q.processAllAvailable()
      val last = spark.table("kq_stream").collect()
        .filter(_.getAs[String]("grp") == "click").last
      val batch = graft.operators.Sketches.kmvQuantileSketch(
        (0 until n).map(i => ("click", i.toLong, i * 1.5))
          .toDF("event_type", "event_id", "value"),
        "event_type", "event_id", "value", k).collect().head
      assert(last.getAs[Int]("n_sampled") === k)
      assert(last.getAs[Double]("p50_est") === batch.getAs[Double]("p50_est"))
      assert(last.getAs[Double]("p90_est") === batch.getAs[Double]("p90_est"))
      assert(last.getAs[Double]("p99_est") === batch.getAs[Double]("p99_est"))
    } finally q.stop()
  }

  test("streaming CMS table is bit-identical to the batch table " +
    "under split, duplicated delivery") {
    val words = Seq("alpha", "beta", "alpha", "gamma", "beta", "alpha",
      "delta", "alpha")
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.SketchStream
      .cmsStream(input.toDF(), "text", depth = 3, width = 64)
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("update").start()
    try {
      input.addData(words.take(5).zipWithIndex.map { case (w, i) =>
        Doc(i.toLong, ts("10:00"), w) }: _*)
      q.processAllAvailable()
      input.addData(words.drop(5).zipWithIndex.map { case (w, i) =>
        Doc(100L + i, ts("10:05"), w) }: _*)
      q.processAllAvailable()
      // counters are monotone: the final value per cell is the max of
      // its update-mode emissions
      val streamed = spark.table("cms_stream").collect()
        .groupBy(r => (r.getAs[Int]("d"), r.getAs[Long]("b"))).view
        .mapValues(_.map(_.getAs[Long]("c")).max).toMap
      val batch = graft.operators.Sketches.cmsTable(
        words.toDF("text"), "text", depth = 3, width = 64).collect()
        .map(r => (r.getAs[Int]("d"), r.getAs[Long]("b")) ->
          r.getAs[Long]("c")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming HLL registers are bit-identical to the batch table " +
    "under split, duplicated delivery") {
    val words = (0 until 40).map(i => s"k${i % 25}") // dups + 25 distinct
    val input = MemoryStream[Doc](spark)
    val q = graft.streaming.SketchStream
      .hllStream(input.toDF(), "text", "text", p = 8)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("update").start()
    try {
      input.addData(words.take(30).zipWithIndex.map { case (w, i) =>
        Doc(i.toLong, ts("10:00"), w) }: _*)
      q.processAllAvailable()
      // second batch re-delivers some of the first (duplicated delivery)
      input.addData(words.drop(20).zipWithIndex.map { case (w, i) =>
        Doc(100L + i, ts("10:05"), w) }: _*)
      q.processAllAvailable()
      // registers are monotone: final value per cell = max of emissions
      val streamed = spark.table("hll_stream").collect()
        .groupBy(r => r.getAs[Long]("bucket")).view
        .mapValues(_.map(_.getAs[Long]("register")).max).toMap
      val batch = graft.operators.Sketches.hllRegisters(
        words.toDF("text").withColumn("g", org.apache.spark.sql.functions.lit("text")),
        "g", "text", p = 8).collect()
        .map(r => r.getAs[Long]("bucket") -> r.getAs[Long]("register")).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming semantic dedup equals the batch-vs-corpus twin, statelessly") {
    // the semDedupAgainstCorpus spec fixture: v10 is colinear with
    // corpus v0 (dropped at ingest), v11 is novel, v12 is colinear
    // with STREAMED v11 — both survive (the stream never judges
    // in-flight vectors against each other, same contract as batch)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val input = MemoryStream[VDoc](spark)
    val q = graft.streaming.VecStream
      .semDedupStream(input.toDF(), corpus, thresholdHundredths = 90,
        dim = 4)
      .writeStream.format("memory").queryName("sem_stream")
      .outputMode("append").start()
    try {
      input.addData(
        VDoc(10, ts("10:00"), Array(0.75f, 0.0f, 0.0f, 0.0f)),
        VDoc(11, ts("10:01"), Array(0.0f, 0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      input.addData(
        VDoc(12, ts("10:02"), Array(0.0f, 0.0f, 0.75f, 0.0f)))
      q.processAllAvailable()
      val streamed = spark.table("sem_stream")
        .select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
      // batch twin on the same relations
      val batch = graft.operators.Similarity.semDedupAgainstCorpus(spark,
          Seq((10L, Array(0.75f, 0.0f, 0.0f, 0.0f), 0),
            (11L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0),
            (12L, Array(0.0f, 0.0f, 0.75f, 0.0f), 1))
            .toDF("vec_id", "embedding", "label"),
          corpus, thresholdHundredths = 90, dim = 4)
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(streamed === batch)
      assert(streamed === Set((11L, 0), (12L, 0)))
      // stateless contract: no state store rows were ever written
      val progress = q.lastProgress
      assert(progress == null || progress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming ivfadc serve scores codes-only with the batch integers and tie-break") {
    // the pq-codes fixture: Lloyd cells (seeds v0, v1, 1 round) land
    // cell0 = {v0, v2, v4} (v4 ties, asc), cell1 = {v1, v3}; the 2×2
    // trained book gives codes v0/v2=(0,0), v1/v3=(1,1), v4=(0,1).
    // Q100 = (.9,.9,.1,.1) probes cell0: qtab sub0 = [20000, 1620000],
    // sub1 = [20000, 1620000] → adist v0/v2 = 40000, v4 = 1640000 —
    // nearest is v0 (adist tie with v2 breaks on id asc). Q101 mirrors
    // into cell1 where v1 and v3 tie EXACTLY (same codes) → v1 by id.
    val corpus = Seq(
      (0L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (4L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val input = MemoryStream[VDoc](spark)
    val q = graft.streaming.VecStream
      .adcServeStream(input.toDF(), corpus, m = 2, dim = 4, cw = 2,
        rounds = 1, cells = 2, cellRounds = 1)
      .writeStream.format("memory").queryName("adc_serve_stream")
      .outputMode("append").start()
    try {
      input.addData(
        VDoc(100, ts("10:00"), Array(0.9f, 0.9f, 0.1f, 0.1f)),
        VDoc(101, ts("10:01"), Array(0.1f, 0.1f, 0.9f, 0.9f)))
      q.processAllAvailable()
      input.addData(VDoc(999, ts("12:30"), Array(1.0f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable() // advance the watermark; 999 stays pending
      val streamed = spark.table("adc_serve_stream")
        .select("qid", "vec_id", "adist", "n_scored").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(streamed.keySet === Set(100L, 101L))
      // hand-computed ADC integers (same arithmetic as the batch
      // annIvfPq adist column; note floor(0.9f·1000) = 899 — float32
      // representation is part of the pinned contract) + both
      // tie-break arms
      assert(streamed(100L) === ((0L, 40402L, 3L)))
      assert(streamed(101L) === ((1L, 40402L, 2L)))
    } finally q.stop()
  }

  test("streaming pq encode equals the frozen-book incremental twin") {
    // the pqIncrementalCodes fixture: corpus trains the 2×2 book;
    // streamed v10 copies corpus v0 and v11 copies corpus v1 — the
    // frozen-book encode must give each its corpus twin's code AND
    // distance, and the stream must stay stateless
    val corpus = Seq(
      (0L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (2L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 1.0f)),
      (4L, Array(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val input = MemoryStream[VDoc](spark)
    val q = graft.streaming.VecStream
      .pqEncodeStream(input.toDF(), corpus, m = 2, dim = 4, cw = 2,
        rounds = 1)
      .writeStream.format("memory").queryName("pq_encode_stream")
      .outputMode("append").start()
    try {
      input.addData(
        VDoc(10, ts("10:00"), Array(1.0f, 1.0f, 0.0f, 0.0f)),
        VDoc(11, ts("10:01"), Array(0.0f, 0.0f, 1.0f, 1.0f)))
      q.processAllAvailable()
      val streamed = spark.table("pq_encode_stream")
        .select("vec_id", "subspace", "code", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val batch = graft.operators.Similarity.pqIncrementalCodes(
          Seq((10L, Array(1.0f, 1.0f, 0.0f, 0.0f)),
            (11L, Array(0.0f, 0.0f, 1.0f, 1.0f)))
            .toDF("vec_id", "embedding"),
          corpus, m = 2, dim = 4, cw = 2, rounds = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(streamed === batch)
      // exact corpus copies code at distance 0
      assert(streamed.values.forall(_._2 === 0L))
      // stateless contract: no state store rows were ever written
      val progress = q.lastProgress
      assert(progress == null || progress.stateOperators.isEmpty)
    } finally q.stop()
  }

  test("streaming nn serve returns the cell's exact-cosine nearest neighbor") {
    // two clean cells: positive-x cluster 0 (vecs 0, 1), negative-x
    // cluster 1 (vecs 2, 3)
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
      (3L, Array(-0.9f, -0.1f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val input = MemoryStream[VDoc](spark)
    val q = graft.streaming.VecStream.nnServeStream(input.toDF(), corpus, dim = 4)
      .writeStream.format("memory").queryName("nn_serve_stream")
      .outputMode("append").start()
    try {
      input.addData(
        // lands in cell 0; cosine-nearest is vec 1 (direction matters,
        // not magnitude)
        VDoc(100, ts("10:00"), Array(0.8f, 0.09f, 0.0f, 0.0f)),
        // lands in cell 1; nearest is vec 2 exactly (colinear)
        VDoc(101, ts("10:01"), Array(-0.5f, 0.0f, 0.0f, 0.0f)))
      q.processAllAvailable()
      input.addData(VDoc(999, ts("12:30"), Array(0.0f, 0.0f, 0.0f, 1.0f)))
      q.processAllAvailable() // advance the watermark; 999 stays pending
      val streamed = spark.table("nn_serve_stream")
        .select("qid", "vec_id", "cos", "n_scored").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(streamed.keySet === Set(100L, 101L))
      assert(streamed(100L)._1 === 1L)
      assert(streamed(101L)._1 === 2L)
      assert(streamed(101L)._2 > 0.999) // colinear → cosine ≈ 1
      assert(streamed.values.forall(_._3 === 2L)) // both cells hold 2
    } finally q.stop()
  }

  test("lsh index ingest stream quarantines exactly the batch drop set") {
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different words over here"),
      (3L, "alpha beta gamma delta zeta")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_lsh_stream_spec").toString
    Dedup.saveLshBandIndex(corpus, path)

    val rows = Seq(
      Doc(11, ts("10:07"), "unseen novel content entirely fresh"),
      Doc(10, ts("10:00"), "alpha beta gamma delta epsilon"), // twin of 1
      Doc(12, ts("10:03"), "alpha beta gamma delta zeta"))    // twin of 3
    val input = MemoryStream[Doc](spark)
    val q = DocStream.lshIndexIngestStream(spark, input.toDF(), path,
        minMatches = 32)
      .writeStream.format("memory").queryName("lsh_ingest")
      .outputMode("append").start()
    try {
      input.addData(rows.take(1)); q.processAllAvailable()
      input.addData(rows.drop(1)); q.processAllAvailable()
      // close the watermark so pending finals emit
      input.addData(Doc(99, ts("23:00"), "watermark closer token"))
      q.processAllAvailable()

      val streamed = spark.table("lsh_ingest")
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val batch = Dedup.dedupAgainstCorpusLshIndexed(spark,
          rows.toDF().select("doc_id", "text"), path, minMatches = 32)
        .filter(col("keep") === 0)
        .collect().map(r => r.getLong(0) ->
          (r.getAs[Long]("n_twins"), 0L)).toMap
      // quarantine membership and twin counts match the batch verdict
      assert(streamed.keySet === batch.keySet)
      assert(streamed.keySet === Set(10L, 12L)) // novel doc 11 unflagged
      assert(streamed(10L) === ((1L, 1L)))      // nearest twin = doc 1
      assert(streamed(12L) === ((1L, 3L)))
      assert(streamed.map { case (k, v) => k -> v._1 } ===
        batch.map { case (k, v) => k -> v._1 })
    } finally q.stop()
  }

  test("streaming pii scrub equals the batch redaction under reordering") {
    val input = MemoryStream[Doc](spark)
    val q = DocStream.piiScrubStream(input.toDF())
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append").start()
    try {
      val rows = Seq(
        Doc(3, ts("10:07"), "late but first: x@y.io then 10.1.2.3"),
        Doc(1, ts("10:00"), "mail a@b.org call 555-0199 done"),
        Doc(2, ts("10:03"), "nothing sensitive in this one"))
      input.addData(rows.take(1)); q.processAllAvailable()
      input.addData(rows.drop(1)); q.processAllAvailable()

      val streamed = spark.table("pii_stream")
        .select("doc_id", "text", "n_redactions")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      val batch = graft.operators.TextOps.piiRedact(rows.toDF())
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(streamed === batch)
      assert(streamed(0)._2 === "mail <EMAIL> call <PHONE> done")
      assert(streamed(1)._3 === 0L) // clean doc passes through untouched
    } finally q.stop()
  }

  test("streaming manifest ingest equals the batch manifest builder") {
    val input = MemoryStream[Ev](spark)
    val base = java.nio.file.Files
      .createTempDirectory("graft_manifest_stream_").toString
    val q = EventStream.manifestIngestStream(input.toDF(),
      s"$base/data", s"$base/manifest", Seq("user_id", "value"),
      s"$base/ckpt")
    try {
      // three micro-batches = three delta-scale appendWithManifest
      // runs, each statting only its own fresh part files
      input.addData(Ev(1, ts("10:00"), 10, "click", 1.0, ""),
        Ev(2, ts("10:01"), 20, "view", 5.0, ""))
      q.processAllAvailable()
      input.addData(Ev(3, ts("10:02"), 30, "click", 9.0, ""))
      q.processAllAvailable()
      input.addData(Ev(4, ts("10:03"), 5, "view", 2.0, ""),
        Ev(5, ts("10:04"), 40, "click", 7.0, ""))
      q.processAllAvailable()
      // the streamed manifest must be ROW-IDENTICAL to rebuilding
      // from scratch over the same lake files
      graft.operators.Layout.writeStatsManifest(spark, s"$base/data",
        s"$base/manifest_rebuilt", Seq("user_id", "value"))
      def rows(p: String) = spark.read.parquet(p)
        .collect().map(_.toSeq).toSet
      val streamed = rows(s"$base/manifest")
      assert(streamed === rows(s"$base/manifest_rebuilt"),
        "streamed manifest diverged from the batch builder")
      // and the manifest actually tracks per-batch files: >= 3 data
      // files (one+ per non-empty micro-batch), total rows = 5
      assert(streamed.size >= 3)
      assert(spark.read.parquet(s"$base/manifest")
        .agg(org.apache.spark.sql.functions.sum("rows")).head.getLong(0)
        === 5L)
      // pruned serve over the streamed manifest still equals the
      // full-scan filter (the zero-loss contract, now via the twin)
      val pruned = graft.operators.Layout.manifestPrunedRead(spark,
        s"$base/data", s"$base/manifest",
        Seq(("user_id", 10.0, 30.0))).select("event_id")
        .collect().map(_.getLong(0)).toSet
      assert(pruned === Set(1L, 2L, 3L))
    } finally q.stop()
  }
}
