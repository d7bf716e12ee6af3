package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators — the rule-filter / bucketing / overlap
  * audit tier of an LLM training-data pipeline (north-star extension;
  * the reference computes only dense matrix analytics, SURVEY.md §2.5).
  *
  * Everything here follows the repo's oracle-parity discipline: scores
  * are exact integer milli-units (floor division on both engines), the
  * only hash is the md5-derived 60-bit [[Sketches.hash60]] that DuckDB
  * replays bit-for-bit, and every float that does appear is a single
  * correctly-rounded IEEE division of integrals.
  */
object Curation {

  // ---------------------------------------------------------------
  // Gopher-style rule filter
  // ---------------------------------------------------------------

  /** Thresholds for [[gopherRules]] — integer milli-units throughout. */
  final case class GopherThresholds(
      minWords: Int = 20, maxWords: Int = 80,
      minMwlMilli: Int = 4000, maxMwlMilli: Int = 5000,
      minStopHits: Int = 2, minDistinctMilli: Int = 400)

  val GopherStopWords: Seq[String] = Seq("the", "a", "of", "to", "and", "in")

  /** Gopher-style quality-rule filter (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A2 — the rule list every
    * production curation pipeline since has reused): per document,
    * a small set of cheap structural signals each gated by a
    * threshold, and a keep verdict that is the conjunction. The
    * four rules kept here are the ones this corpus can exercise
    * (word-count bounds, mean-word-length band, stop-word floor,
    * distinct-token floor as the repetition proxy); the
    * bullet/ellipsis line rules degenerate on single-line text and
    * are omitted rather than stubbed.
    *
    * Scale shape: one shuffle-free projection — every signal is a
    * row-local fold over the split-token array (no explode, strings
    * never shuffle; the HOF folds are CodegenFallback but stay
    * map-side and row-local). Signals are integer
    * milli-units (floor division), so the oracle replays them
    * exactly. At 100 TB this is the map-only first pass that runs
    * ahead of every pair-generating dedup tier. */
  def gopherRules(docs: DataFrame,
                  t: GopherThresholds = GopherThresholds()): DataFrame = {
    val stopList = GopherStopWords.map(w => s"'$w'").mkString(", ")
    docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("lang"),
        size(col("ts")).cast("long").as("n_words"),
        expr("(1000 * aggregate(transform(ts, w -> length(w)), 0L, (acc, x) -> acc + x)) div size(ts)")
          .as("mwl_milli"),
        expr(s"size(filter(ts, w -> w IN ($stopList)))").cast("long")
          .as("stop_hits"),
        expr("(1000 * size(array_distinct(ts))) div size(ts)")
          .as("distinct_milli"))
      .withColumn("r_words",
        col("n_words").between(t.minWords, t.maxWords))
      .withColumn("r_mwl",
        col("mwl_milli").between(t.minMwlMilli, t.maxMwlMilli))
      .withColumn("r_stop", col("stop_hits") >= t.minStopHits)
      .withColumn("r_distinct", col("distinct_milli") >= t.minDistinctMilli)
      .withColumn("keep",
        col("r_words") && col("r_mwl") && col("r_stop") && col("r_distinct"))
  }

  // ---------------------------------------------------------------
  // CCNet-style perplexity buckets
  // ---------------------------------------------------------------

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data": score every document with a small LM, then split
    * each language into equal-frequency head/middle/tail buckets by
    * perplexity). Here the score is [[TextOps.lmScore]]'s integer
    * mean-transition-probability milli-units — HIGHER avg_pmilli =
    * more probable = lower perplexity — and bucket 1 is the head.
    *
    * Bucket rule: rank ascending by (avg_pmilli, doc_id) within the
    * language, then `bucket = nb - (rank-1)·nb div n`, so the
    * highest-probability documents land in bucket 1 and sizes differ
    * by at most one. The formula (not SQL NTILE, whose extra-row
    * placement differs) is written identically in the oracle.
    *
    * Scale shape: scoring is [[TextOps.lmScore]] (two hash
    * aggregations + one join); the per-language rank is the repo's
    * two-level prefix sum — per-(lang, score-shard) counts roll into
    * broadcast exclusive offsets, and the dense rank is a shard-LOCAL
    * row_number plus its offset, so no language ever serializes
    * through one task (the same shape [[Dedup]] pins for SNM). */
  def pplBuckets(docs: DataFrame, nb: Int = 4): DataFrame = {
    require(nb >= 2, s"need >= 2 buckets, got $nb")
    // materialized once: both the offset aggregation and the rank join
    // consume it, and it embeds the full LM scoring (two hash aggs +
    // a corpus-sized join) that must not execute twice
    val scored = TextOps.lmScore(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_pmilli"),
        // coarse ordered shard of the sort key (non-negative, so
        // truncating and flooring division agree across engines)
        expr("avg_pmilli div 64").as("shard"))
      .localCheckpoint(eager = false)
    val wOff = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = scored.groupBy("lang", "shard")
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("shard"),
        coalesce(sum("cnt").over(wOff), lit(0L)).as("offset"),
        sum("cnt").over(Window.partitionBy("lang")).as("n_lang"))
    val wLoc = Window.partitionBy("lang", "shard")
      .orderBy("avg_pmilli", "doc_id")
    scored.join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("rnk", col("offset") + row_number().over(wLoc))
      .select(col("doc_id"), col("lang"), col("avg_pmilli"),
        col("rnk"), col("n_lang"),
        (lit(nb) - expr(s"((rnk - 1) * $nb) div n_lang")).as("bucket"))
  }

  // ---------------------------------------------------------------
  // Source-overlap minhash audit
  // ---------------------------------------------------------------

  /** Pairwise source-overlap audit: estimated Jaccard similarity
    * between every pair of sources' shingle sets via per-source
    * minhash sketches (Broder 1997 — one permutation per component,
    * agreement fraction estimates J), alongside the exact Jaccard for
    * validation (the [[Sketches.kmvDistinct]] pattern: the declared
    * query carries the exact columns; production would drop them and
    * keep only the m-integer sketches).
    *
    * The pipeline question this answers: "which feeds are crawling
    * the same content?" — dup-rate-by-source ([[TextOps
    * .dupRateBySource]]) sees WITHIN-source duplication, this sees
    * CROSS-source overlap without materializing any document pairs.
    *
    * Scale shape: one distinct aggregation to (source, shingle), an
    * m-way explode to minhash components (m·|distinct| rows of longs —
    * the standard minhash build cost), one hash aggregation to the
    * m-row-per-source sketch, then an m-key self-join of a
    * #sources·m relation — metadata-scale, broadcast. The exact
    * validation columns add one (shingle-keyed) self-join that
    * production drops. Hashes are [[Sketches.hash60]] (md5-derived)
    * so the oracle replays every component. */
  def sourceOverlap(docs: DataFrame, m: Int = 64, n: Int = 3,
                    validate: Boolean = true): DataFrame = {
    require(m >= 8, s"need >= 8 minhash components, got $m")
    val grams = docs
      .select(col("source"), split(col("text"), " ").as("ts"))
      .select(col("source"), explode(expr(
        s"""CASE WHEN size(ts) < $n THEN array(concat_ws(' ', ts)) ELSE
           |  transform(sequence(0, size(ts) - $n),
           |            i -> concat_ws(' ', slice(ts, i + 1, $n)))
           |END""".stripMargin)).as("gram"))
      .distinct()
      .localCheckpoint(eager = false)
    val sketch = grams
      // the docs table is one input split and AQE coalesces the gram
      // distinct to ~one partition on its BYTES, so without this the
      // m-way explode (m md5-based hashes per gram) runs on ONE core.
      // Explicit count (REPARTITION_BY_NUM), as in jaccardPairs: the
      // cost here is the m-fold hashing, not the input size
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("gram"))
      // gram hash + its string form computed ONCE per gram, BEFORE the
      // m-way component explode (r18 optimization round: the cast sat
      // after the explode, re-run m times per gram) — component i then
      // re-keys through hash60, same recipe in the oracle
      .select(col("source"),
        Sketches.hash60(col("gram")).cast("string").as("gs"))
      .select(col("source"), col("gs"),
        explode(sequence(lit(0), lit(m - 1))).as("i"))
      .select(col("source"), col("i"),
        Sketches.hash60(concat(col("i").cast("string"), lit(":"),
          col("gs"))).as("h"))
      .groupBy("source", "i").agg(min("h").as("minh"))
    val pairsEst = sketch.as("a")
      .join(sketch.as("b"),
        col("a.i") === col("b.i") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(sum(when(col("a.minh") === col("b.minh"), 1L).otherwise(0L))
        .as("matches"))
      .select(col("src_a"), col("src_b"), col("matches"),
        expr(s"(1000 * matches) div $m").as("est_milli"))
    val sizes = grams.groupBy("source").agg(count(lit(1)).as("n_grams"))
    val withSizes = pairsEst
      .join(sizes.withColumnRenamed("source", "src_a")
        .withColumnRenamed("n_grams", "n_a"), "src_a")
      .join(sizes.withColumnRenamed("source", "src_b")
        .withColumnRenamed("n_grams", "n_b"), "src_b")
    // validate = false is the PRODUCTION path: sketch columns only. The
    // exact-intersection validation join below is gram-keyed and
    // corpus-scale — it skews on hot grams (every source shares the
    // head of the gram distribution, so a handful of keys carry most of
    // the join) and exists to audit the estimator at test SF, not to
    // run at 100 TB. The knob makes that drop enforceable in code
    // instead of narrative.
    if (!validate)
      withSizes.select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("matches"), col("est_milli"))
    else {
      // Exact intersection via ONE gram-keyed aggregation instead of
      // the gram-keyed SELF-JOIN (r18 optimization round, guide §2.5
      // skew: every source shares the head of the gram distribution,
      // so the join's hot keys carried most of its work and the gram
      // relation crossed the wire twice). Per gram, the sorted source
      // set pairs in place — |sources|²/2 rows per gram, bounded by
      // the source count, never corpus size — and sort_array gives the
      // same lexicographic a < b orientation as the join condition.
      val inter = grams.groupBy("gram")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(explode(expr(
          "flatten(transform(ss, (x, i) -> " +
            "transform(slice(ss, i + 2, size(ss) - i - 1), " +
            "y -> struct(x AS src_a, y AS src_b))))")).as("p"))
        .select(col("p.src_a"), col("p.src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("inter"))
      withSizes
        .join(inter, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          (col("n_a") + col("n_b") - coalesce(col("inter"), lit(0L)))
            .as("union_n"),
          expr("(1000 * coalesce(inter, 0)) div (n_a + n_b - coalesce(inter, 0))")
            .as("jaccard_milli"),
          col("matches"), col("est_milli"))
    }
  }

  // ---------------------------------------------------------------
  // Token-balanced shard assignment
  // ---------------------------------------------------------------

  /** Token-balanced training-shard assignment: rank documents by token
    * count (descending, doc_id tiebreak) and deal them out in
    * SERPENTINE (boustrophedon) order — rank r lands in shard
    * `pos` if `pos < S` else `2S−1−pos`, where `pos = (r−1) mod 2S`.
    * Plain `rank mod S` systematically hands shard 0 the largest
    * document of every block; the serpentine reversal alternates the
    * direction each pass, the classic one-pass balancing rule whose
    * per-shard token-mass spread stays bounded by the largest single
    * document (vs. LPT bin packing, which is inherently sequential —
    * a 100 TB writer cannot greedily consult a global heap).
    *
    * This is the step that decides WHICH output file each document
    * lands in when the curated corpus is written as training shards —
    * balanced shards mean balanced data-loader workers downstream.
    *
    * Scale shape: token counts are a shuffle-free projection; the
    * global rank is the two-level prefix sum (per-(coarse token
    * bucket) counts → broadcast exclusive offsets + bucket-local
    * row_number), so no single task ever sorts the corpus — the
    * offset window runs over the metadata-scale bucket relation
    * only. */
  def shardBalance(docs: DataFrame, shards: Int): DataFrame = {
    require(shards >= 2, s"need >= 2 shards, got $shards")
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("tokens"))
      .withColumn("sk", expr("tokens div 8"))
    val wOff = Window.orderBy(col("sk").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = toks.groupBy("sk").agg(count(lit(1)).as("cnt"))
      .select(col("sk"),
        coalesce(sum("cnt").over(wOff), lit(0L)).as("offset"))
    val wLoc = Window.partitionBy("sk")
      .orderBy(col("tokens").desc, col("doc_id"))
    val s2 = 2 * shards
    toks.join(broadcast(offsets), "sk")
      .withColumn("rnk", col("offset") + row_number().over(wLoc))
      .withColumn("pos", expr(s"(rnk - 1) % $s2"))
      .select(col("doc_id"), col("tokens"), col("rnk"),
        when(col("pos") < shards, col("pos"))
          .otherwise(lit(s2 - 1) - col("pos")).as("shard"))
  }

  // ---------------------------------------------------------------
  // In-engine trainable quality classifier (batch perceptron)
  // ---------------------------------------------------------------

  /** Perceptron config: `buckets` hashed feature buckets (+1 bias),
    * `rounds` full-batch updates. */
  final case class PerceptronConfig(buckets: Int = 64, rounds: Int = 3)

  /** Hashed bag-of-words features: one row per (doc, bucket) with the
    * token count, plus a constant bias feature at bucket = `buckets`.
    * The bucket hash is [[Sketches.hash60]] mod buckets, so the oracle
    * replays the feature space exactly. */
  def perceptronFeatures(docs: DataFrame, buckets: Int): DataFrame = {
    val tokens = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"),
        (Sketches.hash60(col("token")) % buckets).as("b"))
      .agg(sum(lit(1L)).as("x"))
    tokens.unionByName(
      docs.select(col("doc_id"), lit(buckets.toLong).as("b"),
        lit(1L).as("x")))
  }

  /** Training labels: y = +1 when the document clears the Gopher
    * stop-word floor ([[GopherThresholds.minStopHits]]), else −1 — a
    * text-derived target, so the classifier genuinely can learn it
    * from the hashed features (count of the stop buckets + bias is a
    * separating hyperplane). */
  def perceptronLabels(docs: DataFrame): DataFrame = {
    val stopList = GopherStopWords.map(w => s"'$w'").mkString(", ")
    docs.select(col("doc_id"),
      when(expr(s"size(filter(split(text, ' '), w -> w IN ($stopList)))")
        >= GopherThresholds().minStopHits, lit(1L)).otherwise(lit(-1L)).as("y"))
  }

  /** Distributed full-batch perceptron training (Rosenblatt 1958; the
    * batch form every data-parallel implementation runs — compute all
    * margins under the CURRENT weights, then add Σ y·x over the
    * misclassified set, `rounds` times). All-integer arithmetic —
    * counts in, integer weights out — so the trained model is
    * bit-identical on any engine and the oracle replays every round
    * as a generated CTE chain.
    *
    * Scale shape per round: the weight vector is `buckets`+1 rows —
    * broadcast — so a round is ONE shuffle (margin aggregation by
    * doc_id) plus one metadata-scale delta aggregation by bucket;
    * R rounds = R passes over the feature relation, which
    * checkpoint-materializes once up front. Round 1 starts from w=0,
    * where every margin is 0 and every doc is misclassified, so
    * w₁ = Σ_docs y·x — identical rule, no special case. */
  def perceptronWeights(docs: DataFrame,
                        cfg: PerceptronConfig = PerceptronConfig())
      : DataFrame = {
    val feats = perceptronFeatures(docs, cfg.buckets)
      .localCheckpoint(eager = false)
    val labels = perceptronLabels(docs).localCheckpoint(eager = false)
    trainRounds(feats, labels, cfg.rounds)
  }

  /** Training core over already-materialized feature/label relations —
    * shared by [[perceptronWeights]] and [[perceptronScore]] so the
    * scoring path reuses the SAME checkpointed features instead of
    * re-running the corpus explode a second time. */
  private def trainRounds(feats: DataFrame, labels: DataFrame,
                          rounds: Int): DataFrame = {
    require(rounds >= 1, s"need >= 1 round, got $rounds")
    val fl = feats.join(labels, "doc_id")
    // round 1: all docs misclassified under w = 0
    var w = fl.groupBy("b").agg(sum(col("y") * col("x")).as("w"))
      .localCheckpoint(eager = false)
    for (_ <- 2 to rounds) {
      val margins = feats.join(broadcast(w), "b")
        .groupBy("doc_id").agg(sum(col("x") * col("w")).as("margin"))
      val mis = margins.join(labels, "doc_id")
        .filter(col("y") * col("margin") <= 0)
        .select("doc_id", "y")
      val delta = feats.join(mis, "doc_id")
        .groupBy("b").agg(sum(col("y") * col("x")).as("dw"))
      w = w.join(delta, Seq("b"), "left")
        .select(col("b"), (col("w") + coalesce(col("dw"), lit(0L))).as("w"))
        .localCheckpoint(eager = false)
    }
    w
  }

  /** Score every document with the trained model: integer margin,
    * sign prediction, and the agreement flag vs the training label —
    * the in-engine eval artifact (training-set accuracy) a curation
    * run reports before applying the filter to unlabeled data. */
  def perceptronScore(docs: DataFrame,
                      cfg: PerceptronConfig = PerceptronConfig())
      : DataFrame = {
    val feats = perceptronFeatures(docs, cfg.buckets)
      .localCheckpoint(eager = false)
    val labels = perceptronLabels(docs).localCheckpoint(eager = false)
    val w = trainRounds(feats, labels, cfg.rounds)
    feats
      .join(broadcast(w), "b")
      .groupBy("doc_id").agg(sum(col("x") * col("w")).as("margin"))
      .join(labels, "doc_id")
      .select(col("doc_id"), col("y"), col("margin"),
        when(col("margin") >= 0, lit(1L)).otherwise(lit(-1L)).as("pred"))
      .withColumn("correct", col("pred") === col("y"))
  }
}
