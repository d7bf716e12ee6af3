package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Streaming document-ingestion dedup (north-star extension; the batch
  * tiers live in [[graft.operators.Dedup]]).
  *
  * Near-duplicate dedup in a stream can't explode postings and self-join
  * the corpus — state would be unbounded and Structured Streaming allows
  * one stateful operator per query. The streaming formulation instead:
  *
  *   1. computes the MinHash signature ROW-LOCALLY
  *      ([[Dedup.minhashSigColumn]] — a stateless projection), and
  *   2. deduplicates on the signature key with
  *      `dropDuplicatesWithinWatermark`, whose state store holds one
  *      entry per distinct signature inside the watermark horizon.
  *
  * Signature-equality dedup drops J≈1 near-exact duplicates (all K
  * minhashes agree). Band-level candidate GENERATION (any-band match,
  * lower J) stays a batch/offline tier: it needs a second stateful
  * stage, which is exactly the micro-batch join the batch operator
  * already runs per ingestion window.
  */
object DocStream {

  /** Streaming near-exact dedup over a document stream
    * `(doc_id, ts, text, ...)`: one state entry per distinct signature,
    * evicted past the watermark — at-least-once upstream re-delivery
    * and re-crawled near-identical documents both collapse downstream.
    * Token ids materialize as their own projection so each token is
    * md5-hashed once per row, not once per hash function.
    */
  def dedupDocStream(docs: DataFrame, watermark: String = "2 hours",
                     numHashes: Int = 32): DataFrame =
    docs.withColumn("tids", Dedup.tokenIdsColumn(col("text")))
      .withColumn("sig_key",
        concat_ws(",", Dedup.minhashSigOfIds(col("tids"), numHashes)))
      .drop("tids")
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sig_key")

  /** Streaming decontamination — the ingest-time twin of
    * [[graft.operators.TextOps.contaminationHits]]: flag arriving
    * documents that share a distinct word n-gram with a STATIC eval-set
    * gram table. The gram explode is a stateless row-local projection
    * (the [[graft.operators.TextOps.wordGramsLocal]] form — window
    * leads don't exist over an unbounded stream), the eval join is a
    * stream-static broadcast (no state at all), and the per-doc hit
    * count is the single stateful aggregation, watermark-bounded and
    * emitted once final in append mode.
    *
    * Output: (doc_id, ts, eval_hits) for contaminated documents only —
    * the quarantine feed an ingestion pipeline would route for review.
    */
  def contaminationStream(docs: DataFrame, evalGrams: DataFrame,
                          n: Int = 5,
                          watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(array_distinct(graft.operators.TextOps.wordGramsLocal(
          split(col("text"), " "), n))).as("gram"))
      .join(broadcast(evalGrams.select("gram").distinct()), "gram")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("eval_hits"))

  /** Streaming MOSS check — the ingest-time twin of
    * [[graft.operators.TextOps.winnowPairs]] against a STATIC reference
    * fingerprint table (a protected corpus winnowed offline with
    * [[graft.operators.TextOps.winnowFingerprints]]): arriving
    * documents project their winnow fingerprints row-locally (stateless
    * — the [[graft.operators.TextOps.winnowFpsColumn]] form), join the
    * broadcast reference set (no state), and the per-doc shared count
    * is the single watermark-bounded stateful aggregation, emitted once
    * final in append mode. Output: documents sharing ≥ `minShared`
    * reference fingerprints — the plagiarism/copyright quarantine feed.
    */
  def winnowMatchStream(docs: DataFrame, refFps: DataFrame, k: Int = 12,
                        w: Int = 8, minShared: Int = 2,
                        watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextOps.winnowFpsColumn(
          col("text"), k, w)).as("fp"))
      .join(broadcast(refFps.select("fp").distinct()), "fp")
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)

  /** Streaming LM quality scoring — the ingest-time twin of
    * [[graft.operators.TextOps.lmScore]] against a STATIC model
    * relation trained offline with
    * [[graft.operators.TextOps.lmModel]]: arriving documents explode
    * their bigram hashes row-locally (the
    * [[graft.operators.TextOps.bigramHashPairs]] projection — stateless,
    * no window over the unbounded stream), join the model (stream-static,
    * no state; Spark broadcasts when the model fits, shuffles when a
    * 100 TB-corpus model doesn't), and the per-doc score is the single
    * watermark-bounded stateful aggregation, emitted once final in
    * append mode. Bigrams unseen in the model drop at the join — scored
    * mass is model-covered mass, identical to the batch scorer run on
    * corpus documents.
    *
    * Output: (doc_id, ts, n_bigrams, avg_pmilli, min_pmilli) — the
    * routing signal an ingestion pipeline gates on before a document
    * reaches the lake. */
  def lmScoreStream(docs: DataFrame, model: DataFrame,
                    watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), col("lang"),
        split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("ts"),
        explode(graft.operators.TextOps.bigramHashPairs("toks", "lang"))
          .as("bg"))
      .select(col("doc_id"), col("ts"), col("bg.bh").as("bh"))
      .join(model.select("bh", "c_big", "c_pre"), "bh")
      .select(col("doc_id"), col("ts"),
        expr("(1000 * c_big) div c_pre").as("pmilli"))
      .groupBy(col("doc_id"), col("ts"))
      .agg(count(lit(1)).as("n_bigrams"), sum("pmilli").as("sum_pmilli"),
        min("pmilli").as("min_pmilli"))
      .select(col("doc_id"), col("ts"), col("n_bigrams"),
        expr("sum_pmilli div n_bigrams").as("avg_pmilli"),
        col("min_pmilli"))

  /** Streaming perceptron quality gate — the train-offline/serve-online
    * split of [[graft.operators.Curation.perceptronScore]]: the weight
    * relation comes from a batch training run over the lake
    * ([[graft.operators.Curation.perceptronWeights]], buckets+1 rows)
    * and the stream scores each arriving document against it.
    *
    * Statelessness argument (same shape as [[lmScoreStream]]): feature
    * hashing is a row-local projection — each token contributes
    * weight[hash(token) mod buckets] once per OCCURRENCE, so no
    * per-doc count aggregation is needed before the join (Σ_b x_b·w_b
    * = Σ_tokens w_bucket(token)); the bias bucket rides as one extra
    * array element. The stream-static weight join carries no state,
    * and the per-doc margin sum is the single watermark-bounded
    * stateful aggregation. Tokens hashing to buckets absent from the
    * training relation drop at the join — exactly weight-0 features,
    * identical to the batch scorer.
    *
    * Output: (doc_id, ts, margin, pred) — the admit/reject signal an
    * ingestion pipeline gates on. */
  def qclfScoreStream(docs: DataFrame, weights: DataFrame,
                      buckets: Int = 64,
                      watermark: String = "1 hour"): DataFrame = {
    import graft.operators.Sketches
    val bias = array(lit(buckets.toLong))
    val featBuckets = concat(
      transform(split(col("text"), " "),
        t => Sketches.hash60(t) % buckets), bias)
    docs
      .withWatermark("ts", watermark)
      .select(col("doc_id"), col("ts"), explode(featBuckets).as("b"))
      .join(weights.select("b", "w"), "b")
      .groupBy(col("doc_id"), col("ts"))
      .agg(sum("w").as("margin"))
      .select(col("doc_id"), col("ts"), col("margin"),
        when(col("margin") >= 0, lit(1L)).otherwise(lit(-1L)).as("pred"))
  }

  /** Streaming fuzzy-key ingest — the ingest-time twin of
    * [[Dedup.fuzzyMatchAgainstCorpus]], completing the streaming
    * incremental family (exact → minhash → decontam → winnow → LM →
    * perceptron → FUZZY KEY): arriving keys probe a STATIC corpus
    * deletion-variant index within one edit. The stream side's
    * deletion variants are a ROW-LOCAL projection (stateless — the
    * FastSS blocking needs no window), all three match families are
    * stream-static equi-joins (substitution on the shared
    * (variant, pos), insert on stream-variant = corpus key, delete on
    * stream key = corpus-variant), and the per-key match set is the
    * single watermark-bounded stateful aggregation (collect_set — a
    * streaming-legal DISTINCT whose state is bounded by a key's ED-1
    * neighborhood), emitted once final in append mode.
    *
    * Both corpus relations PERSIST (the [[VecStream]] rule): a
    * stream-static join re-evaluates the static side per micro-batch,
    * and in the lake story the variant index is the precomputed
    * offline artifact ([[Dedup.saveCorpusDigests]] shape, bucketed by
    * variant) — persisting is the in-session stand-in. Lifecycle is
    * CALLER-OWNED, one cached index per served corpus: the blocks live
    * until the session ends; a caller that re-CONSTRUCTS the stream
    * against a new corpus snapshot should `spark.catalog.clearCache()`
    * (or unpersist the prior instance) when the old stream stops, or
    * superseded indexes accumulate until storage eviction.
    *
    * Output: (name, ts, n_matches, nearest) for MATCHED keys only —
    * the merge/review feed an entity-resolution ingest routes; keys
    * absent from the output are fresh (the batch operator's
    * keep = true verdict). */
  def fuzzyIngestStream(keys: DataFrame, corpus: DataFrame,
                        keyCol: String,
                        watermark: String = "1 hour"): DataFrame = {
    val cp = corpus
      .select(col(keyCol).cast("string").as("n"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
      .distinct()
      .persist()
    val cpVars = Dedup.deletionVariants(cp)
      .select(col("n").as("match_name"), col("bk"), col("pos"))
      .persist()
    val s = keys
      .withWatermark("ts", watermark)
      .select(col("ts"), col(keyCol).cast("string").as("n"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
    // the SAME blocking relation as the batch tier (pass-through form
    // keeps ts) — one definition of the FastSS neighborhood, not three
    val sVars = Dedup.deletionVariantsKeyed(s)
    val subs = sVars.join(cpVars, Seq("bk", "pos"))
      .select(col("ts"), col("n"), col("match_name"))
    val ins = sVars
      .join(cp.select(col("n").as("match_name")),
        sVars("bk") === col("match_name"))
      .select(col("ts"), col("n"), col("match_name"))
    val del = s
      .join(cpVars.drop("pos"), s("n") === cpVars("bk"))
      .select(col("ts"), col("n"), col("match_name"))
    // no levenshtein verify — every candidate is a true ED ≤ 1 match
    // by construction (the batch operator's argument)
    subs.unionByName(ins).unionByName(del)
      .groupBy(col("n").as("name"), col("ts"))
      .agg(collect_set(col("match_name")).as("ms"))
      .select(col("name"), col("ts"),
        size(col("ms")).cast("long").as("n_matches"),
        array_min(col("ms")).as("nearest"))
  }

  /** Streaming near-dup ingest against the PERSISTED LSH band index
    * ([[graft.operators.Dedup.saveLshBandIndex]]) — the stream twin of
    * [[graft.operators.Dedup.dedupAgainstCorpusLshIndexed]], closing
    * the index-lifecycle loop for the text tier the way
    * `VecStream.adcServeStream` does for vectors: band rows compute
    * ROW-LOCALLY on the arriving doc (signature + per-band fp — a
    * stateless projection), candidates come from ONE stream-static
    * equi-join on the band fp (no state at all — the index is the
    * static side and its signatures are the serving relation; corpus
    * text never loads), each candidate scores with the native exact
    * overlap kernel, and the single stateful operator is the
    * watermark-bounded per-doc twin-set aggregation. Output is the
    * QUARANTINE feed (docs with ≥1 corpus twin at `minMatches`), the
    * [[contaminationStream]] convention — novel docs flow through the
    * pipeline unflagged, which is the streaming spelling of the batch
    * op's "no candidate ⇒ keep" arm. That arm assumes an index: it must
    * exist ([[graft.operators.Dedup.saveLshBandIndex]]) before the
    * stream is declared, and a missing one fails at declaration rather
    * than passing every doc through. The batch tier's static prefix
    * pruning has no stream analog (an `isin` literal cannot adapt per
    * micro-batch); the static side is still the signature-width index,
    * never text.
    */
  def lshIndexIngestStream(spark: org.apache.spark.sql.SparkSession,
                           docs: DataFrame, path: String,
                           minMatches: Int, numHashes: Int = 32,
                           bands: Int = 4,
                           watermark: String = "1 hour"): DataFrame = {
    import graft.functions.VectorFunctions.{noNullElements, zipEqualCount}
    val idx = graft.operators.LakeMaintenance
      .readPartitionedString(spark, s"$path/bands", "fp_pfx")
      .select(col("band_fp"), col("doc_id").as("corpus_id"),
        col("sig").as("csig"))
    // watermark BEFORE the join: candidates are inner-join survivors,
    // and a micro-batch of all-novel docs must still advance event
    // time (they register at the source-side watermark node, then die
    // in the join — the fail-open arm can't stall finalization)
    val banded = Dedup.lshBandFpRows(docs
      .withWatermark("ts", watermark)
      .withColumn("tids", Dedup.tokenIdsColumn(col("text")))
      .select(col("doc_id"), col("ts"),
        Dedup.minhashSigOfIds(col("tids"), numHashes).as("sig")),
      numHashes, bands)
    banded.join(idx, "band_fp")
      .filter(zipEqualCount(noNullElements(col("sig")),
        noNullElements(col("csig"))) >= minMatches)
      .groupBy(col("doc_id"), col("ts"))
      .agg(collect_set(col("corpus_id")).as("twins"))
      .select(col("doc_id"), col("ts"),
        size(col("twins")).cast("long").as("n_twins"),
        array_min(col("twins")).as("nearest_twin"))
  }

  /** Streaming PII scrub — the ingest-time twin of
    * [[graft.operators.TextOps.piiRedact]]. Entirely STATELESS: the
    * typed-mask rewrite and the redaction count are row-local regex
    * projections (the shared [[graft.operators.TextOps.piiRedactColumn]]
    * / `piiCountColumn` definitions, so batch, oracle, and stream
    * transform identical strings by construction — the spec still pins
    * the equality under out-of-order delivery). No watermark, no state
    * store: a scrub that HAD state would be a design smell, since
    * redaction must apply to every row unconditionally, and the
    * stateless form survives any ingest rate at any cluster size.
    */
  def piiScrubStream(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    docs
      .withColumn("n_redactions", TextOps.piiCountColumn(col("text")))
      .withColumn("text", TextOps.piiRedactColumn(col("text")))
  }
}
