package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, EventOps, Graph, MatrixOps, Multimodal,
  Similarity, Sketches, Temporal, TextOps}
import graft.streaming.{DocStream, EventStream}

/** Scale-regression smoke (dev/judge tooling, not a driver surface):
  * times the heavy LLM-pipeline operators at sf0.1 AND at a `factor`×
  * replica of it, then reports the growth ratio per operator. A plan
  * whose cost is linear-ish in the corpus lands near `factor` (plus
  * noise and log terms); a plan that only worked at sf0.1 — the
  * pack_chunks class of bug, a quadratic candidate blow-up, a
  * parallelism ceiling — shows up as a ratio far above it. The matmul
  * family scales by problem size instead (n=1024 → n=2048: 8× FLOPs).
  *
  * The replica derives from the driver's own testdata (never
  * synthesized from scratch): copy k shifts ids by a stride and
  * appends a copy-tag token to `text`, so replicated documents are
  * NEAR-duplicates of their originals (realistic dedup pressure, not
  * degenerate exact-dup mass). Strides derive from the actual max id
  * in the input (+1), never a hard-coded constant: a corpus whose ids
  * exceed a fixed stride would silently collide replica ids and
  * corrupt every ratio downstream.
  *
  * The graph tier replicates an order→part co-occurrence graph folded
  * from lineitem, PLUS a star hub per replica touching every part
  * vertex — the adversarial high-degree case the degree-ordered
  * triangle orientation must absorb (id-ordered wedges would grow
  * Θ(hub²) and torpedo the ratio).
  *
  * Op names match `SparkEntry.queries` keys exactly so artifact rows
  * grep back to declared queries.
  *
  * Usage: `graft.ScaleSmoke [sfDir] [factor]`; prints one JSON line.
  * Dev subset: SPARK_GRAFT_ONLY=op1,op2 (same contract as Bench).
  */
object ScaleSmoke {
  // private[graft]: OpsScaleProbe reuses the exact replica
  // constructions so probe corpora match the smoke's
  private[graft] def scaledDocs(docs: DataFrame, factor: Int, stride: Long): DataFrame =
    (0 until factor).map { k =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(k * stride))
      if (k == 0) d
      else d.withColumn("text", concat_ws(" ", col("text"), lit(s"copytag$k")))
    }.reduce(_.unionByName(_))

  /** Content-PERTURBED doc replica (r13, the r11/r12 carried ask):
    * copy k ≥ 1 suffixes EVERY token with a copy tag, so copies share
    * ZERO vocabulary with their originals and with each other — the
    * corpus grows ×factor with the original's internal pair structure
    * repeated and NO cross-copy duplicate mass. Pair candidates
    * therefore grow ×factor by construction, and a pair op's time
    * ratio on this leg isolates ALGORITHMIC growth (shuffle width,
    * aggregation, skew handling) from the constructed near-dup mass
    * the tagged replica deliberately piles up (where output itself is
    * quadratic and the ratio measures cost-tracks-candidates
    * instead). */
  private[graft] def perturbedDocs(docs: DataFrame, factor: Int, stride: Long): DataFrame =
    (0 until factor).map { k =>
      val d = docs.withColumn("doc_id", col("doc_id") + lit(k * stride))
      if (k == 0) d
      else d.withColumn("text", concat_ws(" ",
        transform(split(col("text"), " "), x => concat(x, lit(s"_p$k")))))
    }.reduce(_.unionByName(_))

  private[graft] def scaledEmb(emb: DataFrame, factor: Int, stride: Long): DataFrame =
    (0 until factor).map { k =>
      emb.withColumn("vec_id", col("vec_id") + lit(k * stride))
    }.reduce(_.unionByName(_))

  /** Replicas shift user ids, so each copy is a fresh user population
    * with the original's event stream — sessions per user stay constant
    * while the corpus grows. */
  private def scaledEvents(ev: DataFrame, factor: Int, stride: Long): DataFrame =
    (0 until factor).map { k =>
      ev.withColumn("user_id", col("user_id") + lit(k * stride))
    }.reduce(_.unionByName(_))

  /** Order→part co-occurrence edges folded onto `%nodes` vertex ids,
    * plus a star hub (vertex id = nodes) adjacent to every part vertex:
    * hub degree ≈ |parts|, orders of magnitude above the mean. */
  private def edgeBase(li: DataFrame, nodes: Long): DataFrame =
    li.select((col("l_orderkey") % nodes).as("src"),
        (col("l_partkey") % nodes).as("dst"))
      .unionByName(li.select(lit(nodes).as("src"),
        (col("l_partkey") % nodes).as("dst")))

  private def scaledEdges(e: DataFrame, factor: Int, stride: Long): DataFrame =
    (0 until factor).map { k =>
      e.select((col("src") + lit(k * stride)).as("src"),
        (col("dst") + lit(k * stride)).as("dst"))
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.session(cpus.toInt)

    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // Replica id strides, set by the tier builds below; op lambdas read
    // them at run time (declared before the op table so closures may
    // capture them — a metadata constant, never an action).
    var docStrideSeen = 0L
    var embStrideSeen = 0L

    // Op table: name (= SparkEntry.queries key), constructor, tier, and
    // — for pair-emission ops whose output is NOT its candidate set —
    // the pre-verify candidate relation, counted alongside the timed
    // runs so ratio-vs-candidate-volume is measured, not argued.
    // (For dedup_minhash_lsh the output IS the candidate set — every
    // banded pair is emitted with its estimate, no threshold filter —
    // so its rows1/rowsN columns already carry the candidate counts.)
    final case class Op(name: String, f: DataFrame => DataFrame,
                        tier: String,
                        cand: Option[DataFrame => DataFrame] = None)
    val ops: Seq[Op] = Seq(
      Op("pack_chunks", d => TextOps.packChunks(d, 4096L, 64L), "doc"),
      Op("dedup_exact_groups", Dedup.exactGroups, "doc"),
      Op("dedup_exact_normalized", TextOps.dedupExactNormalized, "doc"),
      Op("doc_repetition", TextOps.repetitionSignals, "doc"),
      Op("corpus_ngrams", d => TextOps.corpusNgrams(d, 3, 50), "doc"),
      Op("doc_novelty", d => TextOps.docNovelty(d), "doc"),
      Op("ctfidf_keywords", d => TextOps.ctfidfKeywords(d, 5), "doc"),
      Op("bpe_merges", d => TextOps.bpeMerges(d, 3), "doc"),
      Op("bpe_encode", d => TextOps.bpeEncode(d, 3), "doc"),
      Op("contamination_hits", d => TextOps.contaminationHits(d), "doc"),
      // multimodal plumbing rides the doc replica like the text ops:
      // payloads derive from text bytes (stubbed codec), never shuffle
      Op("media_features", d => Multimodal.decodeAndFeaturize(spark,
        Multimodal.fromDocuments(d)).toDF(), "doc"),
      Op("media_resized", d => Multimodal.resizeStub(
        Multimodal.fromDocuments(d), targetBytes = 96, targetW = 64,
        targetH = 48), "doc"),
      // the multimodal→dedup bridge: band-blocked pair op → pair tier
      Op("media_near_dup", d => Multimodal.mediaNearDupPairs(spark,
        Multimodal.fromDocuments(d), maxDistance = 4,
        thresholdHundredths = 99), "pair",
        cand = Some(d => Multimodal.mediaNearDupCandidates(
          Multimodal.mediaFingerprints(spark, Multimodal.fromDocuments(d)),
          maxDistance = 4))),
      // media ANN: broadcast query set × kind-blocked scan — linear
      Op("media_knn", d => Multimodal.mediaKnn(spark,
        Multimodal.fromDocuments(d), numQueries = 6, k = 5), "doc"),
      // the IVF scale path: rerank work is probed-CELL-sized, so the
      // query-side cost grows sublinearly vs the brute kind scan (the
      // corpus-side assignment stays linear — that is the index build)
      Op("media_ann_ivf", d => Multimodal.mediaAnnIvf(spark,
        Multimodal.fromDocuments(d), numQueries = 6, k = 5,
        kPerKind = 4, probes = 1), "doc"),
      // frame explode + two hash aggs — linear in frame volume
      Op("media_frame_dup", d => Multimodal.frameDupReport(
        Multimodal.fromDocuments(d), frameBytes = 64), "doc"),
      // the composed funnel carries the banded pair join → pair tier
      Op("pipeline_media", d => Multimodal.mediaPipeline(spark,
        Multimodal.fromDocuments(d), maxDistance = 4), "pair"),
      Op("embedding_gram", e => Similarity.gramMatrix(e), "emb"),
      Op("kmeans_round", e => Similarity.kmeansRound(spark, e), "emb"),
      Op("ann_ivf", e => Similarity.annIvf(spark, e, 25, 5), "emb"),
      // the r11 trained-quantizer knobs, exactly as declared (PqM=16
      // cw=256, RpqM=32 groups=128, SRP 256 bits / prefilter 50 —
      // ANN_QUANT_PROBE_r11.json)
      Op("pq_codes", e => Similarity.pqCodes(spark, e, 16, cw = 256), "emb"),
      Op("ann_pq", e => Similarity.annPq(spark, e, 25, 5, 16,
        cw = 256), "emb"),
      Op("ann_ivf_pq", e => Similarity.annIvfPq(spark, e, 25, 5, 16,
        cw = 256), "emb"),
      // the r13 two-stage serving tier at its declared knobs: stage-2
      // work is (queries·prefilter)-sized, so growth should track the
      // stage-1 ADC scan like ann_ivf_pq
      Op("ann_ivf_pq_rerank", e => Similarity.annIvfPqRerank(spark, e,
        25, 5, prefilter = 25, m = 16, probes = 3, cw = 256), "emb"),
      // the PQ quality audits at the declared books — codes-relation
      // aggregations, expected ~linear with corpus volume
      Op("pq_mse_by_subspace", e => Similarity.pqCodes(spark, e, 16,
          cw = 256)
        .groupBy("subspace")
        .agg(count(lit(1)).as("n"), sum("dist").as("sum_dist")), "emb"),
      Op("rpq_mse_by_subspace", e => Similarity.pqResidualCodes(spark, e,
          32, 128)
        .groupBy("subspace")
        .agg(count(lit(1)).as("n"), sum("dist").as("sum_dist")), "emb"),
      // the persisted-index round trip: build + partitioned write +
      // pruned serve, all inside the timed region — prices the
      // index-build job as the corpus grows (the serve is the cheap,
      // pruned half)
      Op("ann_ivf_pq_indexed", e => {
        val path = s"${System.getProperty("java.io.tmpdir")}/graft_pq_index_smoke"
        Similarity.savePqIndex(spark, e, path, m = 16, cw = 256)
        Similarity.annIvfPqFromIndex(spark, e.filter(col("vec_id") < 25),
          path, k = 5, probes = 1, m = 16)
      }, "emb"),
      Op("pq_residual_codes", e =>
        Similarity.pqResidualCodes(spark, e, 32, 128), "emb"),
      // frozen-book ingest: id-upper batch half coded against the
      // id-lower corpus half's book — one broadcast-book pass over
      // the batch, linear by construction (the declared PqIncCw=64;
      // the split is SparkEntry's own helper, so smoke, query, and
      // oracle share one boundary convention)
      Op("pq_incremental_codes", e => {
        val (batch, corpus) = SparkEntry.halvesByMaxId(e, "vec_id")
        Similarity.pqIncrementalCodes(batch, corpus, m = 16, cw = 64)
      }, "emb"),
      Op("ann_ivf_rpq", e =>
        Similarity.annIvfRpq(spark, e, 25, 5, 32, 128), "emb"),
      Op("ann_ivf_rpq_probe2", e =>
        Similarity.annIvfRpq(spark, e, 25, 5, 32, 128, probes = 2), "emb"),
      Op("ann_srp_rerank", e =>
        Similarity.annSrpRerank(e, 25, 5, 50, bits = 256), "emb"),
      Op("hard_negatives", e =>
        Similarity.hardNegatives(spark, e, 25, 5), "emb"),
      // SemDeDup: replica copies are EXACT embedding dups (only ids
      // shift), so every copy lands in its original's cluster and
      // intra-cluster pair work grows factor² by construction — the
      // embedding-space twin of the doc pair tier, capped + candidate-
      // counted the same way. k-knob Lloyd codebook, the declared
      // queries' constants (k=16, rounds=2).
      Op("semdedup", e => Similarity.semDedup(spark, e, 35,
        k = 16, rounds = 2), "embpair",
        cand = Some(e => Similarity.semDedupCandidates(spark, e,
          k = 16, rounds = 2))),
      // prototype pruning has no pair join — the linear emb tier
      Op("proto_prune", e => Similarity.protoPrune(spark, e, 25,
        k = 16, rounds = 2), "emb"),
      Op("semdedup_components", e =>
        Similarity.semDedupComponents(spark, e, 35,
          k = 16, rounds = 2), "embpair",
        cand = Some(e => Similarity.semDedupCandidates(spark, e,
          k = 16, rounds = 2))),
      // the composed pipeline carries semdedup's pair join → capped
      Op("pipeline_d4", e => Similarity.d4Funnel(spark, e, 35, 25,
        k = 16, rounds = 2), "embpair",
        cand = Some(e => Similarity.semDedupCandidates(spark, e,
          k = 16, rounds = 2))),
      // Split at the ORIGINAL corpus's half (embStrideSeen is set by
      // the tier build, read — not computed — inside the lambda: no
      // action in the timed region, no NPE on an empty tier). The lake
      // (lower-half originals) stays fixed while the batch grows with
      // the factor, and upper-half originals' copies have their twin in
      // the BATCH, not the lake — so a stable fraction of the batch
      // SURVIVES at N and the survivor path is actually measured
      // (max/2 splitting left rowsN = 0: every batch vector found a
      // lake twin and the smoke timed a keep-nothing pipeline).
      Op("dedup_incremental_embedding", e => {
        val half = embStrideSeen / 2
        Similarity.semDedupAgainstCorpus(spark,
          e.filter(col("vec_id") > half),
          e.filter(col("vec_id") <= half), 35)
      }, "embpair",
        cand = Some(e => {
          val half = embStrideSeen / 2
          Similarity.semDedupIncrementalCandidates(spark,
            e.filter(col("vec_id") > half),
            e.filter(col("vec_id") <= half))
        })),
      Op("sessionize", e => EventStream.sessionize(e), "evt"),
      // r14 additions: the scrub/strip projections are row-local
      // regex CPU (the dedup_exact_normalized class — expect
      // volume-true ~factor with an overhead-dominated ×1); the
      // rollup merges two half-history states (two partial aggs +
      // one rollup-scale merge); the z-key is pure bit arithmetic.
      // Projection ops are wrapped in a consuming aggregate HERE:
      // `count()` alone lets Catalyst prune the computed columns away
      // and the smoke would time a bare scan, not the regex/bit work.
      Op("pii_redact", d =>
        TextOps.piiRedact(TextOps.withPiiFixture(d))
          .agg(sum(length(col("text_clean"))).as("chars"),
            sum("n_redactions").as("n")), "doc"),
      Op("doc_markup_strip", d =>
        TextOps.markupStrip(TextOps.withMarkupFixture(d))
          .agg(sum(length(col("text_plain"))).as("chars"),
            sum("n_tags").as("n")), "doc"),
      Op("rollup_incremental", e => {
        val (delta, old) = SparkEntry.halvesByMaxId(e, "event_id")
        EventOps.rollupMerge(EventOps.rollup(old), EventOps.rollup(delta))
      }, "evt"),
      Op("zorder_keys", e => {
        val uid = col("user_id").cast("long")
        val vbin = floor(col("value")).cast("long")
        e.select(graft.operators.Layout.zValue(uid, vbin, 16).as("zv"))
          .agg(sum("zv").as("zsum"))
      }, "evt"),
      // r15 additions: snapshot diff hashes payload row-locally, then
      // ONE hash-width full-outer join — expect ~linear (the replica's
      // copy docs diff exactly like the originals); the exact profile's
      // Expand replication (one input copy per COUNT(DISTINCT)) is its
      // documented cost driver — expect ~linear with the cols-fold
      // constant unchanged across scale. Both END in aggregations /
      // delta-scale output, so no extra consuming agg is needed.
      Op("lake_snapshot_diff", d => {
        val old = d.filter(col("doc_id") % 11 =!= 0)
        val neu = d.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        graft.operators.LakeMaintenance.snapshotDiff(old, neu, "doc_id",
          Seq("text", "lang", "source"))
      }, "doc"),
      Op("profile_documents", d => graft.operators.Profile.tableProfile(d,
        Seq("doc_id", "lang", "source", "n_chars")), "doc"),
      // delta apply: anti-join + upsert union — both delta-scale legs,
      // expect ~linear; the consuming agg stops column pruning from
      // skipping the payload comparison
      Op("lake_delta_apply", d => {
        val old = d.filter(col("doc_id") % 11 =!= 0)
        val neu = d.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        val pay = Seq("text", "lang", "source")
        graft.operators.LakeMaintenance.applyDelta(d.filter(col("doc_id") % 11 =!= 0),
          graft.operators.LakeMaintenance.snapshotDelta(old, neu, "doc_id", pay),
          "doc_id", pay)
          .agg(sum(length(col("text"))).as("chars"))
      }, "doc"),
      // temperature mixing: one metadata-scale aggregate over a
      // row-local token count — expect overhead-flat at any factor
      Op("mix_temperature", d =>
        TextOps.mixTemperature(d), "doc"),
      // r16: passage retrieval = chunk explode (row-local, ×expansion
      // volume) + the bm25 pipeline over passages — expect ~linear
      // like bm25_topk with the chunk fan-out constant
      Op("bm25_passages", d => TextOps.bm25Passages(d, Seq(
        "q_stream" -> Seq("spark", "stream", "window"),
        "q_join" -> Seq("join", "merge", "hash")), 10), "doc"),
      // r16: churn rollup = the diff's hash-width FOJ + two key-width
      // attribution joins + a |sources|-row aggregate — expect the
      // lake_snapshot_diff growth shape
      Op("lake_churn_by_source", d => {
        val old = d.filter(col("doc_id") % 11 =!= 0)
        val neu = d.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        graft.operators.LakeMaintenance.churnBy(old, neu, "doc_id",
          Seq("text", "lang", "source"), "source")
      }, "doc"),
      // phrase search: gram scan volume grows with the corpus, the
      // phrase broadcast is constant — expect ~linear
      Op("phrase_search", d => TextOps.phraseSearch(d, Seq(
        ("p_batch_batch", "batch batch"), ("p_join_vector", "join vector"),
        ("p_sort_merge", "sort merge"),
        ("p_merge_slow_join", "merge slow join"))), "doc"),
      // as-of join: replicas add user populations, purchases/clicks per
      // user constant — the window join should scale with event volume
      Op("asof_purchase_click", e => {
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
        val clicks = e.filter(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
        Temporal.asOfJoin(purchases, clicks, "user_id", "ts",
          leftCols = Seq("purchase_id"), rightCols = Seq("click_id"))
      }, "evt"),
      Op("approx_distinct_merged", e => Sketches.kmvMergedEstimate(e,
        "event_type", "user_id", k = 32,
        include = Seq("click", "purchase")), "evt"),
      Op("quantile_sketch", e => Sketches.kmvQuantileSketch(e,
        "event_type", "event_id", "value", k = 256), "evt"),
      Op("hll_registers", e => Sketches.hllRegisters(e,
        "event_type", "user_id", p = 8), "evt"),
      Op("mad_outliers", e => EventOps.madOutliers(e,
        "event_type", "value"), "evt"),
      // the declared query runs on customer names; the smoke prices the
      // same operator on the replica-growing key population (zero-padded
      // user ids — digit-dense like the names, ED-1 neighbors per key
      // bounded by digits×alphabet, so pair mass grows ~linearly).
      // Pad to 12 digits: replication grows user_id by k·stride, and a
      // 9-wide lpad would silently TRUNCATE 10+-digit ids, colliding
      // distinct users into one fuzzy key and distorting the measured
      // pair-mass scaling; 12 covers any factor this smoke runs at
      // (stride ≈ 10⁵-10⁷, factor ≤ 100 → ids < 10⁹ ≪ 10¹²).
      Op("fuzzy_join_names", e => Dedup.editDistancePairs(
        e.select(lpad(col("user_id").cast("string"), 12, "0").as("uid")),
        "uid"), "evt"),
      Op("fuzzy_components", e => Dedup.editDistanceComponents(
        e.select(lpad(col("user_id").cast("string"), 12, "0").as("uid"),
          col("user_id")), "uid", "user_id"), "evt"),
      Op("dedup_incremental_fuzzy", e => {
        val ids = e.select(col("user_id"),
          lpad(col("user_id").cast("string"), 12, "0").as("uid"))
        Dedup.fuzzyMatchAgainstCorpus(
          ids.filter(col("user_id") % 3 =!= 0),
          ids.filter(col("user_id") % 3 === 0), "uid")
      }, "evt"),
      Op("pagerank3", e => Graph.pagerankInt(e, iters = 3), "graph"),
      Op("triangle_count", e => Graph.triangleCount(e), "graph"),
      Op("bm25_topk", d => TextOps.bm25TopK(d, Seq(
        "q_stream" -> Seq("spark", "stream", "window"),
        "q_join" -> Seq("join", "merge", "hash")), 20), "doc"),
      Op("mix_rebalance", d => TextOps.mixRebalance(d,
        Map("en" -> 40, "de" -> 15, "fr" -> 15, "es" -> 15, "zh" -> 15),
        budgetPct = 50), "doc"),
      Op("source_cap", d => TextOps.sourceCap(d, 20), "doc"),
      Op("doc_lm_score", d => TextOps.lmScore(d), "doc"),
      Op("dsir_weights", d => TextOps.dsirWeights(d,
        Seq("src0", "src1", "src2", "src3")), "doc"),
      // curation tier: rule filter + bucketing are map-shaped, the
      // classifier is R broadcast-weight rounds, the overlap audit is
      // m×distinct-gram explosion + a #sources²-row sketch join — all
      // expected ~linear in corpus volume
      Op("gopher_rules", d => Curation.gopherRules(d), "doc"),
      Op("shard_balance", d => Curation.shardBalance(d, 8), "doc"),
      Op("bpe_fertility", d => TextOps.bpeFertility(d, 3), "doc"),
      Op("split_leakfree", d => TextOps.leakFreeSplit(d), "doc"),
      Op("heavy_hitters", d => Sketches.heavyHitters(
        d.select(explode(split(col("text"), " ")).as("token")),
        "token", 20, 4, 1024), "doc"),
      // the rewrite prices the dup-heavy case: replica copies share
      // every interior window, so cut mass grows with the corpus.
      // Forced through an aggregate over text_clean — a bare count()
      // would let Catalyst elide the left joins and the reassembly
      // fold entirely (row count equals the base relation's)
      Op("dedup_spans_rewrite", d => TextOps.dedupSpansRewrite(d, 8)
        .agg(sum(length(col("text_clean"))).as("clean_chars"),
          sum("removed_tokens").as("cut")), "doc"),
      Op("ppl_buckets", d => Curation.pplBuckets(d, 4), "doc"),
      Op("qclf_score", d => Curation.perceptronScore(d,
        Curation.PerceptronConfig(64, 3)), "doc"),
      Op("source_overlap", d => Curation.sourceOverlap(d, 64, 3), "doc"),
      // the composed curation capstone: gate → rewrite → leak-free
      // split → balanced shards (aggregated output, nothing elided)
      Op("pipeline_curate_v4", d => {
        val kept = Curation.gopherRules(d).filter(col("keep"))
          .select("doc_id")
        val gated = d.join(kept, "doc_id")
        val rewritten = TextOps.dedupSpansRewrite(gated, 8)
          .filter(col("text_clean") =!= "")
          .select(col("doc_id"), col("text_clean").as("text"))
          .join(d.select("doc_id", "lang", "source"), "doc_id")
          .localCheckpoint(eager = false)
        val train = rewritten.join(TextOps.leakFreeSplit(rewritten)
          .filter(col("split_fixed") === "train").select("doc_id"), "doc_id")
        Curation.shardBalance(train, 8)
          .groupBy("shard")
          .agg(count(lit(1)).as("docs"), sum("tokens").as("tokens"))
      }, "doc"),
      Op("ann_srp", e => Similarity.annSrpHamming(e, 25, 5,
        bits = 256), "emb"),
      // recall audit: one exact pass + two probe chains, query-count
      // output — prices the ground-truth scan's growth
      Op("ann_recall_ivf", e => Similarity.annRecallAudit(spark, e,
        numQueries = 5, k = 5), "emb"),
      // the quantized-tier recall audit at the declared r11 knobs:
      // two exact truth passes + all four trained-quantizer chains —
      // the quality numbers and the 10×-growth bands in ONE artifact
      Op("ann_recall_quantized", e => Similarity.annRecallQuantized(
        spark, e, numQueries = 5, k = 5), "emb"),
      // replica copy-tags change only each copy's TAIL windows, so
      // cross-copy duplicated spans grow with the corpus — the smoke
      // prices the worst (dup-heavy) case like the pair tiers
      Op("dedup_substring_spans", d => TextOps.substringSpans(d, 8), "doc"),
      Op("cdc_chunks", d => TextOps.cdcChunks(d, 16, 6), "doc"),
      Op("dedup_minhash_lsh", d => Dedup.minhashLshPairs(d, bands = 4), "pair"),
      Op("dedup_recall_lsh", d => Dedup.lshRecallAudit(d), "pair"),
      // the linear-candidate tier: candidates = window*N by construction
      Op("dedup_snm", d => Dedup.snmPairs(d, 4, 9), "pair",
        cand = Some(d => Dedup.snmCandidates(d, 4))),
      Op("dedup_snm_multipass", d => Dedup.snmPairsMultiPass(d, 4, 9), "pair",
        cand = Some(d => Dedup.snmMultiPassCandidates(d, 4))),
      // the composed funnel: replica copy-tags make replicated docs
      // UNIQUE, so the exact tier passes them through and the pair
      // tiers see the full replicated corpus — the smoke prices the
      // cascade's worst case, not its exact-collapse best case
      Op("dedup_cascade", d => Dedup.dedupCascade(d, 4, 9, 9), "pair"),
      Op("dedup_winnow_pairs", d => TextOps.winnowPairs(d, 50), "pair"),
      Op("tfidf_cosine_pairs", d => TextOps.tfidfCosinePairs(d, 60), "pair",
        // threshold 0 keeps every candidate: tf·idf weights are
        // non-negative, so cos ≥ 0 admits the whole dot relation
        cand = Some(d => TextOps.tfidfCosinePairs(d, 0))),
      Op("tfidf_cosine_sharded", registry.TextQueries.tfidfCosineSharded, "pair"),
      Op("dedup_components", d => Dedup.jaccardComponents(d, 9), "pair"),
      Op("dedup_containment", d => Dedup.containmentPairs(d, 9), "pair",
        cand = Some(d => Dedup.containmentCandidates(d, 9))),
      // Same hoist as dedup_incremental_embedding: docStrideSeen is set
      // by the doc-tier build and only READ here — no action (and no
      // extra scan) inside the timed region, and the lake stays the
      // original lower half while the batch grows with the factor.
      Op("dedup_incremental_containment", d => {
        val half = docStrideSeen / 2
        Dedup.dedupAgainstCorpusContainment(
          d.filter(col("doc_id") > half),
          d.filter(col("doc_id") <= half), 10)
      }, "pair"),
      Op("dedup_simhash", d => Dedup.simhashPairs(d, 4), "pair",
        cand = Some(d => Dedup.simhashCandidates(d, 4))))

    // the streaming doc twin has no batch queries key by construction
    // (it needs a streaming source); named after DocStream.dedupDocStream
    val StreamDocOp = "stream_dedup_docs"
    // perturbed-leg-only ops (declared below) are valid ONLY targets
    // too — tfidf_cosine_capped runs exclusively on the perturbed
    // replica (its declared D=180 wouldn't bite the tagged one)
    val PerturbedOnlyOps =
      Set("tfidf_cosine_capped", "tfidf_cosine_capped_auto")
    only.foreach { names =>
      val unknown = names -- ops.map(_.name).toSet - StreamDocOp --
        PerturbedOnlyOps
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names not smoked: " +
        unknown.toSeq.sorted.mkString(", "))
    }
    val OpTiers = ops.map(o => (o.name, o.tier))
    val GraphNodes = 50000L

    // Materialize replica tables as parquet so 1× and N× run the same
    // scan-shaped plans (a cached in-memory union would flatter the
    // N×) — but only the TIERS the selected ops touch: under
    // SPARK_GRAFT_ONLY a single-op dev iteration shouldn't pay four
    // replica writes for one. Tier membership comes from the op table
    // below ("pair" rides the doc replica).
    val tiersWanted: Set[String] = only match {
      case None => Set("doc", "emb", "evt", "graph")
      case Some(names) => OpTiers.collect {
        case (n, t) if names(n) =>
          if (t == "pair") "doc" else if (t == "embpair") "emb" else t
      }.toSet ++ (if (names(StreamDocOp)) Set("doc") else Set.empty)
    }
    val base = java.nio.file.Files.createTempDirectory("graft_scale").toString

    def tier(name: String)(make: => (DataFrame, DataFrame)): Option[(DataFrame, DataFrame)] =
      if (tiersWanted(name)) Some(make) else None

    val docTier = tier("doc") {
      val docs1 = Tables.documents(spark, sfDir)
      val docStride = docs1.agg(max("doc_id")).first().getLong(0) + 1
      scaledDocs(docs1, factor, docStride).write.mode("overwrite")
        .parquet(s"$base/documents")
      docStrideSeen = docStride
      (docs1, spark.read.parquet(s"$base/documents"))
    }
    val embTier = tier("emb") {
      val emb1 = Tables.embeddings(spark, sfDir)
      val embStride = emb1.agg(max("vec_id")).first().getLong(0) + 1
      scaledEmb(emb1, factor, embStride).write.mode("overwrite")
        .parquet(s"$base/embeddings")
      embStrideSeen = embStride
      (emb1, spark.read.parquet(s"$base/embeddings"))
    }
    // events: materialize the 1× too — Tables.events wraps the scan in
    // a nanos→micros projection, so a raw-parquet replica would run a
    // cheaper scan shape than the original and understate the ratio
    val evtTier = tier("evt") {
      val ev0 = Tables.events(spark, sfDir)
      val userStride = ev0.agg(max("user_id")).first().getLong(0) + 1
      ev0.write.mode("overwrite").parquet(s"$base/events1")
      scaledEvents(ev0, factor, userStride).write.mode("overwrite")
        .parquet(s"$base/eventsN")
      (spark.read.parquet(s"$base/events1"),
        spark.read.parquet(s"$base/eventsN"))
    }
    // graph: hub id = GraphNodes, so ids < GraphNodes + 1
    val graphTier = tier("graph") {
      val e0 = edgeBase(Tables.lineitem(spark, sfDir), GraphNodes)
      e0.write.mode("overwrite").parquet(s"$base/edges1")
      scaledEdges(e0, factor, GraphNodes + 1).write.mode("overwrite")
        .parquet(s"$base/edgesN")
      (spark.read.parquet(s"$base/edges1"),
        spark.read.parquet(s"$base/edgesN"))
    }

    def time(f: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // The testdata corpus is adversarially self-similar (tiny
    // vocabulary — a large fraction of ALL doc pairs are genuine
    // near-dup candidates), so pair-EMISSION operators' output grows
    // ~quadratically in the replication factor by construction. Those
    // ops run at a capped factor (copies 0..2 of the replica, output
    // ~9×) — their ratio measures whether cost TRACKS the genuine
    // candidate volume; the linear-shaped ops run at the full factor.
    val pairFactor = math.min(factor, 3)
    lazy val docsP = docTier.get._2
      .filter(col("doc_id") < pairFactor * docStrideSeen)
    lazy val embP = embTier.get._2
      .filter(col("vec_id") < pairFactor * embStrideSeen)

    // warm-up: JVM + codegen + the scans of every materialized tier
    Seq(docTier, embTier, evtTier, graphTier).flatten
      .foreach { case (a, b) => a.count(); b.count() }

    val rows = ops
      .filter(o => only.forall(_.contains(o.name)))
      .map { o =>
        val (small, big, fac) = o.tier match {
          case "doc" => (docTier.get._1, docTier.get._2, factor)
          case "emb" => (embTier.get._1, embTier.get._2, factor)
          case "evt" => (evtTier.get._1, evtTier.get._2, factor)
          case "graph" => (graphTier.get._1, graphTier.get._2, factor)
          case "embpair" => (embTier.get._1, embP, pairFactor)
          case _ => (docTier.get._1, docsP, pairFactor)
        }
        println(s"[scale] running ${o.name} (factor $fac) ..."); Console.flush()
        o.f(small).count() // per-op codegen warm-up at the small tier
        // min-of-2 per tier: a transient load spike on a shared container
        // otherwise records a phantom blow-up (observed 52 s vs a true
        // 4-7 s on one run of doc_repetition)
        val (ta1, rows1) = time(o.f(small))
        val t1 = math.min(ta1, time(o.f(small))._1)
        val (taN, rowsN) = time(o.f(big))
        val tN = math.min(taN, time(o.f(big))._1)
        val ratio = if (t1 > 0) tN / t1 else -1.0
        // candidate volume (pre-verify pair relation), one count per
        // scale — the denominator the time ratio is judged against
        val cands = o.cand.map(c => (c(small).count(), c(big).count()))
        val candTxt = cands.map { case (c1, cN) =>
          f" cand=$c1%d→$cN%d" }.getOrElse("")
        println(f"[scale] ${o.name}%-22s t1=$t1%7.2fs tN=$tN%7.2fs factor=$fac ratio=$ratio%6.2f rows=$rows1%d→$rowsN%d$candTxt%s")
        Console.flush()
        (o.name, t1, tN, fac, ratio, rows1, rowsN, cands)
      }

    // ---- perturbed leg (r13): the pair tiers at the FULL factor on
    // the zero-cross-copy-vocabulary replica — candidates grow ×factor
    // by construction, so ratios ≲ factor certify the plans' growth is
    // algorithmic, not candidate-mass-driven. The capped tf·idf tier
    // runs at a DEPLOYMENT-SITED ceiling: above the corpus's healthy
    // postings p99 (2289 at sf0.1; postings per token are FLAT on
    // this replica — disjoint vocab — so the siting is scale-stable).
    // The ceiling's domain is runaway heavy-tail terms; a mid-spectrum
    // D (1600 ≈ p50) was measured at 19.7×/×10 here — the hot-mass
    // worst case recorded in TFIDF_CAPSCALE_r13.json and PLANS.md,
    // exactly what the siting rule exists to avoid. The heavy-tail WIN
    // is the `growth` leg of TFIDF_SHARD_r13.json, where
    // postings DO grow. ----
    val perturbedOps: Seq[Op] = Seq(
      Op("tfidf_cosine_pairs", d => TextOps.tfidfCosinePairs(d, 60),
        "pdoc", cand = Some(d => TextOps.tfidfCosinePairs(d, 0))),
      Op("tfidf_cosine_sharded", registry.TextQueries.tfidfCosineSharded, "pdoc"),
      Op("tfidf_cosine_capped", d => TextOps.tfidfCosinePairsCapped(d,
        maxPostings = 2300L), "pdoc"),
      // the shipped DEFAULT (r14): ceiling auto-sited at the salient-
      // postings p99 — must reproduce the r13 re-sited measurement
      // (~5.7x at x10, zero loss) with no knob typed
      Op("tfidf_cosine_capped_auto",
        d => TextOps.tfidfCosinePairsCapped(d), "pdoc"),
      Op("dedup_containment", d => Dedup.containmentPairs(d, 9), "pdoc",
        cand = Some(d => Dedup.containmentCandidates(d, 9))),
      Op("dedup_minhash_lsh", d => Dedup.minhashLshPairs(d, bands = 4), "pdoc"))
    val perturbedWanted = only match {
      case None => perturbedOps.map(_.name).toSet
      case Some(ns) => perturbedOps.map(_.name).toSet & ns
    }
    val perturbedRows = if (perturbedWanted.isEmpty) Seq.empty else {
      val docs1 = Tables.documents(spark, sfDir)
      val stride = docs1.agg(max("doc_id")).first().getLong(0) + 1
      perturbedDocs(docs1, factor, stride).write.mode("overwrite")
        .parquet(s"$base/documentsPerturbed")
      val big = spark.read.parquet(s"$base/documentsPerturbed")
      docs1.count(); big.count() // scan warm-up
      perturbedOps.filter(o => perturbedWanted(o.name)).map { o =>
        println(s"[scale] perturbed ${o.name} (factor $factor) ...")
        Console.flush()
        o.f(docs1).count() // per-op codegen warm-up
        val (ta1, rows1) = time(o.f(docs1))
        val t1 = math.min(ta1, time(o.f(docs1))._1)
        val (taN, rowsN) = time(o.f(big))
        val tN = math.min(taN, time(o.f(big))._1)
        val ratio = if (t1 > 0) tN / t1 else -1.0
        val cands = o.cand.map(c => (c(docs1).count(), c(big).count()))
        val candTxt = cands.map { case (c1, cN) =>
          f" cand=$c1%d→$cN%d" }.getOrElse("")
        println(f"[scale] P:${o.name}%-20s t1=$t1%7.2fs tN=$tN%7.2fs factor=$factor ratio=$ratio%6.2f rows=$rows1%d→$rowsN%d$candTxt%s")
        Console.flush()
        (o.name, t1, tN, factor, ratio, rows1, rowsN, cands)
      }
    }

    // matmul: FLOP scaling instead of corpus scaling (8× work per 2×n)
    def mm(n: Long): Double = {
      val a = MatrixOps.genDense(spark, n, seed = 7)
      val b = MatrixOps.genDense(spark, n, seed = 11)
      time(MatrixOps.multiplyBlocked(spark, a, b, n))._1
    }
    val matmulJson = if (only.isEmpty) {
      mm(256) // warm the blocked-kernel codegen
      val t1024 = mm(1024)
      val t2048 = mm(2048)
      System.err.println(f"[scale] matmul n=1024 ${t1024}%.2fs n=2048 ${t2048}%.2fs ratio=${t2048 / t1024}%.2f (ideal 8)")
      def fmt(v: Double) = f"$v%.3f"
      s""","matmul":{"t1024":${fmt(t1024)},"t2048":${fmt(t2048)},"ratio":${fmt(t2048 / t1024)}}"""
    } else ""

    // Streaming doc twin: readStream over the same materialized parquet
    // replicas, AvailableNow micro-batching, memory sink on the skinny
    // id projection. Timed region = start → awaitTermination, so
    // state-store maintenance is inside the clock like any real
    // ingestion run. The 1× side is re-materialized as a DIRECTORY
    // (the driver testdata is a single parquet file, which
    // FileStreamSource rejects — "Option 'basePath' must be a
    // directory"); the write sits outside the timed region.
    val streamJson =
      if (tiersWanted("doc") && only.forall(_.contains(StreamDocOp))) {
        def runStream(path: String, tag: String): (Double, Long) = {
          val schema = spark.read.parquet(path).schema
          val src = spark.readStream.schema(schema).parquet(path)
            .withColumn("ts", timestamp_micros(col("doc_id")))
          val out = DocStream.dedupDocStream(src).select("doc_id")
          val ckpt = java.nio.file.Files
            .createTempDirectory(s"graft_ckpt_$tag").toString
          val t0 = System.nanoTime()
          val q = out.writeStream
            .format("memory").queryName(s"stream_dedup_$tag")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          ((System.nanoTime() - t0) / 1e9,
            spark.table(s"stream_dedup_$tag").count())
        }
        val small = s"$base/documents1"
        docTier.get._1.write.mode("overwrite").parquet(small)
        // min-of-2 with fresh checkpoints, like the batch ops: the
        // first streaming query in a session carries one-time state
        // store + sink init that otherwise lands entirely on t1
        val (ta1, rows1) = runStream(small, "s1a")
        val t1 = math.min(ta1, runStream(small, "s1b")._1)
        val (taN, rowsN) = runStream(s"$base/documents", "sNa")
        val tN = math.min(taN, runStream(s"$base/documents", "sNb")._1)
        val ratio = if (t1 > 0) tN / t1 else -1.0
        println(f"[scale] $StreamDocOp%-22s t1=$t1%7.2fs tN=$tN%7.2fs factor=$factor ratio=$ratio%6.2f rows=$rows1%d→$rowsN%d")
        def fmt3(v: Double) = f"$v%.3f"
        s""","$StreamDocOp":{"t1":${fmt3(t1)},"tN":${fmt3(tN)},"factor":$factor,"ratio":${fmt3(ratio)},"rows1":$rows1,"rowsN":$rowsN}"""
      } else ""

    def fmt(v: Double) = f"$v%.3f"
    val qs = rows.map { case (n, t1, tN, fac, r, r1, rN, cands) =>
      val candJson = cands.map { case (c1, cN) =>
        s""","cand1":$c1,"candN":$cN""" }.getOrElse("")
      s""""$n":{"t1":${fmt(t1)},"tN":${fmt(tN)},"factor":$fac,"ratio":${fmt(r)},"rows1":$r1,"rowsN":$rN$candJson}"""
    }.mkString("{", ",", "}")
    val qsWithStream =
      if (streamJson.isEmpty) qs
      else if (qs == "{}") "{" + streamJson.drop(1) + "}"
      else qs.dropRight(1) + streamJson + "}"
    val perturbedJson = if (perturbedRows.isEmpty) "" else {
      val pq = perturbedRows.map { case (n, t1, tN, fac, r, r1, rN, cands) =>
        val candJson = cands.map { case (c1, cN) =>
          s""","cand1":$c1,"candN":$cN""" }.getOrElse("")
        s""""$n":{"t1":${fmt(t1)},"tN":${fmt(tN)},"factor":$fac,"ratio":${fmt(r)},"rows1":$r1,"rowsN":$rN$candJson}"""
      }.mkString("{", ",", "}")
      s""","perturbed":$pq"""
    }
    println(s"""{"metric":"scale_smoke","factor":$factor,"sf":"$sfDir","ops":$qsWithStream$perturbedJson$matmulJson}""")
    spark.stop()
  }
}
