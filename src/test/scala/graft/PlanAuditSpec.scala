package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan assertions for declared queries whose SCALE story
  * depends on a specific plan shape — the "is this the plan you'd want
  * at 100 TB" audit, pinned as tests so a regression (a lost pushdown,
  * a join strategy flip, a nested-loop sneaking in) fails CI instead of
  * surfacing as a mystery slowdown. Complements BucketingSpec (bucketed
  * joins) and PartitionPruningSpec (scan pruning). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("matmul joins never degrade to nested-loop or cartesian plans") {
    for (q <- Seq("matmul_basic", "matmul_rect", "matmul_blocked")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must contract via an equi-join, plan:\n$p")
    }
  }

  test("q7 pushes the trading-nation filter into the nation scans") {
    val p = plan("q7_volume_shipping")
    assert(p.contains("In(n_name"),
      s"nation IN-filter must reach the parquet scan, plan:\n$p")
  }

  test("q8 pushes the part-type filter into the part scan") {
    val p = plan("q8_market_share")
    assert(p.contains("EqualTo(p_type,PROMO)"),
      s"p_type filter must reach the parquet scan, plan:\n$p")
  }

  test("top-k per group plans as a rank-limit pushdown, not a full sort") {
    for (q <- Seq("top_users_by_type", "doc_top_terms")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q per-group top-k must use WindowGroupLimit, plan:\n$p")
    }
  }

  test("tf-idf pair queries join through hash joins, never nested loops") {
    // the salient-vector top-k inside the subtree materializes through
    // localCheckpoint, so WindowGroupLimit is asserted on the vector
    // relation directly; the declared query's visible plan must keep
    // the candidate + norm joins hash-based
    val vecPlan = graft.operators.TextOps.salientVectors(
      Tables.documents(spark, dir), 10)
      .queryExecution.executedPlan.toString
    assert(vecPlan.contains("WindowGroupLimit"),
      s"salient top-k must prune map-side, plan:\n$vecPlan")
    val p = plan("tfidf_cosine_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"tfidf candidate/norm joins must stay hash joins, plan:\n$p")
  }

  test("sharded tf-idf broadcasts each build shard — no sort-merge fallback") {
    // r19: the declared row runs the AUTO shard rule (1 shard at
    // fixture scale — candidate join + 2 norm probes, all broadcast);
    // the >10⁷-doc 4-shard SHAPE is audited at the operator altitude
    // (the salientVectors pattern), since the declared plan only
    // engages shards past the broadcast budget (maxBroadcastDocs) by
    // design.
    val p = plan("tfidf_cosine_sharded")
    val bhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(bhj >= 3, s"expected >= 3 broadcast joins (candidates + 2 norms), got $bhj, plan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"auto-sized build must not fall back to a shuffle join, plan:\n$p")
    val p4 = graft.operators.TextOps.tfidfCosinePairs(
      Tables.documents(spark, dir), thresholdHundredths = 60,
      buildShards = 4)
      .queryExecution.executedPlan.toString
    val bhj4 = "BroadcastHashJoin".r.findAllIn(p4).length
    assert(bhj4 >= 6, s"expected >= 6 broadcast joins (4 shards + 2 norms), got $bhj4, plan:\n$p4")
    assert(!p4.contains("SortMergeJoin") && !p4.contains("ShuffledHashJoin"),
      s"sharded build must not fall back to a shuffle join, plan:\n$p4")
  }

  test("capped tf-idf generates candidates through broadcast joins only") {
    // the ceiling tier's scale story: the sub-ceiling token set and
    // the candidate build side broadcast; generation and the two
    // completion joins stay hash-based — a nested-loop or cartesian
    // flip would void the D·k·N mass bound in practice
    val p = plan("tfidf_cosine_capped")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"capped tfidf joins must stay hash joins, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate generation must broadcast the build side, plan:\n$p")
  }

  test("ivf-pq rerank broadcasts the shortlist — the corpus never shuffles for stage 2") {
    // stage 2's plan: the (queries·prefilter)-row candidate list and
    // the query vectors broadcast; the corpus side streams into a
    // BroadcastHashJoin with no Exchange of the corpus scan for the
    // re-rank (the only sort allowed is the per-qid rank window over
    // prefilter-sized groups)
    // (stage 1 inherits ann_ivf_pq's plan as-is, including its
    // deliberate queries-×-broadcast-book cross — a 5-row × metadata
    // side; the audit here is stage 2's additions)
    val p = plan("ann_ivf_pq_rerank")
    assert(!p.contains("CartesianProduct"),
      s"rerank must never plan an unbroadcast cartesian, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the shortlist must broadcast against the corpus, plan:\n$p")
    // the exact re-rank top-k prunes map-side like every other top-k
    assert(p.contains("WindowGroupLimit"),
      s"the per-qid rank must prune with WindowGroupLimit, plan:\n$p")
  }

  test("row-local text operators are shuffle-free projections") {
    for (q <- Seq("doc_stats", "doc_quality", "doc_fingerprint_rolling",
      "media_resized")) {
      // orderBy for the oracle adds a range-partition exchange at the
      // sink; anything beyond that single exchange means the operator
      // itself shuffled
      val exchanges = "Exchange".r.findAllIn(plan(q)).length
      assert(exchanges <= 1,
        s"$q should only exchange for the final ORDER BY, got $exchanges")
    }
  }

  test("the sliding event-time frame runs in a single Window operator") {
    val p = plan("user_value_10min")
    val windows = "\\(\\d+\\) Window".r.findAllIn(
      SparkEntry.queries("user_value_10min")(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      .length
    assert(p.contains("Window") && windows <= 1,
      s"both trailing aggregates must share one Window operator")
  }

  test("grouping-set queries aggregate through one Expand pass") {
    for (q <- Seq("region_rollup", "region_cube", "region_grouping_sets")) {
      val expands = "Expand".r.findAllIn(plan(q)).length
      assert(expands === 1, s"$q must plan exactly one Expand, got $expands")
    }
  }

  test("decontamination joins the corpus against a BROADCAST eval-gram set") {
    val p = plan("contamination_hits")
    assert(p.contains("BroadcastHashJoin"),
      s"eval grams must broadcast (corpus side stays map-local), plan:\n$p")
  }

  test("corpus top-k executes as TakeOrderedAndProject, not a global sort") {
    val p = plan("corpus_ngrams")
    assert(p.contains("TakeOrderedAndProject"),
      s"global top-k must plan as TakeOrderedAndProject, plan:\n$p")
  }

  test("reservoir sampling prunes per-group rows with WindowGroupLimit") {
    val p = plan("doc_reservoir")
    assert(p.contains("WindowGroupLimit"),
      s"quota filter must push a rank limit under the window, plan:\n$p")
  }

  test("the production KMV sketch prunes to k rows per group map-side") {
    val p = plan("approx_distinct_sketch")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=k must push a rank limit under the window, plan:\n$p")
  }

  test("repetition signals aggregate exchange-free on the spread partitioning") {
    // one exchange spreads the scan, one sorts the output; BOTH
    // aggregation levels (doc,n,gram) and (doc,n) must ride the
    // doc_id hash partitioning without reshuffling
    val exchanges = "Exchange".r.findAllIn(plan("doc_repetition")).length
    assert(exchanges <= 2,
      s"doc_repetition must not reshuffle between aggregation levels, " +
        s"got $exchanges exchanges")
  }

  test("funnel and retention contract through equi-joins, never nested loops") {
    for (q <- Seq("funnel_counts", "retention_cohorts")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must join on its equi keys, plan:\n$p")
    }
  }

  test("gram matrix accumulates partition-locally — no component self-join") {
    // shuffle input must be partitions·dim²/2 partial rows (the dense
    // outer-product kernel), never N·dim²/2 joined component rows
    val p = plan("embedding_gram")
    assert(!p.contains("Join"),
      s"gram must fold vectors into per-partition accumulators, plan:\n$p")
    assert(p.contains("MapPartitions"),
      s"gram must run the dense outer-product kernel, plan:\n$p")
  }

  test("pack_chunks runs its wide window sharded, not one task per language") {
    val docs = Tables.documents(spark, dir)
    val p = graft.operators.TextOps.packChunks(docs, budgetTokens = 4096L,
      shardDocs = 16L).queryExecution.executedPlan.toString
    // the per-row running-sum window must partition by (lang, shard) —
    // a lang-only spec means the serial per-language plan came back
    assert("windowspecdefinition\\(lang#\\d+, shard#\\d+L?, doc_id#\\d+L? ASC".r
      .findFirstIn(p).isDefined,
      s"wide window must partition by (lang, shard), plan:\n$p")
    // and the sharding must actually split languages at this SF, so the
    // window stage really runs >|languages| groups
    import org.apache.spark.sql.functions.{col, expr}
    val langs = docs.select("lang").distinct().count()
    val groups = docs.select(col("lang"), expr("doc_id div 16").as("shard"))
      .distinct().count()
    assert(groups > langs,
      s"expected more (lang, shard) groups than $langs languages, got $groups")
  }

  test("q6 pushes all three scan predicates into the parquet reader") {
    // formatted mode: the plain toString truncates long PushedFilters
    val p = SparkEntry.queries("q6_forecast")(spark, dir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
      p.contains("GreaterThanOrEqual(l_discount") &&
      p.contains("LessThan(l_quantity"),
      s"q6's date/discount/quantity filters must reach PushedFilters, plan:\n$p")
    assert(!p.contains("Join"), s"q6 must be a pure scan-aggregate, plan:\n$p")
  }

  test("EXISTS queries plan as semi/anti hash joins, never nested loops") {
    // q4: one LEFT SEMI; q21: a semi AND an anti probe; q22: one anti.
    // All ride an equi-key (orderkey/custkey) with residuals — a
    // nested-loop here would be quadratic at scale.
    val p4 = plan("q4_priority")
    assert(p4.contains("LeftSemi"), s"q4 EXISTS must be a semi join:\n$p4")
    val p21 = plan("q21_waiting_supplier")
    assert(p21.contains("LeftSemi") && p21.contains("LeftAnti"),
      s"q21 EXISTS/NOT EXISTS must be semi+anti joins:\n$p21")
    val p22 = plan("q22_idle_customers")
    assert(p22.contains("LeftAnti"), s"q22 NOT EXISTS must be an anti join:\n$p22")
    for ((q, p) <- Seq("q4_priority" -> p4, "q21_waiting_supplier" -> p21))
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must keep its equi-key joins, plan:\n$p")
  }

  test("ranked top-k queries execute as TakeOrdered, not a global sort") {
    for (q <- Seq("q10_returns", "q18_large_orders")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q ORDER BY+LIMIT must plan as TakeOrderedAndProject, plan:\n$p")
    }
  }

  test("q17 semi-prunes lineitem by brand before the per-part aggregation") {
    val p = plan("q17_small_qty")
    // the aggregation input must already be brand-pruned: the semi join
    // appears UNDER the HashAggregate that computes per-part sums
    assert(p.contains("LeftSemi"),
      s"brand prune must be a semi join feeding the agg, plan:\n$p")
    assert(p.contains("EqualTo(p_brand,Brand#1)"),
      s"brand filter must reach the part scan, plan:\n$p")
  }

  test("source capping prunes each source to cap rows map-side") {
    val p = plan("source_cap")
    assert(p.contains("WindowGroupLimit"),
      s"rn<=cap must push a rank limit under the window, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the per-source size report must broadcast, plan:\n$p")
  }

  test("pq code assignment is the fused kernel argmin, not a rank window") {
    val p = plan("pq_codes")
    assert(!p.contains("WindowGroupLimit") && !p.contains("Window"),
      s"the argmin must be the fused pq_argmin kernel, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the codebook must broadcast into the assignment join, plan:\n$p")
    // the fused native kernel (pq_argmin) resolves each (vector,
    // subspace) row against its subspace's whole broadcast codeword
    // table in-register — the N·m·cw assign relation (256× the codes
    // relation at the declared cw) never materializes, and neither a
    // sort chain nor any argmin aggregate appears in the plan
    assert(p.contains("pq_argmin"),
      s"the assignment must run the fused native kernel, plan:\n$p")
    assert(!p.contains("SortAggregate"),
      s"the argmin must stay sort-free, plan:\n$p")
  }

  test("the streaming-shaped LM scorer never windows the bigram explode") {
    // the row-local transform replaced the lead() chain: no Window
    // operator may appear anywhere in the batch scorer's plan
    val p = plan("doc_lm_score")
    assert(!p.contains("Window"),
      s"bigram adjacency must be row-local, not a window lead, plan:\n$p")
  }

  test("semdedup assigns via min-struct aggregation and never cartesians") {
    val p = plan("semdedup")
    // the nearest-centroid argmin is a min(struct(dist, cluster))
    // aggregation — the broadcast cross-probe leaves every vec_id's k
    // rows partition-complete, so the PARTIAL agg collapses them
    // before any exchange; a rank window here would sort-shuffle all
    // N·k rows. (A struct-min buffer does plan as SortAggregate — the
    // per-partition sort is k rows per vector. The PQ family's
    // packed-long argmin doesn't apply here: cluster ids are seed
    // vec_ids, unbounded by design, where codeword ids seed below cw.)
    assert(!p.contains("Window"),
      s"assignment argmin must be a hash agg, not a rank window, plan:\n$p")
    assert(p.contains("min(struct("),
      s"assignment argmin must be the min-struct aggregation, plan:\n$p")
    // the only non-equi join allowed is the BROADCAST codebook probe;
    // an unbroadcast cartesian would be the O(N·k) scale killer
    assert(!p.contains("CartesianProduct"),
      s"no unbroadcast cartesian anywhere, plan:\n$p")
  }

  test("incremental semantic dedup never cartesians, argmins stay agg") {
    val p = plan("dedup_incremental_embedding")
    // both assignment argmins (batch + corpus) are min-struct
    // aggregations with map-side partials (see the semdedup note)
    assert(!p.contains("Window"),
      s"assignment argmins must be aggregations, not rank windows, plan:\n$p")
    assert(p.contains("min(struct("),
      s"assignment argmins must be min-struct aggregations, plan:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"only broadcast codebook probes may cross-join, plan:\n$p")
  }

  test("components queries end checkpoint-fed with bounded lineage") {
    // the pointer-jumping loop localCheckpoints every round, so the
    // DECLARED plan must read the final labels from a materialized RDD
    // scan — an exponentially nested join lineage here would mean a
    // checkpoint was dropped and round r replans rounds 1..r-1
    for (q <- Seq("dedup_components", "semdedup_components")) {
      val p = plan(q)
      assert(p.contains("ExistingRDD"),
        s"$q labels must scan the checkpointed loop output, plan:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"$q must stay cartesian-free, plan:\n$p")
    }
  }

  test("dsir scoring is windowless with broadcast totals only") {
    val p = plan("dsir_weights")
    // per-doc aggregation is a hash agg over the scored rows — a rank
    // window here would serialize per-doc groups for no reason
    assert(!p.contains("Window"),
      s"dsir per-doc stats must be hash aggregation, plan:\n$p")
    // the 1-row totals relation rides a broadcast nested-loop cross
    // join; a CartesianProduct would mean the broadcast hint was lost
    assert(!p.contains("CartesianProduct"),
      s"model totals must broadcast, plan:\n$p")
  }

  test("gopher rules plan as one shuffle-free codegen projection") {
    // audit the operator itself (the declared query only adds an
    // output orderBy): no exchange anywhere, all inside codegen
    val p = graft.operators.Curation
      .gopherRules(Tables.documents(spark, dir))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"rule signals must not shuffle, plan:\n$p")
    // codegen stages print as *(n) in the executed plan; the HOF
    // signal projection itself is interpreted (Spark's higher-order
    // functions are CodegenFallback) but the scan and flag logic stay
    // in codegen stages around it
    assert(p.contains("*("),
      s"scan/flag projections must stay in codegen stages, plan:\n$p")
  }

  test("ppl bucket ranks ride broadcast offsets, never a per-lang global sort") {
    val p = plan("ppl_buckets")
    // the offsets relation must attach via broadcast — a shuffled join
    // here would mean the metadata-scale offset table got exchanged
    assert(p.contains("BroadcastHashJoin"),
      s"offset attach must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"rank path must stay equi-join, plan:\n$p")
  }

  test("srp hamming top-k prunes k rows per query map-side") {
    val p = plan("ann_srp")
    assert(p.contains("WindowGroupLimit"),
      s"rank filter must push into WindowGroupLimit, plan:\n$p")
  }

  test("span rewrite's canonical argmin stays a hash aggregation") {
    val p = plan("dedup_spans_rewrite")
    // the packed-long min keeps the window-occurrence relation (the
    // query's biggest) on partial+final HashAggregate; a struct-min
    // buffer would force a SortAggregate chain over all of it
    assert(!p.contains("SortAggregate"),
      s"canon pick must hash-aggregate, plan:\n$p")
  }

  test("perceptron rounds attach weights via broadcast hash joins only") {
    val p = plan("qclf_score")
    // every weight attach (R rounds + final scoring) is a broadcast of
    // the buckets+1-row relation; a sort-merge join here would shuffle
    // the corpus-sized feature relation once per round
    assert(p.contains("BroadcastHashJoin"),
      s"weight attach must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"training must stay equi-join shaped, plan:\n$p")
    assert(!p.contains("Window"),
      s"margins are hash aggregations, no rank window, plan:\n$p")
  }

  test("fuzzy join and components contract via equi-joins only") {
    for (q <- Seq("fuzzy_join_names", "fuzzy_components")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q must block via the deletion-variant equi-join, plan:\n$p")
    }
  }

  test("hll registers plan as one projection + one max aggregation") {
    val p = plan("hll_registers")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"the register table needs no window or join, plan:\n$p")
    // partial+final max pair, nothing else aggregates the corpus
    assert("HashAggregate".r.findAllIn(p).size == 2,
      s"expected exactly the partial+final max pair, plan:\n$p")
  }

  test("media near-dup contracts via the phash band equi-join only") {
    val p = plan("media_near_dup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"media pairs must block on (kind, band, band_val), plan:\n$p")
  }

  test("frame dup report is explode + hash aggregations — no join at all") {
    val p = plan("media_frame_dup")
    assert(!p.contains("Join"),
      s"the frame report needs no join (packed-long canon), plan:\n$p")
    assert(!p.contains("SortAggregate"),
      s"canonical pick must stay a hash aggregation, plan:\n$p")
  }

  test("media knn prunes its top-k map-side and broadcasts the query set") {
    val p = plan("media_knn")
    assert(p.contains("WindowGroupLimit"),
      s"per-query top-k must use WindowGroupLimit, plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the tiny query set must broadcast into the kind join, plan:\n$p")
  }

  test("media ivf contracts via cell equi-joins — no cartesian anywhere") {
    for (q <- Seq("media_ann_ivf", "media_ann_ivf_probe2")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q candidates must come from (kind)/(cluster) equi-joins, plan:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q codebook/probe sides must broadcast, plan:\n$p")
    }
  }

  test("incremental threshold splits build one plan — no driver action in the lambda") {
    // the r7 verdict's last everything-is-one-plan deviation: the
    // corpus/batch split point must ride the plan as a broadcast 1-row
    // aggregate (the q22_idle_customers scalar-subquery idiom), not a
    // driver-side .first() that costs an extra full-column scan job per
    // invocation at 100 TB
    for (q <- Seq("dedup_incremental", "dedup_incremental_simhash",
        "dedup_incremental_containment", "dedup_incremental_embedding")) {
      var p = ""
      val jobs = jobsDuring { p = plan(q) }
      assert(p.contains("max(doc_id") || p.contains("max(vec_id"),
        s"$q split threshold must be an in-plan scalar agg, plan:\n$p")
      assert(jobs.isEmpty,
        s"constructing $q must submit no jobs, got ${jobs.size}:\n" + jobs.mkString("\n---\n"))
    }
  }

  test("declaring a registry query submits no job outside the named exceptions") {
    // query -> why its declaration may run Spark jobs; a memo a
    // previous suite already built makes the declaration jobless, so
    // the check is "jobful ⊆ exceptions", never equality
    val exceptions: Map[String, String] = Map(
      "doc_lm_score" -> "localCheckpoint pins of the bigram rows and model (TextOps.lmBigramRows, lmModelOfRows)",
      "dsir_weights" -> "localCheckpoint pins of the bigram relation and model (TextOps.dsirWeights)",
      "ppl_buckets" -> "the doc_lm_score pins plus a pin of the scores (Curation.pplBuckets)",
      "source_overlap" -> "a localCheckpoint pin (Curation.sourceOverlap)",
      "dedup_substring_spans" -> "a localCheckpoint pin (TextOps.substringSpans)",
      "dedup_spans_rewrite" -> "a localCheckpoint pin (TextOps.dedupSpansRewrite)",
      "cdc_chunks" -> "a localCheckpoint pin (TextOps.cdcChunks)",
      "dedup_winnow_pairs" -> "a localCheckpoint pin (TextOps.winnowPairs)",
      "tfidf_cosine_pairs" -> "the per-session doc-count memoCount sizing plus a pin (TextOps.tfidfCosinePairs)",
      "tfidf_cosine_sharded" -> "the doc-count memoCount sizing, once per session (Bench's min-of-k drops that first repetition), plus a pin",
      "tfidf_cosine_capped" -> "localCheckpoint pins (TextOps.tfidfCosinePairsCapped)",
      "tfidf_cosine_capped_auto" -> "localCheckpoint pins (TextOps.tfidfCosinePairsCapped)",
      "tfidf_cosine_capped_auto_hot" -> "localCheckpoint pins (TextOps.tfidfCosinePairsCapped)",
      "contamination_hits" -> "a localCheckpoint pin (TextOps.contaminationHits)",
      "corpus_ngrams" -> "a localCheckpoint pin (TextOps.corpusNgrams)",
      "doc_novelty" -> "a localCheckpoint pin (TextOps.docNovelty)",
      "ctfidf_keywords" -> "a localCheckpoint pin (TextOps.ctfidfKeywords)",
      "hybrid_rrf_indexed" -> "lex and PQ serve-index builds, index footer reads and pins",
      "bm25_indexed" -> "lex serve-index build and the probe-vocabulary collect (TextOps.bm25DocAsQueryFromIndex)",
      "hybrid_recall" -> "the probe-vocabulary collect, index footer reads and a pin (TextOps.hybridRecallAudit)",
      "doc_familiarity" -> "a localCheckpoint pin (TextOps.corpusNgrams)",
      "bpe_merges" -> "a localCheckpoint pin per merge round (BPE training)",
      "bpe_encode" -> "BPE training pins plus an encode pin (TextOps.bpeEncode)",
      "bpe_fertility" -> "BPE training pins plus an encode pin (TextOps.bpeEncode)",
      "token_zipf" -> "a localCheckpoint pin (TextOps.tokenZipf)",
      "pipeline_curate_v4" -> "localCheckpoint pins of its stages",
      "pipeline_curate_v3" -> "localCheckpoint pins of its stages",
      "pipeline_curate_v2" -> "a localCheckpoint pin (TextOps.contaminationHits)",
      "heavy_hitters" -> "a localCheckpoint pin (Sketches.heavyHitters)",
      "dedup_components" -> "the components seed (Dedup.seededComponents)",
      "dedup_components_best" -> "the components seed, pinned by componentsFor's eager checkpoint",
      "dedup_components_incremental" -> "standing-assignment build plus the components seed",
      "dedup_components_incremental_banded" -> "band-index and assignment builds plus the components seed",
      "dedup_incremental_lsh_indexed" -> "band-index build and a head (Dedup.dedupAgainstCorpusLshIndexed)",
      "dedup_incremental_indexed" -> "PQ half-index build, its footer reads and pins",
      "fuzzy_join_names" -> "a localCheckpoint pin (Dedup.editDistancePairs)",
      "fuzzy_components" -> "a pin plus the components seed (Dedup.editDistanceComponents)",
      "dedup_incremental_fuzzy" -> "a localCheckpoint pin (Dedup.fuzzyMatchAgainstCorpus)",
      "dedup_containment" -> "bag-quotient pins and memoCount sizing (Dedup.bagQuotient, RelationStats)",
      "semdedup" -> "a localCheckpoint pin of the semantic tier (Similarity)",
      "semdedup_components" -> "the components seed (Dedup.seededComponents)",
      "pipeline_d4" -> "a localCheckpoint pin (Similarity.d4Funnel)",
      "gram_power_iteration" -> "a localCheckpoint pin (Similarity.gramPowerIteration)",
      "pq_incremental_codes" -> "codebook pins (RelationStats.pinnedWide)",
      "pq_residual_codes" -> "codebook pins (RelationStats.pinnedWide)",
      "ann_pq" -> "a codebook pin (RelationStats.pinnedWide)",
      "ann_ivf_pq_indexed" -> "PQ serve-index build and footer reads",
      "ann_ivf_pq_indexed_probe2" -> "PQ serve-index build and footer reads",
      "ann_recall_ivf" -> "a localCheckpoint pin (Similarity.annRecallAudit)",
      "ann_recall_quantized" -> "localCheckpoint pins (Similarity.annRecallQuantized)",
      "qclf_weights" -> "a localCheckpoint pin per perceptron round (Curation.trainRounds)",
      "qclf_score" -> "a localCheckpoint pin per perceptron round (Curation.trainRounds)",
      "results_union_clean" -> "CSV schema inference (ResultsCsv)",
      "results_extra_parsed" -> "CSV schema inference (ResultsCsv)",
      "bloom_semijoin" -> "the Bloom filter build (BloomJoin.buildBloom)",
      "manifest_pruned_scan" -> "lake and manifest build plus the manifest read (Layout.manifestPrunedRead)",
      "media_ann_ivf" -> "codebook pins (Multimodal.mediaIvfIndex)",
      "media_ann_ivf_probe2" -> "codebook pins (Multimodal.mediaIvfIndex)",
      "media_ann_ivf_indexed" -> "media IVF index build plus codebook pins",
      "media_recall_ivf" -> "codebook pins plus an audit pin (Multimodal.mediaRecallAudit)",
      "pipeline_media" -> "localCheckpoint pins (Multimodal.mediaPipeline)")
    assert(exceptions.keySet.subsetOf(SparkEntry.queries.keySet),
      s"exceptions name undeclared queries: ${exceptions.keySet -- SparkEntry.queries.keySet}")
    val jobful = SparkEntry.registry.flatMap { q =>
      val jobs = jobsDuring { q.build(spark, dir) }
      if (jobs.isEmpty) None else Some(q.name -> jobs)
    }
    val unexpected = jobful.filterNot { case (name, _) => exceptions.contains(name) }
    // a job's stage names carry its call sites ("count at Dedup.scala:…")
    def sites(jobs: Seq[String]): String = jobs.flatMap(_.linesIterator
      .map(_.split(" @ ")(0))).distinct.mkString("; ")
    assert(unexpected.isEmpty, unexpected.map { case (name, jobs) =>
      s"$name: ${jobs.size} jobs at ${sites(jobs)}"
    }.mkString("declaring these queries submits jobs:\n", "\n", ""))
  }

  test("blocked matmul declares without jobs and plans one cuboid exchange") {
    import org.apache.spark.{Dependency, ShuffleDependency}
    import org.apache.spark.rdd.{CoGroupedRDD, RDD, UnionRDD}
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import graft.operators.MatrixOps
    // the dependencies between the product's rows and its inputs' plans
    // (PlannedRows); a UnionRDD's own dependencies would plan the inputs
    def between(r: RDD[_]): Seq[Dependency[_]] = r match {
      case _: MatrixOps.PlannedRows => Nil
      case u: UnionRDD[_] => u.rdds.flatMap(between)
      case other => other.dependencies.flatMap(d => d +: between(d.rdd))
    }
    for (q <- Seq("matmul_blocked", "matmul_large")) {
      var exec: SparkPlan = null
      val jobs = jobsDuring {
        exec = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      }
      assert(jobs.isEmpty,
        s"constructing $q must submit no jobs, got ${jobs.size}:\n" + jobs.mkString("\n---\n"))
      val p = exec.asInstanceOf[AdaptiveSparkPlanExec].initialPlan
      assert(p.collect { case j: BaseJoinExec => j }.isEmpty, s"$q must not join blocks, plan:\n$p")
      val scan = p.collectFirst { case s: RDDScanExec => s }
        .getOrElse(fail(s"$q does not scan the product's rows, plan:\n$p"))
      val deps = between(scan.rdd)
      val lineage = deps.map(d => s"${d.getClass.getSimpleName} on ${d.rdd}").mkString("\n")
      assert(deps.count(_.rdd.isInstanceOf[MatrixOps.PlannedRows]) == 2,
        s"$q must read both input plans, lineage:\n$lineage")
      // 4 cores and 4 (matmul_blocked) or 8 (matmul_large) blocks a side
      // choose a 2x2x1 grid, so no second shuffle sums partial blocks
      val shuffles = deps.collect { case s: ShuffleDependency[_, _, _] => s }
      assert(shuffles.size == 1 && shuffles.head.partitioner.numPartitions == 4,
        s"$q must route blocks through one shuffle of 4 cuboids, lineage:\n$lineage")
      assert(!deps.exists(_.rdd.isInstanceOf[CoGroupedRDD[_]]),
        s"$q must not join blocks, lineage:\n$lineage")
    }
  }

  test("token zipf ranks through partitioned windows with an in-plan total") {
    // the r8 verdict's one `weak`: the global rank must be the
    // two-level prefix sum (bucket offsets over the metadata-scale
    // (freq, prefix) relation + bucket-local row_number), never a
    // single-partition sort of the whole vocabulary, and the share
    // denominator must ride the plan as a broadcast 1-row aggregate —
    // a reintroduced driver .first() would inline the total as a
    // LITERAL and drop the __total attribute from the plan
    import org.apache.spark.sql.execution.window.WindowExec
    // sparkPlan, not executedPlan: the AQE wrapper is a leaf node, so
    // collect() would not traverse into the window operators
    val exec = SparkEntry.queries("token_zipf")(spark, dir)
      .queryExecution.sparkPlan
    assert(exec.toString.contains("__total"),
      s"share denominator must be an in-plan scalar agg, plan:\n$exec")
    val winds = exec.collect { case w: WindowExec => w }
    assert(winds.nonEmpty, s"expected window ranks, plan:\n$exec")
    // any unpartitioned window may only order the aggregated bucket
    // relation (freq/pfx columns) — never the vocabulary itself
    winds.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(!w.orderSpec.exists(_.child.references.exists(_.name == "gram")),
        s"vocabulary-scale rank must be partitioned, plan:\n$exec")
    }
  }

  test("token zipf hapax band spreads across 2-char-prefix cells") {
    // the r9 verdict's named skew cap: freq = 1 holds ~half a real
    // vocabulary, so the hapax band's bucket key must be wide enough
    // that no single (freq, pfx) sort cell holds a dominating share of
    // the hapax mass. Adversarial corpus: every hapax token leads with
    // 't' — the exact distribution where the old 1-char prefix put
    // 100% of the hapax mass in ONE sort cell; the 2-char prefix must
    // spread it ≥ 8-way (26 distinct second chars here). The driver
    // corpora cannot exercise this (their tiny synthetic vocabulary
    // carries no hapax at any test SF).
    import spark.implicits._
    val docs = (0L until 260L).map { i =>
      val uniq = s"t${('a' + (i % 26)).toChar}x$i" // hapax: all lead 't'
      (i, s"filler common words $uniq", "en", "s0")
    }.toDF("doc_id", "text", "lang", "source")
    // data-level: the widened bucket key (the tokenZipf expression)
    // must cap every hapax cell under 1/8 of the hapax mass
    val cells = docs
      .select(explode(split(col("text"), " ")).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("freq"))
      .filter(col("freq") === 1)
      .select(expr("substring(gram, 1, IF(freq = 1, 2, 1))").as("pfx"))
      .groupBy("pfx").count()
      .collect().map(_.getLong(1))
    assert(cells.nonEmpty, "adversarial corpus must carry hapax grams")
    assert(cells.max * 8 <= cells.sum,
      s"largest hapax cell holds ${cells.max} of ${cells.sum} — too narrow")
    // plan-level: the declared query's bucket must be the freq-
    // conditional prefix, not the old fixed 1-char substring (a
    // reversion renders `substring(gram#N, 1, 1)` in the plan)
    val exec = SparkEntry.queries("token_zipf")(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!raw"substring\(gram#\d+, 1, 1\)".r.findFirstIn(exec).isDefined,
      s"hapax bucket reverted to the fixed 1-char prefix, plan:\n$exec")
    assert(exec.contains("substring(gram"),
      s"rank must bucket on a gram prefix, plan:\n$exec")
  }

  test("heavy hitters derive every branch from the checkpointed counts") {
    val p = plan("heavy_hitters")
    // the corpus token explode lives behind the lazy checkpoint of the
    // (key, count) relation — the plan's only explodes are the tiny
    // depth-sequence fan-outs over that vocabulary-scale relation, and
    // the raw split-explode never replays per branch
    assert(!p.contains("explode(split("),
      s"corpus token explode must sit behind the counts checkpoint, plan:\n$p")
    assert(p.contains("Scan ExistingRDD"),
      s"branches must read the checkpointed counts relation, plan:\n$p")
  }

  test("bloom semi-join probes at the scan and joins without cartesians") {
    val p = plan("bloom_semijoin")
    assert(p.contains("might_contain"),
      s"fact scan must carry the codegen'd bloom probe, plan:\n$p")
    assert(p.contains("LeftSemi"),
      s"exactness comes from the LEFT SEMI against dim keys, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"bloom semi-join must stay an equi-join, plan:\n$p")
    // the probe must sit BELOW the join (scan-side prefilter), not above
    val probeAt = p.indexOf("might_contain")
    val joinAt = p.indexOf("LeftSemi")
    assert(joinAt < probeAt,
      s"might_contain must be under the join in the plan tree, plan:\n$p")
  }

  test("rollup merge re-aggregates without its own exchange") {
    // each half's rollup shuffles once on (user, type); the MERGE agg
    // sits directly on the union of two identically-hash-partitioned
    // children, so it must not add a third hash exchange — the whole
    // point of mergeable rollup state is that merging costs no
    // history-scale shuffle
    val p = plan("rollup_incremental")
    val hashExchanges = "Exchange hashpartitioning".r
      .findAllMatchIn(p).length
    assert(hashExchanges === 2,
      s"expected exactly the two per-state exchanges, got $hashExchanges, plan:\n$p")
  }

  test("canonical selection reuses the components relation, no cartesian") {
    val p = plan("dedup_components_best")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"quality argmax must stay equi-join shaped, plan:\n$p")
  }

  test("pii projections are shuffle-free row-local scans") {
    val d = Tables.documents(spark, dir)
    for ((name, df) <- Seq(
        "pii_stats" -> graft.operators.TextOps.piiStats(
          graft.operators.TextOps.withPiiFixture(d)),
        "pii_redact" -> graft.operators.TextOps.piiRedact(
          graft.operators.TextOps.withPiiFixture(d)))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"$name must not shuffle — row-local projection, plan:\n$p")
    }
  }

  test("phrase search broadcasts the phrase table onto the gram scan") {
    val p = plan("phrase_search")
    assert(p.contains("BroadcastHashJoin"),
      s"the phrase table must broadcast, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("snapshot diff full-outers on the key without nested loops") {
    val p = plan("lake_snapshot_diff")
    assert(p.contains("FullOuter"),
      s"diff must be one keyed full-outer join, plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("delta apply plans as anti-join + union, no content re-hash join") {
    val p = plan("lake_delta_apply")
    assert(p.contains("LeftAnti"),
      s"apply must drop delta keys via LEFT ANTI, plan:\n$p")
    assert(p.contains("Union"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact profile plans through Expand — the documented cost shape") {
    // the scaladoc's scale warning (one input replica per
    // COUNT(DISTINCT)) must stay true of the plan, or the approx twin's
    // reason to exist silently vanishes
    val p = plan("profile_documents")
    assert(p.contains("Expand"),
      s"exact COUNT(DISTINCT) profile must plan through Expand:\n$p")
    val pa = graft.operators.Profile.tableProfileApprox(
        Tables.documents(spark, dir), Seq("doc_id", "lang"))
      .queryExecution.executedPlan.toString
    assert(!pa.contains("Expand"),
      s"the HLL twin must NOT replicate through Expand:\n$pa")
  }

  test("hybrid rrf cuts both arms map-side and fuses rank-width rows") {
    val p = plan("hybrid_rrf")
    // each arm's kArm cut plus the final top-k must plan as
    // WindowGroupLimit (map-side k-row prune before the per-query
    // sort) — lose one and an arm sorts its whole scored relation
    assert("WindowGroupLimit".r.findAllIn(p).size >= 4,
      s"both arm cuts + the fusion top-k must WindowGroupLimit:\n$p")
    // the fusion joins two <= kArm-rows-per-query rank lists; the
    // corpus-side joins are all broadcast hash joins off one token
    // scan — no sort-merge below the fusion, no cartesian anywhere
    assert(p.contains("FullOuter"),
      s"fusion must be the single full-outer rank join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("indexed hybrid serves from index relations, never the documents table") {
    val p = plan("hybrid_rrf_indexed")
    // both arms cut map-side and the fusion is the rank-width
    // full-outer, exactly like the scan tier
    assert("WindowGroupLimit".r.findAllIn(p).size >= 3,
      s"arm cuts + fusion top-k must WindowGroupLimit:\n$p")
    assert(p.contains("FullOuter"),
      s"fusion must be the single full-outer rank join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the serving contract: raw corpus text and raw corpus vectors
    // appear nowhere — every scan is an index relation (postings /
    // doclen / stats / book / cells), plus the probe embeddings
    assert(!p.contains("documents.parquet"),
      s"indexed serve must not scan the documents table:\n$p")
    // the lexical arm's postings scan is PRUNED by the probe docs'
    // literal token set (r17 — a broadcast join alone would not prune;
    // OPS_PROBE_r17 measured the pushdown cutting the x10 serve ratio
    // 1.71 -> 1.27): the scan must carry a pushed In(token, ...) filter
    assert("PushedFilters: \\[[^\\]]*In\\(token".r.findFirstIn(p).nonEmpty,
      s"postings scan must push the literal token filter:\n$p")
    // and the token-BUCKETED layout (r18, the r17 verdict #2): the
    // probe vocabulary's md5 prefixes must reach the scan as literal
    // PARTITION filters, so the planner prunes token-bucket
    // directories deterministically — row-group pushdown alone still
    // opens every bucket's footers
    assert(
      "PartitionFilters: \\[[^\\]]*tok_pfx[^\\]]*(IN|INSET)".r
        .findFirstIn(p).nonEmpty,
      s"postings scan must prune token-bucket partitions:\n$p")
  }

  test("scaled z-order keys plan as one broadcast bounds row, no shuffle of data") {
    val p = plan("zorder_scaled_keys")
    // the min/max bounds broadcast onto the scan; the only exchanges
    // are the bounds aggregation's and the final presentation sort's
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"bounds must broadcast as the standard one-row cross join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"row-local bucketing must not hash-shuffle the data side:\n$p")
  }
}
