package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TokenSetKernel._

/** Deduplication family over the `documents` table (north-star
  * training-data-pipeline extension; the reference has no dedup —
  * SURVEY.md §2.5).
  *
  * Five tiers, cheap→thorough, all shuffle-frugal:
  *   1. exact        — one hash-groupBy on a content digest.
  *   2. bag-of-words — same groupBy on an order-insensitive digest.
  *   3. sorted-neighborhood — per-lang sort + window·N candidate pairs
  *                       (LINEAR by construction; the cascade's first
  *                       near-dup pass).
  *   4. n-gram Jaccard — token-postings self-join inside a blocking key
  *                       (never all-pairs across the corpus).
  *   5. MinHash+LSH / SimHash — signature sketches whose band/fingerprint
  *                       buckets bound candidate pairs at 100 TB scale.
  */
object Dedup {

  private def contentHash: Column = md5(col("text").cast("binary"))

  /** Exact-duplicate groups: digest → survivor (min doc_id) + group size.
    * A single hash aggregation; at scale the digest groupBy is the only
    * shuffle and partial aggregation collapses uniques map-side. */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(contentHash.as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_size"))

  /** Documents surviving exact dedup (first doc_id per content wins). */
  def exactKept(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(contentHash).orderBy(col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Components of the token-set Jaccard near-dup graph, computed on
    * the (lang, token-bag) QUOTIENT graph — the standard exact-before-
    * near dedup pipeline, as one composition:
    *
    *   1. Docs with an identical (lang, distinct-token-bag) are J = 1
    *      with each other and INDISTINGUISHABLE to token-set Jaccard
    *      (J depends only on the token set + lang blocking), so each
    *      bag class collapses to its min-doc_id representative before
    *      the expensive pair generation. Most corpus duplication is
    *      exact/near-exact, so this is where the 100 TB win lives:
    *      postings shrink by the dup mass and the dup CLIQUES (k² edges
    *      per k-doc class) vanish from the graph entirely (sf0.1:
    *      2359 → 850 pairs at sf0.01, 64% fewer).
    *   2. [[connectedComponents]] runs on the representative graph.
    *   3. Components expand back: a doc belongs to its class rep's
    *      component; a multi-doc class with no external pairs is its
    *      own component (the class is a clique); a singleton class with
    *      no pairs is not in the graph at all. Component ids are
    *      unchanged by the quotient: the id is the min reachable
    *      doc_id, every class rep IS its class's min doc_id, and
    *      quotienting preserves reachability between classes.
    *
    * Result: identical to `connectedComponents(jaccardPairs(docs, t))`
    * (spec-asserted; the DuckDB oracle computes the FULL graph's
    * transitive closure), for a fraction of the pair-generation work.
    *
    * MEASURED AND REJECTED — simhash-band candidate prefilter: routing
    * pair generation through [[simhashCandidates]] (bands bound the
    * candidates, the sorted-merge kernel verifies J) is unsound here
    * and loses anyway. Pigeonhole banding is exact for HAMMING distance
    * on the frequency-weighted fingerprint, not for token-SET Jaccard:
    * two docs with J = 0.9 but different term frequencies can sit far
    * apart in simhash space. On the sf0.1 rep graph (4266 reps, 26 885
    * true J ≥ 0.9 pairs): k = 4 misses 22 858 of
    * the true pairs (85%), k = 12 still misses 606, and the first
    * full-recall width is k = 20 — where the 3-bit bands emit 61.9 M
    * candidates, 2300× the true pair count, so the verify stage alone
    * dwarfs the 2.2 s exact path. No width is sound by construction,
    * and every sound-in-practice width is slower. The prefix filter
    * stays. */
  def jaccardComponents(docs: DataFrame, thresholdTenths: Int): DataFrame = {
    // SKINNY + pinned bag relation (r18 optimization round): the md5
    // over the sorted distinct token bag is the heaviest row-wise op
    // in the quotient and it was re-executed for every consumer (the
    // class agg, the members join); `lang`/`text` never leave this
    // subtree (lang is folded into the fp; repDocs re-joins `docs` for
    // text), so the pinned relation is (long, 32-char) rows. Lazy: the
    // declaration stays jobless.
    val bagged = docs.select(col("doc_id"), bagLangKey.as("bag_fp"))
      .localCheckpoint(eager = false)
    val (members, repDocs) = quotient(bagged, "bag_fp", docs,
      count(lit(1)).as("grp_size"))
    val repComp = connectedComponents(jaccardPairs(repDocs, thresholdTenths))
      .select(col("doc_id").as("rep"), col("component").as("rep_comp"))
    members.join(repComp, Seq("rep"), "left")
      .filter(col("rep_comp").isNotNull || col("grp_size") >= 2)
      .select(col("doc_id"),
        coalesce(col("rep_comp"), col("rep")).as("component"))
  }

  /** Exact token-Jaccard pairs BETWEEN a bounded batch and a corpus —
    * the cross-relation sibling of [[jaccardPairs]] (r16), built for
    * [[jaccardComponentsIncremental]]'s delta edges: the batch's
    * sorted-id arrays broadcast (bounded by `maxBroadcastRows`, the
    * [[ngramJaccardPairsBroadcast]] fail-fast contract), the corpus
    * side is ONE scan that never shuffles, pairs prune by the integer
    * length bound before the linear [[graft.functions
    * .SortedLongIntersectCount]] merge. Tokenization is
    * [[tokenPostings]]' exactly (distinct word tokens per (doc,
    * lang), xxhash64 ids), so J here is bit-identical to the batch
    * tier's. Unbounded arriving streams route through the banded
    * index ([[dedupAgainstCorpusLshIndexed]]) instead — this is the
    * EXACT tier, and exactness is what the incremental-components
    * law needs. */
  def jaccardPairsAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      thresholdTenths: Int,
      maxBroadcastRows: Long = 100000L): DataFrame = {
    requireBroadcastable(batch, maxBroadcastRows, "batch",
      "route unbounded streams through the banded index")
    val t = thresholdTenths
    def arrays(d: DataFrame) = idArrays(idPostings(d), "doc_id", "lang")
    val b = arrays(batch).select(col("lang"), col("doc_id").as("d1"),
      col("toks").as("toks1"), col("n").as("n1"))
    val c = arrays(corpus).select(col("lang"), col("doc_id").as("d2"),
      col("toks").as("toks2"), col("n").as("n2"))
    jaccardVerify(c.join(broadcast(b), "lang")
      .filter(lengthBound(col("n1"), col("n2"), t)), t)
  }

  /** [[jaccardPairsAgainstCorpus]] PAST the broadcast cap (r17, the
    * r16 verdict #4): candidates from the PERSISTED MinHash band index
    * ([[saveLshBandIndex]]), verification by the same exact
    * sorted-intersect kernel — the cross tier for UNBOUNDED arriving
    * batches, where holding every batch id array in one executor is
    * off the table. Plan shape: the batch's band rows are row-local,
    * the candidate join is a shuffled equi-join on (fp_pfx, band_fp)
    * (signature-width both sides — the natural bulk shape; the index
    * partitions prune for small batches via the same static-IN rule
    * [[dedupAgainstCorpusLshIndexed]] uses), and the corpus loads TEXT
    * only for candidate docs (one left-semi against the candidate ids)
    * — delta-scale, never a corpus text shuffle.
    *
    * Exactness caveat, stated not hidden: banding is a probabilistic
    * CANDIDATE generator, so this tier's recall is the band S-curve's,
    * not 1 — a true pair every band misses never reaches the exact
    * verify. At the default bands=8 (r=4 over 32 hashes)
    * the miss probability at J=0.9 is (1−0.9⁴)⁸ ≈ 2e-4 per pair,
    * exact duplicates are NEVER missed (identical token bags share
    * the whole signature), and the family is md5-SEEDED DETERMINISTIC
    * — for a fixed corpus, which pairs band together is a testable
    * fact, not a per-run roll: the declared query's oracle is the
    * full recompute, so the hash gate re-proves this configuration's
    * equality on the fixture every round. The dial: bands=16 (r=2)
    * walks the S-curve up to ~4e-12 miss but was MEASURED exploding
    * candidate mass ~4x the full recompute's cost on a self-similar
    * corpus (junk pairs at J≈0.3 collide a band at J²≈0.09 vs
    * J⁴≈0.008) — recall insurance priced in candidate verify work. The index at
    * `bandIndexPath` must have been saved with the SAME
    * (numHashes, bands), and must exist before the first serve: a
    * missing, empty or mixed-width index fails loudly
    * ([[bandPfxWidthOf]]) — a first-ever batch bootstraps the index
    * with [[saveLshBandIndex]] rather than serving against nothing.
    *
    * HOT-BAND BOUND (r18, the r17 verdict #1 — the classic LSH
    * hot-key blowup): without a cap, one degenerate band fingerprint
    * shared by 10⁶ corpus docs emits 10⁶ candidates PER PROBING BATCH
    * BAND — at lake scale ~10¹² junk pairs from a single hot key, and
    * BANDED_COST_PROBE_r17 already showed the mechanism at 145:1 junk
    * candidate mass on a self-similar corpus. `maxBandPostings` caps
    * the index-side posting-list length a band may contribute: bands
    * past the cap are SKIPPED from candidate generation (the
    * `source_cap` accounting pattern — [[bandedHotBands]] reports
    * exactly which bands were dropped and how many postings each
    * held, so skipped recall is an audited number, not a silent
    * hole). Skip beats spill-to-exact here because a band fp shared
    * by >cap docs is by construction low-information — its collision
    * mass is dominated by sub-threshold junk the verify would reject
    * pair by pair at full cost — while a TRUE pair at J≥0.9 agrees
    * on ~6 of 8 bands in expectation, so losing its hottest band
    * leaves ~5 cold ones to surface it. Candidate mass is then
    * bounded by |batch band rows| × cap regardless of corpus skew.
    * Posting counts come from the index's `band_stats` relation
    * (metadata-scale, written at save/append time — [[probedBandCounts]]),
    * semi-restricted to the bands the batch actually probes; the
    * serve never re-aggregates the postings to learn their lengths. */
  def jaccardPairsAgainstCorpusBanded(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, corpus: DataFrame, bandIndexPath: String,
      thresholdTenths: Int, maxBandPostings: Long = 100000L): DataFrame = {
    val t = thresholdTenths
    val width = bandPfxWidthOf(spark, bandIndexPath)
    val qb = lshBandFpRows(minhashSignatures(batch, NumHashes),
        NumHashes, 8)
      .withColumn("fp_pfx", substring(col("band_fp"), 1, width))
      .select(col("fp_pfx"), col("band_fp"), col("doc_id").as("d1"))
    val idx = LakeMaintenance.readPartitionedString(
        spark, s"$bandIndexPath/bands", "fp_pfx")
      .select(col("fp_pfx"), col("band_fp"), col("doc_id").as("d2"))
    // hot-band prune: posting counts over ONLY the probed bands (from
    // the index's metadata-scale band_stats relation — r18; an
    // on-the-fly count here was a second full postings pass), then an
    // anti-join drops bands past the cap before any pair forms
    val hot = probedBandCounts(spark, bandIndexPath,
        qb.select("fp_pfx", "band_fp").distinct())
      .filter(col("plen") > maxBandPostings)
      .select("fp_pfx", "band_fp")
    // the anti-join prunes the INDEX side BEFORE the pair-forming
    // join — filtering pairs after the equi-join would materialize
    // the very blowup the cap exists to prevent
    val cold = idx.join(hot, Seq("fp_pfx", "band_fp"), "left_anti")
    // materialized ONCE (eager local checkpoint): two consumers — the
    // corpus-text semi-join and the verify join — would otherwise run
    // the banded equi-join twice; the pair-id relation is delta-scale
    val cand = qb.join(cold, Seq("fp_pfx", "band_fp"))
      .select("d1", "d2").distinct().localCheckpoint(eager = true)
    def arrays(d: DataFrame) = idArrays(idPostings(d), "doc_id", "lang")
    val b0 = arrays(batch).select(col("lang"), col("doc_id").as("d1"),
      col("toks").as("toks1"), col("n").as("n1"))
    // candidate corpus docs only: text loads for the delta, not the lake
    val c0 = arrays(corpus.join(cand.select(col("d2").as("doc_id")),
        Seq("doc_id"), "left_semi"))
      .select(col("lang").as("lang2"), col("doc_id").as("d2"),
        col("toks").as("toks2"), col("n").as("n2"))
    // single-pass verify: arrays attach once, lang/length filters
    // evaluate before the intersect kernel (Catalyst keeps the
    // predicate order), each relation consumed exactly once. A
    // skinny-first shape (lang/length prune on small rows, arrays
    // attached to survivors only) measured a tie on the self-similar
    // fixture — most candidates pass the prune, so the second pair
    // join re-pays itself (2.84 s single-pass vs 2.65 s skinny,
    // OPTIMIZATION_r19.md §5b); it only pays on length-heterogeneous
    // corpora where the prune is selective.
    jaccardVerify(cand.join(b0, "d1").join(c0, "d2")
      // lang blocking, as the exact tier's join-on-lang enforces
      .filter(col("lang") === col("lang2"))
      .filter(lengthBound(col("n1"), col("n2"), t)), t)
  }

  /** The skip ACCOUNTING for [[jaccardPairsAgainstCorpusBanded]]'s
    * hot-band cap (r18): every band the batch probes whose index
    * posting list exceeds `maxBandPostings`, with its length and the
    * number of batch docs that probed it — the relation an operator
    * reads to know exactly what candidate mass was declined and
    * whether the cap is sized right for the corpus (all-zero rows =
    * the cap never fired; a band at 100× the cap = raise nothing,
    * that band is pure junk mass). Same plan legs as the serve path's
    * prune: batch band rows are row-local, the count aggregation is
    * semi-restricted to probed bands. */
  def bandedHotBands(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, bandIndexPath: String, maxBandPostings: Long): DataFrame = {
    val qb = lshBandFpRows(minhashSignatures(batch, NumHashes),
        NumHashes, 8)
      .withColumn("fp_pfx", substring(col("band_fp"), 1,
        bandPfxWidthOf(spark, bandIndexPath)))
      .select(col("fp_pfx"), col("band_fp"), col("doc_id"))
    probedBandCounts(spark, bandIndexPath,
        qb.select("fp_pfx", "band_fp").distinct())
      .filter(col("plen") > maxBandPostings)
      .join(qb.groupBy("fp_pfx", "band_fp")
          .agg(countDistinct(col("doc_id")).as("probing_docs")),
        Seq("fp_pfx", "band_fp"))
      .select(col("fp_pfx"), col("band_fp"), col("plen"),
        col("probing_docs"),
        (col("plen") * col("probing_docs")).as("skipped_candidates"))
  }

  /** INCREMENTAL near-dup clustering (r16) — fold an arriving batch
    * into an existing [[jaccardComponents]] assignment WITHOUT
    * re-running the corpus-wide pair generation or fixpoint, closing
    * the one dedup family whose incremental story was still "recompute
    * nightly": every verdict tier has an against-corpus twin; now the
    * clustering does too.
    *
    * Correctness law (the applyDelta class — proven BY the declared
    * query's oracle, which is the FULL-recompute SQL):
    * `incremental(assign(C), C, B) ≡ jaccardComponents(C ∪ B)`.
    * Why it holds: connected components only need CONNECTIVITY, and
    * `assign` already encodes all of C's — so C contracts to its
    * component labels, and the only NEW edges a batch can add touch a
    * batch doc (batch-batch pairs + batch-corpus pairs; C-C pairs
    * cannot change). Labels survive contraction because a component's
    * label IS its min member id: the contracted fixpoint minimizes
    * over {old labels, batch ids, unassigned corpus ids} = the true
    * member minimum. A batch doc bridging two old components merges
    * them (both labels join one part); untouched old components keep
    * their label through the left-join fallback.
    *
    * Scale shape: everything is DELTA-sized except one corpus scan —
    * batch-batch pairs via the prefix-filtered tier, batch-corpus
    * pairs via the broadcast-verify cross tier (corpus never
    * shuffles), and the fixpoint runs on the contracted graph (batch
    * docs + touched component labels), not the corpus. */
  def jaccardComponentsIncremental(assign: DataFrame, corpus: DataFrame,
      batch: DataFrame, thresholdTenths: Int,
      maxBroadcastRows: Long = 100000L): DataFrame = {
    // materialize the batch ONCE (r17, the r16 ADVICE item): three
    // consumers traverse it (batch-batch pairs, batch-corpus pairs,
    // the cross tier's guard count), so an expensive upstream batch
    // lineage would otherwise recompute three times. The batch is
    // bounded by the broadcast-tier contract, so the eager local
    // checkpoint is one delta-scale materialization; the guard count
    // inside jaccardPairsAgainstCorpus then reads checkpoint blocks.
    val b = batch.localCheckpoint(eager = true)
    val bb = jaccardPairs(b, thresholdTenths).select("d1", "d2")
    val bc = jaccardPairsAgainstCorpus(b, corpus, thresholdTenths,
      maxBroadcastRows).select("d1", "d2")
    foldComponents(assign, bb, bc)
  }

  /** The contracted-fixpoint FOLD shared by every incremental-
    * components tier: batch-batch edges + batch-corpus edges (corpus
    * endpoints contracted to their standing component label) run one
    * delta-sized connected-components pass, old members ride their
    * label through any merges, new nodes enter directly. Correctness
    * argument in [[jaccardComponentsIncremental]]'s scaladoc. */
  private def foldComponents(assign: DataFrame, bb: DataFrame,
                             bc: DataFrame): DataFrame = {
    val a = assign.select(col("doc_id").as("cid"),
      col("component").as("ccomp"))
    // contract corpus endpoints to their existing component label;
    // unassigned corpus docs (C singletons) stay themselves
    val edges = bb.unionByName(
      bc.join(a, bc("d2") === a("cid"), "left")
        .select(col("d1"), coalesce(col("ccomp"), col("d2")).as("d2")))
    val comp0 = connectedComponents(edges)
      .select(col("doc_id").as("node"), col("component").as("newcomp"))
    // ONE full-outer join replaces the r16 left-join + distinct +
    // anti-join + union (r18 optimization round — the remap was ~1.8 s
    // of the fold, three shuffled legs over the same two relations):
    //   - assign row with a matching contracted node → (doc_id, newcomp)
    //     (old members ride their label through any merges);
    //   - assign row with no match → (doc_id, component)
    //     (untouched components keep their label);
    //   - comp0 node matching no assign label → (node, newcomp)
    //     (batch docs + newly-connected C singletons enter directly).
    // Row-for-row the same output: assign doc_ids are unique, comp0
    // nodes are unique (CC labels are keyed by node), and a comp0 node
    // that IS an old component label only ever joins — never lands in
    // the null-assign arm — exactly as the anti-join excluded it.
    assign.join(comp0, assign("component") === comp0("node"), "full")
      .select(
        coalesce(assign("doc_id"), col("node")).as("doc_id"),
        coalesce(col("newcomp"), assign("component")).as("component"))
  }

  /** [[jaccardComponentsIncremental]] PAST the broadcast cap (r17, the
    * r16 verdict #4): the batch-corpus tier routes through the
    * persisted band index ([[jaccardPairsAgainstCorpusBanded]]) instead
    * of broadcasting batch id arrays, so UNBOUNDED arriving batches
    * get the clustering fold, not just banded verdicts. The fold
    * itself is the shared contracted fixpoint — pair tiers are the
    * only thing that changes, so at a batch size both tiers accept the
    * two folds are spec-pinned equal. Recall caveat is the banded
    * tier's (see its scaladoc): the declared query's full-recompute
    * oracle measures it on real data. */
  def jaccardComponentsIncrementalBanded(
      spark: org.apache.spark.sql.SparkSession,
      assign: DataFrame, corpus: DataFrame, batch: DataFrame,
      bandIndexPath: String, thresholdTenths: Int,
      maxBandPostings: Long = 100000L): DataFrame = {
    val b = batch.localCheckpoint(eager = true)
    val bb = jaccardPairs(b, thresholdTenths).select("d1", "d2")
    val bc = jaccardPairsAgainstCorpusBanded(spark, b, corpus,
      bandIndexPath, thresholdTenths, maxBandPostings).select("d1", "d2")
    foldComponents(assign, bb, bc)
  }

  /** One representative doc per (lang, distinct-token-bag) class —
    * the [[jaccardComponents]] quotient exposed as a relation (r17,
    * the measured next lever for the banded fold): token-set Jaccard
    * cannot distinguish bag-equal docs, so for CANDIDATE GENERATION
    * one member stands for the class exactly. A band index built over
    * reps shrinks by the corpus's dup mass — and on LLM crawl corpora
    * dup mass IS most of the mass — cutting banded candidate pairs
    * and verify work by the same factor. Sound for the CLUSTERING
    * fold because the fold contracts corpus endpoints to component
    * labels and bag-equal members already share their rep's component
    * (J=1 ≥ any threshold): edge (batch, member) exists iff
    * (batch, rep) exists, and both contract to the same label —
    * rep-index fold ≡ member-index fold EXACTLY. NOT for
    * [[dedupAgainstCorpusLshIndexed]]-style per-doc verdict serving,
    * whose candidate/twin COUNTS are per corpus doc. */
  def bagClassReps(docs: DataFrame): DataFrame = {
    val reps = docs.select(col("doc_id"), bagLangKey.as("bag_fp"))
      .groupBy("bag_fp").agg(min("doc_id").as("doc_id"))
    docs.join(reps.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Persist a components ASSIGNMENT `(doc_id, component)` as a lake
    * artifact (r17, the r16 verdict #1): the standing assignment an
    * incremental fold serves against must live ON DISK with the band
    * and PQ indexes ([[saveLshBandIndex]], [[Similarity.savePqIndex]])
    * — a session-memoized assignment silently re-pays the full
    * clustering on every JVM restart, which is exactly the cost
    * [[jaccardComponentsIncremental]] exists to avoid. Written
    * range-partitioned + sorted on doc_id so parquet min/max stats
    * prune point/range probes; at 100 TB the same relation bucket-sorts
    * by doc_id so the fold's contraction join co-locates. The nightly
    * cycle is load → fold the day's batch → save back. This flat form
    * OVERWRITES in place — a fold that fails after overwriting has
    * lost the prior assignment; production nightly cycles go through
    * [[saveComponentsAssignVersioned]] (promote-by-rename, keep-N,
    * crash-safe — r18). */
  def saveComponentsAssign(assign: DataFrame, path: String,
                           numFiles: Int = 0): Unit = {
    // numFiles = 0 (the default since the r18 optimization round):
    // AQE sizes the range partitions from measured bytes — one file at
    // fixture scale instead of 16 footer-only fragments per load,
    // advisory-sized files at lake scale. An explicit count keeps the
    // old pinned layout for callers that need it.
    val ranged = assign.select(col("doc_id").cast("long").as("doc_id"),
      col("component").cast("long").as("component"))
    (if (numFiles >= 1) ranged.repartitionByRange(numFiles, col("doc_id"))
     else ranged.repartitionByRange(col("doc_id")))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(path)
  }

  /** Read back a [[saveComponentsAssign]] artifact. */
  def loadComponentsAssign(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame =
    spark.read.parquet(path).select("doc_id", "component")

  /** VERSIONED assignment save (r18, the r17 verdict #6 — the flat
    * [[saveComponentsAssign]] overwrites in place, so a nightly fold
    * that fails AFTER overwriting has destroyed the prior assignment
    * it would need to retry from): write the new assignment to a
    * hidden stage, PROMOTE BY RENAME to `assign_v<N+1>` (the
    * [[LakeMaintenance.compactPartitioned]] swap discipline — the
    * rename is the commit point; a crash anywhere before it leaves
    * only a `.stage_*` directory no reader matches, and the prior
    * version stays servable), then prune to the newest `keep`
    * versions. Returns the promoted version number. Rollback after a
    * bad fold = delete the bad version; the loader serves the highest
    * remaining. */
  def saveComponentsAssignVersioned(assign: DataFrame, root: String,
                                    numFiles: Int = 0,
                                    keep: Int = 3): Long = {
    import org.apache.hadoop.fs.Path
    require(keep >= 1, s"keep must be >= 1: $keep")
    val spark = assign.sparkSession
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val next = assignVersions(fs, dir).lastOption.getOrElse(0L) + 1L
    val stage = new Path(dir, s".stage_v$next")
    fs.delete(stage, true)
    saveComponentsAssign(assign, stage.toString, numFiles)
    val live = new Path(dir, s"assign_v$next")
    if (!fs.rename(stage, live))
      sys.error(s"saveComponentsAssignVersioned: could not promote $stage")
    assignVersions(fs, dir).dropRight(keep).foreach(v =>
      fs.delete(new Path(dir, s"assign_v$v"), true))
    next
  }

  /** Serve the HIGHEST promoted version under a
    * [[saveComponentsAssignVersioned]] root — stage directories and
    * partially-deleted older versions are invisible by construction
    * (only fully-promoted `assign_v<N>` names match). */
  def loadComponentsAssignVersioned(
      spark: org.apache.spark.sql.SparkSession, root: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = assignVersions(fs, dir)
    require(vs.nonEmpty,
      s"no promoted assignment version under $root — run the initial " +
        "clustering save first")
    loadComponentsAssign(spark, s"$root/assign_v${vs.last}")
  }

  private def assignVersions(fs: org.apache.hadoop.fs.FileSystem,
                             dir: org.apache.hadoop.fs.Path): Seq[Long] = {
    val V = "^assign_v(\\d+)$".r
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case V(n) => n.toLong }.toSeq.sorted
  }

  /** Quality-aware CANONICAL SELECTION per near-dup component — the
    * "keep the best, not the first" policy (RefinedWeb-style): min-id
    * canonicalization silently prefers whichever duplicate crawled
    * first; a curation pipeline keeps the highest-QUALITY member and
    * drops the rest. Components come from [[jaccardComponents]] (the
    * declared `dedup_components` relation), quality from
    * [[TextOps.qualityScored]] (the declared `doc_quality` signal —
    * reproducible doubles, so the per-component argmax is
    * engine-deterministic); ties break on lowest doc_id. One
    * component-keyed shuffle serves both window functions (rank +
    * size); everything upstream is the two already-green relations.
    */
  def componentsBestQuality(docs: DataFrame,
                            thresholdTenths: Int): DataFrame =
    componentsBestQualityFrom(
      jaccardComponents(docs, thresholdTenths), docs)

  /** [[componentsBestQuality]] over a PRE-COMPUTED components relation
    * `(doc_id, component)` — the canonical-selection increment alone.
    * A pipeline that has already clustered (or memoized the clustering
    * the way the bench harness memoizes the PQ index) prices only the
    * one component-keyed shuffle here, not a re-clustering. */
  def componentsBestQualityFrom(comp: DataFrame,
                                docs: DataFrame): DataFrame = {
    val q = TextOps.qualityScored(docs).select("doc_id", "quality_score")
    val byQuality = Window.partitionBy("component")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val bySize = Window.partitionBy("component")
    comp.join(q, "doc_id")
      .withColumn("rn", row_number().over(byQuality))
      .withColumn("csize", count(lit(1)).over(bySize))
      .filter(col("rn") === 1)
      .select(col("component"), col("doc_id").as("keep_id"),
        col("quality_score").as("keep_quality"),
        col("csize").as("size"))
  }

  /** Connected components over a near-dup PAIR graph `(d1, d2)` — the
    * step every dedup pipeline runs after pair generation: pairs are
    * only evidence; the unit of removal is the transitive CLUSTER
    * (A≈B, B≈C ⇒ keep one of {A,B,C} even if A,C never paired).
    * Returns `(doc_id, component)` for every doc appearing in a pair
    * (self-loops included), where `component` is the minimum doc_id
    * reachable — a canonical, deterministic cluster id — in the input
    * id type. Duplicate edges are harmless.
    *
    * Union-find-seeded: the pairs hash-partition by `d1` into as many
    * partitions as AQE sizes from their BYTES (no count), and each
    * partition runs a local union-find ([[unionFind]]) that labels every
    * node it saw with its local component's minimum. Grouping by node
    * gives the seed label `min(root)` and, on the SAME job as the seed's
    * checkpoint (an `observe` side-metric), the number of nodes that saw
    * two different roots. When that count is 0 the seed is EXACT: every
    * edge sits in one partition, where its endpoints share a root, so
    * labels are constant on each component — and the component minimum
    * labels itself, so every label is that minimum. That is the common
    * case (a near-dup graph of a few thousand edges is one partition)
    * and it costs one checkpoint job instead of a job loop.
    *
    * Otherwise min-label propagation runs FROM the seed; it converges
    * from any labelling whose labels lie in the node's component and
    * are ≤ the node (the seed's are). Each round takes the min of a
    * node's own and its neighbors' labels, hooks each label's own node
    * to the least of those minima over the nodes it labels (Liu–Tarjan
    * parent-connect), then pointer jumping follows each label to its
    * own label, so label depth halves. Without the hook a long path
    * with shuffled ids walks its minimum a few hops per round (a
    * 300-node path did not converge in 20 rounds); with it, 8. Per
    * round: one shuffle join (labels to edge endpoints), two
    * min-aggregations and two label self-joins, all on skinny
    * (long, long) rows. Convergence is detected by the sum of labels
    * (strictly decreasing until fixpoint — one scalar per round,
    * observed on the round's checkpoint job). `localCheckpoint`
    * truncates the growing lineage each round so round N's plan doesn't
    * replay rounds 1..N-1 (on a cluster: `checkpoint` to reliable
    * storage).
    *
    * Scale: AQE only coalesces, so the seed has at most
    * `spark.sql.shuffle.partitions` partitions however large the graph
    * is. The partition count therefore bounds nothing; a fixed node
    * budget does ([[SeedNodes]]). A union-find task that has seen that
    * many nodes stops growing its map and labels each further edge's
    * endpoints with the edge's smaller end. Those labels are valid seeds
    * too, and the exactness check still holds (when no node saw two
    * labels, every edge's endpoints share one), so an oversized
    * partition's inexact seed falls through to the rounds, whose joins
    * and aggregations spill. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    seededComponents(pairs, 20, seedParts = 0)._1

  /** Nodes one seed task holds in its union-find map: at most about
    * 16 MB of heap (up to four 12-byte `LongMap` slots per node plus a
    * 16-byte boxed value), so a full set of concurrent tasks stays
    * small. */
  private[graft] val SeedNodes = 1 << 18

  /** [[connectedComponents]] plus the number of propagation rounds it
    * ran (0 when the seed was exact). `seedParts > 0` forces the seed's
    * partition count and `seedNodes` the per-task node budget, so specs
    * can start the rounds from an inexact seed; `seedParts = 0` lets AQE
    * size it. */
  private[graft] def seededComponents(pairs: DataFrame, maxIter: Int,
                                      seedParts: Int,
                                      seedNodes: Int = SeedNodes): (DataFrame, Int) = {
    import org.apache.spark.sql.Observation
    import pairs.sparkSession.implicits._
    val idType = pairs.schema("d1").dataType
    def result(labels: DataFrame) =
      labels.select(col("id").cast(idType).as("doc_id"),
        col("comp").cast(idType).as("component"))
    // decimal(38,0) sum: billions of 64-bit ids would overflow a long.
    // coalesce: a sum over ZERO rows is null (an empty pair relation —
    // a clean corpus — must converge instantly, not NPE).
    def sumMetric = coalesce(
      org.apache.spark.sql.functions.sum(col("comp").cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("lsum")
    // lazy: the seed's job materializes the pairs, so an inexact seed's
    // edge list reads them back instead of generating them again
    val e = pairs.select(col("d1").cast("long").as("d1"),
      col("d2").cast("long").as("d2"))
      .localCheckpoint(eager = false)
    val keyed =
      if (seedParts > 0) e.repartition(seedParts, col("d1"))
      else e.repartition(col("d1"))
    // a node has more than one root iff min(root) ≠ max(root): one
    // aggregation, where counting distinct roots would plan two
    val obs0 = new Observation()
    val seed = keyed.as[(Long, Long)].mapPartitions(unionFind(seedNodes))
      .toDF("id", "root")
      .groupBy("id").agg(min("root").as("comp"), max("root").as("max_root"))
      .observe(obs0, sumMetric,
        count(when(col("comp") =!= col("max_root"), 1)).as("split"))
      .select("id", "comp")
      .localCheckpoint()
    if (obs0.get("split") == 0L) return (result(seed), 0)
    // undirected: propagate along both directions of every edge. A bare
    // repartition(dst) under AQE coalescing sizes the relation from its
    // measured BYTES, so the distinct's exchange and the dst keying land
    // in one plan and one checkpoint. Keyed by dst once: each round's
    // join then shuffles only the label relation, never the edges.
    val edges = e.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(e.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct()
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = seed
    var sum = obs0.get("lsum").asInstanceOf[java.math.BigDecimal]
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // neighbor-min INCLUDING self, as one union + aggregation (every
      // node is its own src in the bidirectional edge list, so key
      // coverage is identical to a join back onto the labels); `old`
      // carries the node's label from the round before
      val stepped = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("comp"),
          lit(null).cast("long").as("old"))
        .unionByName(labels.select(col("id"), col("comp"),
          col("comp").as("old")))
        .groupBy("id").agg(min("comp").as("comp"), max("old").as("old"))
      // hooking: a label's own node takes the least new label of the
      // nodes it labelled, so a whole labelled tree moves in one round
      // rather than only the nodes next to a smaller label
      val hooks = stepped.groupBy(col("old").as("hid"))
        .agg(min("comp").as("hcomp"))
      val hooked = stepped.join(hooks, col("id") === col("hid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("hcomp"), col("comp"))).as("comp"))
      // pointer jumping: follow one's label to ITS label (every comp is
      // a node id, so the lookup is a self-join), so label depth halves
      val jump = hooked.select(col("id").as("jid"), col("comp").as("jcomp"))
      val obsR = new Observation()
      labels = hooked.join(jump, col("comp") === col("jid"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
        .observe(obsR, sumMetric)
        .localCheckpoint()
      val next = obsR.get("lsum").asInstanceOf[java.math.BigDecimal]
      converged = next.compareTo(sum) == 0
      sum = next
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter " +
      "rounds — raise maxIter (cluster diameter exceeds the bound)")
    (result(labels), i)
  }

  /** One partition's union-find over its edges: every node it saw, with
    * the minimum node of its local component (the larger root always
    * links under the smaller, so each root is its component's minimum).
    * Once the map holds `budget` nodes the remaining edges are streamed
    * instead: each labels both its endpoints with its smaller end. Kept
    * a small method of its own so the JIT compiles it apart from the
    * partition loop. */
  private def unionFind(budget: Int)(
      edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent(x)
      while (p != x) {
        val gp = parent(p)
        parent(x) = gp // path halving
        x = gp
        p = parent(x)
      }
      x
    }
    while (parent.size < budget && edges.hasNext) {
      val (a, b) = edges.next()
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(k => (k, find(k))) ++
      edges.flatMap { case (a, b) =>
        val m = math.min(a, b)
        Iterator((a, m), (b, m))
      }
  }

  /** Incremental dedup: drop new documents whose content already exists
    * in a reference corpus (anti-join on the content digest) — the shape
    * every ingestion pipeline runs per batch against the accumulated
    * lake. One hash shuffle on the digest; the corpus side would be a
    * bucketed/Bloom-backed digest table at 100 TB. */
  def dedupAgainstCorpus(newDocs: DataFrame, corpus: DataFrame): DataFrame =
    newDocs.withColumn("content_hash", contentHash)
      .join(corpus.select(contentHash.as("content_hash")).distinct(),
        Seq("content_hash"), "left_anti")
      .drop("content_hash")

  /** Persist a corpus's content digests bucketed by digest — the
    * accumulated-lake side of incremental dedup at scale: each
    * ingestion batch then anti-joins against co-located buckets, so the
    * billion-row digest table never re-shuffles per batch (only the
    * small incoming batch hashes into the bucket layout). */
  def saveCorpusDigests(corpus: DataFrame, table: String,
                        buckets: Int): Unit =
    corpus.select(contentHash.as("content_hash")).distinct()
      .write.mode("overwrite")
      .bucketBy(buckets, "content_hash").sortBy("content_hash")
      .saveAsTable(table)

  /** Incremental dedup against a [[saveCorpusDigests]] table: the
    * anti-join consumes the corpus's buckets in place (no Exchange on
    * the corpus side — asserted in BucketingSpec), and a Bloom filter
    * built from the BATCH side's digests prunes the corpus scan before
    * the join. Pruning the right side of a LEFT ANTI join is safe:
    * corpus rows matching no batch digest can't change any batch row's
    * match status, and a Bloom filter has no false negatives, so every
    * genuine duplicate still meets its corpus digest. At 100 TB this is
    * the difference between sort-merging a billion corpus digests per
    * batch and streaming only the ~|batch| plausible ones into the
    * join; the batch (small side) is scanned twice — once into the
    * Bloom subquery, once into the join — which is the standard
    * runtime-filter trade. Built from the same Catalyst primitives
    * Spark's own InjectRuntimeFilter uses (BloomFilterAggregate in a
    * scalar subquery + BloomFilterMightContain), constructed explicitly
    * because the optimizer rule only fires on shuffle joins and the
    * whole point of the bucketed corpus is that it never shuffles. */
  def dedupAgainstCorpusBucketed(spark: org.apache.spark.sql.SparkSession,
                                 newDocs: DataFrame,
                                 corpusTable: String,
                                 bloomExpectedItems: Long = 1L << 20): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{
      BloomFilterMightContain, Literal, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val batch = newDocs.withColumn("content_hash", contentHash)
    val bloomDf = batch.select(Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("content_hash"))),
        Literal(bloomExpectedItems), Literal(bloomExpectedItems * 8L))
        .toAggregateExpression()).as("bloom"))
    val corpusPruned = spark.table(corpusTable)
      .where(Bridge.column(BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        Bridge.expression(xxhash64(col("content_hash"))))))
    batch.join(corpusPruned, Seq("content_hash"), "left_anti")
      .drop("content_hash")
  }

  /** Distinct tokens per document — the postings list every near-dup
    * tier builds on. */
  def tokenPostings(docs: DataFrame): DataFrame =
    // NO pre-explode repartition here (unlike the sketch paths): the
    // postings subtree is consumed by several aggregations that shuffle
    // immediately anyway, and it executes once per consumer — an extra
    // exchange per execution measured ~1.5× SLOWER on the ngram twin,
    // while the explode+partial-agg it would parallelize isn't the
    // bottleneck.
    docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("token"))

  /** Prefix-filtered all-pairs (Bayardo et al., WWW'07 "Scaling Up All
    * Pairs Similarity Search") — the 100 TB-shaped plan:
    *
    *   1. Only each doc's PREFIX — its `n − ⌈t·n⌉ + 1` globally-rarest
    *      tokens — generates candidates: any pair with J ≥ t must share a
    *      prefix token under a common token order, so recall is exact.
    *   2. The candidate join also prunes by the length bound
    *      (t·|b| ≤ |a| ≤ |b|/t).
    *   3. Survivors are verified with one `array_intersect` against the
    *      per-doc sorted token arrays — no quadratic postings shuffle.
    *
    * Rare-first ordering makes prefix buckets the smallest buckets, so
    * the candidate join stays near-linear even on a corpus where every
    * pair shares common tokens. Results are identical to the naive
    * all-pairs join (the DuckDB oracle runs the naive form).
    */
  def jaccardPairs(docs: DataFrame, thresholdTenths: Int): DataFrame =
    // Postings on 64-bit hashed token ids: every downstream shuffle,
    // sort, and comparison runs on primitive longs instead of strings.
    // Set cardinalities are preserved (xxhash64 collisions across a
    // corpus vocabulary are ~2^-40-improbable; a collision would only
    // nudge one pair's intersection count).
    jaccardPairsOf(idPostings(docs), thresholdTenths)

  /** Distinct character n-gram ids per document — the sub-token
    * postings tier: catches near-dups that word tokenization misses
    * (joined or split words, punctuation edits). Ids come from the
    * native [[graft.functions.NgramFnv]] window hasher: one byte-array
    * pass per row instead of L substring allocations. */
  def ngramIdPostings(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val ids = Bridge.column(graft.functions.NgramFnv(
      Bridge.expression(col("text")), n))
    // no pre-explode repartition — same measured reasoning as
    // tokenPostings
    docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(ids)).as("tid"))
  }

  /** Character n-gram Jaccard pairs — the declared, corpus-scale plan:
    * the same Bayardo prefix-filtered routing as [[jaccardPairs]], over
    * [[ngramIdPostings]]. Nothing broadcasts, so no side ever has to
    * fit an executor; with t = 0.9 only each doc's ~10% rarest grams
    * generate candidates, and near-unique 12-grams (tf ≈ 1) make those
    * prefix buckets tiny. For a bounded batch (e.g. a daily ingest
    * verified against itself) the broadcast-verify variant
    * [[ngramJaccardPairsBroadcast]] trades a guard for zero shuffles. */
  def ngramJaccardPairs(docs: DataFrame, n: Int,
                        thresholdTenths: Int): DataFrame =
    jaccardPairsOf(ngramIdPostings(docs, n), thresholdTenths)

  /** Broadcast-verify n-gram Jaccard for BOUNDED batches: verifies all
    * intra-lang pairs directly against a broadcast corpus of sorted id
    * arrays (one linear merge per pair, no shuffle at all) — the right
    * strategy only while one side's arrays fit an executor. The
    * `maxBroadcastRows` guard fails fast (instead of a late broadcast
    * OOM) and points callers at the unbounded-corpus plan. */
  def ngramJaccardPairsBroadcast(docs: DataFrame, n: Int,
                                 thresholdTenths: Int,
                                 maxBroadcastRows: Long = 100000L): DataFrame = {
    requireBroadcastable(docs, maxBroadcastRows, "corpus",
      "use ngramJaccardPairs (prefix-filtered postings) for an unbounded corpus")
    import org.apache.spark.sql.graftbridge.Bridge
    val t = thresholdTenths
    // the id array is row-local — sort/distinct it in place rather than
    // exploding to postings and aggregating them straight back (which
    // would buy each join input a pointless Exchange+HashAggregate)
    val ids = Bridge.column(graft.functions.NgramFnv(
      Bridge.expression(col("text")), n))
    val docTokens = docs
      .select(col("doc_id"), col("lang"),
        sort_array(array_distinct(ids)).as("toks"))
      .select(col("doc_id"), col("lang"), col("toks"),
        size(col("toks")).cast("long").as("n"))
    val a = docTokens.select(col("lang"), col("doc_id").as("d1"),
      col("toks").as("toks1"), col("n").as("n1"))
      // the docs table is one input split, so without this the whole
      // O(pairs) probe runs on ONE core; spreading the tiny probe side
      // (one light shuffle of |docs| rows) parallelizes the join.
      // Explicit count (REPARTITION_BY_NUM): AQE would coalesce a bare
      // repartition(col) back to ~one partition on input BYTES, but the
      // cost here is the O(pairs) probe fan-out, not the input size
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("d1"))
    val b = docTokens.select(col("lang"), col("doc_id").as("d2"),
      col("toks").as("toks2"), col("n").as("n2"))
    // length bound before the merge prunes most pairs integer-cheaply
    jaccardVerify(a.join(broadcast(b), "lang").filter(col("d1") < col("d2"))
      .filter(lengthBound(col("n1"), col("n2"), t)), t)
  }

  /** Prefix-filtered Jaccard over any `(doc_id, lang, tid)` id-postings
    * relation (see [[jaccardPairs]] for the algorithm notes).
    *
    * The Bayardo prefix theorem holds for ANY fixed global token order;
    * the per-lang rare-first order costs a tf aggregation, a postings
    * join and a per-doc window, and was measured FASTER than plain id
    * order even on near-unique char 12-grams (sf0.1: 2.73 s vs 2.98 s):
    * dup clusters make exactly the shared grams non-rare, so rare-first
    * pushes them out of prefixes and candidates collapse. */
  private[graft] def jaccardPairsOf(tok: DataFrame,
                                    thresholdTenths: Int): DataFrame = {
    val t = thresholdTenths
    // (r18 optimization round: a lazy localCheckpoint of `tok` was
    // measured here and REJECTED — the postings relation is cheap to
    // recompute (native split/NgramFnv passes) and large to
    // materialize, so pinning traded 3 cheap passes for a write+read
    // of the widest relation in the query: ngram tier 3.1 → 4.1 s,
    // word tier flat-to-worse. The win of that shape belongs to
    // SMALL-after-expensive relations.
    // r19 re-measured the AGGREGATED docTokens relation the same way
    // and it is ALSO REJECTED on the declared input shape — one JVM,
    // min-of-2 over the raw parquet scan (OPTIMIZATION_r19.md §4): word
    // tier 2.77 s both ways, ngram tier 2.80 → 4.15 s pinned. The pin
    // only wins when the INPUT relation is itself a materialized
    // checkpoint (word tier 5.74 → 2.66 s on a checkpointed docs
    // input, where every re-run re-reads the checkpoint's collapsed
    // partitioning) — the declared queries scan parquet.)
    val docTokens = idArrays(tok, "doc_id", "lang")
    val prefix = rareFirstPrefix(tok, docTokens.select("doc_id", "n"), t)
      .select(col("lang"), col("tid"), col("doc_id"), col("n"))
    val candidates = prefix.as("p1")
      .join(prefix.as("p2"),
        col("p1.tid") === col("p2.tid") && col("p1.lang") === col("p2.lang") &&
          col("p1.doc_id") < col("p2.doc_id") &&
          lengthBound(col("p1.n"), col("p2.n"), t))
      .select(col("p1.doc_id").as("d1"), col("p2.doc_id").as("d2"))
      .distinct()
    jaccardVerify(candidates
      .join(docTokens.select(col("doc_id").as("d1"), col("toks").as("toks1"),
        col("n").as("n1")), "d1")
      .join(docTokens.select(col("doc_id").as("d2"), col("toks").as("toks2"),
        col("n").as("n2")), "d2"), t)
  }

  /** The (lang, distinct-token-bag) class quotient shared by
    * [[containmentPairs]] and [[containmentCandidates]]: returns
    * `(members, repDocs)` — every doc with its class key + rep, and the
    * representative docs rejoined to the input relation. */
  private def bagQuotient(docs: DataFrame): (DataFrame, DataFrame) = {
    val (members0, repDocs0) = bagQuotientPlans(docs)
    // members feeds both expansion joins + the intra self-join (and
    // repDocs below); without materialization each consumer re-runs
    // the corpus-wide class groupBy. Lazy: declaration stays jobless.
    (members0.localCheckpoint(eager = false),
      repDocs0.localCheckpoint(eager = false))
  }

  /** [[bagQuotient]]'s relations WITHOUT the checkpoints — a stable
    * canonical plan per input, which is what makes the containment
    * auto-switch's sizing stats memoizable across invocations
    * ([[RelationStats]]; a checkpointed relation canonicalizes to a
    * fresh RDD scan every call, so memo keys on it never hit). */
  private[graft] def bagQuotientPlans(docs: DataFrame): (DataFrame, DataFrame) =
    quotient(docs.select(col("doc_id"), bagLangKey.as("bag_fp")), "bag_fp", docs)

  /** ASYMMETRIC containment pairs: C(a→b) = |A∩B| / |A| ≥ t over
    * distinct-token sets, lang-blocked — the dedup mode symmetric
    * Jaccard misses by construction: a short document quoted inside a
    * longer one, or a page wrapped in boilerplate, has high containment
    * but low Jaccard (the union is dominated by the container). Output
    * is directed: d1 is the CONTAINED side, d2 the container, both
    * directions evaluated independently (mutual near-equality yields
    * both rows — that is the true relation, not a duplicate).
    *
    * Scale shape — two layers:
    *
    * 1. BAG QUOTIENT (the [[jaccardComponents]] exact-before-near
    *    collapse): C(a→b) depends only on (lang, token set, token
    *    set), so docs with an identical (lang, distinct-token-bag)
    *    share every containment verdict. Candidate generation and
    *    verification run on class REPRESENTATIVES; results expand back
    *    member-wise (cross-class rows inherit the rep pair's inter/n1
    *    verbatim; a multi-doc class emits its ordered intra-class
    *    pairs at C = 1 directly). Most corpus duplication is
    *    exact/near-exact, so the expensive layers below see a
    *    dup-mass-free relation; the expansion is output-bound, which
    *    a pair-emission operator pays by definition.
    * 2. ONE-SIDED prefix filter: the Bayardo prefix bound still
    *    applies to the contained side (if |A∩B| ≥ t·|A|, then B
    *    shares one of A's `n − ⌈t·n⌉ + 1` rarest tokens), but no
    *    prefix, size-ratio, or positional bound exists for the
    *    CONTAINER side (a container may be arbitrarily large and match
    *    none of its own rare tokens) — so probe prefixes join the FULL
    *    postings relation. Rare-first ordering keeps those buckets
    *    small: candidates = Σ_a Σ_{rare tokens of a} df(token), and
    *    rare tokens have tiny df by definition.
    *
    * Verification is the same sorted-merge native kernel; the only
    * IEEE step is the final inter/n1 division, written identically in
    * the oracle.
    *
    * PROFILE (round 6, the since-retired ContainmentProbe main, sf0.1,
    * t = 0.9, committed as CONTAINMENT_PROBE_r06.json — cumulative stage
    * counts): quotient 0.64 s → 4,266 reps; + prefix candidates +
    * distinct 5.64 s → 4.2 M candidate pairs; + sorted-merge verify
    * 6.31 s → 983 k rep pairs; + member expansion 6.51 s → 2.1 M
    * output rows. Candidate generation IS the cost (5.0 s of 6.5);
    * verify adds 0.7 s, expansion 0.2 s. Isolated staging (eager
    * checkpoints, same session) prices the raw fan-out at 0.8 s /
    * 8.6 M hits and the distinct at ~1 s once the probe side is
    * spread — and the scale smoke measures time ratio 6.61× against
    * candidate ratio 8.78× at 3× replicas (SCALESMOKE_r06): time
    * grows SLOWER than measured candidate volume. The cost rides the
    * 4.2 M-candidate / 2.1 M-output volume: inherent pair-emission
    * work, not a plan defect. */
  def containmentPairs(docs: DataFrame, thresholdTenths: Int): DataFrame = {
    val (members, repDocs) = bagQuotient(docs)
    val repPairs = containmentPairsOf(repDocs, thresholdTenths,
      bruteVerify = containmentBruteWins(docs, thresholdTenths))
    val cross = repPairs
      .join(members.select(col("rep").as("d1"), col("doc_id").as("a1")), "d1")
      .join(members.select(col("rep").as("d2"), col("doc_id").as("a2")), "d2")
      .select(col("a1").as("d1"), col("a2").as("d2"), col("inter"),
        col("n1"), col("containment"))
    // intra-class ordered pairs: identical bags ⇒ inter = n1 = |bag|,
    // containment exactly 1.0 — no verification needed
    val bagN = repDocs.select(col("doc_id").as("rep"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("nbag"))
    val intra = members.as("x")
      .join(members.as("y"),
        col("x.bag_fp") === col("y.bag_fp") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.rep").as("rep"))
      .join(bagN, "rep")
      .select(col("d1"), col("d2"), col("nbag").as("inter"),
        col("nbag").as("n1"), lit(1.0).as("containment"))
    cross.unionByName(intra)
  }

  /** The containment tiers' shared token relations over a rep corpus:
    * skinny postings `(doc_id, lang, tid)` and per-doc sorted id
    * arrays `(doc_id, lang, toks, n)`.
    *
    * The postings relation embeds the full bag-quotient subtree (a
    * corpus-wide groupBy + two joins) and is consumed by several
    * downstream subtrees (docTokens, tf aggregation, rank join, the
    * candidate join's container side); without materialization each
    * consumer re-runs the quotient. Lazy (eager = false) so declaring
    * the query runs no jobs; it is rep-level and skinny (3 longs/row,
    * dup mass already collapsed). On a cluster: `checkpoint` to
    * reliable storage instead. */
  private def containmentTokenRels(docs: DataFrame): (DataFrame, DataFrame) = {
    val tok = idPostings(docs).localCheckpoint(eager = false)
    // same trade for the per-doc arrays: consumed by the prefix-length
    // join and both verify sides
    val docTokens = idArrays(tok, "doc_id", "lang").localCheckpoint(eager = false)
    (tok, docTokens)
  }

  /** Token relation + candidate generation of the representative-level
    * containment computation: returns `(docTokens, candidates)` so the
    * verify stage and the candidate-volume measurement share one
    * definition. */
  private def containmentCandidatesOf(docs: DataFrame,
                                      thresholdTenths: Int): (DataFrame, DataFrame) = {
    val t = thresholdTenths
    val (tok, docTokens) = containmentTokenRels(docs)
    val prefix = rareFirstPrefix(tok, docTokens.select("doc_id", "n"), t)
      .select(col("lang"), col("tid"), col("doc_id"), col("n"))
      // Spread the PROBE side (the tfidfCosinePairs trap, measured
      // here too): the prefix relation is tiny (~prefixLen rows per
      // rep — 11.5k rows at sf0.1), so AQE coalesces it to ~one
      // partition, and the candidate FAN-OUT (8.6M raw hits at sf0.1)
      // plus the distinct's partial aggregation then run on ONE core.
      // Explicit count disables AQE's byte-based coalescing. Keying by
      // doc_id also lands every hit of a given d1 in one partition, so
      // the distinct collapses the ~2× raw multiplicity map-side
      // before its shuffle. Measured in isolation (the retired
      // ContainmentProbe's eager-checkpoint staging, r7 artifact):
      // distinct stage 4.4 s → 1.0 s.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    val raw = prefix.as("p")
      // broadcast keeps the probe's doc_id partitioning through the
      // join (a token-keyed shuffle would undo the spread above); the
      // postings side is rep-level — dup mass is already quotiented
      // out — and at a corpus where even that overflows, shard it by
      // d2 exactly like tfidfCosinePairs's build side
      .join(broadcast(tok.as("f")),
        col("p.tid") === col("f.tid") && col("p.lang") === col("f.lang") &&
          col("p.doc_id") =!= col("f.doc_id"))
      .select(col("p.doc_id").as("d1"), col("f.doc_id").as("d2"))
    (docTokens, raw.distinct())
  }

  /** Representative-level candidate (d1, d2) relation of
    * [[containmentPairs]] — post-quotient, pre-verify — exposed so
    * scale smokes MEASURE candidate volume against wall time instead
    * of arguing the ratio from the output bound. Follows the
    * auto-switch: the prefix-filtered relation when the prefix path is
    * selected, all ordered same-lang rep pairs when the brute verify
    * is (that IS the pre-verify candidate set the query scores). */
  def containmentCandidates(docs: DataFrame, thresholdTenths: Int): DataFrame = {
    val (_, repDocs) = bagQuotient(docs)
    if (containmentBruteWins(docs, thresholdTenths)) {
      val (_, docTokens) = containmentTokenRels(repDocs)
      docTokens.select(col("lang"), col("doc_id").as("d1"))
        // probe-side spread, as the brute verify (see containmentPairsOf)
        .repartition(docs.sparkSession.sparkContext.defaultParallelism,
          col("d1"))
        .join(broadcast(docTokens.select(col("lang"),
          col("doc_id").as("d2"))), "lang")
        .filter(col("d1") =!= col("d2"))
        .select("d1", "d2")
    } else containmentCandidatesOf(repDocs, thresholdTenths)._2
  }

  /** Broadcast-safety bound for [[containmentBruteWins]]: the brute
    * verify broadcasts the rep corpus's token arrays, ≈ 8 bytes per
    * posting — 8 M postings ≈ 64 MB, the upper end of a sane broadcast.
    * Above it the prefix path engages unconditionally (its container
    * side has the documented d2-shard continuation instead). */
  private val BruteVerifyTokenBound = 8000000L

  /** The containment auto-switch (purely physical — both paths emit
    * identical rows): prefix filtering pays its machinery (tf ranking
    * window, candidate fan-out join, distinct) only when the prefix
    * actually PRUNES; on a self-similar corpus nearly every lang pair
    * survives the prefix and the machinery is overhead wrapping a
    * no-op. CONTAINMENT_PROBE_r06 proved candidates were 87% of the
    * query's cost, and the r7 decomposition (MINHASH_PROBE pattern,
    * eager-staged) prices it: raw fan-out 8.6 M hits 0.48 s + distinct
    * 1.71 s + verify-on-4.2 M 1.69 s, while the brute lang-blocked
    * verify of ALL 9.1 M ordered rep pairs costs the same 1.67 s as
    * the verify stage alone — the native sorted-merge intersect is as
    * cheap per pair as candidate generation. (The other verdict-named
    * reduction — capping probe-token df — is measured REJECTED: 99.8%
    * of hits come from df>200 prefix tokens, and capping keeps only
    * 3,897 of 983,037 verified pairs.)
    *
    * Rule: brute when the prefix promises < 4× pair reduction
    * (rawHits·4 ≥ allPairs, both exact integer stats) AND the rep
    * token arrays fit one broadcast ([[BruteVerifyTokenBound]] — at
    * 100 TB postings dwarf the bound, so the scale path is always the
    * prefix one). Stats are memoized per session
    * ([[RelationStats]]) on checkpoint-free plans, so bench
    * repetitions pay them once. */
  private def containmentBruteWins(rawDocs: DataFrame,
                                   thresholdTenths: Int): Boolean = {
    val t = thresholdTenths
    val rep = bagQuotientPlans(rawDocs)._2
    val tok = idPostings(rep)
    val tokCount = RelationStats.memoCount(tok)
    tokCount <= BruteVerifyTokenBound && {
      val allPairs = RelationStats.memoScalar(
        rep.groupBy("lang").agg(count(lit(1)).as("m"))
          .agg(coalesce(sum(col("m") * (col("m") - 1)), lit(0L))
            .cast("long").as("v")))
      val n = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val rawHits = RelationStats.memoScalar(
        rareFirstPrefix(tok, n, t)
          .agg(coalesce(sum(col("tf") - 1), lit(0L)).cast("long").as("v")))
      rawHits * 4 >= allPairs
    }
  }

  /** The representative-level containment computation (see
    * [[containmentPairs]], which quotients by bag class before calling
    * this and expands afterwards). `bruteVerify` selects the verify
    * shape ([[containmentBruteWins]] decides it from the RAW corpus —
    * the decision needs memo-stable plans, which the checkpointed rep
    * relation this method receives cannot key). */
  private[graft] def containmentPairsOf(docs: DataFrame, thresholdTenths: Int,
                                 bruteVerify: Boolean = false): DataFrame = {
    val t = thresholdTenths
    if (bruteVerify) {
      // all ordered same-lang rep pairs, arrays INLINE in the join (a
      // re-join of 9 M skinny pairs against the arrays would double
      // the work the switch just saved); build side broadcast — bound
      // enforced by the switch — so pair emission parallelizes across
      // the probe side's partitions, never |langs| tasks
      val (_, docTokens) = containmentTokenRels(docs)
      val probeSide = docTokens.select(col("lang"), col("doc_id").as("d1"),
        col("toks").as("toks1"), col("n").as("n1"))
      // Spread the PROBE side (r19 — the tfidfCosinePairs trap,
      // found HERE by the scaling table: dedup_containment read 0.63
      // at 8-vs-32 cores, i.e. 8 cores BEAT 32): the checkpointed
      // rep docTokens relation is ~4k rows, AQE coalesces it to ~one
      // partition, and the brute join's cost is the O(|lang pairs|)
      // intersect fan-out (9.1 M pairs at sf0.1), not the input size
      // — so the whole verify ran on one core. Explicit count
      // disables AQE's byte-based coalescing, exactly as the prefix
      // path already does for its candidate fan-out. One JVM, outputs
      // equal: verify 2.22 → 0.98 s (OPTIMIZATION_r19.md §7).
      containmentVerify(probeSide.repartition(
          docs.sparkSession.sparkContext.defaultParallelism, col("d1"))
        .join(broadcast(docTokens.select(col("lang"),
          col("doc_id").as("d2"), col("toks").as("toks2"))), "lang")
        .filter(col("d1") =!= col("d2")), t)
    } else {
      val (docTokens, candidates) = containmentCandidatesOf(docs, t)
      containmentVerify(candidates
        .join(docTokens.select(col("doc_id").as("d1"), col("toks").as("toks1"),
          col("n").as("n1")), "d1")
        .join(docTokens.select(col("doc_id").as("d2"), col("toks").as("toks2")), "d2"), t)
    }
  }

  /** Containment INCREMENTAL dedup — the ingestion twin of
    * [[containmentPairs]]: drop new documents whose token set is ≥ t
    * contained in ANY single same-lang corpus document (a crawl
    * re-serving a page the lake already holds inside a boilerplate
    * wrapper; a quote-only snippet of an archived doc). Directed batch
    * → corpus: the batch doc is always the contained side, so the
    * Bayardo prefix bound applies to the BATCH side only — and here
    * the prefix is a row-local SLICE of each batch doc's sorted id
    * array (the bound holds under ANY fixed token order, and the
    * id-order prefix costs zero ranking shuffles — the right trade for
    * an ingestion batch, which is small next to the corpus and re-runs
    * per delivery). Corpus side: full
    * postings, as [[containmentPairs]] explains no container-side
    * bound exists; at 100 TB those postings persist bucketed by
    * (lang, tid) like [[saveCorpusDigests]] and each batch probes the
    * buckets in place. Survivors come from one left_anti on the
    * matched batch ids. */
  def dedupAgainstCorpusContainment(newDocs: DataFrame, corpus: DataFrame,
                                    thresholdTenths: Int): DataFrame = {
    val t = thresholdTenths
    require(t >= 1 && t <= 10, s"thresholdTenths must be in [1, 10]: $t")
    val ids = sort_array(array_distinct(
      transform(split(col("text"), " "), x => xxhash64(x))))
    val bt = newDocs.select(col("doc_id"), col("lang"), ids.as("toks"))
      .select(col("doc_id"), col("lang"), col("toks"),
        size(col("toks")).cast("long").as("n"))
    val prefLen = prefixLength(col("n"), t).cast("int")
    val probe = bt.select(col("doc_id").as("d1"), col("lang"),
      explode(slice(col("toks"), lit(1), prefLen)).as("tid"))
    val corpusPost = corpus.select(col("doc_id").as("d2"), col("lang"),
      explode(ids).as("tid"))
    // ids only through the candidate dedup shuffle — the token ARRAYS
    // re-join afterwards (the containmentPairsOf shape): carrying toks1
    // into the distinct would duplicate each batch doc's full array
    // once per candidate row and make the distinct compare arrays
    val cand = probe.join(corpusPost, Seq("lang", "tid"))
      .select(col("d1"), col("d2")).distinct()
    val corpusTokens = corpus.select(col("doc_id").as("d2"), ids.as("toks2"))
    val matched = cand
      .join(bt.select(col("doc_id").as("d1"), col("toks").as("toks1"),
        col("n").as("n1")), "d1")
      .join(corpusTokens, "d2")
      .filter(containmentAtLeast(intersection, col("n1"), t))
      .select(col("d1").as("doc_id")).distinct()
    newDocs.join(matched, Seq("doc_id"), "left_anti")
  }

  /** Modulus of the affine MinHash family: the first prime above 2^40.
    * With 40-bit token ids and 20-bit multipliers, a·tid + b stays under
    * 2^61 — exact in SIGNED 64-bit arithmetic in every engine (DuckDB
    * raises on BIGINT overflow rather than wrapping, so the family must
    * be overflow-free by construction, not by wrapping). */
  val MinhashPrime: Long = 1099511627791L

  /** Signature length K of the MinHash tiers: every operator here
    * bands a 32-hash signature, and the oracle's SQL mins
    * (`DedupQueries`) are generated for the same K. */
  val NumHashes = 32

  /** Deterministic (a_k, b_k) parameters of the affine family
    * h_k(x) = (a_k·x + b_k) mod [[MinhashPrime]] — seeded so the DuckDB
    * oracle can be generated with the same constants. */
  def minhashParams(numHashes: Int): IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(2024L)
    IndexedSeq.fill(numHashes)(
      (rng.nextInt((1 << 20) - 1).toLong + 1L,
        rng.nextLong() & ((1L << 40) - 1)))
  }

  /** Row-local distinct token ids (md5 → 40-bit) of a text column, via
    * the native [[graft.functions.Md5TokenIds]] kernel — one pass over
    * the row's bytes with a reused digest, bit-identical to the
    * interpreted `transform(array_distinct(split(...)))` form it
    * replaced (spec-asserted, including separator runs and non-ASCII).
    * Still materialized as its OWN column before [[minhashSigOfIds]] so
    * the id array feeds the K-hash fold once per row. */
  def tokenIdsColumn(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.Md5TokenIds(Bridge.expression(text)))
  }

  /** Row-local MinHash signature over a [[tokenIdsColumn]] array: the
    * same sketch as [[minhashSignatures]] but computed entirely inside
    * one row (per-hash min via transform/array_min), no explode or
    * groupBy — which is what makes it legal inside a STREAMING query
    * (stateless projection; the only stateful op is the dedup that
    * consumes it). Bit-identical to the batch aggregation path (spec-
    * asserted): same md5→40-bit id, same affine family.
    */
  def minhashSigOfIds(tids: Column, numHashes: Int): Column = {
    // native one-pass kernel: the portable form (K separate
    // array_min(transform(...)) columns) pays K interpreted lambda
    // traversals per row and dominates row-local sketching
    import org.apache.spark.sql.graftbridge.Bridge
    val (as, bs) = minhashParams(numHashes).unzip
    Bridge.column(graft.functions.MinhashSigs(
      Bridge.expression(tids), as, bs, MinhashPrime))
  }

  /** One-column convenience composition of [[tokenIdsColumn]] and
    * [[minhashSigOfIds]] — ONLY for single-shot use (specs); hot paths
    * should materialize the id array as a separate column first. */
  def minhashSigColumn(text: Column, numHashes: Int): Column =
    minhashSigOfIds(tokenIdsColumn(text), numHashes)

  /** MinHash signatures: K independent hash functions simulated as
    * xxhash64(k, token); signature element k = min over the doc's tokens.
    * One explode + one groupBy — the sketch costs O(tokens·1) with K
    * aggregates, not K passes. */
  def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    docs
      // spread first: the docs scan is one input split, and everything
      // downstream (sketch + band join probe) inherits its parallelism.
      // Explicit count: AQE coalesces a bare repartition(col) on input
      // bytes, which would serialize the K-hash sketch and band probe
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      // hash the variable-length token ONCE (md5 → 40-bit id, the
      // cross-engine primitive) in a materialized projection; the K
      // affine mixes then fold the id array in ONE native pass
      // ([[graft.functions.MinhashSigs]]) — no postings explode, no
      // aggregation shuffle, same values as the postings formulation
      .select(col("doc_id"), tokenIdsColumn(col("text")).as("tids"))
      .select(col("doc_id"), minhashSigOfIds(col("tids"), numHashes).as("sig"))

  /** MinHash-LSH candidate pairs: signatures cut into `bands` bands of
    * r = K/bands rows; docs sharing any band hash become candidates;
    * estimated Jaccard = matching signature fraction. The band groupBy
    * is the LSH trick that keeps candidate generation linear-ish at
    * scale (only same-bucket docs ever meet). Bands the raw corpus:
    * banding one representative per exact class instead was slower on
    * every corpus the repository builds but one, and chosen on none
    * (docs/THROUGHPUT.md, "One LSH plan").
    */
  def minhashLshPairs(docs: DataFrame, bands: Int = 8): DataFrame =
    lshPairsOfSigs(minhashSignatures(docs, NumHashes), NumHashes, bands)

  /** Distinct 40-bit character-shingle ids of a text column — FNV
    * window hashes ([[graft.functions.NgramFnv]]) masked into the
    * overflow-free range of the affine MinHash family. min over a
    * multiset equals min over its set, so mask collisions are harmless
    * to the sketch. */
  def shingleIdsColumn(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    // no narrowing needed: bitwiseAND of a non-nullable element is
    // non-nullable, so this transform already types containsNull=false
    transform(
      array_distinct(Bridge.column(graft.functions.NgramFnv(
        Bridge.expression(text), n))),
      id => id.bitwiseAND(lit((1L << 40) - 1)))
  }

  /** The brief's literal shingle→minhash→band→bucket-join pipeline:
    * MinHash over 12-character shingles instead of word tokens —
    * robust to tokenization-breaking edits (joined/split words). The
    * signature is row-local (no postings explode at all: shingle ids
    * materialize as their own projection, then K affine mins fold each
    * row's array), then the same band bucket-join as
    * [[minhashLshPairs]]. */
  def minhashShingleLshPairs(docs: DataFrame): DataFrame =
    lshPairsOfSigs(shingleSignatures(docs), NumHashes, 4)

  /** The shingle tier's signatures over 12-character shingles: spread
    * the single-split scan before the per-char shingle hash + K-hash
    * sketch (explicit count — AQE would coalesce on bytes). */
  private def shingleSignatures(docs: DataFrame): DataFrame =
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), shingleIdsColumn(col("text"), 12).as("tids"))
      .select(col("doc_id"),
        minhashSigOfIds(col("tids"), NumHashes).as("sig"))

  // --------------------------------------------------------------------
  // Persisted LSH band index — the near-dup tier's lake index lifecycle
  // (the minhash sibling of Similarity.savePqIndex/appendToPqIndex)
  // --------------------------------------------------------------------

  /** One row per signature band of each `sigs` row (its columns kept,
    * plus `band_fp`): `band_fp` =
    * md5 of `"band|v1,v2,…,vr"` over the band's r-long slice — a
    * SCALAR band key (arrays can't drive partition layout), engine-
    * reproducible in the oracle (same string, same md5). A true band
    * agreement implies fp agreement, so recall is exactly the banded
    * tier's; an fp collision can only ADD a candidate, which the
    * exact `sig`-overlap verify then scores truthfully — and the
    * oracle replays the same fp construction, so even that behavior
    * is bit-shared across engines. The one spelling of the fp: the
    * persisted index, its batch probes and the ingest stream's probes
    * ([[graft.streaming.DocStream.lshIndexIngestStream]]) all call it. */
  private[graft] def lshBandFpRows(sigs: DataFrame, numHashes: Int,
                                   bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val r = numHashes / bands
    sigs.select(col("*"),
      explode(array((0 until bands).map { b =>
        md5(concat(lit(s"$b|"),
          array_join(transform(slice(col("sig"), b * r + 1, r),
            x => x.cast("string")), ",")).cast("binary"))
      }: _*)).as("band_fp"))
  }

  /** Persist a corpus's MinHash band index as a LAKE ARTIFACT — the
    * near-dup twin of [[Similarity.savePqIndex]]: one row per
    * (doc, band) holding the band fp and the full signature
    * (fingerprint-width — raw text never loads at serve time),
    * PARTITIONED BY the fp's 2-hex-digit prefix (256 cells). A point
    * probe (one arriving doc) reads `bands`/256 of the index by
    * partition pruning; a bulk batch degrades gracefully toward a
    * full postings scan that is still signature-width, not text-width.
    * Unlike the PQ index there is NOTHING to retrain or freeze: the
    * md5-seeded affine family is deterministic, so appends
    * ([[appendToLshBandIndex]]) are exact by construction forever.
    *
    * Beside the postings the save writes `band_stats` (r18): one
    * (fp_pfx, band_fp, plen) row per distinct band — posting-list
    * lengths as a METADATA-SCALE relation, sorted by band so point
    * probes row-group-prune. The hot-band cap's prune reads these
    * instead of re-aggregating the whole postings relation per serve
    * (measured: the on-the-fly count pass added ~2.5 s to the banded
    * fold's bench row — a second full index pass the stats relation
    * replaces with a footer-scale scan). Appends append their own
    * per-band counts; consumers SUM per band, so the relation is
    * mergeable the way every sketch here is. */
  def saveLshBandIndex(docs: DataFrame, path: String,
                       bands: Int = 4): Unit = {
    // SCALE-ADAPTIVE prefix width (r18 optimization round, guide §6 /
    // §2: derive partitioning from input size, not a constant tuned
    // for either local mode or the cluster): the 2-hex 256-cell layout
    // priced 2.5-3.9 s of pure footer/listing metadata per serve at
    // sf0.1 (BANDED_COST_PROBE_r17/r18 — 34k rows spread over 230
    // dirs × ~3 files), while a small index prunes just as well from
    // 16 cells. One hex char per ~16M postings rows keeps directories
    // in the tens-of-GB range at lake scale (width 2 ≈ 4B rows; the
    // documented extension is width 3 past that). The width is a pure
    // function of the band-row count, and serves DISCOVER it from the
    // written directory names ([[bandPfxWidthOf]]) so probe and index
    // can never disagree. fp_pfx is a prefix of band_fp, so any width
    // yields identical join results — layout only, results unchanged.
    val n = docs.count() * bands // save-time action: offline, like writeBandStats
    val width = bandPfxWidthForRows(n)
    lshBandFpRows(minhashSignatures(docs, NumHashes), NumHashes, bands)
      .withColumn("fp_pfx", substring(col("band_fp"), 1, width))
      // cluster by the partition value so each directory is written by
      // exactly ONE task — 1 file per dir per save instead of
      // (tasks × dirs) tiny files (guide §6 small-files; measured 613
      // files → 16 at sf0.1). AQE sizes the task count.
      .repartition(col("fp_pfx"))
      .write.mode("overwrite").partitionBy("fp_pfx")
      .parquet(s"$path/bands")
    writeBandStats(docs.sparkSession, path, "overwrite")
  }

  /** Prefix width for a band index of `rows` postings rows — one hex
    * char (16 cells) up to ~16M rows, two (256 cells) past it. */
  private[graft] def bandPfxWidthForRows(rows: Long): Int =
    if (rows <= 16000000L) 1 else 2

  /** The prefix width a PERSISTED index was written with, discovered
    * from its `fp_pfx=<v>` directory names (one metadata listing) —
    * the probe side must band-prefix at the same width or the
    * (fp_pfx, band_fp) equi-join silently matches nothing.
    *
    * FAILS LOUDLY (r19, the r18 ADVICE item) on a missing/empty index
    * or a MIXED-width directory set (a partially failed rewrite, or a
    * re-save across the 16M-row threshold under dynamic partition
    * overwrite): the old collectFirst-with-default-2 silently returned
    * an arbitrary width in both cases, and a wrong width makes every
    * probe match nothing — an empty result, not an error. */
  private[graft] def bandPfxWidthOf(
      spark: org.apache.spark.sql.SparkSession, path: String): Int = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$path/bands")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(dir), s"bandPfxWidthOf: no band index at $dir — " +
      "save one with saveLshBandIndex before serving")
    val widths = fs.listStatus(dir).iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("fp_pfx=") =>
        n.length - "fp_pfx=".length }
      .toSet
    require(widths.nonEmpty, s"bandPfxWidthOf: $dir holds no fp_pfx= " +
      "partition directories — empty or corrupt index")
    require(widths.size == 1, s"bandPfxWidthOf: $dir mixes fp_pfx " +
      s"widths ${widths.toSeq.sorted.mkString(",")} — a partial " +
      "rewrite or a re-save across the width threshold left an " +
      "inconsistent layout; compact or rebuild the index")
    widths.head
  }

  /** Rebuild `band_stats` from the written postings — one
    * signature-width scan, offline (save/compaction time), never at
    * serve. Reading the written files back instead of re-planning the
    * signature pipeline keeps the stats bit-agreed with the postings
    * whatever produced them. */
  private def writeBandStats(spark: org.apache.spark.sql.SparkSession,
                             path: String, mode: String): Unit =
    LakeMaintenance.readPartitionedString(spark, s"$path/bands", "fp_pfx")
      .groupBy("fp_pfx", "band_fp").agg(count(lit(1)).as("plen"))
      .repartitionByRange(4, col("fp_pfx"), col("band_fp"))
      .sortWithinPartitions("fp_pfx", "band_fp")
      .write.mode(mode).parquet(s"$path/band_stats")

  /** Append an ingest batch to a persisted [[saveLshBandIndex]] index:
    * partition append, nothing rewrites (the compaction cadence
    * contract is [[Similarity.compactPqIndex]]'s, one directory over);
    * the batch's own per-band counts append to `band_stats` (sum-merge
    * semantics). Idempotence is the caller's offsets problem, as with
    * every lake append. */
  def appendToLshBandIndex(batch: DataFrame, path: String,
                           bands: Int = 4): Unit = {
    // appends must keep the SAVED width — a batch-sized width rule
    // here would fork the directory scheme mid-index
    val width = bandPfxWidthOf(batch.sparkSession, path)
    val rows = lshBandFpRows(minhashSignatures(batch, NumHashes),
        NumHashes, bands)
      .withColumn("fp_pfx", substring(col("band_fp"), 1, width))
      .localCheckpoint(eager = true)
    rows.write.mode("append").partitionBy("fp_pfx")
      .parquet(s"$path/bands")
    rows.groupBy("fp_pfx", "band_fp").agg(count(lit(1)).as("plen"))
      .write.mode("append").parquet(s"$path/band_stats")
  }

  /** Compact a persisted band index back to one file per fp-prefix
    * partition — the small-files bound [[appendToLshBandIndex]] needs,
    * via the shared [[LakeMaintenance.compactPartitioned]] contract
    * (rows unchanged; BucketingSpec pins serve equality across it).
    * `band_stats` rewrites consolidated in the same pass (append
    * fragments fold back to one row per band). */
  def compactLshBandIndex(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit = {
    LakeMaintenance.compactPartitionedString(spark, s"$path/bands", "fp_pfx")
    writeBandStats(spark, path, "overwrite")
  }

  /** Per-band posting counts of a persisted index, restricted to the
    * bands a probing batch touches: served from the `band_stats`
    * relation (sum-merged across append fragments) when the index has
    * one, else by aggregating the postings (pre-r18 indexes). The
    * semi-join keeps the aggregation probed-bands-only either way. */
  private def probedBandCounts(spark: org.apache.spark.sql.SparkSession,
      bandIndexPath: String, probed: DataFrame): DataFrame = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$bandIndexPath/band_stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src =
      if (fs.exists(statsPath))
        spark.read.parquet(statsPath.toString)
          .select(col("fp_pfx"), col("band_fp"), col("plen"))
      else
        LakeMaintenance.readPartitionedString(
            spark, s"$bandIndexPath/bands", "fp_pfx")
          .select(col("fp_pfx"), col("band_fp"), lit(1L).as("plen"))
    src.join(probed, Seq("fp_pfx", "band_fp"), "left_semi")
      .groupBy("fp_pfx", "band_fp").agg(sum("plen").as("plen"))
  }

  /** Near-dup incremental dedup served FROM the persisted band index:
    * the arriving batch computes its own band rows ROW-LOCALLY (the
    * only text read is the batch's), joins the index on
    * (fp_pfx, band_fp), and every candidate pair scores with the
    * native exact signature-overlap kernel — `max_matches` of
    * [[NumHashes]] minhashes agreeing, the same estimate the batch LSH
    * tier thresholds. Per batch doc: candidate count, best overlap,
    * twin count at `minMatches`, and the keep verdict (no candidate ⇒
    * keep, novel content must survive). Corpus vectors of the lake:
    * signatures only — the index IS the serving relation.
    *
    * PRECONDITION: the index must exist ([[saveLshBandIndex]]) before
    * the first serve. "No candidate ⇒ keep" covers novel docs against
    * an existing index, not a first-ever ingest: a missing, empty or
    * mixed-width index fails loudly ([[bandPfxWidthOf]]) instead of
    * serving an empty match set.
    *
    * REGIME RULE (the `buildShards` contract, one module over): a
    * point/small-batch probe broadcast-joins — the batch's band rows
    * are the tiny side and the pruned index scan stays shuffle-free.
    * But an explicit `broadcast()` hint bypasses
    * `autoBroadcastJoinThreshold` and its size safeguards, so a BULK
    * batch (re-ingesting half a corpus) would have to fit its band
    * rows inside the 8 GB / 512 M-row broadcast hard limits — past
    * them it dies loudly. `broadcastMaxDocs` is the switch: batches
    * with more docs than it take the plain shuffled equi-join on
    * (fp_pfx, band_fp), the natural bulk shape, with identical output
    * (BucketingSpec pins the cross-regime equality).
    *
    * ONE driver action decides the regime AND feeds the prune (r16,
    * the r15 ADVICE item): the r15 form paid a full `batch.count()`
    * lineage pass BEFORE the prefix collect — two actions, the second
    * redundant exactly on the point path the method is optimized for.
    * Now a single aggregation over the batch's band rows returns
    * (distinct-doc approx count, distinct prefix set ≤ 256 strings)
    * together; the count is HLL-approximate (±2% rsd), which only
    * fuzzes WHERE the regime boundary lands — both regimes are
    * output-identical, and `broadcastMaxDocs` carries 8× headroom
    * against the broadcast hard limits, so a 2% miss cannot push an
    * unsafe batch into the broadcast arm. */
  def dedupAgainstCorpusLshIndexed(spark: org.apache.spark.sql.SparkSession,
                                   batch: DataFrame, path: String,
                                   minMatches: Int,
                                   broadcastMaxDocs: Long = 1000000L): DataFrame = {
    // the 8x headroom the regime decision leans on is ENFORCED by
    // CLAMPING, not by throwing (r18, the r17 ADVICE item — the r17
    // require hard-failed on the configured cap even when the actual
    // batch was tiny and safe): the broadcast side carries 4 band
    // rows per doc against the 512M-row broadcast hard limit, so the
    // point-regime decision compares against min(caller cap, 64M/4)
    // — a generous caller cap with small batches keeps working, and a
    // batch past the bound takes the shuffled regime with identical
    // output instead of an error
    val safeMaxDocs = math.min(broadcastMaxDocs, 512000000L / 8 / 4)
    val q = lshBandFpRows(minhashSignatures(batch, NumHashes), NumHashes,
        4)
      .withColumn("fp_pfx", substring(col("band_fp"), 1,
        bandPfxWidthOf(spark, path)))
      .select(col("fp_pfx"), col("band_fp"), col("doc_id").as("qid"),
        col("sig").as("qsig"))
    val idxAll = LakeMaintenance.readPartitionedString(
      spark, s"$path/bands", "fp_pfx")
    // One combined metadata job (regime + prune feed): distinct
    // prefix set (≤ 256 strings) and approx distinct doc count from
    // the SAME pass over the batch's row-local band rows — the
    // buildBloom class of driver action, and the only one this method
    // runs before the serve plan itself. The HLL count inflates by 3
    // sigma (rsd 0.02 -> +6%) before the regime compare, so a tail
    // under-estimate can't slide a past-the-knob batch into the
    // broadcast arm either (r17; belt to the headroom require above —
    // both regimes stay output-identical, this is resource safety).
    val meta = q.agg(
      collect_set(col("fp_pfx")).as("pfxs"),
      approx_count_distinct(col("qid"), 0.02).as("n")).head()
    val pfxs = meta.getSeq[String](0)
    val pointRegime = meta.getLong(1) * 106L / 100L <= safeMaxDocs
    // STATIC partition pruning (point regime only): the prefix set
    // becomes a literal IN filter so the planner prunes index
    // partitions DETERMINISTICALLY — the optimizer's dynamic-pruning
    // rule is heuristic-gated (needs a selective Filter on the build
    // side) and must not decide whether a point probe reads bands/256
    // of the index or all of it. A bulk batch populates every prefix
    // anyway, so it skips the prune and shuffles both sides on the
    // band key.
    val idx =
      if (pointRegime) idxAll.where(col("fp_pfx").isin(pfxs: _*))
      else idxAll
    val qSide = if (pointRegime) broadcast(q) else q
    // parquet round-trips array elements as nullable; narrow back via
    // the validated KnownNoNullElements wrapper the kernel requires
    val pairs = idx.join(qSide, Seq("fp_pfx", "band_fp"))
      .select(col("qid"), col("doc_id").as("corpus_id"),
        graft.functions.VectorFunctions.zipEqualCount(
          graft.functions.VectorFunctions.noNullElements(col("qsig")),
          graft.functions.VectorFunctions.noNullElements(col("sig")))
          .as("mc"))
      .groupBy("qid", "corpus_id").agg(max("mc").as("mc"))
    val perDoc = pairs.groupBy("qid")
      .agg(count(lit(1)).as("n_cands"),
        max("mc").as("max_matches"),
        sum(when(col("mc") >= minMatches, 1L).otherwise(0L)).as("n_twins"))
    batch.select(col("doc_id"))
      .join(perDoc, col("doc_id") === col("qid"), "left")
      .select(col("doc_id"),
        coalesce(col("n_cands"), lit(0L)).as("n_cands"),
        coalesce(col("max_matches"), lit(0L)).as("max_matches"),
        coalesce(col("n_twins"), lit(0L)).as("n_twins"),
        (coalesce(col("n_twins"), lit(0L)) === 0).cast("long").as("keep"))
  }

  /** Measured recall of the declared MinHash-LSH tier against the
    * EXACT Jaccard truth — the dedup sibling of the ANN / media recall
    * audits ([[graft.operators.Similarity.annRecallQuantized]],
    * `media_recall_ivf`): the probabilistic tier's quality as a
    * checked NUMBER, not an S-curve formula quoted in a docstring.
    *
    * Truth = [[jaccardPairs]] at J ≥ 0.8 (prefix-filtered, recall
    * exact by the Bayardo theorem), bucketed by integer Jaccard band
    * `⌊10·inter/union⌋` (exact duplicates land in band 10). Each true
    * pair either surfaces among the LSH candidates or does not; per
    * band the audit reports `true_pairs`, `lsh_hits`, and
    * `recall_milli` (integer floor-div, oracle-exact). Truth is
    * CORPUS-WIDE exact Jaccard ([[langFree]] — the sketch has no lang
    * term, so its audit universe must not be lang-blocked either).
    *
    * Expected shape at the declared knobs (K=32, bands=4, r=8): the
    * banding S-curve 1−(1−J^r)^b — ≈0.5 at J=0.8, ≈0.9 at J=0.9, and
    * exactly 1000 in band 10 (identical token bags share the whole
    * signature, deterministically). A reading far BELOW the curve
    * means the sketch or banding is broken; far above means the
    * corpus's J-mass sits at the band edges. Cost: the truth pass at
    * the lower threshold (what the audit exists to pay) + the declared
    * LSH pass + one pair-keyed join, all shuffle-bounded by the pair
    * relations themselves. */
  def lshRecallAudit(docs: DataFrame, sampleMod: Int = 4): DataFrame = {
    val s = sampleDocs(docs, sampleMod)
    recallAuditOf(jaccardPairs(langFree(s), 8),
      minhashLshPairs(s, bands = 4))
  }

  /** Systematic audit sample: every `mod`-th doc_id. The audits pay
    * one EXACT all-pairs truth pass — at corpus scale that pass is the
    * whole cost (measured sf0.1: 11.3 s corpus-wide vs 1.3 s at
    * mod 4; pair mass scales 1/mod²), and production recall audits are
    * always estimated on a sample for exactly this reason. Systematic
    * (id-arithmetic) rather than hashed so the DuckDB oracle replays
    * it verbatim; the synthetic ids carry no order correlated with
    * text similarity, so the estimate is unbiased for the S-curve the
    * audit checks. `mod = 1` is the full-corpus audit. */
  private def sampleDocs(docs: DataFrame, mod: Int): DataFrame =
    if (mod <= 1) docs else docs.filter(col("doc_id") % mod === 0)

  /** Truth relation for the sketch audits: the sketch tiers band
    * CORPUS-WIDE (no lang term in the signature), so their audit truth
    * must be corpus-wide exact Jaccard — the lang-blocked
    * [[jaccardPairs]] universe would silently exclude cross-lang
    * duplicate pairs the sketch correctly surfaces (measured at
    * sf0.01: est-band-10 "precision" read 244 milli against the
    * blocked truth vs the real estimator quality, because most
    * identical-bag pairs there are cross-lang). Neutralizing the lang
    * key reuses the same prefix-filtered machinery with exact recall,
    * one bucket universe instead of per-lang ones. */
  private def langFree(docs: DataFrame): DataFrame =
    docs.withColumn("lang", lit("_"))

  /** [[lshRecallAudit]] for the shingle tier: the char 12-gram sketch
    * ([[minhashShingleLshPairs]]) audited against the exact n-gram
    * Jaccard truth ([[ngramJaccardPairs]]) — same bands, same report.
    * Shingle sets are much larger than word-token sets (one per
    * character position), so the estimate variance per band is lower
    * and the measured curve should sit at or above the word tier's. */
  def shingleRecallAudit(docs: DataFrame, sampleMod: Int = 4): DataFrame = {
    val s = sampleDocs(docs, sampleMod)
    recallAuditOf(ngramJaccardPairs(langFree(s), 12, 8),
      minhashShingleLshPairs(s))
  }

  /** Precision twin of [[lshRecallAudit]]: recall prices what the
    * sketch MISSES; precision prices what the verify stage PAYS. Every
    * LSH candidate pair, bucketed by its estimated-Jaccard band
    * `⌊10·est⌋` (exact: est = k/32 and 10k/32 are binary fractions, so
    * the floor is the integer `(10·match_cnt) div 32` on both
    * engines), left-joined against the exact J ≥ 0.8 truth:
    * per band the audit reports `candidates`, `true_hits`, and
    * `precision_milli`. At 100 TB the candidate relation is the cost
    * the banding knobs control — a band whose precision reads near
    * zero is pure wasted verify work, and the measured histogram is
    * what justifies (or indicts) the declared (K, bands) point. */
  def lshPrecisionAudit(docs: DataFrame, sampleMod: Int = 4): DataFrame = {
    val s = sampleDocs(docs, sampleMod)
    val truth = jaccardPairs(langFree(s), 8)
      .select(col("d1"), col("d2"), lit(1L).as("hit"))
    minhashLshPairs(s, bands = 4)
      .select(col("d1"), col("d2"),
        floor(col("est_jaccard") * 10).cast("int").as("est_band"))
      .join(truth, Seq("d1", "d2"), "left")
      .groupBy("est_band")
      .agg(count(lit(1)).as("candidates"),
        sum(coalesce(col("hit"), lit(0L))).as("true_hits"))
      .withColumn("precision_milli",
        expr("true_hits * 1000 DIV candidates"))
  }

  /** Shared audit fold: exact `(d1, d2, inter, uni)` truth bucketed by
    * integer Jaccard band, left-joined against the candidate pairs,
    * per-band recall in milli (integer floor-div on both engines). */
  private def recallAuditOf(truth: DataFrame, cand: DataFrame): DataFrame =
    truth
      .select(col("d1"), col("d2"),
        expr("CAST(inter * 10 DIV uni AS INT)").as("band"))
      .join(cand.select(col("d1"), col("d2"), lit(1L).as("hit")),
        Seq("d1", "d2"), "left")
      .groupBy("band")
      .agg(count(lit(1)).as("true_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("lsh_hits"))
      .withColumn("recall_milli", expr("lsh_hits * 1000 DIV true_pairs"))

  /** Band bucket-join + estimate over any `(doc_id, sig)` signature
    * relation (see [[minhashLshPairs]] for the algorithm notes). */
  private def lshPairsOfSigs(sigs: DataFrame, numHashes: Int,
                             bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently drop trailing signature rows from banding")
    val r = numHashes / bands
    // Band key = the r-long signature slice ITSELF (not a hash of it):
    // equality is then exactly "band agrees", with no collision term —
    // and the SQL oracle can reproduce the candidate set with plain
    // list-slice equality.
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          slice(col("sig"), b * r + 1, r)): _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
    // Banded rows (docs×bands, tiny) carry the signature INTO the
    // self-join so the estimate is computed in the join's own stage by
    // the native merge kernel; only skinny (d1, d2, match_cnt) rows —
    // not K-long arrays — reach the dedup shuffle, and map-side partial
    // aggregation collapses the ≤`bands` duplicates of each pair first.
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        graft.functions.VectorFunctions.zipEqualCount(col("a.sig"), col("b.sig"))
          .as("match_cnt"))
    cand.groupBy("d1", "d2")
      .agg((max("match_cnt").cast("double") / numHashes).as("est_jaccard"))
  }

  /** SimHash bit width: 60 = 15 hex digits of md5, the widest slice that
    * still fits a SIGNED 64-bit int in every engine (the DuckDB oracle
    * parses the same hex, so the fingerprint is engine-independent). */
  val SimhashBits = 60

  /** 60-bit SimHash fingerprints: each token occurrence votes ±1 on each
    * bit of its md5-derived hash; fingerprint bit = sign of the tally.
    * Row-local: per-occurrence hashes materialize as a projection (NOT
    * distinct — SimHash weights by occurrence) and the vote tally folds
    * in one native pass ([[graft.functions.SimhashOfHashes]]); the
    * explode + 60-aggregate formulation paid a shuffle for a pure
    * per-row function. md5 (not xxhash64) so external engines reproduce
    * the fingerprint bit-for-bit. */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val occHashes = graft.functions.VectorFunctions.noNullElements(
      transform(split(col("text"), " "), Sketches.hash60(_)))
    docs
      // spread the single-split docs scan; downstream pair joins
      // inherit this parallelism. Explicit count: AQE coalesces a bare
      // repartition(col) on input bytes, serializing the sketch
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), occHashes.as("hs"))
      .select(col("doc_id"), Bridge.column(graft.functions.SimhashOfHashes(
        Bridge.expression(col("hs")), SimhashBits)).as("simhash"))
  }

  /** Embedding-space near-duplicates: pairs inside a label block whose
    * quantized cosine ≥ threshold — the semantic-dedup tier (textually
    * different, embedding-identical documents). Label blocking keeps the
    * pair join partition-local after one hash shuffle, exactly like
    * [[Similarity.nearestPairsPerLabel]]; at 100 TB the block key would
    * be a coarse quantizer cell rather than a label. Quantized integer
    * dot products make the cosine (and the ≥ comparison) engine-exact.
    */
  def embeddingNearDupPairs(emb: DataFrame, thresholdHundredths: Int): DataFrame =
    Similarity.pairCosinesPerLabel(emb, 100)
      .filter(col("cos") >= thresholdHundredths / 100.0)
      .select(col("label"), col("id_a").as("d1"), col("id_b").as("d2"), col("cos"))

  /** Fingerprints exploded into `maxDistance + 1` pigeonhole bands —
    * the blocking relation shared by the self-join
    * ([[simhashCandidates]]) and the two-sided incremental form
    * ([[dedupAgainstCorpusSimhash]]). */
  private def bandedFingerprints(docs: DataFrame,
                                 maxDistance: Int): DataFrame = {
    require(maxDistance >= 0 && maxDistance < SimhashBits,
      s"maxDistance must be in [0, $SimhashBits), got $maxDistance")
    val bands = maxDistance + 1
    val base = SimhashBits / bands
    val rem = SimhashBits % bands
    val widths = Seq.tabulate(bands)(b => if (b < rem) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).init
    val bandCols = shifts.lazyZip(widths).map { (s, w) =>
      shiftright(col("simhash"), s).bitwiseAND(lit((1L << w) - 1L))
    }
    simhashFingerprints(docs)
      .select(col("doc_id"), col("simhash"),
        posexplode(array(bandCols.toSeq: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))
  }

  /** Near-duplicate INCREMENTAL dedup — the crawl-vs-lake twin of
    * [[dedupAgainstCorpus]] at simhash granularity: drop new documents
    * within Hamming ≤ maxDistance of ANY corpus document. Blocking is
    * the same pigeonhole band equi-join as [[simhashCandidates]] but
    * TWO-SIDED (batch bands probe corpus bands), so recall is exact
    * while candidates stay linear-ish; at 100 TB the corpus side's
    * banded fingerprints would persist bucketed by (band, band_val),
    * exactly like [[saveCorpusDigests]], and each ingestion batch
    * probes the buckets in place. The survivor set comes from one
    * left_anti on the matched batch ids. */
  def dedupAgainstCorpusSimhash(newDocs: DataFrame, corpus: DataFrame,
                                maxDistance: Int): DataFrame = {
    val nb = bandedFingerprints(newDocs, maxDistance)
    val cb = bandedFingerprints(corpus, maxDistance)
    val dupIds = nb.as("a")
      .join(cb.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
        <= maxDistance)
      .select(col("a.doc_id")).distinct()
    newDocs.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** Candidate pairs sharing ≥ 1 exact simhash bit-band, with the band
    * count fixed at `maxDistance + 1` by the pigeonhole principle: a
    * pair within Hamming distance ≤ maxDistance differs in at most
    * maxDistance bands, so at least one of the maxDistance + 1 bands
    * matches bit-for-bit on both sides — recall is EXACT, not
    * probabilistic. Blocking is therefore an equi-join on
    * (band index, band value): only same-bucket documents ever meet,
    * which is what keeps candidate generation linear-ish at corpus
    * scale (the lang-blocked formulation this replaced joined all
    * intra-lang pairs — O(n²/|langs|) at any scale).
    *
    * The 60 bits split as evenly as possible (first `60 mod bands`
    * bands take the extra bit). Tight thresholds are the useful regime:
    * k = 3–5 gives 15–12-bit bands whose random-collision rate is
    * ~2⁻¹²·bands (Manku et al., WWW'07 use k = 3 over 64 bits); loose
    * thresholds degrade toward all-pairs (k = 16 ⇒ 3-bit bands that
    * almost every pair shares) and belong to a multi-table permuted
    * design, not single-band blocking.
    *
    * The banded relation self-joins as a forced sort-merge join so the
    * two sides share ONE exchange (ReusedExchange — spec-asserted): the
    * md5-heavy fingerprint sketch is computed once, not once per side,
    * and a broadcast never materializes the corpus on the driver.
    * Exposed separately from [[simhashPairs]] so specs can measure the
    * blocking selectivity (candidates ≪ all pairs) independently of the
    * final Hamming filter. */
  def simhashCandidates(docs: DataFrame, maxDistance: Int): DataFrame = {
    val banded = bandedFingerprints(docs, maxDistance)
    banded.as("a")
      .join(banded.as("b").hint("merge"),
        col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDistance — every
    * pair, corpus-wide (band blocking in [[simhashCandidates]] has
    * exact recall, so the result equals the naive all-pairs filter and
    * the oracle can run the naive form). A pair sharing several bands
    * appears once: the Hamming filter runs inside the join stage, so
    * only true near-dup rows — not candidates — reach the dedup
    * shuffle, where map-side partial aggregation collapses the
    * ≤ bands duplicates first. */
  def simhashPairs(docs: DataFrame, maxDistance: Int): DataFrame =
    simhashCandidates(docs, maxDistance)
      .filter(col("hamming") <= maxDistance)
      .groupBy("d1", "d2").agg(min("hamming").as("hamming"))

  /** Global per-lang rank in (text, doc_id) order — the sorted-
    * neighborhood method's sort step, built as a TWO-LEVEL PREFIX SUM
    * (the [[graft.operators.TextOps.packChunks]] idiom) instead of one
    * `row_number` window per language, which would put each language's
    * ENTIRE corpus on a single task. The shard key is the text's first
    * `prefixChars` characters: a PREFIX of the sort key, so shard order
    * is monotone in (text, doc_id) order and per-shard local ranks plus
    * the exclusive per-lang shard-count running sum reproduce the
    * global rank exactly. Parallelism = #(lang, shard); `prefixChars`
    * is the deployment knob that sizes shards (longer prefix → more,
    * smaller shards). */
  private def snmRanks(docs: DataFrame, sortKey: Column,
                       prefixChars: Int): DataFrame = {
    val keyed = docs.select(col("doc_id"), col("lang"),
      sortKey.as("skey"),
      substring(sortKey, 1, prefixChars).as("shard"))
    // level 1: per-(lang, shard) doc counts → exclusive running offsets
    // (metadata-scale: one row per shard)
    val wOff = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("lang", "shard")
      .agg(count(lit(1)).as("cnt"))
      .select(col("lang"), col("shard"),
        coalesce(sum("cnt").over(wOff), lit(0L)).as("offset"))
    // level 2: shard-LOCAL row_number + broadcast offset = global rank
    val wLoc = Window.partitionBy("lang", "shard")
      .orderBy("skey", "doc_id")
    keyed.join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("rnk", col("offset") + row_number().over(wLoc))
      .select(col("lang"), col("doc_id"), col("rnk"))
  }

  /** Sorted-neighborhood candidate pairs: each doc against the `window`
    * docs that FOLLOW it in its language's (text, doc_id) sort order —
    * emitted as one equi-join of rank probes (rank + 1 … rank + window)
    * against the rank relation, so the candidate count is EXACTLY
    * bounded by window·N: the only pair tier whose candidate volume is
    * linear in the corpus by construction. */
  def snmCandidates(docs: DataFrame, window: Int,
                    prefixChars: Int = 4): DataFrame =
    snmCandidatesBy(docs, col("text"), window, prefixChars)

  /** [[snmCandidates]] under an arbitrary sort key — the multi-pass
    * hook: each pass sorts by a different key (raw text, reversed
    * text, …) and contributes its own window·N candidate set. */
  def snmCandidatesBy(docs: DataFrame, sortKey: Column, window: Int,
                      prefixChars: Int = 4): DataFrame = {
    val ranked = snmRanks(docs, sortKey, prefixChars)
    val probes = ranked
      .select(col("lang"), col("doc_id").as("da"), col("rnk"),
        explode(sequence(lit(1), lit(window))).as("off"))
      .select(col("lang"), col("da"), (col("rnk") + col("off")).as("rnk"))
    probes.join(ranked, Seq("lang", "rnk"))
      .select(col("da"), col("doc_id").as("db"))
  }

  /** Sorted-neighborhood (SNM) near-dup pairs — Hernández & Stolfo's
    * merge/purge blocking (SIGMOD'95) as the LINEAR-candidate dedup
    * tier: sort each language by text, compare each doc only to its
    * `window` successors, verify token-set Jaccard ≥ t. Complements
    * the exact-recall tiers ([[jaccardPairs]]' prefix filter, LSH
    * banding): recall is limited to sorted-adjacent near-dups — shared
    * prefixes, boilerplate headers, append-only edits — but candidate
    * volume is window·N rows at ANY corpus size, no similarity-skew
    * term at all, which makes it the cheap first pass of a tiered
    * 100 TB dedup cascade.
    *
    * Plan shape: one range-ordered rank (two-level prefix sum,
    * parallel in #(lang, shard)), one equi-join on (lang, rank), one
    * sorted-array merge verify ([[graft.functions.VectorFunctions
    * .sortedIntersectCount]]). The threshold compare stays integral
    * (inter·10 ≥ uni·t) and the only float is the final division,
    * written identically in the oracle. */
  def snmPairs(docs: DataFrame, window: Int, thresholdTenths: Int,
               prefixChars: Int = 4): DataFrame =
    snmVerify(docs, snmCandidates(docs, window, prefixChars),
      thresholdTenths)

  /** Multi-pass SNM — the form merge/purge is actually deployed in
    * (Hernández & Stolfo run several passes with independent sort
    * keys and union the matches, because any single key misses dups
    * that differ early in that key): pass 1 sorts by the text, pass 2
    * by the REVERSED text, so near-dups that share a suffix but
    * diverge in their opening tokens become sorted-adjacent in the
    * second pass. Candidates = union of the per-pass window·N sets,
    * normalized to (min, max) and deduplicated before ONE shared
    * verify — still linear: ≤ passes·window·N rows. */
  def snmPairsMultiPass(docs: DataFrame, window: Int,
                        thresholdTenths: Int): DataFrame =
    snmVerify(docs, snmMultiPassCandidates(docs, window),
      thresholdTenths)

  /** The multi-pass candidate relation (normalized, deduplicated) —
    * public so scale smokes measure candidate volume directly. */
  def snmMultiPassCandidates(docs: DataFrame, window: Int): DataFrame = {
    val passes = Seq(col("text"), reverse(col("text")))
    passes.map { key =>
      snmCandidatesBy(docs, key, window, 4)
        .select(least(col("da"), col("db")).as("da"),
          greatest(col("da"), col("db")).as("db"))
    }.reduce(_.unionByName(_)).distinct()
  }

  /** Tiered dedup CASCADE — the 100 TB composition the tier list at
    * the top of this object describes, as one declared operator:
    *
    *   1. exact   — hash-groupBy survivors ([[exactKept]]): one
    *                shuffle, collapses the duplicate mass that
    *                dominates crawl corpora;
    *   2. SNM     — [[snmPairs]] on the exact survivors: window·N
    *                LINEAR candidates catch sorted-adjacent near-dups;
    *   3. Jaccard — [[jaccardPairs]] (Bayardo prefix filter) on what
    *                remains: the thorough, most expensive tier runs on
    *                the SMALLEST relation.
    *
    * Cheap-first ordering is the point: each stage shrinks the next
    * stage's input, so the quadratic-prone tier never sees the dup
    * mass the earlier tiers already removed. Removal rule per pair
    * tier: every doc appearing as the LARGER id (d2) of a surviving
    * pair drops — deterministic and order-free, so the oracle can
    * replay it. Returns the per-language funnel (docs remaining after
    * each stage), the audit artifact a curation run reports. */
  def dedupCascade(docs: DataFrame, window: Int = 4,
                   snmTenths: Int = 9, jacTenths: Int = 9): DataFrame = {
    val s1 = exactKept(docs)
    val snmDrop = snmPairs(s1, window, snmTenths)
      .select(col("d2").as("doc_id")).distinct()
    val s2 = s1.join(snmDrop, Seq("doc_id"), "left_anti")
    val jacDrop = jaccardPairs(s2, jacTenths)
      .select(col("d2").as("doc_id")).distinct()
    val s3 = s2.join(jacDrop, Seq("doc_id"), "left_anti")
    def cnt(df: DataFrame, name: String) =
      df.groupBy("lang").agg(count(lit(1)).as(name))
    cnt(docs, "n_docs")
      .join(cnt(s1, "n_exact"), Seq("lang"), "left")
      .join(cnt(s2, "n_snm"), Seq("lang"), "left")
      .join(cnt(s3, "n_jaccard"), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        coalesce(col("n_snm"), lit(0L)).as("n_snm"),
        coalesce(col("n_jaccard"), lit(0L)).as("n_jaccard"))
  }

  /** Shared SNM verify: exact token-set Jaccard ≥ t over a candidate
    * (da, db) relation — sorted-array native merge, integral threshold
    * compare, the one float being the final division. */
  private def snmVerify(docs: DataFrame, cands: DataFrame,
                        thresholdTenths: Int): DataFrame = {
    val docToks = idArrays(idPostings(docs), "doc_id")
    jaccardVerify(cands
      .join(docToks.select(col("doc_id").as("da"), col("toks").as("toks1"),
        col("n").as("n1")), "da")
      .join(docToks.select(col("doc_id").as("db"), col("toks").as("toks2"),
        col("n").as("n2")), "db"), thresholdTenths,
      Seq(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2")))
  }

  /** Edit-distance-≤1 fuzzy self-join over a string key — typo-pair
    * mining / entity-resolution blocking via the deletion neighborhood
    * (FastSS, Bocek et al. 2007): two strings are within one edit iff
    * they share a blocking key among {the string itself} ∪ {its
    * single-character deletions} (equal → self key; substitution at i
    * → both sides' deletion-at-i; insertion/deletion → the longer's
    * deletion equals the shorter's self). So candidates come from ONE
    * equi-join on the deletion-variant relation — |keys|·(len+1) rows,
    * linear in total key bytes — never an all-pairs cross join, and
    * (variant, pos) refinement makes every candidate a TRUE pair, so
    * no verify runs at all. At 100 TB the variant join shuffles on the variant
    * string exactly like any postings join; a skewed variant (shared
    * by v keys) costs v² candidate rows, bounded by how many keys are
    * one edit apart — true output, not corpus size.
    */
  def editDistancePairs(df: DataFrame, keyCol: String): DataFrame = {
    val names = df.select(col(keyCol).cast("string").as("n"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
      .distinct()
      .localCheckpoint(eager = false)
    // every single-deletion variant, KEEPING the deletion position —
    // the FastSS refinement that matters on digit-dense keys: two
    // strings are one SUBSTITUTION apart iff their deletions at the
    // SAME position coincide, so blocking on (variant, pos) caps a
    // bucket at the alphabet size, where blocking on the variant alone
    // buckets every name one INSERTION around it (≈ alphabet × length
    // members — measured 3× the total runtime on customer keys, all of
    // it ED-2 candidate mass the verify then threw away).
    val dels = deletionVariants(names)
    // substitutions: same-position variant match ⇒ equal everywhere
    // else BY CONSTRUCTION — every candidate is a true pair, exactly
    // once (the one differing position), so no distinct, no verify.
    val subs = dels.as("a")
      .join(dels.as("b"),
        col("a.bk") === col("b.bk") && col("a.pos") === col("b.pos") &&
          col("a.n") < col("b.n"))
      .select(col("a.n").as("name_a"), col("b.n").as("name_b"))
    // insert/delete: the longer side's deletion equals the shorter
    // side's SELF key (lengths differ, so disjoint from subs); a run
    // of one char matches at several positions → distinct.
    val insdel = dels.as("d")
      .join(names.as("s"), col("d.bk") === col("s.n"))
      .select(least(col("d.n"), col("s.n")).as("name_a"),
        greatest(col("d.n"), col("s.n")).as("name_b"))
      .distinct()
    // dist ≡ 1 BY CONSTRUCTION, so no levenshtein and no verify filter:
    // substitution pairs are distinct same-length keys equal everywhere
    // but the shared deletion position (exactly one substitution);
    // insert/delete pairs differ in length by one with the longer's
    // deletion equal to the shorter (exactly one edit); keys are
    // distinct so ED 0 is impossible. The r7 form verified 262 k
    // true pairs with a codegen'd levenshtein — measured as the bulk
    // of the pair stage's 4.8 s → 1.7 s FUZZY_PROBE delta.
    subs.unionByName(insdel).withColumn("dist", lit(1L))
  }

  /** Typo/entity CLUSTERS: connected components over the
    * [[editDistancePairs]] graph — the canonicalization step an
    * entity-resolution pipeline runs after fuzzy matching (A≈B, B≈C ⇒
    * one canonical id for {A,B,C} even if A,C never paired; pairs are
    * only evidence, the unit of merge is the transitive cluster).
    * Keys map to a canonical long id (min `idCol` per distinct key) so
    * the shared union-find-seeded [[connectedComponents]] runs
    * unchanged; `component` is the minimum reachable id. Only keys
    * that paired appear — singletons need no canonicalization. */
  def editDistanceComponents(df: DataFrame, keyCol: String,
                             idCol: String): DataFrame = {
    val keyed = df
      .select(col(keyCol).cast("string").as("n"),
        col(idCol).cast("long").as("id"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
      .groupBy("n").agg(min("id").as("kid"))
      .localCheckpoint(eager = false)
    connectedComponents(editDistanceIdPairs(keyed))
      .select(col("doc_id").as("kid"), col("component"))
      .join(keyed, "kid")
      .select(col("n").as("name"), col("kid"), col("component"))
  }

  /** ED-1 edge list over a `(n, kid)` keyed relation, ids in place of
    * names: the canonical id rides THROUGH the deletion-variant
    * self-join (same (variant, pos) blocking as
    * [[editDistancePairs]]). The r7 form generated name pairs then
    * re-joined keyed twice on the name strings to attach ids — two
    * string-keyed shuffles of the whole pair relation, ~1 s of
    * fuzzy_components' FUZZY_PROBE delta. Both families are true pairs
    * by construction (same-(variant, pos) ⇒ substitution; deletion =
    * self ⇒ insert/delete), so no levenshtein verify is needed
    * either. */
  private[graft] def editDistanceIdPairs(keyed: DataFrame): DataFrame = {
    // PROJECTED to (bk, pos, kid) before the self-join (r18
    // optimization round, guide §2.3 shuffle fewer bytes): the edge
    // list needs only ids, so the name string — the widest column —
    // never enters the variant self-join's exchange; the pair
    // condition compares the unique-per-name long kid instead of the
    // name (kid = min id over disjoint per-name row sets, so kid order
    // is a strict total order on names: the same unordered pair set,
    // and components are direction-agnostic — both directions union
    // into the fixpoint).
    val dels = deletionVariantsKeyed(keyed.select(col("n"), col("kid")))
      .select(col("bk"), col("pos"), col("kid"))
    val subs = dels.as("a")
      .join(dels.as("b"),
        col("a.bk") === col("b.bk") && col("a.pos") === col("b.pos") &&
          col("a.kid") < col("b.kid"))
      .select(col("a.kid").as("d1"), col("b.kid").as("d2"))
    val insdel = dels.as("d")
      .join(keyed.as("s"), col("d.bk") === col("s.n"))
      .select(least(col("d.kid"), col("s.kid")).as("d1"),
        greatest(col("d.kid"), col("s.kid")).as("d2"))
      .distinct()
    subs.unionByName(insdel)
  }

  /** [[deletionVariants]] with pass-through of any extra columns —
    * the id-carrying blocking relation [[editDistanceComponents]]
    * builds its edge list from. */
  private[graft] def deletionVariantsKeyed(names: DataFrame): DataFrame =
    names.select(col("*"),
      posexplode(expr("transform(sequence(1, length(n)), " +
        "i -> concat(substring(n, 1, i - 1), " +
        "substring(n, i + 1, length(n))))")))
      .withColumnRenamed("col", "bk")

  private[graft] def deletionVariants(names: DataFrame): DataFrame =
    names.select(col("n"),
      posexplode(expr("transform(sequence(1, length(n)), " +
        "i -> concat(substring(n, 1, i - 1), " +
        "substring(n, i + 1, length(n))))")))
      .withColumnRenamed("col", "bk")

  /** Incremental fuzzy match — the ingestion-time twin of
    * [[editDistancePairs]], completing the incremental family
    * (exact → simhash → containment → embedding → FUZZY KEY): for each
    * NEW key, how many corpus keys sit within one edit (ED 0 = exact
    * re-occurrence included), the nearest such key, and the keep
    * verdict an entity-resolution ingest applies. Same
    * deletion-neighborhood blocking, asymmetric: same-length
    * candidates share (variant, pos); ±1-length candidates match one
    * side's deletion to the other's self key. At scale the corpus
    * variant relation is the precomputed lake-side index — the batch
    * only hashes its own variants into it, the
    * [[saveCorpusDigests]] shape. */
  def fuzzyMatchAgainstCorpus(newKeys: DataFrame, corpus: DataFrame,
                              keyCol: String): DataFrame = {
    def prep(df: DataFrame) = df
      .select(col(keyCol).cast("string").as("n"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
      .distinct()
      .localCheckpoint(eager = false)
    val nw = prep(newKeys)
    val cp = prep(corpus)
    val subs = deletionVariants(nw).as("a")
      .join(deletionVariants(cp).as("b"),
        col("a.bk") === col("b.bk") && col("a.pos") === col("b.pos"))
      .select(col("a.n").as("name"), col("b.n").as("match_name"))
    val ins = deletionVariants(nw).as("d")
      .join(cp.as("s"), col("d.bk") === col("s.n"))
      .select(col("d.n").as("name"), col("s.n").as("match_name"))
    val del = deletionVariants(cp).as("d")
      .join(nw.as("s"), col("d.bk") === col("s.n"))
      .select(col("s.n").as("name"), col("d.n").as("match_name"))
    // no levenshtein verify: every candidate is a true ED ≤ 1 match by
    // construction (same-(variant, pos) ⇒ substitution or the equal
    // key itself; deletion = self key ⇒ one insert/delete)
    val matches = subs.unionByName(ins).unionByName(del)
      .distinct() // an EQUAL pair shares (variant, pos) at every position
      .groupBy("name")
      .agg(count(lit(1)).as("n_matches"), min("match_name").as("nearest"))
    nw.withColumnRenamed("n", "name")
      .join(matches, Seq("name"), "left")
      .select(col("name"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("nearest"), col("n_matches").isNull.as("keep"))
  }
}
