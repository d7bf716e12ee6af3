package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`embeddings.embedding: array<float>`, north-star extension).
  *
  * Scale design: the query set is small and broadcast (zero shuffle of
  * the corpus — the same replicate-the-small-side plan as the reference's
  * Stage-3 Python matmul, `Stage 3/Python Implementation/mm_opt_par.py:26-41`);
  * the corpus side streams through codegen'd zip_with/aggregate
  * expressions. The LSH-bucketed variant is the 100 TB path: candidates
  * shrink from |corpus| to one bucket before exact re-ranking, turning a
  * full scan per query into a hash-partition-local probe.
  */
object Similarity {

  /** The quantization scale of every quantized tier: a component x
    * enters the integer kernels as floor(x · Scale). One value, because
    * the Lloyd cells ([[lloydBook]], [[assignToBook]]), the PQ books and
    * the queries probing them must quantize alike for a distance
    * between them to rank the right cell. The k-means round and the
    * Gram power iteration keep a `scale` parameter of their own: their
    * tests run them at a small scale to check exact integer values. */
  val Scale = 1000

  /** Brute-force top-k neighbors by quantized dot product for each query
    * vector (`vec_id < numQueries`). Deterministic: integer scores,
    * vec_id tie-break.
    */
  def knnBruteForce(emb: DataFrame, numQueries: Int, k: Int): DataFrame = {
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val scored = queries.crossJoin(emb.select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        dotQuantized(col("qe"), col("embedding"), Scale).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Exact COSINE-ranked top-k (the ground-truth relation for recall
    * audits of the approximate tier — [[annIvf]] reranks by the same
    * quantized cosine, so truth and candidate rankings share one
    * metric; [[knnBruteForce]]'s raw dot is a different ranking). */
  private[graft] def knnExactCosine(emb: DataFrame, numQueries: Int,
                                    k: Int): DataFrame = {
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val scored = queries.crossJoin(emb.select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions.cosineQuantized(
          col("qe"), col("embedding"), Scale).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Measured recall@k of the IVF tier against exact-cosine ground
    * truth, per query and probe count — the self-audit that turns
    * "probing more cells trades candidates for recall" from narrative
    * into a number the engine itself computes (the sketch tier's
    * merge-proof pattern applied to retrieval). Ground truth is ONE
    * exact top-k pass shared by all probe settings; each setting's
    * top-k inner-joins it and counts hits; queries whose probed cells
    * miss the whole truth set still emit (left join, hits = 0). All
    * relations are query-count-scale after their top-k windows. */
  def annRecallAudit(spark: SparkSession, emb: DataFrame, numQueries: Int,
                     k: Int,
                     cells: Int = 10, cellRounds: Int = 2): DataFrame = {
    val truth = knnExactCosine(emb, numQueries, k)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(eager = false)
    val qids = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"))
    Seq(1, 2).map { p =>
      val hits = annIvf(spark, emb, numQueries, k, probes = p,
          cells = cells, cellRounds = cellRounds)
        .select(col("qid"), col("vec_id"))
        .join(truth, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(p.toLong).as("probes"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (lit(1000L) * coalesce(col("h"), lit(0L)) / lit(k))
            .cast("long").as("recall_milli"))
    }.reduce(_ unionByName _)
  }

  /** Exact integer squared-L2 brute top-k over the floor-quantized
    * vectors — the ground truth the L2-metric quantized tiers (PQ/ADC
    * and both IVF-ADC variants) are audited against: ADC approximates
    * exactly this distance from stored codes, so its recall is
    * measured in the metric it serves (the SRP tier, which serves
    * ANGLE, audits against [[knnExactCosine]] instead). */
  private[graft] def knnExactL2(emb: DataFrame, numQueries: Int,
                                k: Int): DataFrame = {
    // query side pre-quantizes (numQueries rows — interpreted transform
    // is fine there); the corpus scan runs the native sqdist_q kernel
    // (float→floor→diff²→sum in one codegen loop) instead of the
    // interpreted zip_with+aggregate it replaced — same integers, since
    // (fq(x)−fq(y))² is symmetric in which side is pre-floored
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"),
            x => floor(x.cast("double") * Scale).cast("long")).as("qq")))
    val scored = queries.crossJoin(emb.select(col("vec_id"), col("embedding")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        sqDistQuantized(col("embedding"), col("qq"), Scale).as("dist"))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Measured recall@k of every QUANTIZED serving tier — SRP
    * prefilter+rerank, PQ/ADC, IVF-PQ, residual IVF-ADC — against the
    * exact brute top-k in the metric each tier serves (cosine for SRP,
    * integer squared-L2 for the ADC family). The [[annRecallAudit]]
    * shape generalized over the candidate arm (the r8/r9 verdict ask):
    * these are exactly the tiers where quantization loss bites, and
    * each now ships with its loss as an oracle-checked number. One
    * truth pass per metric, shared by all tiers of that metric;
    * queries whose candidates miss the whole truth set still emit
    * (left join, hits = 0). Output: (tier, qid, hits, recall_milli).
    */
  def annRecallQuantized(spark: SparkSession, emb: DataFrame,
                         numQueries: Int, k: Int, pqM: Int = 16,
                         pqCw: Int = 256, rpqM: Int = 32, rpqCw: Int = 128,
                         rounds: Int = 2, prefilter: Int = 50,
                         bits: Int = 256,
                         cells: Int = 10, cellRounds: Int = 2,
                         rerankPrefilter: Int = 25): DataFrame = {
    val truthCos = knnExactCosine(emb, numQueries, k)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(eager = false)
    val truthL2 = knnExactL2(emb, numQueries, k)
      .select(col("qid"), col("vec_id"))
      .localCheckpoint(eager = false)
    val qids = emb.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"))
    def leg(tier: String, retrieved: DataFrame, truth: DataFrame): DataFrame = {
      val hits = retrieved.select(col("qid"), col("vec_id"))
        .join(truth, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("qid"), "left")
        .select(lit(tier).as("tier"), col("qid"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (lit(1000L) * coalesce(col("h"), lit(0L)) / lit(k))
            .cast("long").as("recall_milli"))
    }
    Seq(
      leg("ivfpq", annIvfPq(spark, emb, numQueries, k, pqM, probes = 2,
        cw = pqCw, rounds = rounds, cells = cells, cellRounds = cellRounds),
        truthL2),
      // the two-stage serving tier (r13): ADC shortlist + exact
      // re-rank — the audit row that shows the re-rank recovering the
      // raw-ADC tier's quantization loss up to the coarse-probe ceiling
      leg("ivfpq_rr", annIvfPqRerank(spark, emb, numQueries, k,
        rerankPrefilter, pqM, probes = 2, cw = pqCw, rounds = rounds,
        cells = cells, cellRounds = cellRounds), truthL2),
      leg("pq", annPq(spark, emb, numQueries, k, pqM, cw = pqCw,
        rounds = rounds), truthL2),
      leg("rpq", annIvfRpq(spark, emb, numQueries, k, rpqM, rpqCw,
        probes = 2, rounds = rounds, cells = cells,
        cellRounds = cellRounds), truthL2),
      leg("srp", annSrpRerank(emb, numQueries, k, prefilter, bits), truthCos)
    ).reduce(_ unionByName _)
  }

  /** Closest pairs within each label partition by quantized cosine —
    * embedding-space near-duplicate detection shaped like an IVF probe:
    * label = coarse cluster, pairs only form inside a cluster, so the
    * join is partition-local after one hash shuffle on `label` (never
    * all-pairs across the corpus).
    */
  /** Quantized cosine of every intra-label pair `(label, id_a, id_b,
    * cos)` with `id_a < id_b` — the shared scaffolding of per-label
    * nearest pairs AND embedding near-dup dedup. Each vector's
    * quantized squared norm is precomputed once, so the pair join
    * evaluates ONE dim-wide dot product per pair instead of three
    * (same integers, so the cosine is bit-identical either way). One
    * hash shuffle on `label`; pairs never form across labels. */
  def pairCosinesPerLabel(emb: DataFrame, scale: Int): DataFrame = {
    val withNorm = emb.select(col("label"), col("vec_id"), col("embedding"),
      normSqQuantized(col("embedding"), scale).as("nsq"))
    val a = withNorm.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("nsq").as("na"))
    val b = withNorm.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("nsq").as("nb"))
    a.join(b, "label").filter(col("id_a") < col("id_b"))
      .select(col("label"), col("id_a"), col("id_b"),
        (dotQuantized(col("ea"), col("eb"), scale).cast("double") /
          (sqrt(col("na").cast("double")) *
            sqrt(col("nb").cast("double")))).as("cos"))
  }

  def nearestPairsPerLabel(emb: DataFrame, pairsPerLabel: Int): DataFrame = {
    val w = Window.partitionBy("label").orderBy(col("cos").desc, col("id_a"), col("id_b"))
    pairCosinesPerLabel(emb, 100)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= pairsPerLabel)
  }

  /** Quantized Gram matrix XᵀX of the embedding corpus (upper triangle
    * — it is symmetric): entry (di, dj) = Σ_vec q_di·q_dj over
    * floor(×scale) integer components, so partition/summation order
    * cannot change a single bit. The Gram/covariance matrix is the
    * dense-linear-algebra step PCA/whitening pipelines run over an
    * embedding corpus, and in coordinate form it is exactly the
    * engine's matmul shape (contract on vec_id, sum products).
    *
    * Scale design: partition-local dense outer-product accumulation
    * (the map-side partial-block fold of
    * [[graft.operators.MatrixOps.multiplyBlocked]]) — each task folds
    * its vectors into ONE dim×dim long accumulator and
    * emits dim·(dim+1)/2 upper-triangle partials, so shuffle input is
    * partitions·dim²/2 rows regardless of corpus size. The declarative
    * alternative (posexplode + self-join on vec_id) moves N·dim²/2
    * joined rows — a ~dim× per-row overhead per multiply-add that
    * dominates CPU at the 100 TB target.
    *
    * Magnitudes: |q| ≤ scale, so each product is ≤ scale² and a
    * billion-vector corpus stays within signed-64 range at the default
    * scale (10⁶ · 10⁹ = 10¹⁵ ≪ 2⁶³). */
  def gramMatrix(emb: DataFrame, scale: Int = 1000): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // null embeddings are a data-quality glitch, not a shape error:
    // drop them like the pre-r4 posexplode plan silently did (explode
    // skips null arrays) rather than NPE-ing the whole job on
    // `e.length`; RAGGED arrays stay a hard require below — mixing
    // dims corrupts the accumulator rather than failing loudly
    emb.select(col("embedding")).filter(col("embedding").isNotNull)
      .as[Array[Float]]
      .mapPartitions { it =>
        var acc: Array[Long] = null
        var dim = 0
        while (it.hasNext) {
          val e = it.next()
          if (acc == null) { dim = e.length; acc = new Array[Long](dim * dim) }
          require(e.length == dim, s"ragged embedding: ${e.length} != $dim")
          val q = new Array[Long](dim)
          var i = 0
          while (i < dim) {
            // engine-exact quantization: floor over the float→double
            // widening, identical to FLOOR(CAST(x AS DOUBLE) * scale)
            q(i) = math.floor(e(i).toDouble * scale).toLong
            i += 1
          }
          i = 0
          while (i < dim) {
            val qi = q(i)
            val row = i * dim
            var j = i
            while (j < dim) { acc(row + j) += qi * q(j); j += 1 }
            i += 1
          }
        }
        if (acc == null) Iterator.empty
        else Iterator.range(0, dim).flatMap { i =>
          Iterator.range(i, dim).map { j =>
            ((i + 1).toLong, (j + 1).toLong, acc(i * dim + j))
          }
        }
      }
      .toDF("di", "dj", "gram")
      .groupBy("di", "dj").agg(sum("gram").as("gram"))
  }

  /** Dominant-eigenvector power iteration on the quantized Gram matrix —
    * the first PCA direction of the embedding corpus, the step a
    * whitening/compression pipeline runs after [[gramMatrix]]. Each
    * round is one coordinate MATVEC (join on the contraction index +
    * grouped sum — the engine's matmul shape at 64×64 · 64×1) followed
    * by L∞ normalization in pure integer arithmetic: v′ =
    * (u·vecScale) div max|u| — Spark's `div` and DuckDB's `//` both
    * truncate toward zero (verified on negatives), so the rescale is
    * engine-exact with no IEEE step anywhere. Rounds unroll
    * declaratively (the 1-row max broadcasts into the rescale), so the
    * whole iteration is ONE plan with no driver-side loop state; the
    * Gram relation materializes once (dim² rows) and every round reuses
    * it.
    *
    * Magnitudes: |gram| ≤ N·scale², so |u| ≤ dim·N·scale²·vecScale and
    * the rescale multiplies by vecScale again — at the defaults
    * (dim 64, scale 10³, vecScale 10³) a corpus of up to ~10⁸ vectors
    * stays inside signed-64. Convergence: max|v| = vecScale by
    * construction each round; the direction stabilizes in O(log gap)
    * rounds like any power method. */
  def gramPowerIteration(emb: DataFrame, dims: Int = 64,
                         scale: Int = 1000): DataFrame = {
    val rounds = 3
    val vecScale = 1000L
    val upper = gramMatrix(emb, scale)
    // full symmetric coordinate form from the upper triangle
    // lazy: the Gram subtree materializes on the first action, not at
    // query declaration (plan audits/explain must stay job-free)
    val full = upper
      .unionByName(upper.filter(col("di") < col("dj"))
        .select(col("dj").as("di"), col("di").as("dj"), col("gram")))
      .localCheckpoint(eager = false)
    var v = emb.sparkSession.range(1, dims + 1)
      .select(col("id").as("d"), lit(vecScale).as("val"))
    for (_ <- 1 to rounds) {
      val u = full.join(v.withColumnRenamed("d", "dj"), "dj")
        .groupBy(col("di").as("d"))
        .agg(sum(col("gram") * col("val")).as("u"))
      val m = u.agg(max(abs(col("u"))).as("m"))
      v = u.crossJoin(broadcast(m))
        .select(col("d"), expr(s"(u * $vecScale) div m").as("val"))
    }
    v.orderBy("d")
  }

  /** Per-label quantized centroids via the typed [[graft.functions.QuantizedCentroid]]
    * Aggregator — the IVF coarse quantizer's codebook. Integer dimension
    * sums (count kept separately) so partition merge order cannot change
    * the result.
    */
  def labelCentroids(spark: SparkSession, emb: DataFrame,
                     dim: Int = 64, scale: Int = 1000): DataFrame = {
    import spark.implicits._
    val agg = new graft.functions.QuantizedCentroid(dim, scale).toColumn
    emb.select(col("label"), col("embedding")).as[(Int, Array[Float])]
      .groupByKey(_._1).mapValues(_._2).agg(agg)
      .map { case (label, (sums, n)) => (label, sums, n) }
      .toDF("label", "sum_q", "n")
  }

  /** One k-means Lloyd round in exact integer space, seeded from the
    * per-label centroids: every vector is reassigned to its nearest
    * centroid by squared Euclidean distance against the TRUNCATED
    * integer centroid (cq_d = sum_q_d div n — Spark `div` and DuckDB
    * `//` both truncate toward zero, so the centroid, every distance,
    * and the argmin tie-break (cluster asc) are engine-exact with no
    * IEEE step), then per-cluster integer dimension sums + counts are
    * re-aggregated — the update half of the round, in the same
    * (sum, n) representation [[labelCentroids]] uses, so rounds chain.
    *
    * Plan shape: codebook broadcasts (k·dim longs), assignment is a
    * broadcast cross-probe + per-vector rank-1 window
    * (WindowGroupLimit), the update is one hash aggregation over
    * exploded dims. Nothing shuffles except the final 640-row
    * aggregate — the standard distributed-k-means shape where only
    * centroids ever cross the wire. */
  def kmeansRound(spark: SparkSession, emb: DataFrame, dim: Int = 64,
                  scale: Int = 1000): DataFrame =
    lloydStep(emb,
      labelCentroids(spark, emb, dim, scale)
        .select(col("label").as("cluster"),
          expr("transform(sum_q, s -> s div n)").as("cq")),
      scale)

  /** A further Lloyd round from a PRIOR round's `(cluster, d, sum_q, n)`
    * output — proof that rounds chain through the (sum, n)
    * representation with no other state. A cluster left empty by a
    * reassignment simply vanishes (the standard empty-cluster drop);
    * both engines agree by construction. */
  def kmeansRoundFrom(emb: DataFrame, prev: DataFrame,
                      scale: Int = 1000): DataFrame =
    lloydStep(emb, bookOfRound(prev), scale)

  /** A Lloyd round's `(cluster, d, sum_q, n)` output re-packed as a
    * broadcast-ready `(cluster, cq: array<long>)` codebook — truncated
    * integer centroids, dims ordered by `d`. The round→book conversion
    * [[kmeansRoundFrom]] and [[lloydBook]] share. */
  private def bookOfRound(round: DataFrame): DataFrame =
    round.select(col("cluster"), col("d"), expr("sum_q div n").as("cqd"))
      .groupBy("cluster")
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("cqd")))),
        s => s.getField("cqd")).as("cq"))

  /** The k-KNOB coarse codebook — `k` Lloyd-trained integer centroids,
    * decoupled from label cardinality. This is the knob that keeps the
    * semantic tier ([[semDedup]] / [[d4Funnel]] / [[protoPrune]])
    * viable at 100 TB: intra-cluster candidate mass is O(N²/k), so k
    * must scale with N — the SemDeDup paper runs 10⁴-10⁵ clusters —
    * while the label-derived book ([[coarseBook]]) pins k = #labels.
    *
    * Deterministic end to end, so an external engine can replay the
    * whole build: seeds are the `k` LOWEST-vec_id vectors quantized at
    * the codebook scale (cluster id = the seed's vec_id — no rank
    * relabeling), then `rounds` exact-integer Lloyd rounds
    * ([[lloydStep]]'s quantizer: squared L2 against the truncated
    * centroid, tie-break cluster asc; update = per-cluster `sum div n`).
    * A cluster left empty by a reassignment vanishes (standard
    * empty-cluster drop) — both engines agree by construction.
    *
    * Scale shape: seeding is a top-k by vec_id (partition-local top-k +
    * merge — no global sort), each round broadcasts the k·dim-long book
    * and shuffles only the k·dim-row update aggregate; the corpus never
    * shuffles. Returns `(cluster, cq: array<long>)`, the
    * [[assignToBook]] codebook contract. */
  def lloydBook(spark: SparkSession, emb: DataFrame, k: Int,
                rounds: Int = 1): DataFrame = {
    require(k >= 1, s"codebook size must be positive: $k")
    require(rounds >= 1, s"lloyd rounds must be positive: $rounds")
    // the finished book is consumed by several subtrees of every
    // semantic query (assignment, pair stage, funnel counts) AND by
    // every query of the semantic family in a session (semdedup,
    // components, proto_prune, d4): a lazy local checkpoint pins the
    // k·dim-long result, and the session memo shares the ONE pinned
    // build across the family — each bench/verify query paying the
    // rounds-deep Lloyd chain again was the r7 semantic-family cost
    // (~2× per query). On a cluster: `checkpoint` to reliable
    // storage, or persist the book as the lake's offline artifact —
    // the memo is exactly that artifact's session-local stand-in.
    RelationStats.memoRelation(emb, s"lloydBook:$k:$rounds") {
      val seeds = emb.orderBy("vec_id").limit(k)
        .select(col("vec_id").as("cluster"),
          transform(col("embedding"),
            x => floor(x.cast("double") * Scale).cast("long")).as("cq"))
      (1 to rounds).foldLeft(seeds: DataFrame)((book, _) =>
        bookOfRound(lloydStep(emb, book, Scale)))
        .localCheckpoint(eager = false)
    }
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding corpus with the coarse
    * k-means codebook, then inside each cluster drop every vector that
    * has a lower-id near-twin at/above the cosine threshold. The
    * clustering is the paper's core scale trick — the pair stage costs
    * O(Σ|cluster|²) instead of O(N²) — the same blocking idea as the
    * LSH/label tiers, but with learned blocks in embedding space.
    *
    * Determinism: assignment reuses [[kmeansRound]]'s exact integer
    * quantizer (squared distance to the TRUNCATED integer centroid,
    * tie-break cluster asc); the near-twin verdict compares SQUARED
    * quantized cosine in integers — dot > 0 ∧ 10⁴·dot² ≥ t²·|a|²·|b|²
    * ⟺ cos ≥ t/100 — so no IEEE step (sqrt/divide) anywhere in a
    * keep/drop decision. Magnitudes: scale 100 on unit-ish embeddings
    * keeps 10⁴·dot² under 2⁵⁵ at dim 64.
    *
    * Scale shape: the codebook is k·dim longs, broadcast; assignment is
    * a broadcast cross-probe + rank-1 window; the pair join shuffles
    * ONCE on cluster id and never crosses clusters; the verdict joins
    * back vec_id-wise (hash join). Output one row per vector —
    * kept = 1, or kept = 0 with the lowest-id twin that evicts it
    * (dup_of = -1 sentinel when kept, so the relation stays null-free
    * for downstream anti-joins). */
  def semDedup(spark: SparkSession, emb: DataFrame,
               thresholdHundredths: Int, dim: Int = 64,
               k: Int = 0, rounds: Int = 1): DataFrame =
    semDedupVerdicts(spark, emb, thresholdHundredths, dim, k, rounds)
      .select("vec_id", "cluster", "kept", "dup_of")

  /** [[semDedup]] plus the assignment's centroid distance on every row
    * — the relation [[d4Funnel]] ranks survivors on. */
  private def semDedupVerdicts(spark: SparkSession, emb: DataFrame,
                               thresholdHundredths: Int, dim: Int,
                               k: Int, rounds: Int): DataFrame = {
    val assigned = semDedupAssignments(spark, emb, dim, k, rounds)
    val dup = semDedupQualifyingPairs(assigned, emb, thresholdHundredths)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("dup_of"))
    assigned.select("vec_id", "cluster", "dist")
      .join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("dist"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** Every qualifying near-twin pair `(cluster, id_a < id_b)` of the
    * assigned corpus — the shared pair stage of [[semDedup]] (which
    * min-aggregates it per id_b) and [[semDedupComponents]] (which
    * closes it transitively). Pair tier at the dedup_embedding
    * quantization (scale 100); each vector's squared norm precomputed
    * once → ONE dot per pair. */
  private def semDedupQualifyingPairs(assigned: DataFrame, emb: DataFrame,
                                      thresholdHundredths: Int): DataFrame = {
    require(thresholdHundredths >= 1 && thresholdHundredths <= 100,
      s"cosine threshold must be in (0, 1] hundredths: $thresholdHundredths")
    val t2 = thresholdHundredths.toLong * thresholdHundredths
    val v = assigned.join(
      emb.select(col("vec_id"), col("embedding"),
        normSqQuantized(col("embedding"), 100).as("nsq")), "vec_id")
    val a = v.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("ea"), col("nsq").as("na"))
    val b = v.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("eb"), col("nsq").as("nb"))
    a.join(b, "cluster").filter(col("id_a") < col("id_b"))
      .withColumn("dot", dotQuantized(col("ea"), col("eb"), 100))
      .filter(col("dot") > 0 &&
        lit(10000L) * col("dot") * col("dot") >= lit(t2) * col("na") * col("nb"))
      .select("cluster", "id_a", "id_b")
  }

  /** Transitive SEMANTIC duplicate clusters — [[semDedup]]'s pairs are
    * only evidence; the unit of removal is the transitive component
    * (A≈B, B≈C ⇒ one of {A,B,C} even when A and C never qualify as a
    * pair). Exactly [[graft.operators.Dedup.jaccardComponents]]'s
    * pairs→components step lifted to embedding space: the qualifying
    * pair relation feeds the shared union-find-seeded components
    * ([[graft.operators.Dedup.connectedComponents]] — one partition-
    * local union-find, propagation rounds only when the seed is not
    * exact). Returns
    * `(vec_id, component)` for every vector in at least one pair;
    * blocking guarantees components never span clusters. */
  def semDedupComponents(spark: SparkSession, emb: DataFrame,
                         thresholdHundredths: Int, dim: Int = 64,
                         k: Int = 0, rounds: Int = 1): DataFrame = {
    val pairs = semDedupQualifyingPairs(
      semDedupAssignments(spark, emb, dim, k, rounds), emb,
      thresholdHundredths)
      .select(col("id_a").as("d1"), col("id_b").as("d2"))
    Dedup.connectedComponents(pairs)
      .select(col("doc_id").as("vec_id"), col("component"))
  }

  /** The composed D4 pipeline (Tirumala et al. 2023): [[semDedup]]
    * first, then [[protoPrune]]-style prototype pruning among the
    * SURVIVORS — the paper's order (dedup before diversification, so a
    * dropped near-twin can't also occupy a prototype slot). Output is
    * the per-cluster funnel: vectors in, after semantic dedup, after
    * prototype pruning — the stage-count report a curation run logs.
    *
    * Scale shape: the semdedup verdict relation is computed ONCE and
    * feeds both the survivor rank and the funnel counts; the survivor
    * rank is one within-cluster window; every aggregate is
    * cluster-keyed (k rows). Nothing new shuffles beyond the two tiers
    * it composes. */
  def d4Funnel(spark: SparkSession, emb: DataFrame,
               thresholdHundredths: Int, pct: Int, dim: Int = 64,
               k: Int = 0, rounds: Int = 1): DataFrame = {
    require(pct >= 0 && pct <= 100, s"prune percentage out of range: $pct")
    val v = semDedupVerdicts(spark, emb, thresholdHundredths, dim, k, rounds)
      .localCheckpoint(eager = false)
    val surv = v.filter(col("kept") === 1L)
    val sizes = surv.groupBy("cluster").agg(count(lit(1)).as("n_s"))
    val w = Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))
    val afterProto = surv.withColumn("rnk", row_number().over(w))
      .join(broadcast(sizes), "cluster")
      .filter(col("rnk") > expr(s"(n_s * $pct) div 100"))
      .groupBy("cluster").agg(count(lit(1)).as("after_proto"))
    v.groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), sum("kept").as("after_semdedup"))
      .join(afterProto, Seq("cluster"), "left")
      .select(col("cluster"), col("n_vecs"), col("after_semdedup"),
        coalesce(col("after_proto"), lit(0L)).as("after_proto"))
  }

  /** [[semDedup]]'s coarse assignment: every vector to its nearest
    * integer centroid (squared distance to the truncated per-label
    * centroid, tie-break cluster asc — the [[kmeansRound]] quantizer).
    * Keeps the winning distance: [[protoPrune]] ranks on it. */
  def semDedupAssignments(spark: SparkSession, emb: DataFrame,
                          dim: Int = 64, k: Int = 0,
                          rounds: Int = 1): DataFrame =
    // UNPINNED (r19, reverting the r18 final-commit localCheckpoint):
    // the pin was measured a fixture-scale REGRESSION — the driver's
    // r18 row read semdedup 0.274 → 0.427 s, and the r19 paired subset
    // re-measurement confirmed it (semdedup 0.376 → 0.309 s,
    // pipeline_d4 1.376 → 0.811 s unpinned) — because materializing the
    // assignment per invocation costs more than re-running the
    // broadcast cross-probe, whose map-side partial argmin already
    // collapses N·k rows before any exchange. The multi-consumer reuse
    // argument only pays when the subtree dwarfs its output's
    // write+read; here it did not. At 100 TB the assignment persists
    // as the lake's offline artifact (the lloydBook memo pattern), not
    // a per-query checkpoint.
    assignToBook(emb,
      if (k > 0) lloydBook(spark, emb, k, rounds)
      else coarseBook(spark, emb, dim))

  /** The coarse codebook: truncated integer per-label centroids,
    * broadcast-ready `(cluster, cq: array<long>)`. */
  private[graft] def coarseBook(spark: SparkSession, emb: DataFrame,
                         dim: Int): DataFrame =
    labelCentroids(spark, emb, dim)
      .select(col("label").as("cluster"),
        expr("transform(sum_q, s -> s div n)").as("cq"))

  /** Nearest-centroid assignment of `emb` against an EXPLICIT codebook
    * — [[semDedupAgainstCorpus]] assigns a fresh batch to the lake's
    * offline codebook without re-clustering the lake. */
  private[graft] def assignToBook(emb: DataFrame, book: DataFrame): DataFrame = {
    // distance via the native sqdist_q kernel (quantize + diff + square
    // + sum in one codegen loop): the interpreted transform/zip_with
    // formulation paid ~10 µs per (vector, centroid) row — the whole
    // build's cost at real k
    val dists = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(book))
      .select(col("vec_id"), col("cluster"),
        sqDistQuantized(col("embedding"), col("cq"), Scale).as("dist"))
    // argmin as a min-struct hash aggregation, not a rank window (the
    // pqCodesOf idiom): the broadcast cross-probe leaves every vec_id's
    // k rows complete within one partition, so the partial agg
    // collapses them map-side and the exchange moves N rows — a rank
    // window would sort-shuffle all N·k. Lexicographic struct min =
    // (dist asc, cluster asc), the engine-exact tie-break.
    dists.groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.dist").as("dist"))
  }

  /** Incremental SEMANTIC dedup — the batch-vs-corpus twin of
    * [[semDedup]] completing the incremental family (exact digest,
    * simhash, containment → embedding space): drop every batch vector
    * with a corpus near-twin at/above the cosine threshold, keep the
    * genuinely novel ones. Blocking uses the CORPUS codebook for both
    * sides — the codebook is the lake's offline artifact; a fresh crawl
    * is assigned to it, never re-clusters it — so batch-corpus pairs
    * only form inside a shared cluster, and the verdict is the same
    * integer squared-cosine test as [[semDedup]].
    *
    * Scale shape: codebook broadcast; ONE hash shuffle on cluster for
    * the batch×corpus pair join (never batch×batch — ingestion dedup
    * doesn't judge the batch against itself); matched ids aggregate to
    * the batch's size; survivors via left_anti. At 100 TB the corpus
    * side persists bucketed by cluster like the digest lakes. */
  def semDedupAgainstCorpus(spark: SparkSession, batch: DataFrame,
                            corpus: DataFrame, thresholdHundredths: Int,
                            dim: Int = 64): DataFrame = {
    require(thresholdHundredths >= 1 && thresholdHundredths <= 100,
      s"cosine threshold must be in (0, 1] hundredths: $thresholdHundredths")
    val t2 = thresholdHundredths.toLong * thresholdHundredths
    val book = coarseBook(spark, corpus, dim)
    // UNPINNED (r19, reverting the r18 final-commit localCheckpoint):
    // a lazy localCheckpoint here calls .rdd at CONSTRUCTION time,
    // which materializes the subtree's broadcast exchanges — declaring
    // the query submitted 5 jobs (PlanAuditSpec's no-driver-action
    // audit caught it), and the paired r19 subset measurement read the
    // pinned dedup_incremental_embedding SLOWER (2.365 s vs unpinned).
    // Both consumers re-run the batch×book cross-probe; its map-side
    // argmin keeps that re-run cheaper than a checkpoint round-trip.
    val bAsg = assignToBook(batch, book)
      .select(col("vec_id"), col("cluster"))
    val b = bAsg
      .join(batch.select(col("vec_id"), col("embedding").as("eb"),
        normSqQuantized(col("embedding"), 100).as("nb")), "vec_id")
    val c = assignToBook(corpus, book)
      .select(col("vec_id").as("id_c"), col("cluster"))
      .join(corpus.select(col("vec_id").as("id_c"),
        col("embedding").as("ec"),
        normSqQuantized(col("embedding"), 100).as("nc")), "id_c")
    val matched = b.join(c, "cluster")
      .withColumn("dot", dotQuantized(col("eb"), col("ec"), 100))
      .filter(col("dot") > 0 &&
        lit(10000L) * col("dot") * col("dot") >= lit(t2) * col("nb") * col("nc"))
      .select("vec_id").distinct()
    bAsg.join(matched, Seq("vec_id"), "left_anti")
  }

  /** SSL-prototype pruning (Sorscher et al. 2022, "Beyond neural
    * scaling laws"; the stage D4 — Tirumala et al. 2023 — runs AFTER
    * [[semDedup]]): inside each cluster drop the most PROTOTYPICAL
    * vectors — the (n·pct) div 100 closest to the centroid — keeping
    * the diverse tail that carries the most marginal information per
    * the pruning scaling law. Distances are the assignment's exact
    * integer squared distances, rank ties break on vec_id, and the
    * drop count is an integer floor — engine-exact end to end.
    *
    * Scale shape: assignment as in [[semDedup]] (broadcast codebook +
    * rank-1 window); the prototype rank is ONE window over the cluster
    * partition (dist asc, vec_id) — a distributed within-cluster sort,
    * the unavoidable cost of an exact per-cluster quantile cut;
    * cluster sizes ride back on a broadcast join. No pair join at all,
    * so this tier stays LINEAR where [[semDedup]]'s is
    * cluster-quadratic. */
  def protoPrune(spark: SparkSession, emb: DataFrame, pct: Int,
                 dim: Int = 64, k: Int = 0, rounds: Int = 1): DataFrame = {
    require(pct >= 0 && pct <= 100, s"prune percentage out of range: $pct")
    val asg = semDedupAssignments(spark, emb, dim, k, rounds)
    val sizes = asg.groupBy("cluster").agg(count(lit(1)).as("n_c"))
    val w = Window.partitionBy("cluster").orderBy(col("dist"), col("vec_id"))
    asg.withColumn("rnk", row_number().over(w).cast("long"))
      .join(broadcast(sizes), "cluster")
      .select(col("vec_id"), col("cluster"), col("dist"), col("rnk"),
        when(col("rnk") > expr(s"(n_c * $pct) div 100"), 1L)
          .otherwise(0L).as("kept"))
  }

  /** [[semDedup]]'s pre-verdict candidate relation — every intra-cluster
    * (id_a < id_b) pair the verdict dot must score. The denominator a
    * scale smoke judges the pair stage's time ratio against. */
  def semDedupCandidates(spark: SparkSession, emb: DataFrame,
                         k: Int = 0, rounds: Int = 1): DataFrame = {
    val assigned = semDedupAssignments(spark, emb, 64, k, rounds)
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"))
    a.join(b, "cluster").filter(col("id_a") < col("id_b"))
  }

  /** [[semDedupAgainstCorpus]]'s pre-verdict candidate relation — every
    * same-cluster batch×corpus pair the verdict dot must score. */
  def semDedupIncrementalCandidates(spark: SparkSession, batch: DataFrame,
                                    corpus: DataFrame): DataFrame = {
    val book = coarseBook(spark, corpus, 64)
    assignToBook(batch, book).select(col("vec_id"), col("cluster"))
      .join(assignToBook(corpus, book)
        .select(col("vec_id").as("id_c"), col("cluster")), "cluster")
  }

  /** Assignment + update against a `(cluster, cq: array<long>)`
    * codebook (shared body of the Lloyd rounds). */
  private def lloydStep(emb: DataFrame, cq: DataFrame,
                        scale: Int): DataFrame = {
    val q = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
    // the cross-probe and the argmin stay SKINNY — (vec_id, cluster,
    // dist) only. Carrying the quantized vector through the N·k-row
    // argmin was measured ~5× slower: the array field pushes the
    // min-struct off the fixed-width codegen fast path and every
    // buffer update copies ~520 B. The update re-acquires q by one
    // vec_id join instead (per round, that moves the quantized corpus
    // once — the standard distributed-Lloyd shuffle budget).
    val dists = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cq))
      .select(col("vec_id"), col("cluster"),
        sqDistQuantized(col("embedding"), col("cq"), scale).as("dist"))
    // argmin via min-struct aggregation (see [[assignToBook]])
    val assigned = dists.groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cluster"))).as("best"))
      .select(col("vec_id"), col("best.cluster").as("cluster"))
    assigned.join(q, "vec_id")
      .select(col("cluster"), posexplode(col("q")).as(Seq("d0", "qd")))
      .groupBy(col("cluster"), (col("d0") + 1).cast("long").as("d"))
      .agg(sum("qd").as("sum_q"), count(lit(1)).as("n"))
  }

  /** Quantized per-subspace slices of every vector: (vec_id, subspace,
    * vs) with `vs` the subspace's `dim / m` quantized dims — built
    * row-locally (transform + slice over the quantized array; no
    * shuffle, no window). */
  private def quantizedSubvectors(emb: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m ($m) must divide dim ($dim)")
    val sub = dim / m
    emb.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * Scale).cast("long")).as("q"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), s -> slice(q, s * $sub + 1, $sub))"))
        .as(Seq("subspace", "vs")))
  }

  /** Exact integer squared-L2 of every (vector-subspace, codeword)
    * pair — the assignment relation all PQ entry points share. Native
    * [[graft.functions.SqDistLong]] kernel: the zip_with+aggregate
    * form is CodegenFallback, and at trained-book size (N·m·cw rows —
    * cw in the hundreds, the production codeword count) interpreted
    * lambdas would dominate the whole build. */
  private def subspaceDists(vsub: DataFrame, book: DataFrame): DataFrame =
    vsub.join(broadcast(book), "subspace")
      .select(col("vec_id"), col("subspace"), col("label"),
        sqDistLong(noNullElements(col("vs")),
          noNullElements(col("cs"))).as("dist"))

  /** Per-subspace Lloyd-TRAINED codebook over any `(vec_id, subspace,
    * vs: array<long>)` subvector relation — the production PQ trainer
    * (Jégou et al. 2011 §II: an independent k-means per subspace),
    * replacing the r10 label-centroid stand-in whose measured recall@5
    * was 160 milli (`ann_recall_quantized`, VERDICT r10): label
    * centroids all sit near the corpus mean in every subspace, so the
    * codes collapsed to one point. The knob sweep that picked the
    * declared (m, cw, rounds) is committed as ANN_QUANT_PROBE_r11.json.
    *
    * Deterministic end to end, the [[lloydBook]] convention: seeds are
    * the `cw` lowest-vec_id subvectors (code id = seed vec_id, no rank
    * relabeling), then `rounds` exact-integer Lloyd rounds — assign
    * every subvector by squared L2 to the truncated codeword
    * (tie-break code asc, the [[pqCodesOf]] packed argmin), update =
    * per-dim `sum div n`. A codeword emptied by a reassignment
    * vanishes (standard drop); both engines agree by construction.
    *
    * Scale shape: the book is ≤ m·cw codewords of dim/m longs —
    * broadcast-trivial at production size (256·16·4 longs); each
    * round's assignment probes the packed per-subspace table with
    * the fused `pq_argmin` kernel — the round's N·m·cw candidate
    * relation never materializes — and the update is one hash
    * aggregation over exploded dims. The corpus never shuffles wider
    * than (vec_id, subspace) rows. */
  private def trainedSubspaceBook(vsub: DataFrame, cw: Int,
                                  rounds: Int): DataFrame = {
    require(cw >= 1, s"codewords per subspace must be positive: $cw")
    require(cw <= ArgMinPack,
      s"codeword ids must pack under 2^20 ([[ArgMinPack]]): $cw")
    require(rounds >= 1, s"lloyd rounds must be positive: $rounds")
    val seeds = vsub.filter(col("vec_id") < cw)
      .select(col("vec_id").as("label"), col("subspace"), col("vs").as("cs"))
    (1 to rounds).foldLeft(seeds: DataFrame) { (book, _) =>
      // fused-kernel assignment ([[pqCodesOf]]'s argmin): the round's
      // N·m·cw candidate relation never materializes
      val asg = vsub.join(broadcast(packedBooks(book)), "subspace")
        .select(col("vec_id"), col("subspace"),
          (pqArgMinCode(noNullElements(col("vs")), col("books"))
            % ArgMinPack).as("code"))
      asg.join(vsub, Seq("vec_id", "subspace"))
        .select(col("code"), col("subspace"),
          posexplode(col("vs")).as(Seq("d0", "v")))
        .groupBy("code", "subspace", "d0")
        .agg(sum("v").as("sv"), count(lit(1)).as("n"))
        .groupBy(col("code").as("label"), col("subspace"))
        .agg(expr(
          "transform(array_sort(collect_list(struct(d0, sv div n as c))), s -> s.c)")
          .as("cs"))
    }
  }

  /** The trained PQ codebook of the raw quantized corpus, pinned and
    * session-memoized (the codebook is the lake's offline artifact —
    * every serving query of the family shares ONE build, exactly the
    * [[lloydBook]] memo rule). */
  private[graft] def pqCodebookTrained(emb: DataFrame, m: Int, cw: Int,
                                       rounds: Int, dim: Int): DataFrame =
    RelationStats.memoRelation(emb, s"pqBook:$m:$cw:$rounds:$dim") {
      // the subvector pin feeds ×cw broadcast fan-out per training
      // round with no re-exchange — width-pinned, not plain-pinned
      // (RelationStats.pinnedWide: 10× measured, RPQ_COST_PROBE_r11)
      trainedSubspaceBook(
        RelationStats.pinnedWide(
          quantizedSubvectors(emb, m, dim), col("vec_id")),
        cw, rounds)
        .localCheckpoint(eager = false)
    }

  /** The corpus code relation against the trained book — (vec_id,
    * subspace, code, dist), memoized beside the book (ann_pq, both
    * IVF-ADC probes, and the recall audit all read the same codes). */
  private def pqCodesMemo(emb: DataFrame, m: Int, cw: Int, rounds: Int,
                          dim: Int): DataFrame =
    RelationStats.memoRelation(emb, s"pqCodes:$m:$cw:$rounds:$dim") {
      RelationStats.pinnedWide(
        pqCodesOf(quantizedSubvectors(emb, m, dim),
          pqCodebookTrained(emb, m, cw, rounds, dim)),
        col("vec_id"))
    }

  /** Argmin pack width: (dist asc, label asc) lexicographic equals
    * numeric min of `dist·2²⁰ + label` while 0 ≤ label < 2²⁰ and
    * 0 ≤ dist < 2⁴³ ([[graft.functions.PqArgMinCode.Pack]], the
    * kernel's own contract — referenced, not redeclared, so the
    * packing and unpacking sites cannot drift). Bounds: labels are
    * codeword ids seeded from `vec_id < cw` ([[trainedSubspaceBook]]
    * requires cw ≤ 2²⁰); dist is a subspace squared-L2 of
    * scale-quantized values — ≤ dim·(2·scale·max|x|)², under 2³⁰ for
    * unit-ish embeddings at scale 1000, 8000× headroom. */
  private val ArgMinPack = graft.functions.PqArgMinCode.Pack

  /** Each subspace's whole codeword table as ONE broadcast row —
    * (subspace, books: array<struct<label, cs>>), the fused-argmin
    * kernel's right-hand input (label-sorted for a deterministic
    * layout; the min is order-independent). */
  private def packedBooks(book: DataFrame): DataFrame =
    book.groupBy("subspace")
      .agg(array_sort(collect_list(struct(col("label"), col("cs"))))
        .as("books"))

  private def pqCodesOf(vsub: DataFrame, book: DataFrame): DataFrame =
    vsub.join(broadcast(packedBooks(book)), "subspace")
      // FUSED argmin (native pq_argmin kernel): the subspace's whole
      // codeword table rides in as one broadcast row and the nearest
      // codeword resolves in-register per (vector, subspace) row —
      // the explode-join-aggregate form materialized N·m·cw joined
      // rows (256× the codes relation at the declared cw) just to
      // collapse them again; same integers, same (dist asc, label
      // asc) tie-break ([[ArgMinPack]]), no aggregate at all
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        pqArgMinCode(noNullElements(col("vs")), col("books")).as("best"))
      .select(col("vec_id"), col("subspace"),
        (col("best") % ArgMinPack).as("code"),
        expr(s"best div $ArgMinPack").as("dist"))

  /** Frozen-codebook PQ encode of an INCREMENTAL batch — the ingest
    * path of a PQ index at 100 TB: new vectors are coded against the
    * CORPUS-trained per-subspace books ([[pqCodebookTrained]] over
    * `corpus` only) without retraining — codebooks are versioned
    * offline artifacts, and retraining on every ingest would re-code
    * the whole store (the same frozen-reference convention as every
    * other incremental tier: the batch is judged against the corpus'
    * artifacts, never the other way).
    *
    * Plan shape: the corpus-trained book is the memoized offline
    * build (broadcast-trivial, m·cw codewords); the batch quantizes +
    * slices row-locally and assigns by the packed-long map-side
    * argmin ([[pqCodesOf]]) — ONE pass over the batch, and nothing
    * reads the corpus at encode time. Output (vec_id, subspace, code,
    * dist), the [[pqCodes]] contract. */
  def pqIncrementalCodes(batch: DataFrame, corpus: DataFrame, m: Int = 8,
                         dim: Int = 64, cw: Int = 64,
                         rounds: Int = 2): DataFrame =
    pqCodesOf(quantizedSubvectors(batch, m, dim),
      pqCodebookTrained(corpus, m, cw, rounds, dim))

  /** The ADC family's coarse cell assignment — every vector to its
    * nearest [[lloydBook]] centroid, memoized like the book itself
    * (the posting-list side of the IVF index; at 100 TB the corpus
    * persists bucketed by this key). The LABEL partition the r10 tiers
    * coarse-pruned with is gone: its measured ceiling — exact rerank
    * inside the probed label cells — was 360 milli recall@5 at
    * probes 2 (data labels simply don't align with L2/cosine
    * neighborhoods on this corpus), while the Lloyd cells measure 880
    * at probe 1 (ANN_QUANT_PROBE_r11.json, `ivf_exact` legs). */
  private[graft] def ivfAssignments(spark: SparkSession, emb: DataFrame,
                                    cells: Int, cellRounds: Int): DataFrame =
    RelationStats.memoRelation(emb, s"ivfAsg:$cells:$cellRounds") {
      RelationStats.pinnedWide(
        assignToBook(emb, lloydBook(spark, emb, cells, cellRounds))
          .select(col("vec_id"), col("cluster").as("cell")),
        col("vec_id"))
    }

  /** Each query's `probes` best coarse cells by exact integer
    * squared-L2 to the Lloyd centroid (tie-break cell asc) — the
    * serving-metric cell rank the whole ADC family probes with.
    * Returns (qid, qe, cell). */
  private def probedCells(spark: SparkSession, emb: DataFrame,
                          numQueries: Int, probes: Int, cells: Int,
                          cellRounds: Int): DataFrame = {
    val book = broadcast(lloydBook(spark, emb, cells, cellRounds)
      .select(col("cluster").as("cell"), col("cq")))
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val scored = queries.crossJoin(book)
      .select(col("qid"), col("qe"), col("cell"),
        sqDistQuantized(col("qe"), col("cq"), Scale).as("cdist"))
    val w = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    scored.withColumn("crn", row_number().over(w))
      .filter(col("crn") <= probes)
      .select(col("qid"), col("qe"), col("cell"))
  }

  /** Product-quantization codes — the compression step of an IVF-PQ
    * index (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"): each vector splits into `m` subvectors and each
    * subvector is assigned its nearest codeword of the
    * [[trainedSubspaceBook]] (per-subspace Lloyd k-means, `cw`
    * codewords, exact integer squared-L2). Output: (vec_id, subspace,
    * code, dist) — m small ints per vector in place of dim floats, the
    * representation a 100 TB embedding store actually keeps in memory.
    *
    * Plan shape: quantize + slice row-locally, broadcast the packed
    * per-subspace codeword tables, resolve the argmin in-register with
    * the fused native `pq_argmin` kernel — no aggregate, and the
    * N·m·cw candidate relation never materializes. The corpus never
    * shuffles wider than (vec_id, subspace) rows. */
  def pqCodes(spark: SparkSession, emb: DataFrame, m: Int = 8,
              dim: Int = 64, cw: Int = 64,
              rounds: Int = 2): DataFrame =
    // the assignment subtree stays VISIBLE (only the trained book is
    // memo-checkpointed): the declared relation's plan shape — the
    // broadcast packed-book probe + fused pq_argmin kernel — is
    // PlanAuditSpec-asserted, and a memoized checkpoint here would
    // hide it behind a Scan ExistingRDD
    pqCodesOf(quantizedSubvectors(emb, m, dim),
      pqCodebookTrained(emb, m, cw, rounds, dim))

  /** ANN search over PQ codes by asymmetric distance computation (ADC):
    * each query precomputes its exact squared-L2 to every codeword per
    * subspace (the m·cw distance table — tiny, broadcast), and a
    * database vector's approximate distance is the SUM of table lookups
    * selected by its stored codes — the query never touches raw
    * database vectors. Top-k per query by (adist asc, vec_id asc),
    * engine-exact integers end to end.
    *
    * Plan shape: the codes relation (N·m skinny rows) joins the
    * broadcast distance table on (subspace, code) and one hash
    * aggregation sums the m lookups per (query, vec) — map-side partials
    * apply; the only sort is the final per-query top-k window,
    * WindowGroupLimit-pruned. */
  def annPq(spark: SparkSession, emb: DataFrame, numQueries: Int = 5,
            k: Int = 10, m: Int = 8, dim: Int = 64,
            cw: Int = 64, rounds: Int = 2): DataFrame = {
    val book = pqCodebookTrained(emb, m, cw, rounds, dim)
    val codes = pqCodesMemo(emb, m, cw, rounds, dim)
      .select("vec_id", "subspace", "code")
    val qtab = subspaceDists(
        quantizedSubvectors(emb.filter(col("vec_id") < numQueries), m, dim),
        book)
      .select(col("vec_id").as("qid"), col("subspace").cast("long").as("subspace"),
        col("label").cast("long").as("code"), col("dist").as("qdist"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    codes.join(broadcast(qtab), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy("qid", "vec_id").agg(sum("qdist").as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** IVF-PQ search — the composed 100 TB serving path (coarse prune,
    * then code-based rank): each query probes its `probes` nearest
    * Lloyd cells by exact query-to-centroid squared-L2 (the serving
    * metric — [[probedCells]]) and reranks those cells' members by ADC
    * over their stored PQ codes ([[annPq]]'s distance table) instead
    * of touching raw vectors — the index serves the whole search from
    * centroids + codes, which is what fits in memory when the vectors
    * themselves are 100 TB.
    *
    * Plan shape: centroids and the per-query code-distance table
    * broadcast; candidates are `probes` cells per query via one
    * equi-join on the memoized cell assignment; the ADC join and sum
    * are candidate-sized. Raw embeddings are read ONLY by the offline
    * coding/codebook passes, never at query time.
    *
    * `probes` is THE serving recall knob (nprobe in every production
    * IVF-PQ deployment): a query near a cell boundary finds its true
    * neighbors in an adjacent cell, and probing P cells trades P×
    * candidates for that recall. */
  def annIvfPq(spark: SparkSession, emb: DataFrame, numQueries: Int,
               k: Int, m: Int = 8, dim: Int = 64,
               probes: Int = 1, cw: Int = 64,
               rounds: Int = 2, cells: Int = 10,
               cellRounds: Int = 2): DataFrame = {
    val book = pqCodebookTrained(emb, m, cw, rounds, dim)
    val codes = pqCodesMemo(emb, m, cw, rounds, dim)
      .select("vec_id", "subspace", "code")
    val qtab = subspaceDists(
        quantizedSubvectors(emb.filter(col("vec_id") < numQueries), m, dim),
        book)
      .select(col("vec_id").as("qid"), col("subspace").cast("long").as("subspace"),
        col("label").cast("long").as("code"), col("dist").as("qdist"))
    val probed = probedCells(spark, emb, numQueries, probes, cells,
      cellRounds).select(col("qid"), col("cell"))
    val asg = ivfAssignments(spark, emb, cells, cellRounds)
    val cand = broadcast(probed).join(asg, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    cand.join(codes, "vec_id")
      .join(broadcast(qtab), Seq("qid", "subspace", "code"))
      .groupBy("qid", "cell", "vec_id").agg(sum("qdist").as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Posting-list sizes per Lloyd cell — the IVF index's balance
    * audit (the operational metric every deployment watches: a hot
    * cell bounds probe latency, a starved one wastes a partition).
    * One aggregation over the memoized assignment relation;
    * metadata-scale output (`cells` rows). */
  def ivfCellSizes(spark: SparkSession, emb: DataFrame, cells: Int = 10,
                   cellRounds: Int = 2): DataFrame =
    ivfAssignments(spark, emb, cells, cellRounds)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .select(col("cell").cast("long").as("cell"), col("n"))

  /** Persist the IVF-PQ index as LAKE ARTIFACTS — the offline half of
    * the 100 TB serving story made concrete instead of narrated: the
    * trained per-subspace codeword book and the Lloyd cell book as
    * plain tables (metadata-scale), and the posting lists — (vec_id,
    * subspace, code) under their cell — as a parquet table
    * PARTITIONED BY CELL, so a `probes`-cell query plans a scan of
    * `probes`/`cells` of the index and nothing else (directory-level
    * pruning, the IVF posting-list layout every production deployment
    * uses). `path` is a lake prefix (a temp dir in tests); plain
    * partitioned parquet, no catalog — declared queries stay
    * metastore-free, and re-building overwrites in place. At 100 TB
    * these writes are the index-build job; [[annIvfPqFromIndex]] is
    * the query-time half that never sees raw vectors. */
  def savePqIndex(spark: SparkSession, corpus: DataFrame, path: String,
                  m: Int = 8, dim: Int = 64,
                  cw: Int = 64, rounds: Int = 2,
                  cells: Int = 10, cellRounds: Int = 2): Unit = {
    pqCodebookTrained(corpus, m, cw, rounds, dim)
      .write.mode("overwrite").parquet(s"$path/book")
    lloydBook(spark, corpus, cells, cellRounds)
      .write.mode("overwrite").parquet(s"$path/cells")
    ivfAssignments(spark, corpus, cells, cellRounds)
      .join(pqCodes(spark, corpus, m, dim, cw, rounds)
        .select("vec_id", "subspace", "code"), "vec_id")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$path/postings")
  }

  /** Append an ingest batch to a persisted [[savePqIndex]] index —
    * the lake's INCREMENTAL index maintenance, the batch twin of the
    * [[graft.streaming.VecStream.pqEncodeStream]] ingest path made
    * durable: the batch encodes against the FROZEN persisted book
    * (retraining would re-code the whole store — the
    * [[pqIncrementalCodes]] convention) and assigns to the FROZEN
    * Lloyd cells, then its posting rows APPEND under their cell
    * partitions — existing partitions gain files, nothing rewrites,
    * and [[annIvfPqFromIndex]] serves old + new immediately.
    * Idempotence is the caller's offsets problem (exactly-once
    * ingestion dedups upstream), as with every lake append. */
  def appendToPqIndex(spark: SparkSession, batch: DataFrame, path: String,
                      m: Int = 8, dim: Int = 64): Unit = {
    val book = spark.read.parquet(s"$path/book")
    val cellBook = spark.read.parquet(s"$path/cells")
    assignToBook(batch, cellBook)
      .select(col("vec_id"), col("cluster").as("cell"))
      .join(pqCodesOf(quantizedSubvectors(batch, m, dim), book)
        .select("vec_id", "subspace", "code"), "vec_id")
      .select("vec_id", "subspace", "code", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$path/postings")
  }

  /** Compact a persisted index's postings back to ONE FILE PER CELL —
    * the small-files bound [[appendToPqIndex]] needs (the r13 verdict
    * item): every append adds one file per touched cell partition, so
    * after B ingest batches a `probes`-cell serve opens O(B) files per
    * probed cell and the dynamic-pruned scan degrades into footer
    * reads. Rows rewrite UNCHANGED (frozen book, frozen cells —
    * BucketingSpec pins the serve output bit-identical across it);
    * mechanics and the staging/rename-swap contract live in the shared
    * [[LakeMaintenance.compactPartitioned]] (one helper for every
    * persisted index — the LSH band index compacts the same way). */
  def compactPqIndex(spark: SparkSession, path: String): Unit =
    LakeMaintenance.compactPartitioned(spark, s"$path/postings", "cell")

  /** IVF-PQ serving FROM the persisted index ([[savePqIndex]]) — the
    * query-time half of the lake story, output-identical to
    * [[annIvfPq]] (the declared query shares its oracle text: the
    * hash match IS the equivalence proof). The probed-cell relation
    * broadcasts into the postings join, so the cell-partitioned index
    * scan is pruned at RUNTIME by dynamic partition pruning — a
    * `probes`-cell query reads `probes`/`cells` of the index from
    * disk, the access-path property that makes IVF serving sublinear
    * on a lake (plan-asserted in BucketingSpec). Queries quantize and
    * build their ADC distance tables against the PERSISTED book; raw
    * corpus vectors appear nowhere. */
  def annIvfPqFromIndex(spark: SparkSession, queries: DataFrame,
                        path: String, k: Int, probes: Int = 1,
                        m: Int = 8, dim: Int = 64): DataFrame = {
    val book = spark.read.parquet(s"$path/book")
    val cellBook = broadcast(spark.read.parquet(s"$path/cells")
      .select(col("cluster").as("cell"), col("cq")))
    val scored = broadcast(queries
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      .crossJoin(cellBook)
      .select(col("qid"), col("cell"),
        sqDistQuantized(col("qe"), col("cq"), Scale).as("cdist"))
    val cw0 = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    val probed = scored.withColumn("crn", row_number().over(cw0))
      .filter(col("crn") <= probes).select("qid", "cell")
    val qtab = subspaceDists(quantizedSubvectors(queries, m, dim),
        book)
      .select(col("vec_id").as("qid"),
        col("subspace").cast("long").as("subspace"),
        col("label").cast("long").as("code"), col("dist").as("qdist"))
    val postings = spark.read.parquet(s"$path/postings")
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    broadcast(probed).join(postings, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(broadcast(qtab), Seq("qid", "subspace", "code"))
      .groupBy("qid", "cell", "vec_id").agg(sum("qdist").as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Incremental SEMANTIC dedup served FROM the persisted index — the
    * lake index's flagship pipeline use: an arriving crawl batch
    * probes its nearest Lloyd cells and any batch vector whose best
    * probed-cell posting scores ADC distance ≤ `maxAdist` DROPS as a
    * near-duplicate of the lake; survivors pass to ingestion
    * ([[graft.SparkEntry]] then appends them via [[appendToPqIndex]] —
    * dedup and index maintenance ride the same artifacts). At 100 TB
    * the lake's raw vectors never load: the decision reads centroids
    * + codes through the same dynamic-partition-pruned postings scan
    * [[annIvfPqFromIndex]] plan-asserts, and batch-batch twins both
    * survive (ingestion dedup never judges the batch against itself —
    * [[semDedupAgainstCorpus]]'s contract, here by construction since
    * only index postings are candidates).
    *
    * `maxAdist` is a threshold in ADC space — quantization-aware by
    * design: site it from the book's reconstruction error
    * (`pq_mse_by_subspace`) or the recall audit, exactly as every
    * production IVFADC dedup gates on the quantized metric it serves
    * with. Missing-candidate semantics: a batch vector whose probed
    * cells hold no postings has no ADC score and SURVIVES (fail-open
    * — dedup must never drop a row it could not compare). */
  def dedupIncrementalFromIndex(spark: SparkSession, batch: DataFrame,
                                path: String, maxAdist: Long): DataFrame = {
    require(maxAdist >= 0, s"maxAdist must be >= 0: $maxAdist")
    // BATCH-REGIME plan shape, not [[annIvfPqFromIndex]]'s: the LUT
    // form broadcasts a (queries·m·cw)-row distance table — right for
    // interactive few-query serving, but at a 1000-vector ingest batch
    // that is a 4 M-row broadcast and measured 5.0 s where this decode
    // form reads 1.5 s, bit-identical (the [[graft.streaming.VecStream
    // .adcServeStream]] algebra: subspaces partition the dims, so
    // Σ_s ‖q_s − cs_s‖² ≡ ‖q − v̂‖², one codegen'd kernel per
    // candidate pair). Candidates stay pruned: only the probed cells'
    // partitions decode (the distinct probed-cell relation broadcasts
    // into the postings join before the book join).
    val book = spark.read.parquet(s"$path/book")
    val cellBook = broadcast(spark.read.parquet(s"$path/cells")
      .select(col("cluster").as("cell"), col("cq")))
    val scored = broadcast(batch
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
      .crossJoin(cellBook)
      .select(col("qid"), col("qe"), col("cell"),
        sqDistQuantized(col("qe"), col("cq"), Scale).as("cdist"))
    val cw0 = Window.partitionBy("qid").orderBy(col("cdist"), col("cell"))
    val probed = scored.withColumn("crn", row_number().over(cw0))
      .filter(col("crn") <= 1).select("qid", "qe", "cell")
    val postings = spark.read.parquet(s"$path/postings")
    // decode ONCE per distinct candidate vector in any probed cell
    val vhat = broadcast(probed.select("cell").distinct())
      .join(postings, "cell")
      .join(broadcast(book.select(col("subspace"),
        col("label").as("code"), col("cs"))), Seq("subspace", "code"))
      .groupBy("vec_id", "cell")
      .agg(array_sort(collect_list(struct(col("subspace"), col("cs"))))
        .as("sc"))
      .select(col("vec_id").as("cand_id"), col("cell"),
        expr("flatten(transform(sc, x -> x.cs))").as("vhat"))
    val near = broadcast(probed).join(vhat, "cell")
      .filter(col("cand_id") =!= col("qid"))
      .select(col("qid"),
        graft.functions.VectorFunctions.sqDistLong(
          transform(col("qe"),
            x => floor(x.cast("double") * Scale).cast("long")),
          col("vhat")).as("adist"))
      .groupBy("qid").agg(min(col("adist")).as("adist"))
      .filter(col("adist") <= maxAdist)
      .select(col("qid").as("vec_id"))
    batch.select("vec_id").join(near, Seq("vec_id"), "left_anti")
  }

  /** Two-stage IVF-PQ serving — ADC shortlist, EXACT re-rank: the
    * `prefilter`-deep [[annIvfPq]] candidate list (codes-only ADC scan
    * inside the probed Lloyd cells) re-ranked by exact integer
    * squared-L2 against the stored vectors, top-`k` per query. This is
    * the standard production IVFADC shape (Jégou et al. 2011 §III-C's
    * re-ranking variant, the [[annSrpRerank]] two-stage pattern applied
    * to the ADC family): the wide rows touched per query drop from
    * |probed cells| to exactly `prefilter`, while recall recovers the
    * ADC quantization loss up to the coarse-probe ceiling — measured,
    * not argued: ANN_QUANT_PROBE_r13.json `ivfpq_rerank` sweeps
    * (prefilter × probes) beside the raw-ADC cells, the declared
    * knobs (SparkEntry PqRerankPrefilter/PqRerankProbes) are chosen
    * from it, and the tier ships as the oracle-checked
    * `ann_ivf_pq_rerank` query plus the `ivfpq_rr` row of
    * `ann_recall_quantized`.
    *
    * Scale shape: stage 1 is [[annIvfPq]]'s broadcast-book plan
    * unchanged; stage 2 broadcasts the (numQueries·prefilter)-row
    * candidate list against the corpus — the big side streams once,
    * filtered to candidate vec_ids by the broadcast-hash join, so the
    * re-rank never shuffles the corpus. At 100 TB the stored-vector
    * fetch is a point-lookup tier (the IVF posting layout co-locates a
    * cell's vectors); here it is the same scan the exact tiers use.
    * Output: (qid, vec_id, dist, rn) — `dist` exact, so rows are
    * directly comparable against [[knnExactL2]] truth. */
  def annIvfPqRerank(spark: SparkSession, emb: DataFrame, numQueries: Int,
                     k: Int, prefilter: Int, m: Int = 8, dim: Int = 64,
                     probes: Int = 1, cw: Int = 64,
                     rounds: Int = 2, cells: Int = 10,
                     cellRounds: Int = 2): DataFrame = {
    require(prefilter >= k, s"prefilter ($prefilter) must cover k ($k)")
    val cands = annIvfPq(spark, emb, numQueries, prefilter, m, dim,
        probes, cw, rounds, cells, cellRounds)
      .select(col("qid"), col("vec_id"))
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"),
            x => floor(x.cast("double") * Scale).cast("long")).as("qq")))
    val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
    broadcast(cands).join(emb, "vec_id")
      .join(queries, "qid")
      .select(col("qid"), col("vec_id"),
        sqDistQuantized(col("embedding"), col("qq"), Scale).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Quantized RESIDUAL subvectors: rq = floor(v·scale) − cq(the
    * vector's ASSIGNED Lloyd cell — [[ivfAssignments]]), sliced into
    * `m` subspaces — row-local once the cells-row centroid book
    * broadcasts. Memoized: the residual relation feeds both the
    * residual-book training and the corpus coding. */
  private def residualSubMemo(spark: SparkSession, emb: DataFrame, m: Int,
                              dim: Int, cells: Int,
                              cellRounds: Int): DataFrame =
    RelationStats.memoRelation(emb, s"rpqSub:$m:$dim:$cells:$cellRounds") {
      val sub = dim / m
      val book = broadcast(lloydBook(spark, emb, cells, cellRounds)
        .select(col("cluster").as("cell"), col("cq")))
      emb.join(ivfAssignments(spark, emb, cells, cellRounds), "vec_id")
        .join(book, "cell")
        .select(col("vec_id"), col("cell"),
          zip_with(
            transform(col("embedding"),
              x => floor(x.cast("double") * Scale).cast("long")),
            col("cq"), (a, b) => a - b).as("rq"))
        .select(col("vec_id"), col("cell"), posexplode(expr(
          s"transform(sequence(0, ${m - 1}), s -> slice(rq, s * $sub + 1, $sub))"))
          .as(Seq("subspace", "vs")))
        // width-pinned: the ×groups training/encode fan-out downstream
        // has no exchange of its own, so a coalesced pin serializes it
        // (the measured 10× — RelationStats.pinnedWide scaladoc)
        .transform(RelationStats.pinnedWide(_, col("vec_id")))
    }

  /** The RESIDUAL codebook: `groups` Lloyd-trained codewords per
    * subspace over the residual slices ([[trainedSubspaceBook]] — the
    * r10 vec_id-mod-group mean stand-in is gone: random-partition
    * means of zero-centered residuals all collapse near the origin,
    * which is exactly the code-collapse the recall audit measured).
    * Memoized beside the residual relation. */
  private def residualBookMemo(spark: SparkSession, emb: DataFrame, m: Int,
                               groups: Int, rounds: Int, dim: Int,
                               cells: Int,
                               cellRounds: Int): DataFrame =
    RelationStats.memoRelation(emb,
      s"rpqBook:$m:$groups:$rounds:$dim:$cells:$cellRounds") {
      trainedSubspaceBook(
        residualSubMemo(spark, emb, m, dim, cells, cellRounds)
          .select("vec_id", "subspace", "vs"), groups, rounds)
        .localCheckpoint(eager = false)
    }

  /** Residual PQ codes — the encoding IVFADC actually stores (Jégou
    * et al. 2011 §III: quantize v − centroid(cell), not v; residual
    * energy is a fraction of vector energy, so the same code budget
    * buys far less quantization error). Each vector's residual vs its
    * OWN assigned Lloyd cell splits into `m` subspaces, assigned to
    * the nearest of `groups` trained residual codewords by exact
    * integer squared-L2. Output (vec_id, subspace, code, dist).
    *
    * Plan shape: the Lloyd cell book broadcasts (cells rows);
    * residuals are row-local; the codebook is per-subspace Lloyd
    * (broadcast cross-probe rounds); assignment is [[pqCodesOf]]'s
    * fused `pq_argmin` kernel. */
  def pqResidualCodes(spark: SparkSession, emb: DataFrame, m: Int = 8,
                      groups: Int = 16, dim: Int = 64,
                      rounds: Int = 2, cells: Int = 10,
                      cellRounds: Int = 2): DataFrame =
    pqCodesOf(
      residualSubMemo(spark, emb, m, dim, cells, cellRounds)
        .select("vec_id", "subspace", "vs"),
      residualBookMemo(spark, emb, m, groups, rounds, dim, cells,
        cellRounds))

  /** IVF-ADC with RESIDUAL codes — the paper-exact composition: probe
    * the `probes` best coarse cells by query·centroid, compute the
    * QUERY's residual against EACH probed cell's centroid (multi-probe
    * in residual space means one distance table PER (query, cell) —
    * each cell is its own residual frame, the detail raw-vector
    * multi-probe doesn't have), table its distances to the residual
    * codewords, and rank each cell's members by summed lookups over
    * their stored residual codes. Both sides quantize in the same
    * residual frame, which is what [[annIvfPq]]'s raw-vector codes
    * give up.
    *
    * Plan shape: identical to [[annIvfPq]] — centroids, codebook, and
    * the per-(query, cell) tables broadcast; candidates are `probes`
    * cells per query; raw vectors are read only by the offline
    * passes. */
  def annIvfRpq(spark: SparkSession, emb: DataFrame, numQueries: Int,
                k: Int, m: Int = 8, groups: Int = 16, dim: Int = 64,
                probes: Int = 1, rounds: Int = 2,
                cells: Int = 10, cellRounds: Int = 2): DataFrame = {
    val sub = dim / m
    val cellBook = lloydBook(spark, emb, cells, cellRounds)
      .select(col("cluster").as("cell"), col("cq"))
    val book = residualBookMemo(spark, emb, m, groups, rounds, dim,
      cells, cellRounds)
    val codes = pqCodesOf(
      residualSubMemo(spark, emb, m, dim, cells, cellRounds)
        .select("vec_id", "subspace", "vs"), book)
      .select("vec_id", "subspace", "code")
    // coarse probe: `probes` nearest Lloyd cells by exact integer
    // query-to-centroid squared-L2 (the serving metric)
    val probed = probedCells(spark, emb, numQueries, probes, cells,
      cellRounds)
    // query residual vs EACH probed cell's centroid, sliced per
    // subspace — the table keys on (qid, cell): every probed cell is
    // its own residual frame
    val qres = probed.join(broadcast(cellBook), "cell")
      .select(col("qid"), col("cell"),
        zip_with(
          transform(col("qe"), x => floor(x.cast("double") * Scale).cast("long")),
          col("cq"), (a, b) => a - b).as("rq"))
      .select(
        // pack (query, cell) as the dist-table probe id so the shared
        // subspaceDists kernel stays single-keyed; unpacked below
        (col("qid") * lit(1L << 20) + col("cell")).as("vec_id"),
        posexplode(expr(
          s"transform(sequence(0, ${m - 1}), s -> slice(rq, s * $sub + 1, $sub))"))
          .as(Seq("subspace", "vs")))
    val qtab = subspaceDists(qres.select("vec_id", "subspace", "vs"), book)
      .select(expr(s"vec_id div ${1L << 20}").as("qid"),
        expr(s"vec_id % ${1L << 20}").as("cell"),
        col("subspace").cast("long").as("subspace"),
        col("label").cast("long").as("code"), col("dist").as("qdist"))
    val asg = ivfAssignments(spark, emb, cells, cellRounds)
    val cand = broadcast(probed.select(col("qid"), col("cell")))
      .join(asg, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("cell"), col("vec_id"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    cand.join(codes, "vec_id")
      .join(broadcast(qtab), Seq("qid", "cell", "subspace", "code"))
      .groupBy("qid", "cell", "vec_id").agg(sum("qdist").as("adist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** IVF-style ANN: rank the [[lloydBook]] coarse cells by exact
    * integer query-to-centroid squared-L2, probe the `probes` best,
    * exact-cosine rerank inside them. The scale path complementary to
    * [[annLshBucketed]]: candidate count is a few cells, not one hash
    * bucket, and the codebook (`cells` centroids here; ~√N in
    * production) is broadcast-trivial.
    *
    * r11: the coarse partition is the Lloyd-TRAINED book, not the data
    * labels — the label cells' measured recall@5 ceiling (exact rerank
    * inside the probed cells) was 160/360 milli at probes 1/2 on this
    * corpus, vs 880/960 for Lloyd cells at probes 1/3
    * (ANN_QUANT_PROBE_r11.json `ivf_exact` legs): labels simply don't
    * align with embedding-space neighborhoods, which no amount of
    * probing fixes at serving-credible probe counts. */
  def annIvf(spark: SparkSession, emb: DataFrame, numQueries: Int, k: Int,
             probes: Int = 1, cells: Int = 10, cellRounds: Int = 2): DataFrame = {
    // multi-probe: rerank inside the `probes` best cells — the
    // standard IVF recall knob (boundary vectors live in a neighbor
    // cell; probing P cells trades P× candidates for recall)
    val probed = probedCells(spark, emb, numQueries, probes, cells,
      cellRounds)
    val asg = ivfAssignments(spark, emb, cells, cellRounds)
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    broadcast(probed).join(asg, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("qid"), col("cell"), col("vec_id"),
        // quantized cosine: integer dot + one sqrt + one division, so
        // the rerank ordering (and the SQL oracle) is bit-exact
        cosineQuantized(col("qe"), col("embedding"), Scale).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** Hard-negative mining for contrastive training (the in-batch /
    * ANN-mined negatives of DPR, Karpukhin et al. 2020): for each
    * anchor, the top-k most-similar vectors carrying a DIFFERENT label
    * — near misses, the examples a contrastive loss learns most from.
    * Rides the IVF machinery rather than a brute scan: the anchor
    * scores the broadcast centroid table restricted to FOREIGN cells
    * (label ≠ anchor's), probes the 2 best, and reranks only
    * those cells' members by quantized cosine. At 100 TB that is the
    * serving shape — candidates per anchor are bounded by probed-cell
    * population, never corpus size, and the corpus-side join is a
    * plain equi-join on the cell key. */
  def hardNegatives(spark: SparkSession, emb: DataFrame, numQueries: Int,
                    k: Int): DataFrame = {
    val cents = broadcast(labelCentroids(spark, emb))
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("label").as("qlabel")))
    val scored = queries.crossJoin(cents)
      .filter(col("label") =!= col("qlabel")) // foreign cells only
      .select(col("qid"), col("qe"), col("qlabel"), col("label"),
        (aggregate(zip_with(col("qe"), col("sum_q"),
          (x, y) => floor(x.cast("double") * Scale).cast("long") * y),
          lit(0L), (acc, x) => acc + x).cast("double") / col("n")).as("cscore"))
    val wBest = Window.partitionBy("qid")
      .orderBy(col("cscore").desc, col("label"))
    val probed = scored.withColumn("crn", row_number().over(wBest))
      .filter(col("crn") <= 2)
      .select(col("qid"), col("qe"), col("qlabel"), col("label"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    probed.join(emb, "label")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("label").as("neg_label"),
        col("vec_id"),
        cosineQuantized(col("qe"), col("embedding"), Scale).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** LSH-bucketed ANN: random-hyperplane signature → candidates share a
    * bucket → exact cosine re-rank inside the bucket. Planes are a tiny
    * deterministic driver-side matrix (seeded), broadcast as literals.
    * Recall is tunable via numPlanes (fewer planes = bigger buckets).
    * NULL contract: a malformed vector (null element / wrong length)
    * gets a NULL bucket and therefore NO candidates — it vanishes from
    * the equi-join rather than colliding into bucket 0
    * ([[graft.functions.VectorFunctions.hyperplaneBucketQuantized]]'s
    * stated strict-NULL contract).
    */
  /** Seeded hyperplane matrix quantized to integer milli-units — shared
    * between the Spark bucketing expression and the generated SQL
    * oracle, so the bucket assignment is engine-independent (sign of an
    * exact integer dot product, no float summation order in sight). */
  def lshPlanesQuantized(numPlanes: Int, dim: Int,
                         seed: Long = 42L): Array[Array[Long]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(math.round(rng.nextGaussian() * 1000))
  }

  def annLshBucketed(spark: SparkSession, emb: DataFrame, numQueries: Int,
                     k: Int, numPlanes: Int = 6, dim: Int = 64): DataFrame = {
    val planes = lshPlanesQuantized(numPlanes, dim)
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      hyperplaneBucketQuantized(col("embedding"), planes, Scale).as("bucket"))
    val queries = broadcast(
      bucketed.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("bucket").as("qbucket")))
    val scored = queries.join(bucketed, col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("bucket"),
        cosineQuantized(col("qe"), col("embedding"), Scale).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** SRP Hamming search — signed-random-projection sketches (Charikar
    * 2002, STOC: sign(r·v) bits preserve angular similarity) served
    * ENTIRELY from the bit codes: every vector compresses to one
    * 64-bit word (`bits` sign bits of the quantized hyperplane dots,
    * the same deterministic planes [[annLshBucketed]] buckets with),
    * and queries rank the whole corpus by Hamming distance on that
    * word. The sketch-serving complement to [[annPq]]'s ADC: PQ
    * approximates L2 from byte codes, SRP approximates ANGLE from
    * bits — 8 bytes/vector means a trillion-vector corpus is a
    * few-TB code relation, scannable without ever touching the raw
    * embeddings at query time.
    *
    * Plan shape: one shuffle-free projection to (vec_id, code-words)
    * longs; query codes broadcast; the rank filter sits directly
    * under its window so WindowGroupLimit keeps k rows per query
    * per partition map-side. No raw-vector rerank here by design —
    * the declared operator measures what the codes alone retrieve
    * (compose with [[knnBruteForce]] over the survivors for the
    * reranked variant).
    *
    * `bits` is unbounded (r11 — the r10 single-long cap at 62 was the
    * measured recall bottleneck: this corpus's cosine spectrum is a
    * dense continuum, rank-5 ≈ 0.30 vs rank-50 ≈ 0.16, and a 32-bit
    * sketch cannot resolve that 8° band — ANN_QUANT_PROBE_r11.json
    * sweeps 62/128/256). Codes are ⌈bits/62⌉ longs; Hamming distance
    * is the summed XOR popcount over words, each a codegen'd
    * element_at + bit_count — no interpreted lambda on the corpus
    * scan. Production sketches are 128-256 bits for exactly this
    * resolution reason (Charikar 2002 §3). */
  def annSrpHamming(emb: DataFrame, numQueries: Int, k: Int,
                    bits: Int = 32, dim: Int = 64): DataFrame = {
    val planes = lshPlanesQuantized(bits, dim)
    val numWords = (bits + 61) / 62
    // ONE native pass emits every word ([[graft.functions.SrpCodeWords]]
    // — r11: the per-word zip_with/aggregate chain was interpreted and
    // re-read the vector twice per plane, which at 256 bits made this
    // projection the suite's most expensive stage)
    val codes = emb.select(col("vec_id"),
      srpCodeWords(col("embedding"), planes, Scale).as("code"))
    val queries = broadcast(codes.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("qid"), col("code").as("qcode")))
    val w = Window.partitionBy("qid").orderBy(col("hamming"), col("vec_id"))
    codes.join(queries, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (0 until numWords).map(i =>
          bit_count(col("code").getItem(i)
            .bitwiseXOR(col("qcode").getItem(i))).cast("long"))
          .reduce(_ + _).as("hamming"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** SRP prefilter + exact rerank — the standard production
    * composition over [[annSrpHamming]]'s sketches: the bit codes
    * prune the corpus to the `prefilter` Hamming-nearest candidates
    * per query (the cheap pass that touches ONLY the 8-byte codes),
    * and only those candidates' raw vectors are read for the exact
    * quantized-cosine top-`k`. Candidate volume is `prefilter`·queries
    * rows regardless of corpus size — the raw-vector read is the
    * expensive step this shape exists to bound.
    *
    * Plan shape: the Hamming pass as in [[annSrpHamming]]
    * (WindowGroupLimit-pruned); the rerank joins the prefilter
    * survivors (broadcast — queries·prefilter rows) against the
    * embedding relation once. */
  def annSrpRerank(emb: DataFrame, numQueries: Int, k: Int,
                   prefilter: Int = 20, bits: Int = 32,
                   dim: Int = 64): DataFrame = {
    require(prefilter >= k, s"prefilter ($prefilter) must cover k ($k)")
    val cands = annSrpHamming(emb, numQueries, prefilter, bits, dim)
      .select("qid", "vec_id", "hamming")
    val queries = broadcast(
      emb.filter(col("vec_id") < numQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    broadcast(cands).join(emb, "vec_id")
      .join(queries, "qid")
      .select(col("qid"), col("vec_id"), col("hamming"),
        cosineQuantized(col("qe"), col("embedding"), Scale).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }
}
