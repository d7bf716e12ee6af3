package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

import graft.SparkEntry._

/** Deduplication family (north star; [[graft.operators.Dedup]]): pair
  * tiers, connected components and the incremental/indexed ingest rows. */
private[graft] object DedupQueries {
  /** Containment threshold (tenths) of `dedup_incremental_containment`
    * — ONE constant feeding both the query declaration and the
    * generated oracle SQL, so changing the threshold can never silently
    * diverge the two. t = 10 (strict subset) is the discriminating
    * setting on this adversarially self-similar corpus (see the query's
    * comment). */
  private val IncContainTenths = 10

  /** `dedup_snm`'s neighborhood width and Jaccard threshold (tenths) —
    * shared query/oracle constants, same rule as [[Bm25Queries]]. */
  private val SnmWindow = 4
  private val SnmTenths = 9

  /** `dedup_cascade`'s final-tier Jaccard threshold (tenths). */
  private val CascadeJacTenths = 9

  /** [[SparkEntry.pqIndexFor]]'s corpus-HALF twin for `dedup_incremental_indexed`:
    * the index trains and codes over the id-lower lake half only, so
    * the id-upper crawl batch is genuinely out-of-index. Same
    * memoized unique-path contract. */
  private def pqHalfIndexFor(s: SparkSession, dir: String): String =
    persisted(dir + "#half") { p =>
      val (_, corpus) = halvesByMaxId(Tables.embeddings(s, dir), "vec_id")
      Similarity.savePqIndex(s, corpus, p, m = PqM,
        cw = PqCw, rounds = PqRounds, cells = IvfCells,
        cellRounds = IvfCellRounds)
    }

  /** [[pqHalfIndexFor]]'s text-tier sibling for
    * `dedup_incremental_lsh_indexed`: the persisted MinHash band index
    * over the id-lower document half (same memoized unique-path
    * contract — repeat invocations time the SERVE). */
  private def lshHalfIndexFor(s: SparkSession, dir: String): String =
    persisted(dir + "#lsh_half") { p =>
      val (_, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.saveLshBandIndex(corpus, p)
    }

  /** Memoized J≥0.9 components relation per (JVM, corpus) — the
    * clustering-core sibling of [[SparkEntry.pqIndexFor]] (r14 verdict #5): three
    * of the bench's four most expensive rows were the SAME bounded-
    * round clustering, so `dedup_components_best` re-paying it hid the
    * canonical-selection increment the row exists to price. First use
    * pays the fixpoint loop once and pins the result with an eager
    * localCheckpoint (block-storage-backed, the loop's own truncation
    * mechanism); repeat bench passes then measure selection alone —
    * the serve-only index-row contract. `dedup_components` itself does
    * NOT read this cache: its row must keep pricing the clustering.
    *
    * Keyed by SESSION as well as (dir, threshold) (r16, the r15
    * ADVICE item): a localCheckpoint lives in the owning context's
    * block storage, so a cached DataFrame from a stopped-and-recreated
    * session would fail unrecoverably instead of rebuilding — the
    * session identity in the key makes a fresh session rebuild its own
    * checkpoint (stale entries are bounded: one per session that ever
    * served the row, paths-not-data). The [[SparkEntry.persisted]]
    * paths need no such key — they memoize persisted parquet
    * DIRECTORIES, which any session can re-read. */
  private val componentsCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.DataFrame]()
  private def componentsFor(s: SparkSession, dir: String,
                            thresholdTenths: Int): DataFrame =
    componentsCache.computeIfAbsent(
      s"${s.sparkContext.applicationId}#${s.sparkContext.startTime}" +
        s"#$dir#$thresholdTenths", _ =>
      Dedup.jaccardComponents(Tables.documents(s, dir), thresholdTenths)
        .localCheckpoint(eager = true))

  /** PERSISTED id-lower-half J≥0.9 assignment for
    * `dedup_components_incremental` (r17, the r16 verdict #1 — was a
    * session-memoized DataFrame, which silently re-paid the full
    * clustering on every JVM restart): the STANDING assignment is now
    * a lake artifact ([[Dedup.saveComponentsAssign]]) under the
    * [[SparkEntry.pqIndexFor]] path contract — built at most once per corpus dir,
    * any session re-reads it from parquet, and the bench row prices
    * the FOLD served from disk (load + delta pair tiers + contracted
    * fixpoint), which is the real nightly shape. The
    * `dedup_components` row keeps pricing the full clustering. */
  private def halfAssignPathFor(s: SparkSession, dir: String): String =
    persisted(dir + "#assign_half9") { p =>
      val (_, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.saveComponentsAssign(
        Dedup.jaccardComponents(corpus, thresholdTenths = 9), s"$p/assign")
    } + "/assign"

  /** Persisted band index over the id-lower half at bands=8 (r=4)
    * for `dedup_components_incremental_banded` — higher-recall
    * banding than the serve index's bands=4 verdict knob (S-curve
    * ≈0.9 at J=0.9, fine for keep/drop verdicts, wrong for a tier
    * whose oracle is the exact recompute). r=4 over r=2 is a MEASURED
    * call: r=2 reached ~4e-12 per-pair miss but exploded junk-pair
    * candidate mass ~4x the full recompute's cost on this
    * self-similar corpus (16.3 s vs 4.0 s for the broadcast fold);
    * r=4's ~2e-4 miss is deterministic per fixture (md5-seeded
    * family) and the full-recompute oracle re-proves the equality
    * every round. Same memoized unique-path contract. */
  private def lshDecile8IndexFor(s: SparkSession, dir: String): String =
    persisted(dir + "#lsh_dec8") { p =>
      val (_, corpus) = splitByMaxIdFrac(Tables.documents(s, dir),
        "doc_id", 9, 10)
      // QUOTIENTED by bag class (r17): one band-index row set per
      // distinct (lang, token-bag) — sound for the clustering fold
      // (bag-equal members share their rep's component, so contracted
      // edges are identical; Dedup.bagClassReps scaladoc) and the
      // measured lever against self-similar candidate mass
      Dedup.saveLshBandIndex(Dedup.bagClassReps(corpus), p, bands = 8)
    }

  /** Standing assignment over the id-lower 90% for the banded row —
    * [[halfAssignPathFor]]'s decile twin, persisted the same way. */
  private def decileAssignPathFor(s: SparkSession, dir: String): String =
    persisted(dir + "#assign_dec9") { p =>
      val (_, corpus) = splitByMaxIdFrac(Tables.documents(s, dir),
        "doc_id", 9, 10)
      Dedup.saveComponentsAssign(
        Dedup.jaccardComponents(corpus, thresholdTenths = 9), s"$p/assign")
    } + "/assign"

  /** `dedup_incremental_lsh_indexed` twin threshold (query + oracle):
    * agreeing minhashes of 32 for a corpus candidate to count as a
    * twin — 24/32 ≈ J 0.75. Sited mid-distribution on this corpus
    * (measured at sf0.01: max_matches spans 15–32 over the 219
    * candidate-bearing batch docs, 31 docs fail open with no banded
    * candidate; 24 splits 46 keep / 204 drop — both verdict arms and
    * the fail-open arm all exercised, the IncIndexedMaxAdist rule). */
  private val LshIndexMinMatches = 24

  /** `dedup_incremental_indexed` ADC drop threshold (query + oracle).
    * The synthetic embeddings hold NO true near-duplicates (nearest
    * cross-half ADC distances span ~1.01–1.67 M, p25 ≈ 1.34 M), so
    * the declared threshold sits mid-distribution on purpose: the
    * oracle must exercise BOTH the drop and the survive arm (the
    * TfidfDfCeiling rule). Production siting derives from the book's
    * reconstruction error / recall audits instead. */
  private val IncIndexedMaxAdist = 1300000L

  /** `semdedup` cosine threshold in hundredths (query + oracle). Same
    * 0.35 as `dedup_embedding`: the synthetic embedding space tops out
    * near cos 0.48, so 0.35 is the anomalously-close tail. */
  private val SemDedupHundredths = 35

  /** `proto_prune` drop percentage — the D4 paper's prototype-pruning
    * fraction (query + oracle). */
  private val ProtoPrunePct = 25

  /** The semantic tier's coarse-codebook size (query + oracle) — the
    * k-KNOB path ([[graft.operators.Similarity.lloydBook]]): candidate
    * mass is O(N²/k), so k scales with N instead of being pinned to
    * label cardinality (~10). 16 at test SF; a 100 TB run turns this
    * dial to 10⁴-10⁵ per the SemDeDup paper. */
  private val SemK = 16

  /** Lloyd rounds of the semantic-tier codebook build (query +
    * oracle): seeds → 2 exact-integer refinement rounds. */
  private val SemLloydRounds = 2

  /** [[halvesByMaxId]] at an arbitrary num/den cut — (upper=batch,
    * lower=corpus) around `max(idCol)*num div den`, same single-plan
    * broadcast-threshold idiom. The banded incremental row uses 9/10:
    * a 10% arriving batch against a 90% standing lake is the shape
    * that op exists for (the 50/50 split is its broadcast sibling's
    * stress shape; at 50% "batch" the honest answer is a recompute). */
  private def splitByMaxIdFrac(df: DataFrame, idCol: String,
      num: Int, den: Int): (DataFrame, DataFrame) = {
    val cut = df.agg(expr(s"(max($idCol) * $num) div $den").as("__cut"))
    val withC = df.crossJoin(broadcast(cut))
    (withC.filter(col(idCol) > col("__cut")).drop("__cut"),
      withC.filter(col(idCol) <= col("__cut")).drop("__cut"))
  }

  /** Shared by `semdedup` / `pipeline_d4` / `semdedup_components` /
    * `proto_prune`: the coarse-cluster CTE prefix, now the k-KNOB
    * Lloyd build ([[graft.operators.Similarity.lloydBook]] replayed in
    * SQL) — seeds = the [[SemK]] lowest-vec_id vectors quantized at
    * 1000 (cluster id = seed vec_id), then [[SemLloydRounds]]
    * exact-integer Lloyd rounds (assign by squared L2 to the truncated
    * centroid, tie-break cluster asc; update = per-dim SUM // COUNT),
    * ending in the final `cq` codebook, every vector's distance to
    * each centroid (`dist`), and the rank-1 assignment (`asg`, keeping
    * the winning distance, which proto_prune ranks on). */
  private def SqlSemClusterCtes: String = {
    val q1000 = "CAST(FLOOR(CAST(embedding[g.k] AS DOUBLE) * 1000) AS BIGINT)"
    val eq = "CAST(FLOOR(CAST(e.embedding[c.dim] AS DOUBLE) * 1000) AS BIGINT)"
    val seed =
      s"""seed AS (SELECT vec_id AS cluster, embedding FROM embeddings
         |  ORDER BY vec_id LIMIT $SemK),
         |cq0 AS (
         |  SELECT cluster, g.k AS dim, $q1000 AS cqd
         |  FROM seed CROSS JOIN generate_series(1, 64) g(k))""".stripMargin
    val roundCtes = (0 until SemLloydRounds).map { r =>
      s"""d$r AS (
         |  SELECT e.vec_id, c.cluster,
         |    CAST(SUM(($eq - c.cqd) * ($eq - c.cqd)) AS BIGINT) AS dist
         |  FROM embeddings e CROSS JOIN cq$r c GROUP BY 1, 2),
         |a$r AS (SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cluster) AS rn
         |    FROM d$r) t WHERE rn = 1),
         |cq${r + 1} AS (
         |  SELECT a.cluster, g.k AS dim,
         |    CAST(SUM($q1000) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cqd
         |  FROM a$r a JOIN embeddings ON embeddings.vec_id = a.vec_id
         |  CROSS JOIN generate_series(1, 64) g(k)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString(",\n")
    s"""$seed,
       |$roundCtes,
       |cq AS (SELECT * FROM cq$SemLloydRounds),
       |dist AS (
       |  SELECT e.vec_id, c.cluster,
       |    CAST(SUM(($eq - c.cqd) * ($eq - c.cqd)) AS BIGINT) AS dist
       |  FROM embeddings e CROSS JOIN cq c GROUP BY 1, 2),
       |asg AS (SELECT vec_id, cluster, dist FROM (
       |    SELECT vec_id, cluster, dist,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY dist, cluster) AS rn
       |    FROM dist) t WHERE rn = 1)""".stripMargin
  }

  /** Shared by `semdedup` and `pipeline_d4`: the intra-cluster pair
    * relation and the lowest-id-twin dup verdict (integer squared-cosine
    * test at [[SemDedupHundredths]]). */
  private def SqlSemDedupPairDupCtes: String = {
    val t2 = SemDedupHundredths.toLong * SemDedupHundredths
    val pa = "CAST(FLOOR(CAST(a.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)"
    val pb = "CAST(FLOOR(CAST(b.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)"
    s"""pair AS (
       |  SELECT va.cluster, va.vec_id AS id_a, vb.vec_id AS id_b,
       |    CAST(SUM($pa * $pb) AS BIGINT) AS dot,
       |    CAST(SUM($pa * $pa) AS BIGINT) AS na,
       |    CAST(SUM($pb * $pb) AS BIGINT) AS nb
       |  FROM asg va JOIN embeddings a ON a.vec_id = va.vec_id
       |  JOIN asg vb ON vb.cluster = va.cluster AND va.vec_id < vb.vec_id
       |  JOIN embeddings b ON b.vec_id = vb.vec_id
       |  CROSS JOIN generate_series(1, 64) g(k)
       |  GROUP BY 1, 2, 3),
       |dup AS (SELECT id_b AS vec_id, CAST(MIN(id_a) AS BIGINT) AS dup_of
       |  FROM pair
       |  WHERE dot > 0 AND 10000 * dot * dot >= $t2 * na * nb
       |  GROUP BY 1)""".stripMargin
  }

  /** Per-doc distinct-token counts `cnt` and same-lang pairwise overlaps
    * `inter` over a `tok(doc_id, lang, token)` CTE. */
  private val SqlCntInterCtes: String =
    """cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM tok t1 JOIN tok t2
      |    ON t1.token = t2.token AND t1.lang = t2.lang AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** The J≥0.9 pair graph and its transitive closure `reach(src,
    * dst)` as recursive CTEs (no WITH keyword). */
  private val SqlJaccard9ReachCtes: String =
    s"""tok AS (
      |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
      |  FROM documents),
      |$SqlCntInterCtes,
      |pairs AS (
      |  SELECT i.d1, i.d2
      |  FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
      |               JOIN cnt c2 ON i.d2 = c2.doc_id
      |  WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * 9),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(src, dst) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  /** Full-recompute J≥0.9 components over the WHOLE documents table —
    * the shared oracle of both incremental-clustering queries: the
    * fold's correctness law is `incremental(assign(C), C, B) ≡
    * components(C ∪ B)`, so the recompute IS the strongest possible
    * check of any incremental tier. */
  private val SqlComponentsFullRecompute: String =
    s"""WITH RECURSIVE $SqlJaccard9ReachCtes
      |SELECT src AS doc_id, MIN(dst) AS component
      |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** The oracle spelling of the 32-hash MinHash signature over token
    * ids `tid` ([[Dedup.minhashParams]], [[Dedup.MinhashPrime]]), its
    * 4×8 banding test and its agreeing-hash count between signature
    * rows `l` and `r`. */
  private val SqlSigMins: String =
    Dedup.minhashParams(Dedup.NumHashes).map { case (a, b) =>
    s"min((tid * $a + $b) % ${Dedup.MinhashPrime})" }.mkString("[", ", ", "]")
  private def sqlBandEq(l: String, r: String): String = (0 until 4).map { b =>
    val lo = b * 8 + 1; val hi = b * 8 + 8
    s"$l.s[$lo:$hi] = $r.s[$lo:$hi]" }.mkString(" OR ")
  private def sqlMatchSum(l: String, r: String): String = (1 to 32).map(i =>
    s"(CASE WHEN $l.s[$i] = $r.s[$i] THEN 1 ELSE 0 END)").mkString(" + ")

  /** The LSH audits' exact truth over a `tok(doc_id, token)` CTE: pairs
    * with Jaccard ≥ 0.8 across langs, `truth(d1, d2, band)` with the
    * integer Jaccard tenth as band. */
  private val SqlJaccard8TruthCtes: String =
    """cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
      |inter AS (
      |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM tok t1 JOIN tok t2
      |    ON t1.token = t2.token AND t1.doc_id < t2.doc_id
      |  GROUP BY 1, 2),
      |truth AS (
      |  SELECT d1, d2, CAST((inter * 10) // uni AS INT) AS band
      |  FROM (SELECT i.d1, i.d2, i.inter, c1.n + c2.n - i.inter AS uni
      |        FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
      |                     JOIN cnt c2 ON i.d2 = c2.doc_id) j
      |  WHERE inter * 10 >= uni * 8)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // Incremental dedup: the id-upper half of the corpus ingested
    // against the lower half (anti-join on content digest). The split
    // point rides the plan as a broadcast scalar subquery (single job).
    QuerySpec("dedup_incremental", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.dedupAgainstCorpus(batch, corpus).orderBy("doc_id")
    },
      oracle =
      """WITH half AS (SELECT MAX(doc_id) // 2 AS h FROM documents)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d, half
        |WHERE d.doc_id > half.h
        |  AND NOT EXISTS (
        |    SELECT 1 FROM documents c, half
        |    WHERE c.doc_id <= half.h AND md5(c.text) = md5(d.text))
        |ORDER BY d.doc_id""".stripMargin),
    // near-dup incremental: batch docs within simhash Hamming ≤ 4 of
    // any corpus doc drop (two-sided pigeonhole band probe).
    QuerySpec("dedup_incremental_simhash", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.dedupAgainstCorpusSimhash(batch, corpus, maxDistance = 4)
        .orderBy("doc_id")
    },
      oracle = {
      // same md5-vote fingerprint CTE as dedup_simhash; the engine's
      // two-sided band probe has pigeonhole-exact recall, so the oracle
      // runs the naive batch×corpus Hamming filter
      val bitSums = (0 until Dedup.SimhashBits).map(b =>
        s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")
      val fpExpr = (0 until Dedup.SimhashBits).map(b =>
        s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"""WITH half AS (SELECT MAX(doc_id) // 2 AS h FROM documents),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |hs AS (SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h FROM tok),
         |bits AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id),
         |fp AS (SELECT doc_id, $fpExpr AS simhash FROM bits)
         |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
         |FROM documents d, half
         |WHERE d.doc_id > half.h
         |  AND NOT EXISTS (
         |    SELECT 1 FROM fp a, fp c, half
         |    WHERE a.doc_id = d.doc_id AND c.doc_id <= half.h
         |      AND bit_count(xor(a.simhash, c.simhash)) <= 4)
         |ORDER BY d.doc_id""".stripMargin
    }),
    // containment incremental: batch docs whose EVERY token appears in
    // one corpus doc drop (t = 1.0, strict subset — quote-only
    // snippets, boilerplate-wrapped re-serves); one-sided id-order
    // prefix probe into corpus postings. t = 1.0 is the discriminating
    // setting on this adversarially self-similar corpus: at 0.9 zero
    // batch docs survive (31-token vocabulary), at 1.0 the gate
    // separates 27 genuinely novel docs from 223 subsets at sf0.01.
    QuerySpec("dedup_incremental_containment", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.dedupAgainstCorpusContainment(batch, corpus,
        thresholdTenths = IncContainTenths)
        .orderBy("doc_id")
    },
      oracle =
      s"""WITH half AS (SELECT MAX(doc_id) // 2 AS h FROM documents),
        |tok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token AND a.lang = b.lang, half
        |  WHERE a.doc_id > half.h AND b.doc_id <= half.h
        |  GROUP BY 1, 2)
        |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        |FROM documents d, half
        |WHERE d.doc_id > half.h
        |  AND NOT EXISTS (
        |    SELECT 1 FROM inter i JOIN n ON i.d1 = n.doc_id
        |    WHERE i.d1 = d.doc_id AND i.inter * 10 >= n.n * $IncContainTenths)
        |ORDER BY doc_id""".stripMargin),
    // Quality-aware canonical selection per near-dup component: keep
    // the highest-quality member, not the first-crawled (min-id) one —
    // composition of the green dedup_components and doc_quality
    // relations; one component-keyed shuffle serves rank + size. The
    // clustering core comes from the memoized componentsFor relation
    // (pqIndexFor contract): first bench pass pays the fixpoint once,
    // repeat passes price the canonical-selection INCREMENT.
    QuerySpec("dedup_components_best", (s, dir) =>
      Dedup.componentsBestQualityFrom(componentsFor(s, dir, 9),
        Tables.documents(s, dir)).orderBy("component"),
      oracle =
      s"""WITH RECURSIVE $SqlJaccard9ReachCtes,
         |comp AS (SELECT src AS doc_id, MIN(dst) AS component
         |         FROM reach GROUP BY 1),
         |s AS ($sqlDocStats), t AS ($sqlStatsSelect),
         |q AS (SELECT doc_id,
         |  (CASE WHEN chars BETWEEN 100 AND 500 THEN 0.5 ELSE 0.0 END)
         |  + lexical_diversity * 0.3
         |  + (CASE WHEN stopword_ratio < 0.2 THEN 0.2 ELSE 0.0 END) AS quality_score
         |  FROM t),
         |j AS (
         |  SELECT c.component, c.doc_id, q.quality_score,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY q.quality_score DESC, c.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY c.component) AS csize
         |  FROM comp c JOIN q USING (doc_id))
         |SELECT component, doc_id AS keep_id, quality_score AS keep_quality,
         |  CAST(csize AS BIGINT) AS size
         |FROM j WHERE rn = 1 ORDER BY component""".stripMargin),
    // Near-dup incremental dedup served from the PERSISTED MinHash
    // band index (Dedup.saveLshBandIndex — the text tier's lake-index
    // lifecycle, sibling of dedup_incremental_indexed): the batch's
    // band rows broadcast into the prefix-partitioned index, exact
    // signature overlap scores every banded candidate, no corpus text
    // loads. Oracle replays the whole chain (signatures, band-slice
    // candidates, overlap threshold) corpus-only vs batch-side.
    QuerySpec("dedup_incremental_lsh_indexed", (s, dir) => {
      val (batch, _) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.dedupAgainstCorpusLshIndexed(s, batch,
          lshHalfIndexFor(s, dir), minMatches = LshIndexMinMatches)
        .orderBy("doc_id")
    },
      oracle = {
      // same seeded-affine signature chain as dedup_minhash_lsh;
      // candidates = any of the 4 r=8 signature slices equal between
      // a batch (id-upper) and corpus (id-lower) doc; per batch doc
      // the exact overlap count thresholds at LshIndexMinMatches
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("q", "c")
      val matchSum = sqlMatchSum("q", "c")
      s"""WITH half AS (SELECT MAX(doc_id) // 2 AS h FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
         |  FROM documents),
         |tid AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5(token), 1, 10)) AS BIGINT) AS tid
         |        FROM tok),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id),
         |pairs AS (
         |  SELECT q.doc_id AS did, c.doc_id AS cid,
         |    CAST($matchSum AS BIGINT) AS mc
         |  FROM sig q JOIN sig c ON q.doc_id > (SELECT h FROM half)
         |    AND c.doc_id <= (SELECT h FROM half) AND ($bandEq)),
         |per AS (
         |  SELECT did, CAST(COUNT(*) AS BIGINT) AS n_cands,
         |    MAX(mc) AS max_matches,
         |    CAST(SUM(CASE WHEN mc >= $LshIndexMinMatches THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_twins
         |  FROM pairs GROUP BY did)
         |SELECT d.doc_id,
         |  COALESCE(per.n_cands, 0) AS n_cands,
         |  COALESCE(per.max_matches, 0) AS max_matches,
         |  COALESCE(per.n_twins, 0) AS n_twins,
         |  CAST(COALESCE(per.n_twins, 0) = 0 AS BIGINT) AS keep
         |FROM documents d LEFT JOIN per ON d.doc_id = per.did
         |WHERE d.doc_id > (SELECT h FROM half)
         |ORDER BY d.doc_id""".stripMargin
    }),
    // Edit-distance-1 fuzzy self-join on customer names: deletion-
    // neighborhood blocking + codegen'd levenshtein verify — the
    // entity-resolution primitive (typo pairs without a cross join).
    QuerySpec("fuzzy_join_names", (s, dir) =>
      Dedup.editDistancePairs(Tables.customer(s, dir), "c_name")
        .orderBy("name_a", "name_b"),
      oracle =
      """WITH names AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS n
        |  FROM customer WHERE c_name IS NOT NULL AND length(c_name) >= 1)
        |SELECT a.n AS name_a, b.n AS name_b,
        |  CAST(levenshtein(a.n, b.n) AS BIGINT) AS dist
        |FROM names a JOIN names b ON a.n < b.n
        |WHERE levenshtein(a.n, b.n) <= 1
        |ORDER BY name_a, name_b""".stripMargin),
    // Typo clusters: transitive components over the ED-1 name graph —
    // the entity-resolution canonicalization step.
    QuerySpec("fuzzy_components", (s, dir) =>
      Dedup.editDistanceComponents(Tables.customer(s, dir), "c_name",
        "c_custkey").orderBy("name"),
      oracle =
      """WITH RECURSIVE names AS (
        |  SELECT CAST(c_name AS VARCHAR) AS n,
        |    CAST(MIN(c_custkey) AS BIGINT) AS kid
        |  FROM customer WHERE c_name IS NOT NULL AND length(c_name) >= 1
        |  GROUP BY 1),
        |p AS (SELECT a.kid AS k1, b.kid AS k2
        |  FROM names a JOIN names b ON a.n < b.n
        |  WHERE levenshtein(a.n, b.n) <= 1),
        |edges AS (SELECT k1 AS src, k2 AS dst FROM p
        |          UNION SELECT k2, k1 FROM p),
        |reach(src, dst) AS (
        |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS kid, MIN(dst) AS component
        |         FROM reach GROUP BY 1)
        |SELECT n.n AS name, n.kid, c.component
        |FROM names n JOIN comp c USING (kid) ORDER BY name""".stripMargin),
    // Incremental fuzzy match: the every-third-customer corpus vs the
    // rest as the incoming batch — per new name, the ED<=1 corpus
    // match count, nearest match, and the ingest keep verdict.
    QuerySpec("dedup_incremental_fuzzy", (s, dir) => {
      val c = Tables.customer(s, dir)
      Dedup.fuzzyMatchAgainstCorpus(
        c.filter(col("c_custkey") % 3 =!= 0),
        c.filter(col("c_custkey") % 3 === 0), "c_name")
        .orderBy("name")
    },
      oracle =
      """WITH nw AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS n
        |  FROM customer WHERE c_custkey % 3 <> 0
        |    AND c_name IS NOT NULL AND length(c_name) >= 1),
        |cp AS (SELECT DISTINCT CAST(c_name AS VARCHAR) AS n
        |  FROM customer WHERE c_custkey % 3 = 0
        |    AND c_name IS NOT NULL AND length(c_name) >= 1),
        |m AS (SELECT nw.n AS name, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |    MIN(cp.n) AS nearest
        |  FROM nw JOIN cp ON levenshtein(nw.n, cp.n) <= 1 GROUP BY 1)
        |SELECT nw.n AS name, COALESCE(m.n_matches, 0) AS n_matches,
        |  m.nearest, m.name IS NULL AS keep
        |FROM nw LEFT JOIN m ON nw.n = m.name ORDER BY name""".stripMargin),
    QuerySpec("dedup_exact_groups", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)).orderBy("content_hash"),
      oracle =
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS group_size
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("dedup_exact_kept", (s, dir) =>
      Dedup.exactKept(Tables.documents(s, dir)).orderBy("doc_id"),
      oracle =
      """SELECT doc_id, text, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    QuerySpec("dedup_jaccard_pairs", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), thresholdTenths = 9)
        .orderBy("d1", "d2"),
      oracle =
      s"""WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |$SqlCntInterCtes
        |SELECT d1, d2, inter, n1 + n2 - inter AS uni,
        |  CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
        |FROM (SELECT i.d1, i.d2, i.inter, c1.n AS n1, c2.n AS n2
        |      FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
        |                   JOIN cnt c2 ON i.d2 = c2.doc_id) j
        |WHERE inter * 10 >= (n1 + n2 - inter) * 9
        |ORDER BY d1, d2""".stripMargin),
    // Pairs are evidence; the unit of removal is the transitive
    // CLUSTER. Components over the J≥0.9 pair graph, id = min reachable
    // doc_id (union-find-seeded; oracle = recursive CTE closure).
    QuerySpec("dedup_components", (s, dir) =>
      Dedup.jaccardComponents(Tables.documents(s, dir), thresholdTenths = 9)
        .orderBy("doc_id"),
      oracle = SqlComponentsFullRecompute),
    // INCREMENTAL clustering (r16): fold the id-upper batch half into
    // the id-lower corpus half's existing assignment — delta-sized
    // pair generation (prefix-filtered batch-batch + broadcast-verify
    // batch-corpus; the corpus never shuffles) and a CONTRACTED
    // fixpoint over batch docs + touched component labels. The oracle
    // is the FULL recompute over the whole table, so the hash match
    // proves incremental == recompute exactly (the applyDelta law
    // applied to clustering — closing the one dedup family whose
    // incremental story was still "recompute nightly").
    // The standing assignment serves from the PERSISTED parquet
    // artifact (r17 — halfAssignPathFor, the pqIndexFor serve-only
    // contract): the row prices the fold FROM DISK, the real nightly
    // shape; the oracle hash proves persisted-fold == full recompute.
    QuerySpec("dedup_components_incremental", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(Tables.documents(s, dir), "doc_id")
      Dedup.jaccardComponentsIncremental(
        Dedup.loadComponentsAssign(s, halfAssignPathFor(s, dir)),
        corpus, batch, thresholdTenths = 9).orderBy("doc_id")
    },
      // the INCREMENTAL ops' oracle IS the full recompute over the whole
      // table — so the hash match proves the law
      // incremental(assign(C), C, B) == jaccardComponents(C ∪ B) exactly
      // (the applyDelta round-trip pattern applied to clustering); the
      // BANDED variant shares it, so its hash additionally measures the
      // band tier's recall on real data
      oracle = SqlComponentsFullRecompute),
    // The SAME fold past the broadcast cap (r17, the r16 verdict #4):
    // the batch-corpus pair tier routes through the persisted bands=8
    // index — candidates by banded equi-join, verification by the
    // exact sorted-intersect kernel — so unbounded arriving batches
    // get the clustering fold too. Declared at the 90/10 split (a 10%
    // arriving batch against a 90% standing lake — the shape this
    // tier exists for; corpus ∪ batch is the whole table either way,
    // so the oracle is the SAME full recompute). Banding is
    // md5-seeded deterministic, so the hash gate RE-PROVES this
    // configuration catches every qualifying pair on the fixture each
    // round (r=4 ~2e-4/pair in general; r=2's 4e-12 was measured 4x
    // more expensive than the recompute itself — candidate-mass
    // explosion on a self-similar corpus).
    QuerySpec("dedup_components_incremental_banded", (s, dir) => {
      val (batch, corpus) = splitByMaxIdFrac(Tables.documents(s, dir),
        "doc_id", 9, 10)
      Dedup.jaccardComponentsIncrementalBanded(s,
        Dedup.loadComponentsAssign(s, decileAssignPathFor(s, dir)),
        corpus, batch, lshDecile8IndexFor(s, dir),
        thresholdTenths = 9).orderBy("doc_id")
    },
      oracle = SqlComponentsFullRecompute),
    // Asymmetric containment ≥ 0.9 (|A∩B|/|A|): the quote-inclusion /
    // boilerplate-wrapping dedup mode Jaccard misses; directed pairs
    // (d1 contained in d2), one-sided prefix filter.
    QuerySpec("dedup_containment", (s, dir) =>
      Dedup.containmentPairs(Tables.documents(s, dir), thresholdTenths = 9)
        .orderBy("d1", "d2"),
      oracle =
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tok t1 JOIN tok t2
        |    ON t1.token = t2.token AND t1.lang = t2.lang AND t1.doc_id <> t2.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.d1, i.d2, i.inter, c1.n AS n1,
        |  CAST(i.inter AS DOUBLE) / c1.n AS containment
        |FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
        |WHERE i.inter * 10 >= c1.n * 9
        |ORDER BY d1, d2""".stripMargin),
    // bands=4 (r=8) targets J≳0.8 near-dups: on this high-mutual-
    // similarity corpus wider bands would admit ~30% of ALL pairs as
    // candidates, which is the LSH failure mode at scale.
    QuerySpec("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashLshPairs(Tables.documents(s, dir),
        bands = 4).orderBy("d1", "d2"),
      oracle = {
      // generated with the same seeded affine-family constants as
      // Dedup.minhashSignatures; candidates = any of the `bands`
      // signature slices equal (list equality, zero collision term)
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("a", "b")
      val matchSum = sqlMatchSum("a", "b")
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
         |  FROM documents),
         |tid AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5(token), 1, 10)) AS BIGINT) AS tid
         |        FROM tok),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  ($matchSum) / 32.0 AS est_jaccard
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq)
         |ORDER BY d1, d2""".stripMargin
    }),
    // The probabilistic tier's recall audit (the dedup sibling of
    // ann_recall_quantized / media_recall_ivf): per integer Jaccard
    // band, what fraction of the EXACT J >= 0.8 truth the declared
    // (K=32, bands=4) sketch surfaces — quality as a checked number.
    // Runs on the mod-4 systematic sample (the exact truth pass is
    // the audit's whole cost; pair mass scales 1/mod²).
    QuerySpec("dedup_recall_lsh", (s, dir) =>
      Dedup.lshRecallAudit(Tables.documents(s, dir)).orderBy("band"),
      oracle = {
      // truth = the dedup_jaccard_pairs CTEs at t=8 WITHOUT the lang
      // block (the sketch bands corpus-wide, so its audit truth is
      // corpus-wide); candidates = the dedup_minhash_lsh CTEs; recall
      // per integer Jaccard band in milli (floor div on both engines)
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("a", "b")
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
         |  FROM documents WHERE doc_id % 4 = 0),
         |$SqlJaccard8TruthCtes,
         |tid AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5(token), 1, 10)) AS BIGINT) AS tid
         |        FROM tok),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq))
         |SELECT t.band, CAST(COUNT(*) AS BIGINT) AS true_pairs,
         |  CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
         |  CAST((SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) * 1000)
         |    // COUNT(*) AS BIGINT) AS recall_milli
         |FROM truth t LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
         |GROUP BY 1 ORDER BY t.band""".stripMargin
    }),
    // Shingle-tier sibling: the char-12-gram sketch audited against
    // the exact n-gram Jaccard truth. Larger per-doc shingle sets →
    // lower estimator variance → the curve should sit at or above the
    // word tier's reading.
    QuerySpec("dedup_recall_shingle", (s, dir) =>
      Dedup.shingleRecallAudit(Tables.documents(s, dir)).orderBy("band"),
      oracle = {
      // truth = the dedup_ngram_jaccard CTEs at t=8 without the lang
      // block (corpus-wide, matching the sketch); candidates = the
      // dedup_minhash_shingle CTEs (FNV window hashes masked to 40
      // bits); same per-band milli-recall report as dedup_recall_lsh
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("a", "b")
      val winFnv40 =
        s"CAST(${sqlFnvUnsigned("substr(text, i, 12)")} % 1099511627776::HUGEINT AS BIGINT)"
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
         |    range(1, greatest(length(text) - 11, 1) + 1),
         |    i -> substr(text, i, 12)))) AS token
         |  FROM documents WHERE doc_id % 4 = 0),
         |$SqlJaccard8TruthCtes,
         |tid AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(length(text) - 11, 1) + 1),
         |    i -> $winFnv40))) AS tid
         |  FROM documents WHERE doc_id % 4 = 0),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq))
         |SELECT t.band, CAST(COUNT(*) AS BIGINT) AS true_pairs,
         |  CAST(SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
         |  CAST((SUM(CASE WHEN c.d1 IS NOT NULL THEN 1 ELSE 0 END) * 1000)
         |    // COUNT(*) AS BIGINT) AS recall_milli
         |FROM truth t LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
         |GROUP BY 1 ORDER BY t.band""".stripMargin
    }),
    // Precision twin: every LSH candidate bucketed by estimated-J
    // band vs the exact J >= 0.8 truth — the measured cost of the
    // banding knobs (a near-zero band is pure wasted verify work).
    QuerySpec("dedup_precision_lsh", (s, dir) =>
      Dedup.lshPrecisionAudit(Tables.documents(s, dir)).orderBy("est_band"),
      oracle = {
      // candidates with their estimated-J band (integer-exact:
      // floor(10·k/32) — 10k/32 is a binary fraction) vs the exact
      // corpus-wide (lang-free) t=8 truth; per-band precision in milli
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("a", "b")
      val matchSum = sqlMatchSum("a", "b")
      s"""WITH tok AS (
         |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
         |  FROM documents WHERE doc_id % 4 = 0),
         |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
         |  FROM tok t1 JOIN tok t2
         |    ON t1.token = t2.token AND t1.doc_id < t2.doc_id
         |  GROUP BY 1, 2),
         |truth AS (
         |  SELECT i.d1, i.d2
         |  FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
         |               JOIN cnt c2 ON i.d2 = c2.doc_id
         |  WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * 8),
         |tid AS (SELECT doc_id,
         |          CAST(concat('0x', substr(md5(token), 1, 10)) AS BIGINT) AS tid
         |        FROM tok),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2,
         |    CAST((($matchSum) * 10) // 32 AS INT) AS est_band
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq))
         |SELECT c.est_band, CAST(COUNT(*) AS BIGINT) AS candidates,
         |  CAST(SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS true_hits,
         |  CAST((SUM(CASE WHEN t.d1 IS NOT NULL THEN 1 ELSE 0 END) * 1000)
         |    // COUNT(*) AS BIGINT) AS precision_milli
         |FROM cand c LEFT JOIN truth t ON c.d1 = t.d1 AND c.d2 = t.d2
         |GROUP BY 1 ORDER BY c.est_band""".stripMargin
    }),
    // maxDistance=4 → 5 bands of 12 bits (pigeonhole-exact recall).
    // Tight k is the near-dup regime (corpus Hamming distances center
    // at ~19/60, so k=4 is a genuine tail) AND the regime where band
    // blocking is selective: 6.4% of pairs are candidates here vs the
    // 20% the old intra-lang join always paid.
    QuerySpec("dedup_simhash", (s, dir) =>
      Dedup.simhashPairs(Tables.documents(s, dir), maxDistance = 4)
        .orderBy("d1", "d2"),
      oracle = {
      // generated to mirror Dedup.simhashFingerprints bit-for-bit: the
      // md5-hex token hash is the cross-engine primitive
      val bitSums = (0 until Dedup.SimhashBits).map(b =>
        s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
        .mkString(", ")
      val fpExpr = (0 until Dedup.SimhashBits).map(b =>
        s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      // the engine's band blocking has pigeonhole-EXACT recall, so the
      // oracle runs the plan-independent naive form: every pair,
      // corpus-wide, at Hamming ≤ 4
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) AS h FROM tok),
         |bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
         |fp AS (SELECT doc_id, $fpExpr AS simhash FROM bits)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
         |ORDER BY d1, d2""".stripMargin
    }),
    // Shingle-based MinHash LSH: sketch over character 12-grams — the
    // tokenization-robust sibling of dedup_minhash_lsh.
    QuerySpec("dedup_minhash_shingle", (s, dir) =>
      Dedup.minhashShingleLshPairs(Tables.documents(s, dir)).orderBy("d1", "d2"),
      oracle = {
      // same seeded affine family as the Spark sketch, over FNV window
      // hashes masked to 40 bits (fold reproduced in HUGEINT mod 2^64;
      // unsigned-mod 2^40 equals Spark's `& (2^40-1)` on wrapped longs)
      val sigMins = SqlSigMins
      val bandEq = sqlBandEq("a", "b")
      val matchSum = sqlMatchSum("a", "b")
      val winFnv40 =
        s"CAST(${sqlFnvUnsigned("substr(text, i, 12)")} % 1099511627776::HUGEINT AS BIGINT)"
      s"""WITH tid AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(length(text) - 11, 1) + 1),
         |    i -> $winFnv40))) AS tid
         |  FROM documents),
         |sig AS (SELECT doc_id, $sigMins AS s FROM tid GROUP BY doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |  ($matchSum) / 32.0 AS est_jaccard
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq)
         |ORDER BY d1, d2""".stripMargin
    }),
    // Sub-token tier: character 12-gram Jaccard ≥ 0.9 — catches
    // reformatted near-dups word tokens miss. 12-grams (≈2 words) stay
    // discriminative on this 31-token-vocabulary corpus; shorter grams
    // are shared by most docs, which floods the candidate join.
    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 12,
        thresholdTenths = 9).orderBy("d1", "d2"),
      oracle =
      s"""WITH tok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text) - 11, 1) + 1),
        |    i -> substr(text, i, 12)))) AS token
        |  FROM documents),
        |$SqlCntInterCtes
        |SELECT d1, d2, inter, n1 + n2 - inter AS uni,
        |  CAST(inter AS DOUBLE) / (n1 + n2 - inter) AS jaccard
        |FROM (SELECT i.d1, i.d2, i.inter, c1.n AS n1, c2.n AS n2
        |      FROM inter i JOIN cnt c1 ON i.d1 = c1.doc_id
        |                   JOIN cnt c2 ON i.d2 = c2.doc_id) j
        |WHERE inter * 10 >= (n1 + n2 - inter) * 9
        |ORDER BY d1, d2""".stripMargin),
    // Sorted-neighborhood (merge/purge) tier: each doc vs its 4
    // successors in per-lang (text, doc_id) order, Jaccard >= 0.9 —
    // the LINEAR-candidate (window*N) first pass of a dedup cascade.
    QuerySpec("dedup_snm", (s, dir) =>
      Dedup.snmPairs(Tables.documents(s, dir), window = SnmWindow,
        thresholdTenths = SnmTenths).orderBy("d1", "d2"),
      oracle = {
      s"""WITH ranked AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY text, doc_id) AS rnk
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db
        |  FROM ranked a JOIN ranked b
        |    ON a.lang = b.lang AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT p.da, p.db, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM pairs p JOIN tok t1 ON t1.doc_id = p.da
        |    JOIN tok t2 ON t2.doc_id = p.db AND t2.token = t1.token
        |  GROUP BY 1, 2)
        |SELECT least(i.da, i.db) AS d1, greatest(i.da, i.db) AS d2, i.inter,
        |  c1.n + c2.n - i.inter AS uni,
        |  CAST(i.inter AS DOUBLE) / (c1.n + c2.n - i.inter) AS jaccard
        |FROM inter i JOIN cnt c1 ON i.da = c1.doc_id
        |  JOIN cnt c2 ON i.db = c2.doc_id
        |WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * $SnmTenths
        |ORDER BY d1, d2""".stripMargin
    }),
    // Tiered dedup cascade capstone: exact -> SNM -> prefix-Jaccard,
    // cheap-first so the expensive tier sees the smallest relation;
    // output = the per-language funnel after each stage.
    QuerySpec("dedup_cascade", (s, dir) =>
      Dedup.dedupCascade(Tables.documents(s, dir), window = SnmWindow,
        snmTenths = SnmTenths, jacTenths = CascadeJacTenths)
        .orderBy("lang"),
      oracle = {
      s"""WITH s1 AS (
        |  SELECT d.* FROM documents d
        |  JOIN (SELECT md5(text) AS h, MIN(doc_id) AS keep
        |        FROM documents GROUP BY 1) k
        |    ON md5(d.text) = k.h AND d.doc_id = k.keep),
        |snr AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY text, doc_id) AS rnk
        |  FROM s1),
        |snc AS (
        |  SELECT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db
        |  FROM snr a JOIN snr b
        |    ON a.lang = b.lang AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow),
        |tok1 AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM s1),
        |cnt1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok1 GROUP BY 1),
        |sni AS (
        |  SELECT p.da, p.db, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM snc p JOIN tok1 t1 ON t1.doc_id = p.da
        |    JOIN tok1 t2 ON t2.doc_id = p.db AND t2.token = t1.token
        |  GROUP BY 1, 2),
        |sndrop AS (
        |  SELECT DISTINCT i.db AS doc_id FROM sni i
        |  JOIN cnt1 c1 ON i.da = c1.doc_id JOIN cnt1 c2 ON i.db = c2.doc_id
        |  WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * $SnmTenths),
        |s2 AS (SELECT * FROM s1
        |  WHERE doc_id NOT IN (SELECT doc_id FROM sndrop)),
        |tok2 AS (
        |  SELECT doc_id, lang, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM s2),
        |cnt2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok2 GROUP BY 1),
        |ji AS (
        |  SELECT t1.doc_id AS d1, t2.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tok2 t1 JOIN tok2 t2
        |    ON t1.token = t2.token AND t1.lang = t2.lang AND t1.doc_id < t2.doc_id
        |  GROUP BY 1, 2),
        |jdrop AS (
        |  SELECT DISTINCT i.d2 AS doc_id FROM ji i
        |  JOIN cnt2 c1 ON i.d1 = c1.doc_id JOIN cnt2 c2 ON i.d2 = c2.doc_id
        |  WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * $CascadeJacTenths),
        |s3 AS (SELECT * FROM s2
        |  WHERE doc_id NOT IN (SELECT doc_id FROM jdrop))
        |SELECT a.lang, a.n_docs,
        |  CAST(COALESCE(b.n_exact, 0) AS BIGINT) AS n_exact,
        |  CAST(COALESCE(c.n_snm, 0) AS BIGINT) AS n_snm,
        |  CAST(COALESCE(e.n_jaccard, 0) AS BIGINT) AS n_jaccard
        |FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |      FROM documents GROUP BY 1) a
        |LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_exact
        |           FROM s1 GROUP BY 1) b ON a.lang = b.lang
        |LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_snm
        |           FROM s2 GROUP BY 1) c ON a.lang = c.lang
        |LEFT JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_jaccard
        |           FROM s3 GROUP BY 1) e ON a.lang = e.lang
        |ORDER BY a.lang""".stripMargin
    }),
    // Multi-pass SNM (the deployed merge/purge form): text-order pass
    // UNION reversed-text pass — suffix-sharing near-dups that diverge
    // in their opening tokens become adjacent in pass 2.
    QuerySpec("dedup_snm_multipass", (s, dir) =>
      Dedup.snmPairsMultiPass(Tables.documents(s, dir), window = SnmWindow,
        thresholdTenths = SnmTenths).orderBy("d1", "d2"),
      oracle = {
      s"""WITH r1 AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY text, doc_id) AS rnk
        |  FROM documents),
        |r2 AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY reverse(text), doc_id) AS rnk
        |  FROM documents),
        |pairs AS (
        |  SELECT least(a.doc_id, b.doc_id) AS da, greatest(a.doc_id, b.doc_id) AS db
        |  FROM r1 a JOIN r1 b
        |    ON a.lang = b.lang AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow
        |  UNION
        |  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id)
        |  FROM r2 a JOIN r2 b
        |    ON a.lang = b.lang AND b.rnk > a.rnk AND b.rnk <= a.rnk + $SnmWindow),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents),
        |cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        |inter AS (
        |  SELECT p.da, p.db, CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM pairs p JOIN tok t1 ON t1.doc_id = p.da
        |    JOIN tok t2 ON t2.doc_id = p.db AND t2.token = t1.token
        |  GROUP BY 1, 2)
        |SELECT i.da AS d1, i.db AS d2, i.inter,
        |  c1.n + c2.n - i.inter AS uni,
        |  CAST(i.inter AS DOUBLE) / (c1.n + c2.n - i.inter) AS jaccard
        |FROM inter i JOIN cnt c1 ON i.da = c1.doc_id
        |  JOIN cnt c2 ON i.db = c2.doc_id
        |WHERE i.inter * 10 >= (c1.n + c2.n - i.inter) * $SnmTenths
        |ORDER BY d1, d2""".stripMargin
    }),
    // Semantic tier: embedding-cosine near-dups (label-blocked). The
    // synthetic embedding space tops out near cos 0.48, so 0.35 is the
    // "anomalously close" tail (13-400 pairs across SFs), not noise.
    QuerySpec("dedup_embedding", (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir),
        thresholdHundredths = 35).orderBy("d1", "d2"),
      oracle =
      """WITH prod AS (
        |  SELECT a.label, a.vec_id AS d1, b.vec_id AS d2,
        |    SUM(CAST(FLOOR(CAST(a.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)
        |      * CAST(FLOOR(CAST(b.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)) AS dot,
        |    SUM(CAST(FLOOR(CAST(a.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)
        |      * CAST(FLOOR(CAST(a.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)) AS na,
        |    SUM(CAST(FLOOR(CAST(b.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)
        |      * CAST(FLOOR(CAST(b.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)) AS nb
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  CROSS JOIN generate_series(1, 64) g(k)
        |  GROUP BY 1, 2, 3)
        |SELECT label, d1, d2,
        |  CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS cos
        |FROM prod
        |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
        |ORDER BY d1, d2""".stripMargin),
    // SemDeDup: k-means-cluster the corpus (k-knob Lloyd codebook, the
    // O(N²/k) dial), then keep/drop inside each cluster by
    // integer-exact squared-cosine against lower-id twins.
    QuerySpec("semdedup", (s, dir) =>
      Similarity.semDedup(s, Tables.embeddings(s, dir),
        thresholdHundredths = SemDedupHundredths,
        k = SemK, rounds = SemLloydRounds).orderBy("vec_id"),
      oracle =
      s"""WITH $SqlSemClusterCtes,
         |$SqlSemDedupPairDupCtes
         |SELECT asg.vec_id, asg.cluster,
         |  CAST(CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
         |  CAST(COALESCE(dup.dup_of, -1) AS BIGINT) AS dup_of
         |FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
         |ORDER BY asg.vec_id""".stripMargin),
    // D4's second stage: drop the 25% most prototypical (closest to
    // centroid) vectors per cluster, keeping the diverse tail.
    QuerySpec("proto_prune", (s, dir) =>
      Similarity.protoPrune(s, Tables.embeddings(s, dir),
        pct = ProtoPrunePct, k = SemK, rounds = SemLloydRounds)
        .orderBy("vec_id"),
      oracle =
      s"""WITH $SqlSemClusterCtes,
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_c
         |       FROM asg GROUP BY 1),
         |r AS (SELECT vec_id, cluster, dist,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY dist, vec_id) AS BIGINT) AS rnk
         |  FROM asg)
         |SELECT r.vec_id, r.cluster, r.dist, r.rnk,
         |  CAST(CASE WHEN r.rnk > (sz.n_c * $ProtoPrunePct) // 100
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r JOIN sz ON r.cluster = sz.cluster
         |ORDER BY r.vec_id""".stripMargin),
    // The composed D4 pipeline: semantic dedup, then prototype pruning
    // among the SURVIVORS — per-cluster funnel counts.
    QuerySpec("pipeline_d4", (s, dir) =>
      Similarity.d4Funnel(s, Tables.embeddings(s, dir),
        thresholdHundredths = SemDedupHundredths, pct = ProtoPrunePct,
        k = SemK, rounds = SemLloydRounds).orderBy("cluster"),
      oracle =
      s"""WITH $SqlSemClusterCtes,
         |$SqlSemDedupPairDupCtes,
         |verdict AS (SELECT asg.vec_id, asg.cluster, asg.dist,
         |    CASE WHEN dup.dup_of IS NULL THEN 1 ELSE 0 END AS kept
         |  FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id),
         |surv AS (SELECT * FROM verdict WHERE kept = 1),
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_s
         |       FROM surv GROUP BY 1),
         |r AS (SELECT vec_id, cluster,
         |    CAST(row_number() OVER (PARTITION BY cluster
         |      ORDER BY dist, vec_id) AS BIGINT) AS rnk
         |  FROM surv),
         |ap AS (SELECT r.cluster, CAST(COUNT(*) AS BIGINT) AS after_proto
         |  FROM r JOIN sz ON r.cluster = sz.cluster
         |  WHERE r.rnk > (sz.n_s * $ProtoPrunePct) // 100
         |  GROUP BY 1)
         |SELECT v.cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(v.kept) AS BIGINT) AS after_semdedup,
         |  CAST(COALESCE(MAX(ap.after_proto), 0) AS BIGINT) AS after_proto
         |FROM verdict v LEFT JOIN ap ON v.cluster = ap.cluster
         |GROUP BY 1 ORDER BY v.cluster""".stripMargin),
    // Transitive semantic duplicate clusters: components over the
    // qualifying semdedup pair graph (union-find-seeded).
    QuerySpec("semdedup_components", (s, dir) =>
      Similarity.semDedupComponents(s, Tables.embeddings(s, dir),
        thresholdHundredths = SemDedupHundredths,
        k = SemK, rounds = SemLloydRounds).orderBy("vec_id"),
      oracle = {
      val t2 = SemDedupHundredths.toLong * SemDedupHundredths
      s"""WITH RECURSIVE $SqlSemClusterCtes,
         |$SqlSemDedupPairDupCtes,
         |qp AS (SELECT id_a, id_b FROM pair
         |  WHERE dot > 0 AND 10000 * dot * dot >= $t2 * na * nb),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM qp
         |  UNION SELECT id_b, id_a FROM qp),
         |reach(src, dst) AS (
         |  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT src AS vec_id, CAST(MIN(dst) AS BIGINT) AS component
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin
    }),
    // Incremental SEMANTIC dedup: the id-upper batch half against the
    // id-lower corpus half, blocked by the CORPUS codebook — batch
    // vectors with a corpus near-twin drop, batch-batch twins both
    // survive (ingestion dedup never judges the batch against itself).
    QuerySpec("dedup_incremental_embedding", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(Tables.embeddings(s, dir), "vec_id")
      Similarity.semDedupAgainstCorpus(s, batch, corpus,
        thresholdHundredths = SemDedupHundredths)
        .orderBy("vec_id")
    },
      oracle = {
      val t2 = SemDedupHundredths.toLong * SemDedupHundredths
      val cb = "CAST(FLOOR(CAST(embedding[g.k] AS DOUBLE) * 1000) AS BIGINT)"
      val ed = "CAST(FLOOR(CAST(e.embedding[c.dim] AS DOUBLE) * 1000) AS BIGINT)"
      val pb = "CAST(FLOOR(CAST(b.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)"
      val pc = "CAST(FLOOR(CAST(c.embedding[g.k] AS DOUBLE) * 100) AS BIGINT)"
      s"""WITH half AS (SELECT MAX(vec_id) // 2 AS h FROM embeddings),
         |corp AS (SELECT e.* FROM embeddings e, half WHERE e.vec_id <= half.h),
         |bat AS (SELECT e.* FROM embeddings e, half WHERE e.vec_id > half.h),
         |cq AS (
         |  SELECT label AS cluster, g.k AS dim,
         |    CAST(SUM($cb) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cqd
         |  FROM corp CROSS JOIN generate_series(1, 64) g(k)
         |  GROUP BY 1, 2),
         |distb AS (
         |  SELECT e.vec_id, c.cluster,
         |    CAST(SUM(($ed - c.cqd) * ($ed - c.cqd)) AS BIGINT) AS dist
         |  FROM bat e CROSS JOIN cq c GROUP BY 1, 2),
         |asgb AS (SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cluster) AS rn
         |    FROM distb) t WHERE rn = 1),
         |distc AS (
         |  SELECT e.vec_id, c.cluster,
         |    CAST(SUM(($ed - c.cqd) * ($ed - c.cqd)) AS BIGINT) AS dist
         |  FROM corp e CROSS JOIN cq c GROUP BY 1, 2),
         |asgc AS (SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY dist, cluster) AS rn
         |    FROM distc) t WHERE rn = 1),
         |pair AS (
         |  SELECT ab.vec_id AS id_b,
         |    CAST(SUM($pb * $pc) AS BIGINT) AS dot,
         |    CAST(SUM($pb * $pb) AS BIGINT) AS nb,
         |    CAST(SUM($pc * $pc) AS BIGINT) AS nc
         |  FROM asgb ab JOIN bat b ON b.vec_id = ab.vec_id
         |  JOIN asgc ac ON ac.cluster = ab.cluster
         |  JOIN corp c ON c.vec_id = ac.vec_id
         |  CROSS JOIN generate_series(1, 64) g(k)
         |  GROUP BY ab.vec_id, ac.vec_id),
         |m AS (SELECT DISTINCT id_b FROM pair
         |  WHERE dot > 0 AND 10000 * dot * dot >= $t2 * nb * nc)
         |SELECT ab.vec_id, ab.cluster FROM asgb ab
         |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.id_b = ab.vec_id)
         |ORDER BY ab.vec_id""".stripMargin
    }),
    // Incremental semantic dedup served FROM THE PERSISTED INDEX (r14
    // — the lake index's flagship pipeline use): the id-upper crawl
    // batch probes the id-lower half's savePqIndex and drops on ADC
    // distance <= threshold, codes-only — the lake's raw vectors never
    // load, and survivors are what appendToPqIndex would ingest.
    QuerySpec("dedup_incremental_indexed", (s, dir) => {
      val (batch, _) = halvesByMaxId(Tables.embeddings(s, dir), "vec_id")
      Similarity.dedupIncrementalFromIndex(s, batch,
          pqHalfIndexFor(s, dir), maxAdist = IncIndexedMaxAdist)
        .orderBy("vec_id")
    },
      // Index-served incremental dedup: the ann_ivf_pq training chain
      // replayed over the CORPUS HALF only (qv filters to vec_id <= h,
      // so every seed/round/assignment CTE below it is corpus-only),
      // with a separate batch-side chain (qvb) for cell probe + ADC
      // distance table, then MIN-per-qid thresholding; fail-open
      // (a batch vector with no probed-cell candidate survives).
      oracle =
      s"""WITH half AS (SELECT MAX(vec_id) // 2 AS h FROM embeddings),
         |qv AS (
         |  SELECT vec_id, CAST(s.k AS BIGINT) AS d,
         |    CAST(FLOOR(CAST(embedding[s.k] AS DOUBLE) * 1000) AS BIGINT) AS q
         |  FROM embeddings CROSS JOIN half CROSS JOIN generate_series(1, 64) s(k)
         |  WHERE vec_id <= h),
         |qvb AS (
         |  SELECT vec_id, CAST(s.k AS BIGINT) AS d,
         |    CAST(FLOOR(CAST(embedding[s.k] AS DOUBLE) * 1000) AS BIGINT) AS q
         |  FROM embeddings CROSS JOIN half CROSS JOIN generate_series(1, 64) s(k)
         |  WHERE vec_id > h),
         |${sqlCellCtes(IvfCells, IvfCellRounds)},
         |${sqlSvRaw(PqM)},
         |${sqlPqTrainCtes(PqCw, PqRounds)},
         |bcd AS (SELECT v.vec_id, b.cluster,
         |    CAST(SUM((v.q - b.cqd) * (v.q - b.cqd)) AS BIGINT) AS dist
         |  FROM qvb v JOIN ccq b ON v.d = b.d GROUP BY 1, 2),
         |bbest AS (SELECT vec_id, cluster FROM (
         |    SELECT vec_id, cluster, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist, cluster) AS crn FROM bcd) t WHERE crn <= 1),
         |bsv AS (SELECT vec_id, CAST((d - 1) // ${64 / PqM} AS BIGINT) AS sub,
         |  d, q FROM qvb),
         |bqd AS (SELECT v.vec_id AS qid, v.sub, b.code,
         |    CAST(SUM((v.q - b.cs) * (v.q - b.cs)) AS BIGINT) AS qdist
         |  FROM bsv v JOIN pbook b ON v.sub = b.sub AND v.d = b.d
         |  GROUP BY 1, 2, 3),
         |cand AS (SELECT bb.vec_id AS qid, a.vec_id
         |         FROM bbest bb JOIN casg a ON a.cluster = bb.cluster),
         |ad AS (SELECT cand.qid, cand.vec_id,
         |    CAST(SUM(q2.qdist) AS BIGINT) AS adist
         |  FROM cand JOIN pcodes c ON c.vec_id = cand.vec_id
         |  JOIN bqd q2 ON q2.qid = cand.qid AND q2.sub = c.sub
         |    AND q2.code = c.code
         |  GROUP BY 1, 2),
         |mind AS (SELECT qid, MIN(adist) AS md FROM ad GROUP BY 1)
         |SELECT b.vec_id FROM (SELECT DISTINCT vec_id FROM qvb) b
         |LEFT JOIN mind ON mind.qid = b.vec_id
         |WHERE mind.md IS NULL OR mind.md > $IncIndexedMaxAdist
         |ORDER BY 1""".stripMargin),
  )
}
