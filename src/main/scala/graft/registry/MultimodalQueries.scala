package graft
package registry

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Multimodal

import graft.SparkEntry._

/** Multimodal plumbing ([[graft.operators.Multimodal]]): a stubbed
  * codec behind the real Spark surface. */
private[graft] object MultimodalQueries {
  /** Persisted media IVF index for `media_ann_ivf_indexed` (r18, the
    * r17 verdict #3 — the media sibling of [[SparkEntry.pqIndexFor]]): codebook +
    * cell-partitioned fingerprint postings over the derived media
    * table, built at most once per corpus dir; repeat invocations
    * price the DPP-pruned SERVE. */
  private def mediaIvfIndexFor(s: SparkSession, dir: String): String =
    persisted(dir + "#media_ivf") { p =>
      Multimodal.saveMediaIvfIndex(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)), p,
        kPerKind = MediaIvfK)
    }

  /** Media dedup thresholds (query + oracle, the [[IncContainTenths]]
    * rule): perceptual-hash Hamming radius 4 — measured on this corpus,
    * true near-dups land at Hamming ≤ 1 and the unrelated floor sits at
    * ≥ 10, so 4 separates cleanly — and byte-histogram cosine ≥ 0.99
    * as the feature-space verification gate (candidates measure
    * ≥ 0.9938; the gate exists to kill band collisions at scale). */
  private val MediaHam = 4
  private val MediaCosHundredths = 99

  /** `media_knn` query-set size and cutoff (query + oracle): ids < 6
    * cover all three kinds twice. */
  private val MediaKnnQ = 6
  private val MediaKnnK = 5
  /** Media IVF codebook size per kind (the k knob; ~√(N/kinds) in
    * production — 4 keeps sf0.01's ~167-media kinds at ~40-member
    * cells, large enough that probe-1 recall is a real measurement). */
  private val MediaIvfK = 4

  /** Shared media-oracle CTEs: the stub codec's block-mean perceptual
    * hash re-expressed in SQL — stride-downsample to ≤ 240 samples
    * (0-based byte index j·stride, exactly [[graft.operators.Multimodal.StubCodec.blockHash]]),
    * round-robin into 60 blocks, bit = block sum above the global mean
    * by integer cross-multiplication. ASCII corpus ⇒ unicode(char) =
    * byte value (the [[sqlFnvUnsigned]] precedent). */
  private val SqlMediaPhashCtes: String =
    """med AS (
      |  SELECT doc_id AS media_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |         ELSE 'video' END AS kind,
      |    text, CAST(length(text) AS BIGINT) AS len
      |  FROM documents
      |  WHERE length(text) >= 1),
      |samp AS (
      |  SELECT media_id, j % 60 AS b,
      |    unicode(substr(text,
      |      CAST(1 + j * CAST(ceil(len / 240.0) AS BIGINT) AS INT), 1)) AS v
      |  FROM med
      |  CROSS JOIN LATERAL unnest(range(0,
      |    CAST(ceil(len / ceil(len / 240.0)) AS BIGINT))) AS t(j)),
      |tot AS (SELECT media_id, SUM(v) AS total, COUNT(*) AS mc
      |        FROM samp GROUP BY 1),
      |blk AS (SELECT media_id, b, SUM(v) AS bs, COUNT(*) AS bc
      |        FROM samp GROUP BY 1, 2),
      |ph AS (
      |  SELECT blk.media_id,
      |    CAST(SUM(CASE WHEN bs * mc > total * bc
      |      THEN (CAST(1 AS BIGINT) << CAST(b AS INT)) ELSE 0 END)
      |      AS BIGINT) AS phash
      |  FROM blk JOIN tot USING (media_id) GROUP BY 1)""".stripMargin

  /** Byte-value histogram feature + squared norm (the verification
    * cosine's integer inputs), mod-16 buckets as in
    * [[graft.operators.Multimodal.HistDim]]. */
  private val SqlMediaHistCtes: String =
    """hist AS (
      |  SELECT media_id, unicode(substr(text, CAST(j AS INT), 1)) % 16 AS hb,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM med CROSS JOIN LATERAL unnest(range(1, len + 1)) AS t(j)
      |  GROUP BY 1, 2),
      |hnorm AS (SELECT media_id, SUM(c * c) AS nsq FROM hist GROUP BY 1)""".stripMargin

  /** Shared media-IVF oracle CTEs: the kind-blocked integer Lloyd
    * build of [[graft.operators.Multimodal.mediaIvfBook]] replayed in
    * SQL — dense 16-dim L1-NORMALIZED histograms ((c · 10⁶) // len,
    * the spherical-k-means projection of
    * [[graft.operators.Multimodal.withHistN]]; absent buckets = 0),
    * each kind's `MediaIvfK` lowest media_ids seed clusters with their
    * normalized histogram as centroid, one round of exact-integer
    * squared-L2 reassignment (tie-break cluster asc) + per-dim
    * `sum // n` update, then the final assignment `a1` and the query
    * set `q`. The rerank CTEs score the RAW sparse histograms —
    * normalization decides only which cell a media lives in. */
  private val SqlMediaIvfCtes: String =
    s"""med AS (
       |  SELECT doc_id AS media_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |         ELSE 'video' END AS kind,
       |    text, CAST(length(text) AS BIGINT) AS len
       |  FROM documents
       |  WHERE length(text) >= 1),
       |hist AS (
       |  SELECT media_id, unicode(substr(text, CAST(j AS INT), 1)) % 16 AS hb,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM med CROSS JOIN LATERAL unnest(range(1, len + 1)) AS t(j)
       |  GROUP BY 1, 2),
       |hnorm AS (SELECT media_id, SUM(c * c) AS nsq FROM hist GROUP BY 1),
       |dims AS (SELECT unnest(range(0, 16)) AS hb),
       |histf AS (
       |  SELECT m.media_id, m.kind, dims.hb,
       |    (COALESCE(h.c, 0) * 1000000) // m.len AS c
       |  FROM med m CROSS JOIN dims
       |  LEFT JOIN hist h ON h.media_id = m.media_id AND h.hb = dims.hb),
       |seeds AS (
       |  SELECT kind, media_id AS cluster FROM (
       |    SELECT kind, media_id,
       |      row_number() OVER (PARTITION BY kind ORDER BY media_id) AS srn
       |    FROM med) s WHERE srn <= $MediaIvfK),
       |cq0 AS (
       |  SELECT s.kind, s.cluster, f.hb, f.c AS v
       |  FROM seeds s JOIN histf f ON f.media_id = s.cluster),
       |a0 AS (
       |  SELECT media_id, cluster FROM (
       |    SELECT f.media_id, c0.cluster,
       |      row_number() OVER (PARTITION BY f.media_id
       |        ORDER BY SUM((f.c - c0.v) * (f.c - c0.v)), c0.cluster) AS arn
       |    FROM histf f JOIN cq0 c0 ON f.kind = c0.kind AND f.hb = c0.hb
       |    GROUP BY f.media_id, c0.cluster) x WHERE arn = 1),
       |cq1 AS (
       |  SELECT f.kind, a.cluster, f.hb, SUM(f.c) // COUNT(*) AS v
       |  FROM a0 a JOIN histf f ON f.media_id = a.media_id
       |  GROUP BY 1, 2, 3),
       |a1 AS (
       |  SELECT media_id, kind, cluster FROM (
       |    SELECT f.media_id, f.kind, c1.cluster,
       |      row_number() OVER (PARTITION BY f.media_id
       |        ORDER BY SUM((f.c - c1.v) * (f.c - c1.v)), c1.cluster) AS arn
       |    FROM histf f JOIN cq1 c1 ON f.kind = c1.kind AND f.hb = c1.hb
       |    GROUP BY f.media_id, f.kind, c1.cluster) x WHERE arn = 1),
       |q AS (SELECT media_id AS qid, kind FROM med
       |      WHERE media_id < $MediaKnnQ)""".stripMargin

  /** The per-probe-count tail of the media-IVF oracle: probe the
    * `p` best cells per query (exact integer centroid distance,
    * tie-break cluster asc), exact-cosine rerank their members —
    * candidate-side bucket match LEFT + COALESCE exactly as the
    * media_knn oracle, so disjoint-bucket members score dot = 0. */
  private def sqlMediaIvfTopK(p: Int): String =
    s"""probed$p AS (
       |  SELECT qid, cluster FROM (
       |    SELECT t.qid, c1.cluster,
       |      row_number() OVER (PARTITION BY t.qid
       |        ORDER BY SUM((fq.c - c1.v) * (fq.c - c1.v)), c1.cluster) AS crn
       |    FROM q t JOIN histf fq ON fq.media_id = t.qid
       |    JOIN cq1 c1 ON c1.kind = t.kind AND c1.hb = fq.hb
       |    GROUP BY t.qid, c1.cluster) x WHERE crn <= $p),
       |cand$p AS (
       |  SELECT pr.qid, pr.cluster, a.media_id, a.kind
       |  FROM probed$p pr JOIN a1 a ON a.cluster = pr.cluster
       |  WHERE a.media_id <> pr.qid),
       |dots$p AS (
       |  SELECT c.qid, c.cluster, c.media_id, c.kind,
       |    COALESCE(SUM(h1.c * h2.c), 0) AS dot
       |  FROM cand$p c
       |  JOIN hist h1 ON c.qid = h1.media_id
       |  LEFT JOIN hist h2 ON c.media_id = h2.media_id AND h1.hb = h2.hb
       |  GROUP BY 1, 2, 3, 4),
       |ivf$p AS (
       |  SELECT qid, cluster, media_id, kind, cos,
       |    CAST(row_number() OVER (PARTITION BY qid
       |      ORDER BY cos DESC, media_id) AS BIGINT) AS rn
       |  FROM (
       |    SELECT d.qid, d.cluster, d.media_id, d.kind,
       |      CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(nm.nsq AS DOUBLE))) AS cos
       |    FROM dots$p d JOIN hnorm nq ON d.qid = nq.media_id
       |    JOIN hnorm nm ON d.media_id = nm.media_id) s)""".stripMargin

  private def sqlMediaAnnIvf(p: Int): String =
    s"""WITH $SqlMediaIvfCtes,
       |${sqlMediaIvfTopK(p)}
       |SELECT qid, cluster, media_id, kind, cos, rn
       |FROM ivf$p WHERE rn <= $MediaKnnK
       |ORDER BY qid, rn""".stripMargin

  /** `media_recall_ivf` oracle: the brute kind-blocked exact-cosine
    * truth (the media_knn chain) beside the IVF chain at probes 1 and
    * 2, hit counts per query per setting. */
  private def sqlMediaRecallIvf: String = {
    def hits(p: Int) =
      s"""hit$p AS (
         |  SELECT t.qid, CAST(COUNT(*) AS BIGINT) AS hits
         |  FROM truth t JOIN ivf$p i
         |    ON t.qid = i.qid AND t.media_id = i.media_id
         |  WHERE i.rn <= $MediaKnnK
         |  GROUP BY 1)"""
    def leg(p: Int) =
      s"""SELECT q.qid, CAST($p AS BIGINT) AS probes,
         |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
         |  CAST(1000 * COALESCE(h.hits, 0) // $MediaKnnK AS BIGINT) AS recall_milli
         |FROM q LEFT JOIN hit$p h ON q.qid = h.qid"""
    s"""WITH $SqlMediaIvfCtes,
       |bcand AS (
       |  SELECT t.qid, m.media_id FROM q t
       |  JOIN med m ON t.kind = m.kind AND m.media_id <> t.qid),
       |bdots AS (
       |  SELECT c.qid, c.media_id, COALESCE(SUM(h1.c * h2.c), 0) AS dot
       |  FROM bcand c
       |  JOIN hist h1 ON c.qid = h1.media_id
       |  LEFT JOIN hist h2 ON c.media_id = h2.media_id AND h1.hb = h2.hb
       |  GROUP BY 1, 2),
       |truth AS (
       |  SELECT qid, media_id FROM (
       |    SELECT d.qid, d.media_id,
       |      row_number() OVER (PARTITION BY d.qid ORDER BY
       |        CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(nm.nsq AS DOUBLE))) DESC,
       |        d.media_id) AS rn
       |    FROM bdots d JOIN hnorm nq ON d.qid = nq.media_id
       |    JOIN hnorm nm ON d.media_id = nm.media_id) s WHERE rn <= $MediaKnnK),
       |${sqlMediaIvfTopK(1)},
       |${sqlMediaIvfTopK(2)},
       |${hits(1)},
       |${hits(2)}
       |${leg(1)}
       |UNION ALL
       |${leg(2)}
       |ORDER BY qid, probes""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("media_features", (s, dir) =>
      Multimodal.decodeAndFeaturize(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)))
        .toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          col("width"), col("height"))
        .orderBy("media_id"),
      oracle =
      // the stub codec's scalar surface is pure arithmetic over the
      // payload: FNV checksum (same fold as doc_fingerprint_rolling)
      // and length-derived probe dims — all engine-reproducible
      s"""WITH m AS (SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
         |       ELSE 'video' END AS kind,
         |  text, CAST(length(text) AS BIGINT) AS n_bytes FROM documents)
         |SELECT media_id, kind, n_bytes,
         |  ${sqlToSigned(sqlFnvUnsigned("text"))} AS checksum,
         |  CAST(CASE kind WHEN 'image' THEN n_bytes % 640 + 1
         |       WHEN 'video' THEN 1280 ELSE 0 END AS INT) AS width,
         |  CAST(CASE kind WHEN 'image' THEN n_bytes % 480 + 1
         |       WHEN 'video' THEN 720 ELSE 0 END AS INT) AS height
         |FROM m ORDER BY media_id""".stripMargin),
    // Frame-sampling plumbing: strided fixed-size payload chunks.
    QuerySpec("media_frames", (s, dir) =>
      Multimodal.frameSample(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 64, everyN = 4)
        .select(col("media_id"), col("kind"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy("media_id", "frame_idx"),
      // Frame sampling: ⌈bytes/64⌉ frames, every 4th kept; frame length via
      // the same substring bounds DuckDB applies to BLOBs.
      oracle =
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    encode(text) AS payload
        |  FROM documents),
        |x AS (
        |  SELECT media_id, kind, payload,
        |    unnest(generate_series(0, CAST(CEIL(octet_length(payload) / 64.0) AS BIGINT) - 1)) AS k
        |  FROM m),
        |f AS (
        |  SELECT media_id, kind, CAST(k AS BIGINT) AS frame_idx,
        |    CAST(LEAST(64, octet_length(payload) - k * 64) AS BIGINT) AS frame_bytes
        |  FROM x)
        |SELECT media_id, kind, frame_idx, frame_bytes FROM f
        |WHERE frame_idx % 4 = 0
        |ORDER BY media_id, frame_idx""".stripMargin),
    // Resize plumbing: stride-downsample each payload to ≤96 bytes with
    // claimed output dims. The fnv64 of the RESIZED bytes makes the
    // oracle verify the strided content byte-for-byte, not just lengths.
    QuerySpec("media_resized", (s, dir) =>
      Multimodal.resizeStub(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        targetBytes = 96, targetW = 64, targetH = 48)
        .select(col("media_id"), col("kind"), col("resized_bytes"),
          call_function("fnv64", col("resized")).as("resized_fnv"),
          col("width"), col("height"))
        .orderBy("media_id"),
      oracle =
      // ASCII corpus ⇒ char stride = byte stride; Spark's
      // sequence(1, n, stride) = DuckDB's range(1, n+1, stride)
      s"""WITH m AS (
         |  SELECT doc_id AS media_id,
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    text, length(text) AS n
         |  FROM documents WHERE length(text) > 0),
         |r AS (
         |  SELECT media_id, kind,
         |    array_to_string(list_transform(
         |      range(1, n + 1, GREATEST(1, CAST(CEIL(n / 96.0) AS BIGINT))),
         |      i -> text[i]), '') AS resized
         |  FROM m)
         |SELECT media_id, kind,
         |  CAST(length(resized) AS BIGINT) AS resized_bytes,
         |  ${sqlToSigned(sqlFnvUnsigned("resized"))} AS resized_fnv,
         |  64 AS width, 48 AS height
         |FROM r ORDER BY media_id""".stripMargin),
    // Perceptual fingerprint table — the exact/coarse tier of media
    // dedup (block-mean hash over the stub-decoded byte stream).
    QuerySpec("media_phash", (s, dir) =>
      Multimodal.mediaFingerprints(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)))
        .select(col("media_id"), col("kind"), col("phash"))
        .orderBy("media_id"),
      oracle =
      s"""WITH $SqlMediaPhashCtes
         |SELECT med.media_id, med.kind, ph.phash
         |FROM med JOIN ph ON med.media_id = ph.media_id
         |ORDER BY med.media_id""".stripMargin),
    // Media near-dups — the multimodal→dedup bridge: phash pigeonhole
    // bands (exact recall at Hamming ≤ 4) generate candidates, integer
    // byte-histogram cosine ≥ 0.99 verifies them.
    QuerySpec("media_near_dup", (s, dir) =>
      Multimodal.mediaNearDupPairs(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        maxDistance = MediaHam, thresholdHundredths = MediaCosHundredths)
        .orderBy("m1", "m2"),
      oracle =
      // banded Spark blocking has EXACT recall at Hamming <= MediaHam
      // (pigeonhole), so the oracle's all-pairs + Hamming filter is the
      // same relation; hist dot over the bucket intersection = full dot
      // (absent buckets contribute zero)
      s"""WITH $SqlMediaPhashCtes, $SqlMediaHistCtes,
         |pairs AS (
         |  SELECT m1.kind, a.media_id AS m1, b.media_id AS m2,
         |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |  FROM ph a JOIN med m1 ON a.media_id = m1.media_id
         |  JOIN ph b ON a.media_id < b.media_id
         |  JOIN med m2 ON b.media_id = m2.media_id AND m1.kind = m2.kind
         |  WHERE bit_count(xor(a.phash, b.phash)) <= $MediaHam),
         |dots AS (
         |  SELECT p.kind, p.m1, p.m2, p.hamming, SUM(h1.c * h2.c) AS dot
         |  FROM pairs p
         |  JOIN hist h1 ON p.m1 = h1.media_id
         |  JOIN hist h2 ON p.m2 = h2.media_id AND h1.hb = h2.hb
         |  GROUP BY 1, 2, 3, 4)
         |SELECT d.kind, d.m1, d.m2, d.hamming,
         |  CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE))) AS cos
         |FROM dots d JOIN hnorm n1 ON d.m1 = n1.media_id
         |JOIN hnorm n2 ON d.m2 = n2.media_id
         |WHERE CAST(d.dot AS DOUBLE) / (sqrt(CAST(n1.nsq AS DOUBLE)) * sqrt(CAST(n2.nsq AS DOUBLE)))
         |  >= ${MediaCosHundredths / 100.0}
         |ORDER BY m1, m2""".stripMargin),
    // Media similarity search: per-query top-k by histogram cosine,
    // kind-blocked — media's entry into the ANN tier (brute baseline;
    // the scale path is IVF over the same integer feature relation).
    QuerySpec("media_knn", (s, dir) =>
      Multimodal.mediaKnn(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        numQueries = MediaKnnQ, k = MediaKnnK)
        .orderBy("qid", "rn"),
      oracle =
      // the query-side hist join is INNER (every non-empty payload has
      // hist rows) but the candidate-side bucket match is LEFT +
      // COALESCE so disjoint-bucket candidates score dot = 0 exactly
      // like the engine's zip_with dot, instead of vanishing from the
      // ranking
      s"""WITH $SqlMediaPhashCtes, $SqlMediaHistCtes,
         |q AS (SELECT media_id AS qid, kind FROM med
         |      WHERE media_id < $MediaKnnQ),
         |cand AS (
         |  SELECT q.qid, m.media_id, m.kind FROM q
         |  JOIN med m ON q.kind = m.kind AND m.media_id <> q.qid),
         |dots AS (
         |  SELECT c.qid, c.media_id, c.kind,
         |    COALESCE(SUM(h1.c * h2.c), 0) AS dot
         |  FROM cand c
         |  JOIN hist h1 ON c.qid = h1.media_id
         |  LEFT JOIN hist h2 ON c.media_id = h2.media_id AND h1.hb = h2.hb
         |  GROUP BY 1, 2, 3),
         |scored AS (
         |  SELECT d.qid, d.media_id, d.kind,
         |    CAST(d.dot AS DOUBLE) / (sqrt(CAST(nq.nsq AS DOUBLE)) * sqrt(CAST(nm.nsq AS DOUBLE))) AS cos
         |  FROM dots d JOIN hnorm nq ON d.qid = nq.media_id
         |  JOIN hnorm nm ON d.media_id = nm.media_id)
         |SELECT qid, media_id, kind, cos, rn FROM (
         |  SELECT qid, media_id, kind, cos,
         |    CAST(row_number() OVER (PARTITION BY qid
         |      ORDER BY cos DESC, media_id) AS BIGINT) AS rn
         |  FROM scored) r
         |WHERE rn <= $MediaKnnK
         |ORDER BY qid, rn""".stripMargin),
    // Media ANN — the IVF scale path over the same integer feature
    // relation: kind-blocked Lloyd codebook (integer centroids,
    // cluster = seed media_id), probe the best cell, exact-cosine
    // rerank inside it. Both engines replay the identical integer
    // build, so the oracle adjudicates the whole chain.
    QuerySpec("media_ann_ivf", (s, dir) =>
      Multimodal.mediaAnnIvf(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        numQueries = MediaKnnQ, k = MediaKnnK, kPerKind = MediaIvfK, probes = 1)
        .orderBy("qid", "rn"),
      oracle = sqlMediaAnnIvf(p = 1)),
    // Media IVF served FROM the persisted index (r18, the r17 verdict
    // #3): queries fingerprint row-locally; the corpus side is the
    // cell-partitioned posting relation, DPP-pruned to the probed
    // cells — output bit-identical to media_ann_ivf (shared oracle).
    QuerySpec("media_ann_ivf_indexed", (s, dir) =>
      Multimodal.mediaAnnIvfFromIndex(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        mediaIvfIndexFor(s, dir),
        numQueries = MediaKnnQ, k = MediaKnnK, probes = 1)
        .orderBy("qid", "rn"),
      // the index serve shares the scan tier's oracle verbatim: the hash
      // match IS the serve == scan equivalence proof (the
      // ann_ivf_pq_indexed convention)
      oracle = sqlMediaAnnIvf(p = 1)),
    // Multi-probe twin — the recall knob for boundary media.
    QuerySpec("media_ann_ivf_probe2", (s, dir) =>
      Multimodal.mediaAnnIvf(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        numQueries = MediaKnnQ, k = MediaKnnK, kPerKind = MediaIvfK, probes = 2)
        .orderBy("qid", "rn"),
      oracle = sqlMediaAnnIvf(p = 2)),
    // Measured recall@k of the media IVF tier vs the brute kind-blocked
    // exact-cosine truth — the retrieval self-audit on the media
    // modality (the ann_recall_ivf shape).
    QuerySpec("media_recall_ivf", (s, dir) =>
      Multimodal.mediaRecallAudit(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        numQueries = MediaKnnQ, k = MediaKnnK, kPerKind = MediaIvfK,
        probesList = Seq(1, 2))
        .orderBy("qid", "probes"),
      oracle = sqlMediaRecallIvf),
    // Media capstone: per-kind funnel total → exact (md5, kind-blocked)
    // → perceptual (banded phash, Hamming ≤ 4), + surviving bytes.
    QuerySpec("pipeline_media", (s, dir) =>
      Multimodal.mediaPipeline(s,
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        maxDistance = MediaHam)
        .orderBy("kind"),
      oracle =
      s"""WITH $SqlMediaPhashCtes,
         |keep1 AS (SELECT kind, md5(text) AS h, MIN(media_id) AS keep
         |          FROM med GROUP BY 1, 2),
         |s1 AS (SELECT m.media_id, m.kind, m.len FROM med m
         |  JOIN keep1 g ON m.kind = g.kind AND md5(m.text) = g.h
         |    AND m.media_id = g.keep),
         |drop2 AS (
         |  SELECT DISTINCT b.media_id FROM s1 b
         |  JOIN s1 a ON a.kind = b.kind AND a.media_id < b.media_id
         |  JOIN ph pa ON pa.media_id = a.media_id
         |  JOIN ph pb ON pb.media_id = b.media_id
         |  WHERE bit_count(xor(pa.phash, pb.phash)) <= $MediaHam),
         |s2 AS (SELECT * FROM s1
         |       WHERE media_id NOT IN (SELECT media_id FROM drop2))
         |SELECT t.kind, CAST(t.n_media AS BIGINT) AS n_media,
         |  CAST(COALESCE(e.after_exact, 0) AS BIGINT) AS after_exact,
         |  CAST(COALESCE(p.after_phash, 0) AS BIGINT) AS after_phash,
         |  CAST(COALESCE(p.bytes_kept, 0) AS BIGINT) AS bytes_kept
         |FROM (SELECT kind, COUNT(*) AS n_media FROM med GROUP BY 1) t
         |LEFT JOIN (SELECT kind, COUNT(*) AS after_exact FROM s1 GROUP BY 1) e
         |  ON t.kind = e.kind
         |LEFT JOIN (SELECT kind, COUNT(*) AS after_phash, SUM(len) AS bytes_kept
         |           FROM s2 GROUP BY 1) p
         |  ON t.kind = p.kind
         |ORDER BY t.kind""".stripMargin),
    // Segment-granular exact dedup: frames shared across >= 2 videos,
    // with the canonical occurrence a rewrite would keep.
    QuerySpec("media_frame_dup", (s, dir) =>
      Multimodal.frameDupReport(
        Multimodal.fromDocuments(Tables.documents(s, dir)), frameBytes = 64)
        .orderBy("canon_media", "canon_idx"),
      oracle =
      s"""WITH v AS (
         |  SELECT doc_id AS media_id, text, CAST(length(text) AS BIGINT) AS len
         |  FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
         |f AS (
         |  SELECT media_id, CAST(j AS BIGINT) AS frame_idx,
         |    substr(text, CAST(j * 64 + 1 AS INT), 64) AS frame
         |  FROM v CROSS JOIN LATERAL unnest(range(0,
         |    CAST(ceil(len / 64.0) AS BIGINT))) t(j)),
         |g AS (
         |  SELECT frame, CAST(COUNT(*) AS BIGINT) AS occurrences,
         |    CAST(COUNT(DISTINCT media_id) AS BIGINT) AS n_media,
         |    MIN(media_id * 4294967296 + frame_idx) AS packed
         |  FROM f GROUP BY 1)
         |SELECT ${sqlToSigned(sqlFnvUnsigned("frame"))} AS frame_fnv,
         |  occurrences, n_media,
         |  CAST(packed // 4294967296 AS BIGINT) AS canon_media,
         |  CAST(packed % 4294967296 AS BIGINT) AS canon_idx
         |FROM g WHERE n_media >= 2
         |ORDER BY canon_media, canon_idx""".stripMargin),
    // Incremental media dedup: id-upper batch ingested against the
    // id-lower corpus (two-sided band probe; single-plan split).
    // Empty payloads are defined out BEFORE the split so both engines
    // take max(media_id) over the SAME relation the oracle's med CTE
    // filters — with the filter inside mediaFingerprints only, an
    // empty-text max-id document would move the split point on one
    // side but not the other.
    QuerySpec("dedup_incremental_media", (s, dir) => {
      val (batch, corpus) = halvesByMaxId(
        Multimodal.fromDocuments(Tables.documents(s, dir))
          .filter(length(col("payload")) >= 1), "media_id")
      Multimodal.dedupAgainstCorpusMedia(s, batch, corpus,
        maxDistance = MediaHam)
        .orderBy("media_id")
    },
      oracle =
      s"""WITH $SqlMediaPhashCtes,
         |half AS (SELECT MAX(media_id) // 2 AS h FROM med),
         |fp AS (SELECT med.media_id, med.kind, med.len, med.text, ph.phash
         |       FROM med JOIN ph ON med.media_id = ph.media_id),
         |batch AS (SELECT fp.* FROM fp, half WHERE fp.media_id > half.h),
         |corp AS (SELECT fp.* FROM fp, half WHERE fp.media_id <= half.h),
         |dup AS (
         |  SELECT DISTINCT b.media_id FROM batch b JOIN corp c
         |    ON b.kind = c.kind AND bit_count(xor(b.phash, c.phash)) <= $MediaHam)
         |SELECT b.media_id, b.kind, b.len AS n_bytes,
         |  ${sqlToSigned(sqlFnvUnsigned("b.text"))} AS checksum
         |FROM batch b
         |WHERE b.media_id NOT IN (SELECT media_id FROM dup)
         |ORDER BY b.media_id""".stripMargin),
    // Relational top-k per group (rank-limit pushdown / WindowGroupLimit):
    // top-3 most active users per event type.
    QuerySpec("top_users_by_type", (s, dir) => {
      val counts = Tables.events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n").desc, col("user_id"))
      counts.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .orderBy("event_type", "rn")
    },
      oracle =
      """WITH c AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY n DESC, user_id) AS rn FROM c)
        |SELECT event_type, user_id, n, rn FROM r WHERE rn <= 3
        |ORDER BY event_type, rn""".stripMargin),
  )
}
