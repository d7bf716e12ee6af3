package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing — north-star
  * extension: media travels as an opaque `binary` payload column with
  * typed metadata, and decode/feature-extraction runs as batched
  * per-partition transformations.
  *
  * The heavy codecs (JPEG/PNG decode, audio resample, video frame
  * extraction) are NOT in this container, so the codec calls are STUBBED
  * behind [[StubCodec]] with a deterministic fake; everything Spark owns
  * — schema, partitioning, batch shape, the Dataset API surface — is
  * real and tested. Swapping [[StubCodec]] for a JNI/javacpp-backed
  * implementation changes no plumbing.
  *
  * Scale: payloads never pass through a shuffle (decode is a narrow
  * mapPartitions right after the scan; only extracted fixed-size
  * features — a few KB/row — flow into joins/aggregations). Batched
  * iteration amortizes per-call codec setup exactly like Arrow batches
  * amortize Python UDF overhead in PySpark's `mapInPandas`.
  */
object Multimodal {

  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            source: String)
  final case class DecodedMedia(media_id: Long, kind: String, n_bytes: Long,
                                checksum: Long, width: Int, height: Int,
                                features: Array[Float], phash: Long,
                                hist: Array[Long])

  /** Deterministic stand-in for the real codecs. Replace with real
    * decoders (e.g. javacpp-presets ffmpeg/opencv) in production — the
    * call sites and schemas stay identical. */
  object StubCodec {
    /** FNV-1a 64-bit over the payload — stands in for a decode+digest
      * (delegates to the engine's canonical implementation). */
    def checksum(bytes: Array[Byte]): Long = graft.functions.Fnv64.hash(bytes)

    /** Fake dimension probe: derived from payload length — a real codec
      * reads the container header here. */
    def probeDims(kind: String, bytes: Array[Byte]): (Int, Int) = kind match {
      case "image" => (bytes.length % 640 + 1, bytes.length % 480 + 1)
      case "video" => (1280, 720)
      case _       => (0, 0) // audio: no spatial dims
    }

    /** Block-mean perceptual hash (the aHash/blockhash family): stride-
      * downsample the payload to ≤ 4·bits samples, round-robin the
      * samples into `bits` blocks, bit = block mean above the global
      * mean — compared by integer cross-multiplication, so the
      * fingerprint is engine-exact. Robust the way a perceptual hash
      * must be: local edits move a few block means, not the whole
      * fingerprint (measured on the documents corpus: true near-dups
      * land at Hamming ≤ 1, the unrelated floor at ≥ 10). A real
      * image pipeline computes the same shape over decoded luma
      * blocks; the byte stream stands in for the pixel stream exactly
      * as in [[resizeStub]]. */
    def blockHash(bytes: Array[Byte], bits: Int): Long = {
      val len = bytes.length
      if (len == 0) return 0L
      val stride = (len + 4 * bits - 1) / (4 * bits)
      val m = (len + stride - 1) / stride
      val sums = new Array[Long](bits)
      val counts = new Array[Long](bits)
      var total = 0L
      var j = 0
      while (j < m) {
        val v = bytes(j * stride) & 0xff
        sums(j % bits) += v
        counts(j % bits) += 1
        total += v
        j += 1
      }
      var h = 0L
      var b = 0
      while (b < bits) {
        if (sums(b) * m > total * counts(b)) h |= 1L << b
        b += 1
      }
      h
    }

    /** Integer byte-value histogram — the color-histogram analog of the
      * float [[features]] vector, kept in exact longs so downstream
      * cosine verdicts (integer dot / integer norms) are
      * engine-exact. */
    def byteHistogram(bytes: Array[Byte], dim: Int): Array[Long] = {
      val out = new Array[Long](dim)
      var i = 0
      while (i < bytes.length) {
        out((bytes(i) & 0xff) % dim) += 1
        i += 1
      }
      out
    }

    /** Fake feature extractor: fixed-dim float vector from a rolling
      * hash over byte windows — a real impl runs the vision/audio model
      * forward pass here, batched. */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val out = new Array[Float](dim)
      var h = 1469598103934665603L
      var i = 0
      while (i < bytes.length) {
        h ^= bytes(i) & 0xffL; h *= 1099511628211L
        out(math.abs((h % dim).toInt)) += 1f
        i += 1
      }
      val n = math.sqrt(out.map(x => x.toDouble * x).sum).toFloat max 1f
      out.map(_ / n)
    }
  }

  /** Derive a media table from `documents`: payload = UTF-8 bytes of the
    * text (a deterministic stand-in for real image/audio blobs), kind
    * round-robined over the three modalities. */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      col("source"))

  /** Batched decode + feature extraction: one [[StubCodec]] "session"
    * per partition, rows processed in batches of `batchSize` (the
    * mapInPandas batch-shape discipline). */
  def decodeAndFeaturize(spark: SparkSession, media: DataFrame,
                         dim: Int = 16, batchSize: Int = 64): Dataset[DecodedMedia] = {
    import spark.implicits._
    media.select("media_id", "kind", "payload", "source").as[MediaRow]
      .mapPartitions { rows =>
        // Real impl: open the codec/model ONCE here (the per-partition
        // setup is the amortization point), then feed it `batchSize`
        // payloads per call — `rows.grouped(batchSize)` is the batch
        // boundary a model forward-pass would consume. The stub codec
        // is per-row, so batches are passed through without reshaping.
        rows.grouped(batchSize).flatMap { batch =>
          // stub stands where `codec.decodeBatch(batch.map(_.payload))` goes
          batch.iterator.map { m =>
            val (w, h) = StubCodec.probeDims(m.kind, m.payload)
            DecodedMedia(m.media_id, m.kind, m.payload.length.toLong,
              StubCodec.checksum(m.payload), w, h,
              StubCodec.features(m.payload, dim),
              StubCodec.blockHash(m.payload, PhashBits),
              StubCodec.byteHistogram(m.payload, HistDim))
          }
        }
      }
  }

  /** 60-bit perceptual fingerprints (matches [[Dedup.SimhashBits]] so
    * the pigeonhole band arithmetic is shared reasoning): the exact
    * tier of media dedup. */
  val PhashBits = 60

  /** Byte-histogram feature dimension for the verification cosine. */
  val HistDim = 16

  final case class MediaFingerprint(media_id: Long, kind: String,
                                    n_bytes: Long, checksum: Long,
                                    content_hash: String, phash: Long,
                                    hist: Array[Long])

  /** Per-media fingerprint relation — perceptual hash + integer
    * histogram feature (+ squared norm) + content digests, the media
    * analog of [[Dedup.simhashFingerprints]]. One narrow decode pass
    * computing ONLY the dedup surface (no float feature extraction —
    * the model-forward-pass stand-in is [[decodeAndFeaturize]]'s cost
    * and none of the dedup tiers read it); only fixed-size scalars /
    * small arrays leave the pass. Empty payloads are DEFINED OUT
    * (filtered), the same rule as [[frameSample]]/[[resizeStub]]: an
    * empty payload carries no content to fingerprint, and admitting it
    * would make every downstream cosine 0/0. The md5 content hash
    * (exact-dedup tier key — 128 bits, the engine's collision-immune
    * content-hash idiom) rides the same pass so
    * [[mediaPipeline]] touches payload bytes exactly once. */
  def mediaFingerprints(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.filter(length(col("payload")) >= 1)
      .select("media_id", "kind", "payload", "source").as[MediaRow]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { m =>
          md.reset()
          val hex = md.digest(m.payload)
            .map(b => f"${b & 0xff}%02x").mkString
          MediaFingerprint(m.media_id, m.kind, m.payload.length.toLong,
            StubCodec.checksum(m.payload), hex,
            StubCodec.blockHash(m.payload, PhashBits),
            StubCodec.byteHistogram(m.payload, HistDim))
        }
      }
      .toDF()
      .withColumn("nsq",
        aggregate(col("hist"), lit(0L), (acc, x) => acc + x * x))
  }

  /** Fingerprints exploded into `maxDistance + 1` pigeonhole bands over
    * the 60-bit perceptual hash — same EXACT-recall blocking as the
    * simhash tier: a pair within Hamming ≤ maxDistance agrees
    * bit-for-bit on at least one band. */
  private[graft] def phashBandVals(maxDistance: Int): org.apache.spark.sql.Column = {
    require(maxDistance >= 0 && maxDistance < PhashBits,
      s"maxDistance must be in [0, $PhashBits), got $maxDistance")
    val bands = maxDistance + 1
    val base = PhashBits / bands
    val rem = PhashBits % bands
    val widths = Seq.tabulate(bands)(b => if (b < rem) base + 1 else base)
    val shifts = widths.scanLeft(0)(_ + _).init
    val bandCols = shifts.lazyZip(widths).map { (s, w) =>
      shiftright(col("phash"), s).bitwiseAND(lit((1L << w) - 1L))
    }
    array(bandCols.toSeq: _*)
  }

  private[graft] def bandedPhash(fps: DataFrame, maxDistance: Int): DataFrame =
    fps.select(col("media_id"), col("kind"), col("phash"),
        posexplode(phashBandVals(maxDistance)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_val"))

  /** Media near-duplicates — the north-star bridge from the multimodal
    * tier into the dedup machinery: perceptual-hash pigeonhole bands
    * generate candidates (exact recall at Hamming ≤ maxDistance,
    * linear-ish candidate mass — never all pairs), and the integer
    * byte-histogram cosine verifies them (`features → quantize →
    * bands`, with verification engine-exact: integer dot over integer
    * norms). Blocks additionally on `kind` — an image never dedups
    * against an audio clip. Swapping [[StubCodec]] for a real codec
    * changes the fingerprint values, not one line of this plan. */
  def mediaNearDupPairs(spark: SparkSession, media: DataFrame,
                        maxDistance: Int = 4,
                        thresholdHundredths: Int = 99): DataFrame = {
    val fps = mediaFingerprints(spark, media)
      .localCheckpoint(eager = false)
    mediaNearDupCandidates(fps, maxDistance)
      .join(fps.select(col("media_id").as("m1"), col("hist").as("h1"),
        col("nsq").as("n1")), "m1")
      .join(fps.select(col("media_id").as("m2"), col("hist").as("h2"),
        col("nsq").as("n2")), "m2")
      .withColumn("dot",
        aggregate(zip_with(col("h1"), col("h2"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("n1").cast("double")) * sqrt(col("n2").cast("double"))))
      .filter(col("cos") >= thresholdHundredths / 100.0)
      .select("kind", "m1", "m2", "hamming", "cos")
  }

  /** The candidate stage of [[mediaNearDupPairs]] — banded phash
    * equi-join + Hamming verify, before the histogram cosine verdict
    * (the ScaleSmoke `cand` decomposition surface). */
  private[graft] def mediaNearDupCandidates(fps: DataFrame,
                                            maxDistance: Int): DataFrame = {
    val banded = bandedPhash(fps, maxDistance)
    banded.as("a")
      .join(banded.as("b"),
        col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.media_id") < col("b.media_id"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
        <= maxDistance)
      .select(col("a.kind").as("kind"), col("a.media_id").as("m1"),
        col("b.media_id").as("m2"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
          .cast("long").as("hamming"))
      .distinct() // a pair may agree on several bands
  }

  /** Brute-force top-k media similarity search over the integer
    * byte-histogram features — media's entry into the ANN tier,
    * completing the modality matrix (pairs → incremental → streaming →
    * SEARCH). The [[graft.operators.Similarity.knnBruteForce]] shape:
    * the query set is broadcast-tiny (media_id < numQueries), the
    * search is kind-blocked (broadcast equi-join, an image never
    * scores against audio), score = integer dot over integer norms →
    * IEEE-exact cosine, and the per-query top-k prunes map-side
    * (WindowGroupLimit). The scale path is [[mediaAnnIvf]]: the same
    * integer feature relation clustered by the kind-blocked Lloyd
    * codebook ([[mediaIvfBook]]) and probed IVF-style, with a measured
    * recall@k self-audit ([[mediaRecallAudit]]) adjudicating the
    * probe knob against this brute ground truth. */
  def mediaKnn(spark: SparkSession, media: DataFrame,
               numQueries: Int, k: Int): DataFrame =
    mediaKnnFromFps(
      mediaFingerprints(spark, media)
        .select("media_id", "kind", "hist", "nsq")
        .localCheckpoint(eager = false),
      numQueries, k)

  /** [[mediaKnn]] against a prebuilt fingerprint relation — shared by
    * the recall audit so truth and candidate legs read ONE
    * materialization. */
  private[graft] def mediaKnnFromFps(fps: DataFrame,
                                     numQueries: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val queries = broadcast(fps.filter(col("media_id") < numQueries)
      .select(col("media_id").as("qid"), col("kind"),
        col("hist").as("qh"), col("nsq").as("qn")))
    val scored = queries.join(fps, "kind")
      .filter(col("media_id") =!= col("qid"))
      .withColumn("dot",
        aggregate(zip_with(col("qh"), col("hist"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nsq").cast("double"))))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("media_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "media_id", "kind", "cos", "rn")
  }

  /** The L1-NORMALIZED integer histogram the IVF tier clusters on:
    * histn_d = (hist_d · 10⁶) div n_bytes (Σ hist = n_bytes, so this
    * projects every media onto the per-mille simplex in exact integer
    * arithmetic). Clustering the RAW histogram was the r9 tier's
    * measured recall hole: raw L2 cells split mostly by payload
    * LENGTH, while the search metric (cosine) is length-invariant —
    * so a query's true neighbors scattered across cells and recall@5
    * sat at ~1/3. Normalizing first is the spherical-k-means move
    * every cosine-serving IVF deployment makes; the rerank still
    * scores the RAW histogram (exact cosine, bit-identical to
    * [[mediaKnn]]). */
  private[graft] def withHistN(fps: DataFrame): DataFrame =
    fps.withColumn("histn",
      expr("transform(hist, x -> (x * 1000000) div n_bytes)"))

  /** Prebuilt media IVF index — the fingerprint relation (raw + L1-
    * normalized histograms), the Lloyd codebook, and the corpus→cell
    * assignment, each lazily pinned so the FIRST action materializes
    * every subtree exactly once and every search/audit leg reuses them
    * (the r9-advice hoist: the audit used to rebuild the whole index
    * once per probe setting). On a cluster these three relations are
    * the persisted offline index artifacts; `localCheckpoint` is the
    * single-JVM stand-in. */
  final case class MediaIvfIndex(fps: DataFrame, book: DataFrame,
                                 assigned: DataFrame)

  def mediaIvfIndex(spark: SparkSession, media: DataFrame,
                    kPerKind: Int): MediaIvfIndex = {
    val fps = withHistN(mediaFingerprints(spark, media)
        .select("media_id", "kind", "n_bytes", "hist", "nsq"))
      .select("media_id", "kind", "hist", "nsq", "histn")
      .localCheckpoint(eager = false)
    val book = mediaIvfBook(spark, fps, kPerKind)
      .localCheckpoint(eager = false)
    // the assignment ends in a shuffle aggregation, so a plain pin
    // would freeze AQE's coalesced layout for every broadcast-probed
    // consumer (the RelationStats.pinnedWide rule — measured 10× on
    // the ADC family's pins, RPQ_COST_PROBE_r11)
    val assigned = graft.operators.RelationStats.pinnedWide(
      assignMediaToBook(fps, book), col("media_id"))
    MediaIvfIndex(fps, book, assigned)
  }

  /** KIND-BLOCKED integer Lloyd codebook over the L1-NORMALIZED
    * byte-histogram relation ([[withHistN]] — spherical k-means, the
    * cosine-serving shape) — the media twin of
    * [[graft.operators.Similarity.lloydBook]], and the index build of
    * [[mediaAnnIvf]] (the 100 TB path [[mediaKnn]]'s docstring
    * promises). Deterministic end to end so DuckDB can replay the
    * whole build: seeds are each kind's `kPerKind` LOWEST-media_id
    * fingerprints with the normalized integer histogram as centroid
    * (cluster id = the seed's media_id — globally unique, since ids
    * are); each round reassigns by EXACT integer squared L2
    * ([[graft.functions.SqDistLong]], tie-break cluster asc) and
    * updates centroids as per-dim `sum div n`. A cluster left empty
    * vanishes (standard drop; both engines agree by construction).
    *
    * Scale shape: the book is (kinds · kPerKind) rows, broadcast; each
    * round shuffles only the assignment argmin (map-side min-struct
    * partial agg, N skinny rows) and the k·dim centroid update — the
    * histogram relation never shuffles whole. */
  def mediaIvfBook(spark: SparkSession, fps: DataFrame, kPerKind: Int,
                   rounds: Int = 1): DataFrame = {
    require(kPerKind >= 1, s"codebook size per kind must be positive: $kPerKind")
    require(rounds >= 1, s"lloyd rounds must be positive: $rounds")
    import org.apache.spark.sql.expressions.Window
    // accept either a prepared index relation (histn present) or the
    // raw fingerprint relation (derive histn from hist/n_bytes here)
    val f =
      if (fps.columns.contains("histn")) fps
      else withHistN(fps)
    val w = Window.partitionBy("kind").orderBy("media_id")
    val seeds = f.select("media_id", "kind", "histn")
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= kPerKind)
      .select(col("kind"), col("media_id").as("cluster"), col("histn").as("cq"))
    (1 to rounds).foldLeft(seeds)((book, _) => mediaLloydRound(f, book))
  }

  private def mediaLloydRound(fps: DataFrame, book: DataFrame): DataFrame =
    assignMediaToBook(fps, book)
      .join(fps.select("media_id", "histn"), "media_id")
      .select(col("kind"), col("cluster"), posexplode(col("histn")).as(Seq("d", "c")))
      .groupBy("kind", "cluster", "d")
      .agg(sum("c").as("s"), count(lit(1)).as("n"))
      .groupBy("kind", "cluster")
      .agg(transform(
        array_sort(collect_list(struct(col("d"), expr("s div n").as("v")))),
        s => s.getField("v")).as("cq"))

  /** Nearest-centroid assignment against an explicit media codebook —
    * the [[graft.operators.Similarity.assignToBook]] idiom: broadcast
    * kind-equi cross-probe, argmin as a min-struct HASH aggregation
    * (map-side collapse; a rank window would sort-shuffle all N·k
    * rows), lexicographic (dist, cluster) = the engine-exact
    * tie-break. Kept SKINNY — (media_id, kind, cluster) out; carrying
    * the histogram through the argmin pushes the min-struct off the
    * fixed-width codegen fast path (the lloydStep measurement). */
  private[graft] def assignMediaToBook(fps: DataFrame,
                                       book: DataFrame): DataFrame =
    fps.select("media_id", "kind", "histn")
      .join(broadcast(book), "kind")
      .select(col("media_id"), col("kind"), col("cluster"),
        graft.functions.VectorFunctions.sqDistLong(col("histn"), col("cq"))
          .as("dist"))
      .groupBy("media_id", "kind")
      .agg(min(struct(col("dist"), col("cluster"))).as("best"))
      .select(col("media_id"), col("kind"), col("best.cluster").as("cluster"))

  /** IVF media similarity search — the measured scale path over the
    * brute [[mediaKnn]] baseline: rank each query's same-kind
    * centroids by exact integer squared L2, probe the `probes` best
    * cells (the standard IVF recall knob), and exact-cosine rerank
    * ONLY those cells' members. Candidates per query are bounded by
    * probed-cell population, never corpus size; the corpus-side join
    * is a plain equi-join on the cell key (no cartesian anywhere —
    * plan-audited). The rerank dot product rides the SAME
    * [[graft.functions.SqDistLong]] kernel through the polarization
    * identity dot = (‖q‖² + ‖m‖² − ‖q−m‖²) div 2 — exact integers,
    * so the cosine (one IEEE division against the norm product) is
    * bit-identical to [[mediaKnn]]'s zip_with formulation and to the
    * SQL oracle's bucket-intersection SUM. */
  def mediaAnnIvf(spark: SparkSession, media: DataFrame,
                  numQueries: Int, k: Int, kPerKind: Int = 4,
                  probes: Int = 1): DataFrame =
    mediaAnnIvfSearch(mediaIvfIndex(spark, media, kPerKind),
      numQueries, k, probes)

  /** The QUERY side of [[mediaAnnIvf]] against a prebuilt
    * [[MediaIvfIndex]] — cell probing (exact integer squared L2 on the
    * normalized histograms, the codebook's own metric) + exact-cosine
    * rerank of the probed cells' members on the RAW histograms. Split
    * out so the audit sweeps probe settings over ONE index build and
    * so the scale probe can price query cost with the build off the
    * clock (the production shape: the index is a persisted artifact,
    * queries pay only this function). */
  def mediaAnnIvfSearch(idx: MediaIvfIndex, numQueries: Int, k: Int,
                        probes: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.sqDistLong
    val queries = idx.fps.filter(col("media_id") < numQueries)
      .select(col("media_id").as("qid"), col("kind"),
        col("hist").as("qh"), col("nsq").as("qn"), col("histn").as("qhn"))
    val wBest = Window.partitionBy("qid").orderBy(col("qdist"), col("cluster"))
    val probed = broadcast(queries).join(broadcast(idx.book), "kind")
      .select(col("qid"), col("cluster"), col("qh"), col("qn"),
        sqDistLong(col("qhn"), col("cq")).as("qdist"))
      .withColumn("crn", row_number().over(wBest))
      .filter(col("crn") <= probes)
      .select("qid", "cluster", "qh", "qn")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("media_id"))
    broadcast(probed).join(idx.assigned, "cluster")
      .filter(col("media_id") =!= col("qid"))
      .join(idx.fps.select("media_id", "hist", "nsq"), "media_id")
      // ‖q‖²+‖m‖²−‖q−m‖² = 2·dot is even and non-negative, so the
      // shift IS exact integer halving (a `/ 2` would detour through
      // double and lose exactness above 2⁵³)
      .withColumn("dot", shiftright(
        col("qn") + col("nsq") - sqDistLong(col("qh"), col("hist")), 1))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nsq").cast("double"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "cluster", "media_id", "kind", "cos", "rn")
  }

  /** Persist the media IVF index as LAKE ARTIFACTS (r18, the r17
    * verdict #3 — the text/embedding side had the full
    * save/append/serve lifecycle; the media IVF was session-memoized
    * only, re-paying the codebook build per JVM): `book` (kind,
    * cluster, cq — kinds·kPerKind rows, metadata-scale) and
    * `postings` (media_id, kind, hist, nsq under their CELL partition
    * — fingerprint-width; payload bytes appear nowhere). Same
    * contract as [[graft.operators.Similarity.savePqIndex]]: the
    * partition-by-cell layout lets a `probes`-cell query plan a scan
    * of probes/cells of the index via dynamic partition pruning, and
    * the raw histogram + norm in the posting row is exactly what the
    * exact-cosine rerank needs — [[mediaAnnIvfFromIndex]] never
    * touches media payloads for the corpus side. */
  def saveMediaIvfIndex(spark: SparkSession, media: DataFrame,
                        path: String, kPerKind: Int = 4): Unit = {
    val idx = mediaIvfIndex(spark, media, kPerKind)
    idx.book.write.mode("overwrite").parquet(s"$path/book")
    idx.assigned
      .join(idx.fps.select("media_id", "hist", "nsq"), "media_id")
      .select("media_id", "kind", "hist", "nsq", "cluster")
      .write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/postings")
  }

  /** Append an ingest batch to a persisted [[saveMediaIvfIndex]] index:
    * the batch fingerprints row-locally (the only payload read is the
    * batch's), assigns against the FROZEN codebook (retraining would
    * re-cell the whole store — the [[Similarity.appendToPqIndex]]
    * convention), and its posting rows APPEND under their cell
    * partitions. Compaction cadence and idempotence contracts are the
    * PQ index's. */
  def appendToMediaIvfIndex(spark: SparkSession, batch: DataFrame,
                            path: String): Unit = {
    val book = spark.read.parquet(s"$path/book")
    val fps = withHistN(mediaFingerprints(spark, batch)
      .select("media_id", "kind", "n_bytes", "hist", "nsq"))
    assignMediaToBook(fps, book)
      .join(fps.select("media_id", "hist", "nsq"), "media_id")
      .select("media_id", "kind", "hist", "nsq", "cluster")
      .write.mode("append").partitionBy("cluster")
      .parquet(s"$path/postings")
  }

  /** Compact a persisted media IVF index's postings back to one file
    * per cell — the shared [[LakeMaintenance.compactPartitioned]]
    * contract (cluster ids are numeric media_ids, so the inferred-type
    * variant is correct here, as with the PQ index's cells). */
  def compactMediaIvfIndex(spark: SparkSession, path: String): Unit =
    LakeMaintenance.compactPartitioned(spark, s"$path/postings", "cluster")

  /** Media IVF search served FROM the persisted index — output
    * bit-identical to [[mediaAnnIvfSearch]] over the same corpus
    * (spec-pinned; the declared query shares the scan tier's oracle,
    * so the hash match is the cross-engine proof): queries arrive as
    * media rows and fingerprint ROW-LOCALLY (batch-scale — the one
    * thing an index can't hold), rank the same-kind centroids from
    * the persisted book by exact integer squared L2 on the normalized
    * histograms, and the probed-cell relation broadcasts into the
    * postings join so the cell-partitioned scan is pruned at runtime
    * by dynamic partition pruning — a `probes`-cell query reads
    * probes/cells of the index from disk ([[Similarity
    * .annIvfPqFromIndex]]'s access-path property, plan-asserted). The
    * rerank is the same polarization-identity exact cosine on the
    * posting rows' raw histograms. */
  def mediaAnnIvfFromIndex(spark: SparkSession, queries: DataFrame,
                           path: String, numQueries: Int, k: Int,
                           probes: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.sqDistLong
    val book = broadcast(spark.read.parquet(s"$path/book"))
    val qf = withHistN(mediaFingerprints(spark, queries)
        .select("media_id", "kind", "n_bytes", "hist", "nsq"))
      .filter(col("media_id") < numQueries)
      .select(col("media_id").as("qid"), col("kind"),
        col("hist").as("qh"), col("nsq").as("qn"), col("histn").as("qhn"))
    val wBest = Window.partitionBy("qid").orderBy(col("qdist"), col("cluster"))
    val probed = broadcast(qf).join(book, "kind")
      .select(col("qid"), col("cluster"), col("qh"), col("qn"),
        sqDistLong(col("qhn"), col("cq")).as("qdist"))
      .withColumn("crn", row_number().over(wBest))
      .filter(col("crn") <= probes)
      .select("qid", "cluster", "qh", "qn")
    val postings = spark.read.parquet(s"$path/postings")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("media_id"))
    broadcast(probed).join(postings, "cluster")
      .filter(col("media_id") =!= col("qid"))
      .withColumn("dot", shiftright(
        col("qn") + col("nsq") - sqDistLong(col("qh"), col("hist")), 1))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("nsq").cast("double"))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("qid", "cluster", "media_id", "kind", "cos", "rn")
  }

  /** Measured recall@k of the media IVF tier against the brute
    * kind-blocked exact-cosine ground truth — the
    * [[graft.operators.Similarity.annRecallAudit]] shape on the media
    * modality, turning "probing more cells trades candidates for
    * recall" into a number the engine computes for its OWN media
    * index. Ground truth is ONE exact top-k pass ([[mediaKnn]] ranks
    * by the identical cosine) shared by every probe setting; queries
    * whose probed cells miss the whole truth set still emit (left
    * join, hits = 0). All relations are query-count-scale after their
    * top-k windows. */
  def mediaRecallAudit(spark: SparkSession, media: DataFrame,
                       numQueries: Int, k: Int, kPerKind: Int = 4,
                       probesList: Seq[Int] = Seq(1, 2)): DataFrame = {
    // ONE index build (fps + book + assignment, each lazily pinned)
    // shared by every probe leg AND by the ground-truth pass — the
    // audit's cost is |probesList| query-side passes over one index,
    // not |probesList| index rebuilds (the r9-advice hoist)
    val idx = mediaIvfIndex(spark, media, kPerKind)
    val truth = mediaKnnFromFps(idx.fps, numQueries, k)
      .select(col("qid"), col("media_id"))
      .localCheckpoint(eager = false)
    val qids = idx.fps
      .filter(col("media_id") < numQueries)
      .select(col("media_id").as("qid"))
    probesList.map { p =>
      val hits = mediaAnnIvfSearch(idx, numQueries, k, probes = p)
        .select(col("qid"), col("media_id"))
        .join(truth, Seq("qid", "media_id"))
        .groupBy("qid").agg(count(lit(1)).as("h"))
      qids.join(hits, Seq("qid"), "left")
        .select(col("qid"), lit(p.toLong).as("probes"),
          coalesce(col("h"), lit(0L)).as("hits"),
          (lit(1000L) * coalesce(col("h"), lit(0L)) / lit(k))
            .cast("long").as("recall_milli"))
    }.reduce(_ unionByName _)
  }

  /** Incremental media dedup — ingest-time twin of
    * [[mediaNearDupPairs]], completing the incremental family for the
    * media modality: drop new media within perceptual Hamming ≤
    * maxDistance of ANY corpus media of the same kind (two-sided band
    * probe, exact recall). At 100 TB the corpus's banded fingerprints
    * persist bucketed by (kind, band, band_val) — the
    * [[Dedup.saveCorpusDigests]] shape — and each batch probes the
    * buckets in place. */
  def dedupAgainstCorpusMedia(spark: SparkSession, newMedia: DataFrame,
                              corpus: DataFrame,
                              maxDistance: Int = 4): DataFrame = {
    val nf = mediaFingerprints(spark, newMedia)
    val cf = mediaFingerprints(spark, corpus)
    val nb = bandedPhash(nf, maxDistance)
    val cb = bandedPhash(cf, maxDistance)
    val dupIds = nb.as("a")
      .join(cb.as("b"),
        col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
        <= maxDistance)
      .select(col("a.media_id")).distinct()
    nf.join(dupIds, Seq("media_id"), "left_anti")
      .select("media_id", "kind", "n_bytes", "checksum")
  }

  /** Resize plumbing: deterministic stride-downsample of the payload to
    * ≤ `targetBytes` with the claimed output dims in metadata — where a
    * real image resize (decode → scale → re-encode) slots in. Pure
    * column expressions: the byte stride mirrors pixel-stride
    * downsampling without a codec. */
  def resizeStub(media: DataFrame, targetBytes: Int,
                 targetW: Int, targetH: Int): DataFrame = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val n = length(col("payload"))
    val stride = greatest(lit(1), ceil(n.cast("double") / targetBytes).cast("int"))
    media
      .filter(n > 0)
      .select(col("media_id"), col("kind"),
        // three-arg sequence yields the strided indices directly —
        // building a full 1..n array per row and filtering it would
        // allocate O(payload) per row. Slices stay binary end-to-end:
        // substr on binary returns binary, and binary concat keeps raw
        // bytes (a string round-trip would mangle non-UTF-8 payloads).
        aggregate(
          transform(sequence(lit(1), n, stride),
            i => col("payload").substr(i, lit(1))),
          lit(Array.emptyByteArray),
          (acc, x) => concat(acc, x)).as("resized"),
        lit(targetW).as("width"), lit(targetH).as("height"),
        col("payload").as("original"))
      .withColumn("resized_bytes", length(col("resized")).cast("long"))
  }

  /** Composed media curation pipeline — the media capstone (the
    * pipeline_curate_v4 shape for the binary modality): per kind,
    * the dedup funnel counts
    * `total → after exact dedup → after perceptual near-dup dedup`
    * plus the payload bytes the final survivors carry. Exact tier
    * keys on md5(payload) within kind (the engine's content-hash
    * idiom — 128 bits, collision-immune at any scale, canonical keep
    * = lowest media_id); the perceptual tier drops survivors with a
    * lower-id banded twin at Hamming ≤ maxDistance (the semdedup drop
    * rule at the phash tier, candidates from the same exact-recall
    * pigeonhole bands as [[mediaNearDupPairs]]). Payloads are read by
    * exactly ONE pass — [[mediaFingerprints]], which carries the md5
    * beside the perceptual hash; everything downstream
    * is fingerprint-width. */
  def mediaPipeline(spark: SparkSession, media: DataFrame,
                    maxDistance: Int = 4): DataFrame = {
    // ONE payload pass: the fingerprint relation carries the exact
    // tier's md5 beside the perceptual hash, so neither tier re-reads
    // payload bytes (and exact-dropped media are never re-decoded —
    // the funnel runs entirely on fingerprint-width rows)
    val base = mediaFingerprints(spark, media)
      .select(col("media_id"), col("kind"), col("content_hash").as("h"),
        col("n_bytes"), col("phash"))
      .localCheckpoint(eager = false)
    val keep1 = base.groupBy("kind", "h")
      .agg(min("media_id").as("media_id")).select("media_id")
    val s1 = base.join(keep1, "media_id")
      .localCheckpoint(eager = false)
    val banded = bandedPhash(s1, maxDistance)
    val drops = banded.as("a")
      .join(banded.as("b"),
        col("a.kind") === col("b.kind") && col("a.band") === col("b.band") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.media_id") < col("b.media_id"))
      .filter(bit_count(col("a.phash").bitwiseXOR(col("b.phash")))
        <= maxDistance)
      .select(col("b.media_id").as("media_id")).distinct()
    val s2 = s1.join(drops, Seq("media_id"), "left_anti")
    base.groupBy("kind").agg(count(lit(1)).as("n_media"))
      .join(s1.groupBy("kind").agg(count(lit(1)).as("after_exact")),
        Seq("kind"), "left")
      .join(s2.groupBy("kind")
          .agg(count(lit(1)).as("after_phash"),
            sum("n_bytes").as("bytes_kept")),
        Seq("kind"), "left")
      .select(col("kind"), col("n_media"),
        coalesce(col("after_exact"), lit(0L)).as("after_exact"),
        coalesce(col("after_phash"), lit(0L)).as("after_phash"),
        coalesce(col("bytes_kept"), lit(0L)).as("bytes_kept"))
  }

  /** Cross-video duplicated-FRAME report — segment-granular exact
    * dedup (the ExactSubstr shape at frame granularity): every
    * fixed-size frame shared by ≥ 2 distinct videos, with its
    * occurrence count, carrier count, and the canonical (lowest
    * media_id, then lowest frame_idx there) occurrence a rewrite
    * would keep. Grouping keys on the frame CONTENT (the docNovelty
    * rule: the ≥ 2-distinct-carriers gate is collision-sensitive, so
    * no 64-bit shortcut) — and on the RAW BINARY frame, not a string
    * view of it: a UTF-8 round-trip decodes invalid byte sequences
    * (any real non-ASCII media, or a multi-byte char split at the
    * frame boundary) to replacement chars, which would collide
    * distinct frames into one group and falsely trip the ≥ 2-carriers
    * gate. The canonical occurrence is one packed-long
    * min aggregation (media_id·2³² + frame_idx — the
    * dedup_spans_rewrite idiom, partial+final HashAggregate, no
    * struct-min SortAggregate). Scale: one narrow frame explode, two
    * hash aggregations on the frame relation, output is
    * duplicated-frame-vocabulary-scale. */
  def frameDupReport(media: DataFrame, frameBytes: Int = 64): DataFrame = {
    val frames = frameSample(media.filter(col("kind") === "video"),
        frameBytes, everyN = 1)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame"))
    // packing bounds: frame_idx < 2³² (a 256 GiB payload at 64-byte
    // frames) and media_id < 2³¹ keep media_id·2³² + frame_idx inside
    // a signed long; a deployment past either bound switches the
    // canonical pick to the two-step (min media, then min idx there)
    // aggregation at the cost of one extra join
    frames.groupBy("frame")
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("media_id")).as("n_media"),
        min(col("media_id") * lit(4294967296L) + col("frame_idx")).as("packed"))
      .filter(col("n_media") >= 2)
      .select(
        call_function("fnv64", col("frame")).as("frame_fnv"),
        col("occurrences"), col("n_media"),
        expr("packed div 4294967296").as("canon_media"),
        expr("packed % 4294967296").as("canon_idx"))
  }

  /** Frame sampling plumbing: slice the payload into fixed-size chunks
    * ("frames"), keep every `everyN`-th — pure column expressions, no
    * UDF; the chunking pattern a real video pipeline applies before
    * shipping frames to decode. */
  def frameSample(media: DataFrame, frameBytes: Int, everyN: Int): DataFrame = {
    val nFrames = ceil(length(col("payload")).cast("double") / frameBytes).cast("int")
    media
      // empty payload has zero frames; without the guard sequence(0,-1)
      // would DESCEND to [0,-1] and emit a phantom frame
      .filter(length(col("payload")) > 0)
      .withColumn("frame_idx", explode(sequence(lit(0), nFrames - 1)))
      .filter(col("frame_idx") % everyN === 0)
      .select(col("media_id"), col("kind"), col("frame_idx"),
        col("payload").substr(col("frame_idx") * frameBytes + 1, lit(frameBytes))
          .as("frame"))
  }
}
