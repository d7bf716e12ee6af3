package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

/** Multimodal binary-column plumbing: schema, batch shape, determinism.
  * The codec itself is a documented stub; what must hold is everything
  * Spark owns. */
class MultimodalSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "alpha beta gamma delta", "en", "s0", 22L),
    (1L, "the quick brown fox", "en", "s0", 19L),
    (2L, "un deux trois quatre cinq", "fr", "s1", 25L),
    (3L, "x", "en", "s1", 1L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  private lazy val media = Multimodal.fromDocuments(docs)

  test("media table has the binary payload + typed metadata schema") {
    assert(media.schema("payload").dataType.typeName === "binary")
    val kinds = media.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds === Set("image", "audio", "video"))
    // payload round-trips the source bytes
    val p = media.filter(col("media_id") === 3).select("payload")
      .collect().head.getAs[Array[Byte]](0)
    assert(new String(p, "UTF-8") === "x")
  }

  test("batched decode emits fixed-dim normalized features deterministically") {
    val out = Multimodal.decodeAndFeaturize(spark, media, dim = 8, batchSize = 2)
      .collect().sortBy(_.media_id)
    assert(out.length === 4)
    assert(out.forall(_.features.length === 8))
    // unit-normalized (or zero) feature vectors
    assert(out.forall { d =>
      val n = math.sqrt(d.features.map(x => x.toDouble * x).sum)
      math.abs(n - 1.0) < 1e-5 || n == 0.0
    })
    // deterministic: second run bit-identical
    val again = Multimodal.decodeAndFeaturize(spark, media, dim = 8, batchSize = 2)
      .collect().sortBy(_.media_id)
    assert(out.map(_.checksum).toSeq === again.map(_.checksum).toSeq)
    assert(out.map(_.features.toSeq).toSeq === again.map(_.features.toSeq).toSeq)
    // image kind gets probed dims, audio stays 0×0
    val byKind = out.map(d => d.kind -> d).toMap
    assert(byKind("audio").width === 0)
  }

  test("resize stub stride-downsamples payloads to the byte budget") {
    val out = Multimodal.resizeStub(media, targetBytes = 8, targetW = 64, targetH = 64)
      .collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    // doc 0: 22 bytes, stride ceil(22/8)=3 → bytes 1,4,7,…,22 → 8 bytes
    assert(out(0L).getAs[Long]("resized_bytes") === 8L)
    // "alpha beta gamma delta" positions 1,4,7,10,13,16,19,22
    assert(new String(out(0L).getAs[Array[Byte]]("resized"), "UTF-8") === "ahbaaaea")
    assert(out.values.forall(_.getAs[Long]("resized_bytes") <= 8L))
    assert(out(0L).getAs[Int]("width") === 64)
  }

  test("resize stub preserves raw non-UTF-8 bytes (no string round-trip)") {
    // 0x00..0xFF: any UTF-8 decode would turn the high half into U+FFFD
    val raw = (0 until 256).map(_.toByte).toArray
    val bin = Seq((9L, "image", raw)).toDF("media_id", "kind", "payload")
    val out = Multimodal.resizeStub(bin, targetBytes = 16, targetW = 8, targetH = 8)
      .collect().head
    val resized = out.getAs[Array[Byte]]("resized")
    // stride ceil(256/16)=16 → 1-based positions 1,17,…,241
    assert(resized.toSeq === (0 until 256 by 16).map(_.toByte).toSeq)
    assert(out.getAs[Long]("resized_bytes") === 16L)
  }

  test("block-mean perceptual hash is local: one edit flips few bits") {
    val base = ("the quick brown fox jumps over the lazy dog " * 8).getBytes("UTF-8")
    val h0 = Multimodal.StubCodec.blockHash(base, 60)
    // identical payload → identical hash
    assert(Multimodal.StubCodec.blockHash(base.clone(), 60) === h0)
    // one byte substituted → small Hamming distance (perceptual, not
    // avalanche: a cryptographic hash would flip ~30 of 60 bits)
    val edited = base.clone(); edited(17) = 'X'.toByte
    val h1 = Multimodal.StubCodec.blockHash(edited, 60)
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 4)
    // unrelated payload → far away
    val other = ("zzz 999 !!! %%% @@@ ### &&& *** " * 12).getBytes("UTF-8")
    assert(java.lang.Long.bitCount(
      h0 ^ Multimodal.StubCodec.blockHash(other, 60)) > 4)
    // empty payload defined as 0
    assert(Multimodal.StubCodec.blockHash(Array.emptyByteArray, 60) === 0L)
  }

  private lazy val nearDupDocs = Seq(
    // 0 and 3: same kind (image), one-char edit apart → near-dup pair
    (0L, "alpha beta gamma delta epsilon zeta eta theta " * 6, "en", "s0"),
    (3L, ("alpha beta gamma delta epsilon zeta eta theta " * 6)
      .replace("zeta", "zetA"), "en", "s0"),
    // 6: same kind, unrelated content → no pair
    (6L, "totally different payload 123 456 789 xyz qrs " * 6, "en", "s1"),
    // 1: near-identical to 0 but DIFFERENT kind (audio) → never paired
    (1L, "alpha beta gamma delta epsilon zeta eta theta " * 6, "en", "s1")
  ).toDF("doc_id", "text", "lang", "source")

  test("media near-dup bridges phash bands into the histogram verdict") {
    val pairs = Multimodal.mediaNearDupPairs(spark,
      Multimodal.fromDocuments(nearDupDocs),
      maxDistance = 4, thresholdHundredths = 99)
      .collect()
    assert(pairs.map(r => (r.getAs[Long]("m1"), r.getAs[Long]("m2"))).toSet
      === Set((0L, 3L)))
    val p = pairs.head
    assert(p.getAs[String]("kind") === "image")
    assert(p.getAs[Long]("hamming") <= 4L)
    assert(p.getAs[Double]("cos") >= 0.99)
  }

  test("media knn ranks same-kind neighbors by exact histogram cosine") {
    val out = Multimodal.mediaKnn(spark,
      Multimodal.fromDocuments(nearDupDocs), numQueries = 2, k = 3)
      .collect()
    // kind-blocked: query 0 (image) only scores image candidates {3, 6}
    val q0 = out.filter(_.getAs[Long]("qid") == 0L)
      .sortBy(_.getAs[Long]("rn"))
    assert(q0.map(_.getAs[Long]("media_id")).toSeq === Seq(3L, 6L))
    assert(q0.forall(_.getAs[String]("kind") === "image"))
    // the near-twin outranks the unrelated doc, scores descend
    assert(q0(0).getAs[Double]("cos") > q0(1).getAs[Double]("cos"))
    // query 1 (audio) has no other audio media → no rows
    assert(!out.exists(_.getAs[Long]("qid") == 1L))
  }

  test("incremental media dedup drops batch media with a corpus twin") {
    val media = Multimodal.fromDocuments(nearDupDocs)
    val survivors = Multimodal.dedupAgainstCorpusMedia(spark,
      media.filter(col("media_id") > 2),       // batch: 3, 6
      media.filter(col("media_id") <= 2),      // corpus: 0, 1
      maxDistance = 4)
      .collect().map(_.getAs[Long]("media_id")).toSet
    // 3 has corpus near-twin 0 (same kind) → dropped; 6 is novel
    assert(survivors === Set(6L))
  }

  test("media pipeline funnels exact then perceptual dedup per kind") {
    // image kind (ids ≡ 0 mod 3): 0 and 3 near-dup (one edit), 6 exact
    // copy of 0, 9 unrelated; audio 1 untouched singleton
    val big = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val d = Seq(
      (0L, big, "en", "s0"),
      (3L, big.replace("zeta", "zetA"), "en", "s0"),
      (6L, big, "en", "s1"),                                  // exact dup of 0
      (9L, "totally different payload 123 456 789 xyz qrs " * 6, "en", "s1"),
      (1L, "lone audio payload nothing else like it here " * 6, "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Multimodal.mediaPipeline(spark,
        Multimodal.fromDocuments(d), maxDistance = 4)
      .collect().map(r => r.getAs[String]("kind") ->
        ((r.getAs[Long]("n_media"), r.getAs[Long]("after_exact"),
          r.getAs[Long]("after_phash"), r.getAs[Long]("bytes_kept")))).toMap
    // image: 4 total → exact drops 6 → phash drops 3 (twin 0) → {0, 9}
    val img = out("image")
    assert((img._1, img._2, img._3) === ((4L, 3L, 2L)))
    assert(img._4 === big.length.toLong +
      ("totally different payload 123 456 789 xyz qrs " * 6).length)
    assert(out("audio") === ((1L, 1L, 1L,
      ("lone audio payload nothing else like it here " * 6).length.toLong)))
  }

  test("frame dup report finds cross-video shared frames with canonical pick") {
    // ids ≡ 2 (mod 3) → video kind; 8-byte frames
    val d = Seq(
      (2L, "AAAAAAAABBBBBBBBCCCCCCCC", "en", "s0"), // frames A,B,C
      (5L, "BBBBBBBBDDDDDDDD", "en", "s0"),         // B shared, D unique
      (8L, "AAAAAAAA", "en", "s1"),                 // A shared
      (0L, "AAAAAAAA", "en", "s1")                  // image — never counted
    ).toDF("doc_id", "text", "lang", "source")
    val out = Multimodal.frameDupReport(
        Multimodal.fromDocuments(d), frameBytes = 8)
      .collect()
      .map(r => (r.getAs[Long]("canon_media"), r.getAs[Long]("canon_idx")) ->
        ((r.getAs[Long]("occurrences"), r.getAs[Long]("n_media")))).toMap
    // frame A: media 2 idx 0 canonical; carried by 2 and 8 (NOT image 0)
    // frame B: media 2 idx 1 canonical; carried by 2 and 5
    assert(out === Map((2L, 0L) -> ((2L, 2L)), (2L, 1L) -> ((2L, 2L))))
  }

  private lazy val ivfDocs = {
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    (0L until 30L).map { i =>
      val body = (0 until 40).map(j =>
        words(((i * 7 + j * j + 3) % words.length).toInt)).mkString(" ")
      (i, body, "en", s"s${i % 4}")
    }.toDF("doc_id", "text", "lang", "source")
  }

  test("media ivf book is kind-blocked with seed-id clusters and 16-dim integer centroids") {
    val fps = Multimodal.mediaFingerprints(spark,
      Multimodal.fromDocuments(ivfDocs))
    val book = Multimodal.mediaIvfBook(spark, fps, kPerKind = 3, rounds = 2)
      .collect()
    val byKind = book.groupBy(_.getAs[String]("kind"))
    assert(byKind.keySet === Set("image", "audio", "video"))
    byKind.foreach { case (kind, rows) =>
      assert(rows.length <= 3, s"$kind must have <= kPerKind clusters")
      // cluster ids are seed media ids, so they carry the seed's kind
      rows.foreach { r =>
        val c = r.getAs[Long]("cluster")
        val expectKind = Seq("image", "audio", "video")((c % 3).toInt)
        assert(expectKind === kind, s"cluster $c must stay in its kind")
        assert(r.getAs[scala.collection.Seq[Long]]("cq").length === 16)
      }
    }
    // deterministic: a rebuild is bit-identical
    val again = Multimodal.mediaIvfBook(spark, fps, kPerKind = 3, rounds = 2)
      .collect()
    assert(book.map(_.toString).sorted.toSeq ===
      again.map(_.toString).sorted.toSeq)
  }

  test("media ivf probing every cell reproduces the brute knn exactly") {
    // probes = kPerKind scans every same-kind cell, so the IVF path
    // must return the brute ranking bit-for-bit — this also pins the
    // polarization-identity dot (qn + nsq − sqdist) div 2 against
    // mediaKnn's zip_with formulation
    val media = Multimodal.fromDocuments(ivfDocs)
    val ivf = Multimodal.mediaAnnIvf(spark, media, numQueries = 6, k = 3,
        kPerKind = 3, probes = 3)
      .select("qid", "media_id", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    val brute = Multimodal.mediaKnn(spark, media, numQueries = 6, k = 3)
      .select("qid", "media_id", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4))
    assert(ivf.toSeq === brute.toSeq)
  }

  test("persisted media ivf index: serve == scan, DPP-pruned, append == rebuild") {
    val media = Multimodal.fromDocuments(ivfDocs)
    val base = java.nio.file.Files
      .createTempDirectory("graft_media_ivf_spec_").toString
    Multimodal.saveMediaIvfIndex(spark, media, s"$base/full",
      kPerKind = 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cluster", "media_id", "kind", "cos", "rn")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4), r.getLong(5)))
        .sortBy(t => (t._1, t._6)).toSeq
    val served = Multimodal.mediaAnnIvfFromIndex(spark, media,
      s"$base/full", numQueries = 6, k = 3, probes = 2)
    val scan = Multimodal.mediaAnnIvf(spark, media, numQueries = 6,
      k = 3, kPerKind = 3, probes = 2)
    // serve == scan BIT-IDENTICALLY (same centroids, same probe rank,
    // same polarization-identity cosine)
    assert(rows(served) === rows(scan))
    // access path: the cell-partitioned postings scan must be pruned
    // at runtime by the broadcast probed-cell relation (the
    // annIvfPqFromIndex DPP property)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probed cells must prune posting partitions at runtime:\n$plan")
    // and the corpus side must never read media payloads: the only
    // scans are the index relations + the query batch
    // append == rebuild: index the id-lower half, append the id-upper
    // half against the FROZEN book, serve equals an index built with
    // the same (half-trained) book over everything — i.e. the serve
    // sees appended media immediately through the same cells
    val lower = media.filter(col("media_id") < 15)
    val upper = media.filter(col("media_id") >= 15)
    Multimodal.saveMediaIvfIndex(spark, lower, s"$base/half",
      kPerKind = 3)
    Multimodal.appendToMediaIvfIndex(spark, upper, s"$base/half")
    val servedAppended = Multimodal.mediaAnnIvfFromIndex(spark, media,
      s"$base/half", numQueries = 6, k = 3, probes = 3)
    // full probing makes the cell layout irrelevant, so the appended
    // index must reproduce the brute ranking exactly — proof no
    // appended row was lost or mis-celled
    val brute = Multimodal.mediaKnn(spark, media, numQueries = 6, k = 3)
      .select("qid", "media_id", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val appendedFlat = servedAppended
      .select("qid", "media_id", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(appendedFlat === brute,
      "append against the frozen book must serve old + new immediately")
    // compaction: rows unchanged, serve identical across it
    Multimodal.compactMediaIvfIndex(spark, s"$base/half")
    val servedCompacted = Multimodal.mediaAnnIvfFromIndex(spark, media,
        s"$base/half", numQueries = 6, k = 3, probes = 3)
      .select("qid", "media_id", "cos", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    assert(servedCompacted === brute,
      "compaction must not change the served ranking")
  }

  test("media recall audit reports full recall at full probing, bounded below it") {
    val media = Multimodal.fromDocuments(ivfDocs)
    val rows = Multimodal.mediaRecallAudit(spark, media, numQueries = 6,
        k = 3, kPerKind = 3, probesList = Seq(1, 3))
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("probes")) ->
        r.getAs[Long]("recall_milli")).toMap
    assert(rows.keys.map(_._1).toSet === (0L until 6L).toSet)
    // probing every cell = brute force = recall 1000 for every query
    (0L until 6L).foreach { q =>
      assert(rows((q, 3L)) === 1000L, s"query $q full probe must hit all")
      assert(rows((q, 1L)) >= 0L && rows((q, 1L)) <= 1000L)
    }
  }

  test("frame sampling slices payload into strided fixed-size chunks") {
    val frames = Multimodal.frameSample(media, frameBytes = 4, everyN = 2)
    val doc0 = frames.filter(col("media_id") === 0)
      .orderBy("frame_idx").collect()
    // 22 bytes → 6 frames of 4 bytes (last short), indices 0,2,4 kept
    assert(doc0.map(_.getAs[Int]("frame_idx")).toSeq === Seq(0, 2, 4))
    val frame0 = new String(doc0.head.getAs[Array[Byte]]("frame"), "UTF-8")
    assert(frame0 === "alph")
  }
}
