package graft

import org.apache.spark.sql.functions._
import graft.operators.MatrixOps

/** Bucketed co-located multiply: the join over pre-bucketed operands
  * must run WITHOUT a shuffle on either input — the one-time-write /
  * many-cheap-joins trade that matters for iterative workloads. */
class BucketingSpec extends SparkSpec {

  test("bucketed multiply joins exchange-free and matches plain multiply") {
    val a = MatrixOps.genDense(spark, 16, seed = 11)
      .withColumn("v", floor(col("v") * 10).cast("double"))
    val b = MatrixOps.genDense(spark, 16, seed = 12)
      .withColumn("v", floor(col("v") * 10).cast("double"))

    MatrixOps.saveForMultiply(a, b, "bucketed_a", "bucketed_b", buckets = 4)
    // Force SMJ so the exchange-free property is observable (a broadcast
    // join would hide it).
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val product = MatrixOps.multiplyBucketed(spark, "bucketed_a", "bucketed_b")

      // Physical plan: exactly ONE exchange (the final groupBy), none
      // feeding the join.
      val plan = product.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 1, s"expected only the aggregate exchange, plan:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)

      assert(cells(product) === cells(MatrixOps.multiply(a, b)))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS bucketed_a")
      spark.sql("DROP TABLE IF EXISTS bucketed_b")
    }
  }

  test("ngram jaccard declared plan is broadcast-free and matches the broadcast verifier") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again", "en"),
      (1L, "the quick brown fox jumps over the lazy dog again", "en"), // exact dup
      (2L, "the quick brown fox jumps over the lazy cat again", "en"), // near dup
      (3L, "completely different content about spark engines here", "en"),
      (4L, "der schnelle braune fuchs springt ueber den faulen hund", "de"),
      (5L, "der schnelle braune fuchs springt ueber den faulen hund", "de")
    ).map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // threshold -1: prove the declared plan RUNS fully shuffle-based —
    // the variant it replaced carried an explicit broadcast() hint that
    // materialized the corpus side at ANY scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val declared = Dedup.ngramJaccardPairs(docs, n = 12, thresholdTenths = 9)
      val rows = declared.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val plan = declared.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"),
        s"declared ngram jaccard plan must not broadcast the corpus:\n$plan")
      val verifier = Dedup.ngramJaccardPairsBroadcast(docs, n = 12, thresholdTenths = 9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(rows === verifier)
      // exact dups (J = 1) must be present; the test is vacuous otherwise
      assert(rows.map(p => (p._1, p._2)).contains((0L, 1L)))
      assert(rows.map(p => (p._1, p._2)).contains((4L, 5L)))
      // the guard fails fast instead of broadcasting an unbounded corpus
      assertThrows[IllegalArgumentException] {
        Dedup.ngramJaccardPairsBroadcast(docs, n = 12, thresholdTenths = 9,
          maxBroadcastRows = 2L)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    }
  }

  test("persisted ivf-pq index serves pruned: probed cells gate the postings scan") {
    import spark.implicits._
    import graft.operators.Similarity
    // 8 vectors, 2 Lloyd cells — the persisted postings split into two
    // cell partitions; a probes=1 query must plan a partition-pruned
    // scan (dynamic pruning from the broadcast probed-cell relation)
    // and reproduce the in-memory annIvfPq rows exactly
    val emb = (0L until 8L).map { i =>
      val base = if (i % 2 == 0) 1.0f else -1.0f
      (i, Array(base, base * 0.9f, 0.1f * i, 0.0f), (i % 2).toInt)
    }.toDF("vec_id", "embedding", "label")
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_index_spec").toString
    Similarity.savePqIndex(spark, emb, path, m = 2, dim = 4, cw = 2,
      rounds = 1, cells = 2, cellRounds = 1)
    val served = Similarity.annIvfPqFromIndex(spark,
      emb.filter(col("vec_id") < 2), path, k = 3, probes = 1, m = 2,
      dim = 4)
    // partition pruning: the postings scan must carry a runtime
    // partition filter on cell (dynamicpruning from the broadcast
    // probed side) — without it every query reads the whole index
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"probed cells must prune postings partitions at runtime, plan:\n$plan")
    val batch = Similarity.annIvfPq(spark, emb, numQueries = 2, k = 3,
        m = 2, dim = 4, probes = 1, cw = 2, rounds = 1, cells = 2,
        cellRounds = 1)
      .select("qid", "cell", "vec_id", "adist", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    val indexed = served.select("qid", "cell", "vec_id", "adist", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(indexed === batch,
      "the persisted index must round-trip the search bit-for-bit")
    // multi-probe against the SAME index: nprobe=2 of 2 cells covers
    // the corpus, so every query's k=3 must equal the in-memory
    // multi-probe tier's — and the serve must still plan the runtime
    // partition filter (pruning admits two partitions instead of one,
    // it doesn't disappear)
    val served2 = Similarity.annIvfPqFromIndex(spark,
      emb.filter(col("vec_id") < 2), path, k = 3, probes = 2, m = 2,
      dim = 4)
    assert(served2.queryExecution.executedPlan.toString
      .contains("dynamicpruning"),
      "multi-probe serve must keep the runtime partition filter")
    val batch2 = Similarity.annIvfPq(spark, emb, numQueries = 2, k = 3,
        m = 2, dim = 4, probes = 2, cw = 2, rounds = 1, cells = 2,
        cellRounds = 1)
      .select("qid", "cell", "vec_id", "adist", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    val indexed2 = served2.select("qid", "cell", "vec_id", "adist", "rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).toSet
    assert(indexed2 === batch2,
      "multi-probe persisted serve must round-trip bit-for-bit")
  }

  test("index append: frozen-book batch rows land under their cells, old answers unchanged") {
    import spark.implicits._
    import graft.operators.Similarity
    // corpus = ids 0-5 (trains the books); batch = ids 6-7 appended
    // later with the SAME frozen artifacts. Vector 7 copies vector 1,
    // so after the append a query near that direction must surface 7
    // at the same adist as 1 — the appended rows really serve.
    def vec(i: Long): Array[Float] = {
      val base = if (i % 2 == 0) 1.0f else -1.0f
      Array(base, base * 0.9f, 0.1f * (i % 6), 0.0f)
    }
    val corpus = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val batch = Seq((6L, vec(0L)), (7L, vec(1L))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_index_append").toString
    Similarity.savePqIndex(spark, corpus, path, m = 2, dim = 4, cw = 2,
      rounds = 1, cells = 2, cellRounds = 1)
    def serve() = Similarity.annIvfPqFromIndex(spark,
        corpus.filter(col("vec_id") < 2), path, k = 6, probes = 1, m = 2,
        dim = 4)
      .select("qid", "vec_id", "adist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val before = serve()
    val rowsBefore = spark.read.parquet(s"$path/postings").count()
    Similarity.appendToPqIndex(spark, batch, path, m = 2, dim = 4)
    // m rows per appended vector, nothing rewritten
    assert(spark.read.parquet(s"$path/postings").count() ===
      rowsBefore + 2 * 2)
    val after = serve()
    // every pre-append answer row survives verbatim except rank
    // renumbering from the two newcomers...
    assert(before.map { case (q, v, d, _) => (q, v, d) }.subsetOf(
      after.map { case (q, v, d, _) => (q, v, d) }))
    // ...and the appended copies serve with their twins' exact adist
    val a = after.groupBy(_._1).map { case (q, rows) =>
      q -> rows.map(r => r._2 -> r._3).toMap }
    // the appended EXACT copies take their queries' own argmin codes,
    // so each serves at the query's self-quantization distance — the
    // MINIMUM possible ADC distance for that query (v6 lands at 0:
    // v0's slices coincide with codewords; v7 at q1's nonzero
    // residual: the trained odd centroid moved off the seed)
    assert(a(0L)(6L) === a(0L).values.min,
      "appended copy of v0 must achieve query 0's minimum adist")
    assert(a(1L)(7L) === a(1L).values.min,
      "appended copy of v1 must achieve query 1's minimum adist")
    assert(a(0L)(6L) === 0L, "v0 was a codeword seed: exact-zero ADC")
  }

  test("index compaction: appends pile files per cell, compact folds to one, serve bit-identical") {
    import spark.implicits._
    import graft.operators.Similarity
    def vec(i: Long): Array[Float] = {
      val base = if (i % 2 == 0) 1.0f else -1.0f
      Array(base, base * 0.9f, 0.1f * (i % 6), 0.0f)
    }
    val corpus = (0L until 6L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_pq_index_compact").toString
    Similarity.savePqIndex(spark, corpus, path, m = 2, dim = 4, cw = 2,
      rounds = 1, cells = 2, cellRounds = 1)
    // two ingest batches — each append adds at least one file per
    // touched cell partition (the small-files growth being bounded)
    Similarity.appendToPqIndex(spark,
      Seq((6L, vec(0L)), (7L, vec(1L))).toDF("vec_id", "embedding"),
      path, m = 2, dim = 4)
    Similarity.appendToPqIndex(spark,
      Seq((8L, vec(2L)), (9L, vec(3L))).toDF("vec_id", "embedding"),
      path, m = 2, dim = 4)
    def filesPerCell(): Map[String, Int] = {
      val root = new java.io.File(s"$path/postings")
      root.listFiles().filter(f => f.isDirectory &&
          f.getName.startsWith("cell=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    def serve() = Similarity.annIvfPqFromIndex(spark,
        corpus.filter(col("vec_id") < 2), path, k = 8, probes = 2, m = 2,
        dim = 4)
      .select("qid", "vec_id", "adist", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val before = filesPerCell()
    assert(before.nonEmpty && before.values.exists(_ > 1),
      s"appends should have piled files per cell: $before")
    val servedBefore = serve()
    Similarity.compactPqIndex(spark, path)
    val after = filesPerCell()
    assert(after.keySet === before.keySet, "compaction must keep cells")
    assert(after.values.forall(_ === 1),
      s"compaction must fold each cell to one file: $after")
    // rows unchanged, answers bit-identical — pure layout maintenance
    assert(serve() === servedBefore)
  }

  test("persisted lsh band index: save, pruned serve, frozen-family append") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different words over here"),
      (3L, "alpha beta gamma delta zeta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact twin of doc 1
      (11L, "unseen novel content entirely fresh") // no banded candidate
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_lsh_index_spec").toString
    Dedup.saveLshBandIndex(corpus, path)
    val served = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
      minMatches = 32)
    // the batch's fp prefixes become a LITERAL partition filter on the
    // index scan (static pruning — deterministic, not optimizer-gated)
    val plan = served.queryExecution.executedPlan.toString
    assert(raw"fp_pfx#\d+ IN \(".r.findFirstIn(plan).isDefined,
      s"batch band prefixes must prune index partitions, plan:\n$plan")
    val out = served.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact twin: all 32 minhashes agree, dropped
    assert(out(10L)._2 === 32L && out(10L)._3 >= 1L && out(10L)._4 === 0L)
    // novel doc: fail open with zero candidates
    assert(out(11L) === ((0L, 0L, 0L, 1L)))
    // frozen-family append: index the novel content, the re-served
    // batch now drops it, and the earlier verdict is unchanged
    Dedup.appendToLshBandIndex(
      Seq((4L, "unseen novel content entirely fresh")).toDF("doc_id", "text"),
      path)
    val out2 = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
        minMatches = 32)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out2(11L)._2 === 32L && out2(11L)._4 === 0L,
      "appended twin must be served immediately")
    assert(out2(10L) === out(10L), "append must not disturb old answers")
    // compaction (shared LakeMaintenance contract): appends piled a
    // second file into touched prefix partitions; compact folds each
    // back to one file and the serve is bit-identical across it
    def filesPerPfx(): Map[String, Int] = {
      val bands = new java.io.File(s"$path/bands")
      bands.listFiles().filter(_.getName.startsWith("fp_pfx=")).map { d =>
        d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
      }.toMap
    }
    assert(filesPerPfx().values.exists(_ > 1),
      "append must have piled a second file into some prefix partition")
    Dedup.compactLshBandIndex(spark, path)
    assert(filesPerPfx().values.forall(_ === 1),
      "compaction must fold every prefix partition to one file")
    val out3 = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
        minMatches = 32)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out3 === out2, "serve must be bit-identical across compaction")
  }

  test("bucketed incremental dedup anti-joins without shuffling the corpus") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Seq((0L, "seen before"), (1L, "also seen"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "seen before"), (11L, "novel one"), (12L, "also seen"))
      .toDF("doc_id", "text")
    Dedup.saveCorpusDigests(corpus, "corpus_digests", buckets = 4)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val kept = Dedup.dedupAgainstCorpusBucketed(spark, batch, "corpus_digests")
      val plan = kept.queryExecution.executedPlan.toString
      // exactly one exchange: the incoming BATCH hashing into the
      // corpus's bucket layout; the corpus side reads buckets in place
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges === 1, s"expected only the batch-side exchange, plan:\n$plan")
      // the batch-side Bloom filter prunes the corpus scan BEFORE the
      // anti-join (runtime-filter shape; no false negatives, so every
      // genuine duplicate is still dropped)
      assert(plan.contains("might_contain"),
        s"expected the batch-side Bloom filter on the corpus scan, plan:\n$plan")
      assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === Seq(11L))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      spark.sql("DROP TABLE IF EXISTS corpus_digests")
    }
  }

  test("lsh indexed serve: bulk regime (no broadcast) matches point regime") {
    import spark.implicits._
    import graft.operators.Dedup
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "totally different words over here"),
      (3L, "alpha beta gamma delta zeta")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "unseen novel content entirely fresh"),
      (12L, "totally different words over here")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files
      .createTempDirectory("graft_lsh_bulk_regime").toString
    Dedup.saveLshBandIndex(corpus, path)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val point = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
      minMatches = 32)
    val bulk = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
      minMatches = 32, broadcastMaxDocs = 0L)
    // the bulk plan must NOT force-broadcast the batch's band rows —
    // past the broadcast budget that would OOM; the shuffled equi-join
    // is the bulk shape (no literal prefix prune either: a bulk batch
    // populates every prefix)
    val bulkPlan = bulk.queryExecution.executedPlan.toString
    assert(!bulkPlan.contains("BroadcastHashJoin") ||
      raw"fp_pfx#\d+ IN \(".r.findFirstIn(bulkPlan).isEmpty,
      s"bulk regime must not take the hinted broadcast path:\n$bulkPlan")
    assert(rows(bulk) === rows(point),
      "bulk and point regimes must serve identical verdicts")
    // r18 (the r17 ADVICE item): a GENEROUS caller cap with a small,
    // safe batch must keep working — the headroom bound CLAMPS the
    // regime decision (docs*bands past 64M routes to the shuffled
    // regime) instead of hard-failing before it
    val generous = Dedup.dedupAgainstCorpusLshIndexed(spark, batch, path,
      minMatches = 32, broadcastMaxDocs = 10000000000L)
    assert(rows(generous) === rows(point),
      "a generous cap with a small batch must serve identical verdicts")
  }

  test("string partition column survives all-digit values through compaction") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    // the ADVICE hazard: every populated partition value is all-digit,
    // so Spark's partition-type inference flips the column to integer
    // and a rewrite would re-emit pfx=7 instead of pfx=07
    val dir = java.nio.file.Files
      .createTempDirectory("graft_digit_pfx").toString + "/bands"
    Seq((1L, "07"), (2L, "12"), (3L, "07"))
      .toDF("id", "pfx")
      .write.mode("overwrite").partitionBy("pfx").parquet(dir)
    // premise: the naive read DOES infer integer on this value set
    assert(spark.read.parquet(dir).schema("pfx").dataType !==
      org.apache.spark.sql.types.StringType,
      "fixture no longer reproduces the inference hazard")
    val forced = LakeMaintenance.readPartitionedString(spark, dir, "pfx")
    assert(forced.schema("pfx").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(forced.select("pfx").distinct().collect()
      .map(_.getString(0)).sorted.toSeq === Seq("07", "12"),
      "leading zeros must survive the forced-string read")
    LakeMaintenance.compactPartitionedString(spark, dir, "pfx")
    val dirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("pfx=")).map(_.getName).sorted.toSeq
    assert(dirs === Seq("pfx=07", "pfx=12"),
      s"compaction must preserve the 2-digit layout, got $dirs")
  }

  test("snapshot diff classifies added/removed/changed and drops unchanged") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    val old = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"))
      .toDF("doc_id", "text", "lang")
    val neu = Seq((2L, "b", "en"), (3L, "c CHANGED", "de"), (4L, "d", "fr"))
      .toDF("doc_id", "text", "lang")
    val out = LakeMaintenance.snapshotDiff(old, neu, "doc_id",
        Seq("text", "lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // delta-scale output: the unchanged row never surfaces
    assert(!out.contains(2L))
    // hash-width shuffle: the join carries (key, 32-hex) projections,
    // never the payload columns
    val plan = LakeMaintenance.snapshotDiff(old, neu, "doc_id",
      Seq("text", "lang")).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("delta apply round-trips: apply(old, delta(old, new)) == new") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    val old = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"))
      .toDF("doc_id", "text", "lang")
    val neu = Seq((2L, "b", "en"), (3L, "c CHANGED", "de"), (4L, "d", "fr"))
      .toDF("doc_id", "text", "lang")
    val pay = Seq("text", "lang")
    val delta = LakeMaintenance.snapshotDelta(old, neu, "doc_id", pay)
    // delta is delta-scale: upserts carry NEW payloads, removes only keys
    val ops = delta.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(ops === Map(3L -> "upsert", 4L -> "upsert", 1L -> "remove"))
    val applied = LakeMaintenance.applyDelta(old, delta, "doc_id", pay)
    assert(applied.except(neu).count() === 0L &&
      neu.except(applied).count() === 0L,
      "round-trip law must reconstruct the new state exactly")
    // non-string payloads: removal rows must carry TYPED nulls or the
    // delta union breaks at analysis
    val oldN = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "v")
    val neuN = Seq((2L, 25L)).toDF("doc_id", "v")
    val appliedN = LakeMaintenance.applyDelta(oldN,
      LakeMaintenance.snapshotDelta(oldN, neuN, "doc_id", Seq("v")),
      "doc_id", Seq("v"))
    assert(appliedN.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSet === Set((2L, 25L)))
  }

  test("snapshot diff payload hash is null-safe and separator-proof") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    // every row below is a CHANGED payload the r15 concat_ws digest
    // hashed identically (null-skip / null-vs-empty / null column
    // shift / separator byte re-bracketing) — the r16 length-prefixed
    // null-sentinel encoding must classify all of them "changed"
    val old = Seq(
      (1L, Option("a"), Option.empty[String]),  // null -> value flip
      (2L, Option(""), Option("x")),            // '' vs NULL
      (3L, Option("a"), Option.empty[String]),  // (a,NULL) vs (NULL,a)
      (4L, Option("ab"), Option("c")))    // separator inside value
      .toDF("doc_id", "text", "lang")
    val neu = Seq(
      (1L, Option("a"), Option("en")),
      (2L, Option(""), Option.empty[String]),
      (3L, Option.empty[String], Option("a")),
      (4L, Option("a"), Option("bc")))
      .toDF("doc_id", "text", "lang")
    val pay = Seq("text", "lang")
    val status = LakeMaintenance.snapshotDiff(old, neu, "doc_id", pay)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(status === Map(1L -> "changed", 2L -> "changed",
      3L -> "changed", 4L -> "changed"))
    // and the round-trip law holds THROUGH the null-bearing delta:
    // applyDelta reconstructs the NULL cells exactly
    val applied = LakeMaintenance.applyDelta(old,
      LakeMaintenance.snapshotDelta(old, neu, "doc_id", pay), "doc_id", pay)
    assert(applied.except(neu).count() === 0L &&
      neu.except(applied).count() === 0L,
      "null-bearing payloads must survive the delta round-trip")
  }

  test("snapshot diff digest is injective on randomized null-laden payloads") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    // 300 seeded-random payload pairs over a vocabulary built to
    // collide under every known-broken encoding: NULL, '', the r15
    // separator byte, the new sentinel/prefix characters themselves
    // ('N', 'V', ':'), and values that concatenate ambiguously.
    // Classification must equal tuple equality EXACTLY — "changed"
    // iff the payload tuples differ.
    val rnd = new scala.util.Random(42)
    val vocab: IndexedSeq[Option[String]] = IndexedSeq(
      None, Some(""), Some("N"), Some("V"), Some(":"), Some("V1:"),
      Some("a"), Some("b"), Some("ab"), Some("a"), Some("a"),
      Some("ab"), Some("N1"), Some("1:a"), Some("V2:ab"))
    def tup() = (vocab(rnd.nextInt(vocab.size)),
      vocab(rnd.nextInt(vocab.size)), vocab(rnd.nextInt(vocab.size)))
    // every third case repeats its tuple so the unchanged arm is
    // genuinely exercised (independent random tuples almost never
    // collide - which is the point of the other 200 cases)
    val cases = (1L to 300L).map { i =>
      val t1 = tup()
      (i, t1, if (i % 3 == 0) t1 else tup())
    }
    val old = cases.map { case (i, t, _) => (i, t._1, t._2, t._3) }
      .toDF("doc_id", "p1", "p2", "p3")
    val neu = cases.map { case (i, _, t) => (i, t._1, t._2, t._3) }
      .toDF("doc_id", "p1", "p2", "p3")
    val status = LakeMaintenance.snapshotDiff(old, neu, "doc_id",
        Seq("p1", "p2", "p3"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.foreach { case (i, t1, t2) =>
      val got = status.getOrElse(i, "unchanged")
      val want = if (t1 == t2) "unchanged" else "changed"
      assert(got === want,
        s"doc $i: payloads $t1 vs $t2 classified $got, want $want")
    }
    // the generator actually exercised both arms
    assert(status.nonEmpty && status.size < 300)
  }

  test("churn rollup attributes delta rows new-wins with a null sentinel") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    val old = Seq(
      (1L, "a", Option("s1")),  // removed: attribution falls to OLD
      (2L, "b", Option("s1")),  // changed in neu
      (3L, "c", Option("s2")))  // unchanged: must not appear anywhere
      .toDF("doc_id", "text", "source")
    val neu = Seq(
      (2L, "bX", Option("s1")),
      (3L, "c", Option("s2")),
      (4L, "d", Option("s2")),            // added under s2
      (5L, "e", Option.empty[String]))    // added, NULL source -> (none)
      .toDF("doc_id", "text", "source")
    val out = LakeMaintenance.churnBy(old, neu, "doc_id",
        Seq("text", "source"), "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    //                       delta, added, changed, removed
    assert(out === Map(
      "s1" -> ((2L, 0L, 1L, 1L)),
      "s2" -> ((1L, 1L, 0L, 0L)),
      "(none)" -> ((1L, 1L, 0L, 0L))))
  }

  test("snapshot diff enforces the replayable payload-type contract") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    // double payloads render differently across engines (1.0E-4 in
    // Spark vs 0.0001 in DuckDB): the digest must REFUSE them loudly
    // instead of silently breaking oracle replayability
    val old = Seq((1L, 0.0001)).toDF("doc_id", "v")
    val neu = Seq((1L, 0.0002)).toDF("doc_id", "v")
    val e = intercept[IllegalArgumentException] {
      LakeMaintenance.snapshotDiff(old, neu, "doc_id", Seq("v"))
    }
    assert(e.getMessage.contains("micro-units"), e.getMessage)
    // integral/boolean/date payloads stay in-contract
    val oldOk = Seq((1L, 10L, true)).toDF("doc_id", "n", "b")
    val neuOk = Seq((1L, 11L, true)).toDF("doc_id", "n", "b")
    val st = LakeMaintenance.snapshotDiff(oldOk, neuOk, "doc_id",
        Seq("n", "b"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st === Map(1L -> "changed"))
  }

  test("churn rollup casts a numeric attr column to string explicitly") {
    import spark.implicits._
    import graft.operators.LakeMaintenance
    val old = Seq((1L, "a", 7L), (2L, "b", 8L)).toDF("doc_id", "text", "feed")
    val neu = Seq((2L, "bX", 8L), (3L, "c", 7L)).toDF("doc_id", "text", "feed")
    val out = LakeMaintenance.churnBy(old, neu, "doc_id",
      Seq("text"), "feed")
    assert(out.schema("feed").dataType ===
      org.apache.spark.sql.types.StringType,
      "the (none) sentinel's type contract: attr groups as string")
    val m = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("7" -> 2L, "8" -> 1L))
  }

  test("schema memo invalidates on rewrite; band width discovery fails loudly") {
    import spark.implicits._
    import graft.operators.{Dedup, LakeMaintenance}
    val base = java.nio.file.Files
      .createTempDirectory("graft_memo_spec_").toString
    // (a) memo invalidation: same dir rewritten with a DIFFERENT data
    // column set must be re-learned, not served through a stale schema
    val dir = s"$base/rel"
    Seq(("07", 1L, 2L)).toDF("pfx", "a", "b")
      .write.partitionBy("pfx").parquet(dir)
    assert(LakeMaintenance.readPartitionedString(spark, dir, "pfx")
      .columns.toSet === Set("pfx", "a", "b"))
    // delete + rewrite with a different payload column
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    Seq(("07", 9L)).toDF("pfx", "c")
      .write.partitionBy("pfx").parquet(dir)
    LakeMaintenance.invalidateSchemaMemo(dir)
    assert(LakeMaintenance.readPartitionedString(spark, dir, "pfx")
      .columns.toSet === Set("pfx", "c"),
      "rewritten directory must serve its NEW schema after invalidation")
    // (b) compaction invalidates implicitly (it rewrites the dir)
    LakeMaintenance.compactPartitionedString(spark, dir, "pfx")
    assert(LakeMaintenance.readPartitionedString(spark, dir, "pfx")
      .select("c").collect().map(_.getLong(0)).toSeq === Seq(9L))
    // (c) band width discovery: missing index and mixed widths FAIL
    // instead of silently defaulting (a wrong width makes the probe
    // join match nothing)
    intercept[IllegalArgumentException] {
      Dedup.bandPfxWidthOf(spark, s"$base/nope")
    }
    val mixed = s"$base/mixed"
    Seq(("0", 1L)).toDF("fp_pfx", "doc_id")
      .write.partitionBy("fp_pfx").parquet(s"$mixed/bands")
    Seq(("0a", 2L)).toDF("fp_pfx", "doc_id")
      .write.mode("append").partitionBy("fp_pfx").parquet(s"$mixed/bands")
    val e = intercept[IllegalArgumentException] {
      Dedup.bandPfxWidthOf(spark, mixed)
    }
    assert(e.getMessage.contains("mixes fp_pfx widths"))
  }

  test("bloom semi-join handles identically-named keys on both sides") {
    import spark.implicits._
    val fact = (0L until 100L).map(k => (k, k % 7)).toDF("partkey", "payload")
    val dim = Seq(3L, 11L, 99L).toDF("partkey")
    val out = graft.operators.BloomJoin
      .semiJoinBloom(fact, dim, "partkey", "partkey", expectedItems = 10L)
      .select("partkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(out === Seq(3L, 11L, 99L))
  }
}
