package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextOps}
import graft.functions.VectorFunctions

/** Dedup / text / similarity operators on small synthetic corpora with
  * known ground truth (the driver testdata has no true duplicates, so
  * near-dup recall is asserted here). */
class PipelineOpsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L),
    (1L, "the quick brown fox jumps over the lazy dog", "en", "s0", 43L), // exact dup of 0
    (2L, "quick brown fox jumps over the lazy dog the", "en", "s0", 43L), // reordered (bag-dup)
    (3L, "the quick brown fox leaps over the lazy dog", "en", "s0", 43L), // near dup (1 token)
    (4L, "completely different content about spark engines", "en", "s1", 48L),
    (5L, "der schnelle braune fuchs springt", "de", "s2", 33L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup keeps first doc per content group") {
    val kept = Dedup.exactKept(docs).select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(0L, 2L, 3L, 4L, 5L)) // doc 1 dropped
    val groups = Dedup.exactGroups(docs).filter(col("group_size") > 1).collect()
    assert(groups.length === 1 && groups.head.getAs[Long]("keep_id") === 0L)
  }

  test("normalized exact dedup merges case/punct/numeral variants") {
    val d = Seq(
      (1L, "Hello, World! 42", "en", "s0"),
      (2L, "hello world 7", "en", "s0"),   // digit runs collapse to 0
      (3L, "hello  world  0", "en", "s1"), // whitespace collapses
      (4L, "different entirely", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    // the transform itself
    val norms = TextOps.normalizedDocs(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_norm")).toMap
    assert(norms(1L) === "hello world 0")
    assert(norms(2L) === "hello world 0")
    assert(norms(3L) === "hello world 0")
    // the dedup tier: three RAW-distinct variants collapse into one
    // group — exactly what raw md5 dedup cannot see
    val g = TextOps.dedupExactNormalized(d)
      .filter(col("group_size") > 1).collect()
    assert(g.length === 1)
    assert(g.head.getAs[Long]("keep_id") === 1L)
    assert(g.head.getAs[Long]("group_size") === 3L)
    assert(g.head.getAs[Long]("raw_variants") === 3L)
    assert(Dedup.exactGroups(d.withColumn("n_chars", length(col("text")).cast("long")))
      .filter(col("group_size") > 1).count() === 0L)
  }

  test("bag fingerprint catches token reordering; exact fp does not") {
    val fp = TextOps.fingerprints(docs)
    val bag = fp.groupBy("bag_fp").count().filter(col("count") >= 3).count()
    assert(bag === 1) // docs 0, 1, 2 share a bag fingerprint
    val exact = fp.groupBy("exact_fp").count().filter(col("count") >= 3).count()
    assert(exact === 0)
  }

  test("jaccard pairs finds the near-duplicate above threshold") {
    val pairs = Dedup.jaccardPairs(docs, thresholdTenths = 7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical
    assert(pairs.contains((0L, 3L))) // 8/10 shared tokens
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc
  }

  test("containment pairs are directed: quoted doc pairs, container does not") {
    import spark.implicits._
    // doc 1's 3 tokens all appear in doc 2 (10 distinct tokens):
    // C(1→2) = 3/3 = 1 but C(2→1) = 3/10 — only the directed row
    // survives t = 0.9. Jaccard would score the pair 0.3 and miss it.
    // doc 3 shares nothing; doc 4 repeats doc 1 in another LANG (block
    // boundary — never pairs).
    val d = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (3L, "one two three", "en"),
      (4L, "alpha beta gamma", "fr"),
      // token-reordered bag-duplicate of doc 1: exercises the quotient —
      // intra-class pairs (1,5)/(5,1) at C=1 plus the cross-class row
      // (5,2) inherited from its rep's (1,2) verdict
      (5L, "gamma beta alpha", "en"))
      .toDF("doc_id", "text", "lang")
    val rows = Dedup.containmentPairs(d, thresholdTenths = 9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(t => (t._1, t._2))
    assert(rows.toSeq === Seq(
      (1L, 2L, 3L, 3L, 1.0), (1L, 5L, 3L, 3L, 1.0),
      (5L, 1L, 3L, 3L, 1.0), (5L, 2L, 3L, 3L, 1.0)))
    // at a loose threshold the reverse direction appears too
    val loose = Dedup.containmentPairs(d, thresholdTenths = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose.contains((1L, 2L)) && loose.contains((2L, 1L)))
    assert(!loose.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("containment verify paths agree: brute lang-blocked equals prefix") {
    import spark.implicits._
    // the auto-switch (containmentBruteWins) is purely physical — both
    // verify shapes must emit the SAME rep-level rows on any corpus.
    // Fixture mixes full containment, partial overlap, a lang block
    // boundary, and a no-overlap doc.
    val d = Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (3L, "one two three", "en"),
      (4L, "alpha beta gamma", "fr"),
      (6L, "alpha beta delta epsilon", "en"))
      .toDF("doc_id", "text", "lang")
    def rows(brute: Boolean, t: Int) =
      Dedup.containmentPairsOf(d, t, bruteVerify = brute).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
    for (t <- Seq(3, 5, 9))
      assert(rows(brute = true, t) === rows(brute = false, t),
        s"verify paths diverge at t=$t")
  }

  test("every pair tier keeps pairs exactly at the threshold and drops the ones just below") {
    import spark.implicits._
    def toks(p: String, from: Int, to: Int) = (from to to).map(i => s"$p$i")
    def words(ts: Seq[String]) = ts.mkString(" ")
    // t = 0.9. (0,1): J = 9/10 and C(0→1) = 9/10, both exactly at t,
    // with the length bound tight (9·9 ≤ 10·10, 10·9 ≤ 9·10); (2,3):
    // J = 17/19, just below; (4,5): C(4→5) = 9/10 exactly; (6,7):
    // C(6→7) = 17/19, just below; 8 is 0's bag in another lang; 9 is
    // a bag-dup of 0.
    val word = Seq(
      (0L, words(toks("a", 1, 10)), "en"),
      (1L, words(toks("a", 1, 9)), "en"),
      (2L, words(toks("c", 1, 18)), "en"),
      (3L, words(toks("c", 1, 17) :+ "d18"), "en"),
      (4L, words(toks("g", 1, 10)), "en"),
      (5L, words(toks("g", 1, 9) ++ toks("h", 1, 20)), "en"),
      (6L, words(toks("k", 1, 19)), "en"),
      (7L, words(toks("k", 1, 17) ++ toks("m", 1, 10)), "en"),
      (8L, words(toks("a", 1, 10)), "de"),
      (9L, words(toks("a", 10, 10) ++ toks("a", 1, 9)), "en"))
    // the same boundaries over distinct characters, for the n = 1 tier
    val chars = Seq(
      (20L, "abcdefghij", "en"), (21L, "abcdefghi", "en"),
      (22L, "ABCDEFGHIJKLMNOPQR", "en"), (23L, "ABCDEFGHIJKLMNOPQZ", "en"))
    def df(rows: Seq[(Long, String, String)]) = rows
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    type Doc = (Long, String, String)
    def wordSet(d: Doc) = d._2.split(" ").toSet
    def charSet(d: Doc) = d._2.map(_.toString).toSet
    // plain-Scala truth: (d1, d2, inter, uni) for J ≥ 0.9 and
    // (d1, d2, inter, n1) for C(d1→d2) ≥ 0.9, same lang only
    def jacTruth(as: Seq[Doc], bs: Seq[Doc], set: Doc => Set[String],
                 ordered: Boolean) =
      (for (a <- as; b <- bs if a._3 == b._3 && a._1 != b._1 &&
             (!ordered || a._1 < b._1)) yield {
        val i = (set(a) & set(b)).size.toLong
        (a._1, b._1, i, set(a).size + set(b).size - i)
      }).filter(p => p._3 * 10 >= p._4 * 9).toSet
    def contTruth(as: Seq[Doc], bs: Seq[Doc]) =
      (for (a <- as; b <- bs if a._3 == b._3 && a._1 != b._1) yield
        (a._1, b._1, (wordSet(a) & wordSet(b)).size.toLong, wordSet(a).size.toLong))
        .filter(p => p._3 * 10 >= p._4 * 9).toSet
    def quad(d: org.apache.spark.sql.DataFrame, c: String) =
      d.select(col("d1"), col("d2"), col("inter"), col(c)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val selfJ = jacTruth(word, word, wordSet, ordered = true)
    assert(selfJ.contains((0L, 1L, 9L, 10L)) && !selfJ.exists(p => p._1 == 2L))
    assert(quad(Dedup.jaccardPairs(df(word), 9), "uni") === selfJ)
    assert(quad(Dedup.snmPairs(df(word), window = word.size, 9), "uni") === selfJ)

    val (batch, corpus) = word.partition(d => Set(1L, 3L)(d._1))
    val crossJ = jacTruth(batch, corpus, wordSet, ordered = false)
    assert(crossJ.contains((1L, 0L, 9L, 10L)) && !crossJ.exists(p => p._1 == 3L))
    assert(quad(Dedup.jaccardPairsAgainstCorpus(df(batch), df(corpus), 9),
      "uni") === crossJ)
    val base = java.nio.file.Files
      .createTempDirectory("graft_boundary_spec_").toString
    Dedup.saveLshBandIndex(df(corpus), s"$base/lsh", bands = 8)
    assert(quad(Dedup.jaccardPairsAgainstCorpusBanded(spark, df(batch),
      df(corpus), s"$base/lsh", 9), "uni") === crossJ)

    val charJ = jacTruth(chars, chars, charSet, ordered = true)
    assert(charJ === Set((20L, 21L, 9L, 10L)))
    assert(quad(Dedup.ngramJaccardPairs(df(chars), 1, 9), "uni") === charJ)
    assert(quad(Dedup.ngramJaccardPairsBroadcast(df(chars), 1, 9), "uni") === charJ)

    val selfC = contTruth(word, word)
    assert(selfC.contains((0L, 1L, 9L, 10L)) && selfC.contains((4L, 5L, 9L, 10L)) &&
      !selfC.exists(p => p._1 == 6L))
    assert(quad(Dedup.containmentPairs(df(word), 9), "n1") === selfC)
    val wordNoDup = df(word.filterNot(_._1 == 9L))
    for (brute <- Seq(true, false))
      assert(quad(Dedup.containmentPairsOf(wordNoDup, 9, bruteVerify = brute),
        "n1") === contTruth(word.filterNot(_._1 == 9L), word.filterNot(_._1 == 9L)))

    val (fresh, lake) = word.partition(d => Set(1L, 3L, 4L, 6L)(d._1))
    val contained = contTruth(fresh, lake).map(_._1)
    assert(contained === Set(1L, 3L, 4L))
    val kept = Dedup.dedupAgainstCorpusContainment(df(fresh), df(lake), 9)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === fresh.map(_._1).toSet -- contained)
  }

  test("concat-and-chunk packing assigns by start offset and counts straddlers") {
    import spark.implicits._
    // three 3-token docs, budget 5: doc2 starts at offset 3 (chunk 0)
    // but ends at token 5 (chunk 1) — the straddler; doc3 starts
    // cleanly in chunk 1
    val d = Seq((1L, "a b c", "en"), (2L, "d e f", "en"), (3L, "g h i", "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.operators.TextOps.packChunks(d, budgetTokens = 5L)
      .orderBy("chunk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq === Seq(
      ("en", 0L, 2L, 6L, 1L),
      ("en", 1L, 1L, 3L, 0L)))
  }

  test("containment incremental dedup drops quote-snippets of the corpus") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"))
      .toDF("doc_id", "text", "lang")
    val batch = Seq(
      (10L, "gamma beta alpha", "en"),        // subset of corpus doc: dropped
      (11L, "alpha beta nu xi omicron", "en"), // only 2/5 contained: kept
      (12L, "one two three", "en"),            // fresh: kept
      (13L, "gamma beta alpha", "fr"))         // lang block boundary: kept
      .toDF("doc_id", "text", "lang")
    val kept = Dedup.dedupAgainstCorpusContainment(batch, corpus, 9)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(11L, 12L, 13L))
    // at t=0.4 the 2/5-contained doc drops too
    val strict = Dedup.dedupAgainstCorpusContainment(batch, corpus, 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(strict.toSeq === Seq(12L, 13L))
  }

  test("simhash incremental dedup drops near-dups of the corpus, keeps fresh docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the riverbank today"
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                       // exact: hamming 0
      (11L, base.replace("today", "tonight")),           // near-dup: ≤ 4
      (12L, "entirely unrelated content about compilers parsers and lexers galore")
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .dedupAgainstCorpusSimhash(batch, corpus, maxDistance = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(10L), "exact duplicate must drop")
    assert(!kept.contains(11L), "one-token edit must drop at hamming <= 4")
    assert(kept.contains(12L), "unrelated doc must survive")
  }

  test("tfidf cosine: identical docs score 1, disjoint-vocab docs never pair") {
    import spark.implicits._
    val d = Seq(
      (1L, "zebra quagga okapi tapir zebra quagga rare wildlife spotting"),
      (2L, "zebra quagga okapi tapir zebra quagga rare wildlife spotting"),
      (3L, "syntax parser compiler token lexer grammar ast codegen emit"),
      (4L, "completely other subject matter entirely different domain words")
    ).toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet === Set((1L, 2L)),
      "only the identical pair shares salient vocabulary")
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12,
      "identical vectors must have cosine 1")
  }

  test("tfidf df-ceiling: hot-token-only pairs drop, surviving cosines stay exact") {
    import spark.implicits._
    import graft.operators.TextOps
    // `hot` is in all 6 docs (postings 6); d3/d4 overlap ONLY through
    // it (cos 0.64 via the 8× repetition); d1/d2 are identical and
    // overlap through sub-ceiling tokens too
    val hot8 = Seq.fill(8)("hot").mkString(" ")
    val d = Seq(
      (1L, "zeb qua oka hot"), (2L, "zeb qua oka hot"),
      (3L, s"$hot8 only3"), (4L, s"$hot8 only4"),
      (5L, "filler5 words5 here5 hot"), (6L, "filler6 words6 here6 hot")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = rows(TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60))
    val capped = rows(TextOps.tfidfCosinePairsCapped(d, maxPostings = 5L))
    assert(uncapped.keySet === Set((1L, 2L), (3L, 4L)))
    // the ceiling excludes `hot` from GENERATION: the hot-only pair
    // drops, pairs reachable through sub-ceiling tokens survive
    assert(capped.keySet === Set((1L, 2L)))
    // ...and a surviving pair's cosine is EXACT — completion runs over
    // the full vectors, hot included, so it equals the uncapped value
    assert(capped((1L, 2L)) === uncapped((1L, 2L)))
    assert(math.abs(capped((1L, 2L)) - 1.0) < 1e-12)
    // capped results are always a subset of uncapped
    assert(capped.keySet.subsetOf(uncapped.keySet))
  }

  test("tfidf capped: Cauchy-Schwarz prune survives hot-norm products past Long range") {
    import spark.implicits._
    import graft.operators.TextOps
    // the r13 ADVICE regression: hn = Σ(tf·idfq)² reaches ~1e10 per doc
    // here (tf=1000 on a 60-doc corpus → wq=1e5, hn=1e10), so the old
    // hn1*hn2 Long product wrapped (1e20 > 2^63) and the prune's bound
    // silently dropped every correct pair. Chain docs share one rare
    // (sub-ceiling) token with each neighbor; `hot` (pc=60, above the
    // D=8 ceiling) carries ~all of the weight mass.
    val hot1000 = Seq.fill(1000)("hot").mkString(" ")
    val d = (0 until 60).map { i =>
      (i.toLong, s"s$i s${i + 1} $hot1000")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val capped = rows(TextOps.tfidfCosinePairsCapped(d, maxPostings = 8L))
    // every adjacent pair shares a rare token and its true cosine is
    // ~0.999 (hot dominates both norms) — all 59 must survive
    val adjacent = (0 until 59).map(i => (i.toLong, i.toLong + 1)).toSet
    assert(capped.keySet === adjacent,
      "overflowed prune bound dropped correct pairs")
    // ...with cosines EXACT vs the uncapped truth (hot included in
    // completion; uncapped also pairs non-neighbors through hot itself)
    val uncapped = rows(TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60))
    adjacent.foreach(p => assert(capped(p) === uncapped(p)))
  }

  test("tfidf capped auto ceiling sites above the healthy tail: hot excluded, zero loss on sub-ceiling pairs") {
    import spark.implicits._
    import graft.operators.TextOps
    // 100 chain docs (each shares 2 of its 3 rare tokens with the next
    // doc; rare postings <= 3) + `hot` in every doc + 2 hot-dominated
    // docs pairing ONLY through hot. The auto rule (p99 of ~105 salient
    // postings counts) must land on the rare tail (3), excluding hot —
    // chain pairs survive with exact cosines, the hot-only pair drops.
    val hot130 = Seq.fill(130)("hot").mkString(" ")
    // ring, not chain: every rare token has postings exactly 3, so no
    // edge doc carries a df=1 token whose inflated idf sinks its
    // neighbor cosines below threshold
    val d = ((0 until 100).map { i =>
      (i.toLong, s"s$i s${(i + 1) % 100} s${(i + 2) % 100} hot")
    } ++ Seq((200L, s"$hot130 only200"), (201L, s"$hot130 only201")))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = rows(TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60))
    val auto = rows(TextOps.tfidfCosinePairsCapped(d)) // maxPostings = 0 → p99 siting
    val chain =
      (0 until 99).map(i => (i.toLong, i.toLong + 1)).toSet + ((0L, 99L))
    assert(uncapped.keySet === chain + ((200L, 201L)))
    // the ceiling ENGAGED (hot-only pair dropped) and sat above the
    // healthy tail (no chain pair lost; survivors exact)
    assert(auto.keySet === chain)
    chain.foreach(p => assert(auto(p) === uncapped(p)))
  }

  test("tfidf capped buildShards: sharded build is output-identical to single-broadcast") {
    import spark.implicits._
    import graft.operators.TextOps
    val hot8 = Seq.fill(8)("hot").mkString(" ")
    val d = Seq(
      (1L, "zeb qua oka hot"), (2L, "zeb qua oka hot"),
      (3L, s"$hot8 only3"), (4L, s"$hot8 only4"),
      (5L, "zeb qua filler5 hot"), (6L, "filler6 words6 here6 hot")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val one = rows(TextOps.tfidfCosinePairsCapped(d, maxPostings = 5L))
    val three = rows(TextOps.tfidfCosinePairsCapped(d, maxPostings = 5L, buildShards = 3))
    assert(one.nonEmpty)
    assert(three === one)
  }

  test("tfidf auto-sharding: shard choice pinned, forced-small budget engages shards and preserves pairs") {
    import spark.implicits._
    import graft.operators.TextOps
    // the pure sizing rule: one shard per maxBroadcastDocs, never < 1
    assert(TextOps.autoBuildShards(1L, 10000000L) === 1)
    assert(TextOps.autoBuildShards(10000000L, 10000000L) === 1)
    assert(TextOps.autoBuildShards(10000001L, 10000000L) === 2)
    assert(TextOps.autoBuildShards(95000001L, 10000000L) === 10)
    assert(TextOps.autoBuildShards(0L, 10000000L) === 1)
    val d = Seq(
      (1L, "zebra quagga okapi tapir zebra quagga rare wildlife spotting"),
      (2L, "zebra quagga okapi tapir zebra quagga rare wildlife spotting"),
      (3L, "zebra quagga okapi tapir extra words appended here today"),
      (4L, "syntax parser compiler token lexer grammar ast codegen emit"),
      (5L, "completely other subject matter entirely different domain words")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val single = rows(TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60, buildShards = 1))
    // budget 2 docs over a 5-doc corpus → auto picks 3 build shards
    val autoDf = TextOps.tfidfCosinePairs(d,
      thresholdHundredths = 60, buildShards = 0, maxBroadcastDocs = 2)
    // the sharded build is a union of per-shard dot relations — its
    // presence proves the auto path ENGAGED shards, not just sized them
    assert(autoDf.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.nonEmpty, "forced-small budget must engage the sharded build")
    assert(rows(autoDf) === single,
      "auto-sharded pairs must equal the single-broadcast tier")
  }

  test("SNM pairs catch sorted-adjacent near-dups; ranks invariant to shard width") {
    // en sort order by (text, doc_id): 4, 2, 0, 1, 3 — every near-dup
    // pair sits within window 4; doc 4 is dissimilar, de has one doc
    val pairs = Dedup.snmPairs(docs, window = 4, thresholdTenths = 7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L), (2L, 3L)))
    // the two-level rank must not depend on how the prefix shards cut:
    // 1-char shards (several per lang) and 8-char shards (fewer) agree
    val wide = Dedup.snmPairs(docs, window = 4, thresholdTenths = 7,
      prefixChars = 1).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrow = Dedup.snmPairs(docs, window = 4, thresholdTenths = 7,
      prefixChars = 8).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === pairs && narrow === pairs)
    // candidate volume is linear by construction: <= window * N
    assert(Dedup.snmCandidates(docs, window = 4).count() <= 4L * docs.count())
    // window 1 sees only consecutive docs: (2,0),(0,1),(1,3) survive t=7
    val w1 = Dedup.snmPairs(docs, window = 1, thresholdTenths = 7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(w1 === Set((0L, 2L), (0L, 1L), (1L, 3L)))
  }

  test("mix rebalance: integer rates honor the target shares and budget") {
    // two langs, 100 tokens each; target 75/25 at a 50% budget ->
    // budget 100 toks: en rate = min(256, 256*100*75/(100*100)) = 192,
    // de rate = min(256, 256*100*25/(100*100)) = 64
    val d = (0L until 20L).map { i =>
      val lang = if (i < 10) "en" else "de"
      (i, Seq.fill(10)("w").mkString(" "), lang, "s0", 19L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.mixRebalance(d, Map("en" -> 75, "de" -> 25),
      budgetPct = 50).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out("en")._1 === 100L && out("en")._2 === 75L && out("en")._3 === 192L)
    assert(out("de")._1 === 100L && out("de")._2 === 25L && out("de")._3 === 64L)
    // sampling is the salted-bucket filter: n_sampled <= 10 docs and
    // toks_sampled = 10 * n_sampled on this uniform corpus
    out.values.foreach { case (_, _, _, n, toks) =>
      assert(n <= 10L && toks === n * 10L) }
    // a lang missing from the target map drops to rate 0
    val zero = TextOps.mixRebalance(d, Map("en" -> 100), budgetPct = 50)
      .filter(col("lang") === "de").collect()(0)
    assert(zero.getLong(3) === 0L && zero.getLong(4) === 0L)
    // full budget + single 100% target saturates that lang's rate
    val sat = TextOps.mixRebalance(d, Map("en" -> 100), budgetPct = 100)
      .filter(col("lang") === "en").collect()(0)
    assert(sat.getLong(3) === 256L && sat.getLong(4) === 10L)
  }

  test("source cap keeps at most cap docs per source with pre-cap sizes") {
    val d = (0L until 10L).map { i =>
      (i, "w x y z", if (i < 5) "en" else "de",
        if (i < 5) "sA" else "sB", 7L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.sourceCap(d, cap = 3).collect()
    assert(out.length === 6) // 3 kept from each of the 2 sources
    val bySrc = out.groupBy(_.getAs[String]("source"))
    bySrc.values.foreach { rows =>
      assert(rows.length === 3)
      assert(rows.map(_.getAs[Long]("rn")).sorted.toSeq === Seq(1L, 2L, 3L))
      assert(rows.forall(_.getAs[Long]("n_source") === 5L))
    }
    // determinism: the same call keeps the same doc ids
    val again = TextOps.sourceCap(d, cap = 3).collect()
      .map(_.getAs[Long]("doc_id")).sorted
    assert(again.toSeq === out.map(_.getAs[Long]("doc_id")).sorted.toSeq)
  }

  test("bigram lm score: integer conditional-probability milli units") {
    val d = Seq(
      (0L, "a b a b", "en", "s0", 7L),
      (1L, "a b c", "en", "s0", 5L),
      (2L, "solo", "en", "s0", 4L) // no bigrams -> absent from output
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // model over both docs: c(a,b)=3 c(b,a)=1 c(b,c)=1; c(a.)=3 c(b.)=2
    // doc0 pmillis: ab=1000, ba=500, ab=1000 -> n=3 avg=833 min=500
    // doc1 pmillis: ab=1000, bc=500        -> n=2 avg=750 min=500
    val out = TextOps.lmScore(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(0L) === ((3L, 833L, 500L)))
    assert(out(1L) === ((2L, 750L, 500L)))
    assert(!out.contains(2L))
  }

  test("substring spans: shared windows merge into maximal runs") {
    val d = Seq(
      // d0/d1 share exactly the 3-token window "a b c"
      (0L, "x a b c y", "en", "s0", 9L),
      (1L, "q a b c z", "en", "s0", 9L),
      // d2/d3 share a 5-token run covered by 3 overlapping windows
      (2L, "a a b b c c d d e e f1 f2", "en", "s0", 1L),
      (3L, "a a b b c c d d e e g1 g2", "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.substringSpans(d, n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) === ((5L, 1L, 3L))) // 5 tokens, 1 span, 3 dup tokens
    assert(out(1L) === ((5L, 1L, 3L)))
    // d2/d3: windows at pos 0..7 all shared -> one island, 10 tokens
    assert(out(2L) === ((12L, 1L, 10L)))
    assert(out(3L) === ((12L, 1L, 10L)))
    // far-apart shared spans stay separate islands
    val far = Seq(
      (10L, "a b c m1 m2 m3 m4 m5 x y z", "en", "s0", 1L),
      (11L, "a b c k1 k2 k3 k4 k5 x y z", "en", "s0", 1L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val f = TextOps.substringSpans(far, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(f(10L) === ((2L, 6L)) && f(11L) === ((2L, 6L)))
  }

  test("cdc chunks conserve mass and re-align after an insertion") {
    val s = (1 to 400).map(i => ('a' + (i * 7 + 3) % 26).toChar).mkString
    val d = Seq(
      (0L, s, "en", "s0", 400L),
      (1L, s, "en", "s0", 400L),          // exact dup: every chunk shared
      (2L, "zzzzz " + s, "en", "s0", 406L), // prefix insertion
      (3L, "tiny", "en", "s0", 4L)        // shorter than the window
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.cdcChunks(d, window = 16, maskBits = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // conservation: chunk chars partition the document exactly
    assert(out(0L)._2 === 400L && out(2L)._2 === 406L && out(3L)._2 === 4L)
    assert(out(3L)._1 === 1L) // sub-window doc = one whole chunk
    // identical docs share every chunk
    assert(out(0L)._3 === out(0L)._1 && out(0L)._4 === 400L)
    // the CDC property: after the first boundary past the insertion,
    // doc 2's chunks re-align with doc 0's — most of its mass is dup
    assert(out(2L)._4 > 300L,
      s"insertion must shift only the head chunk, got ${out(2L)}")
    // determinism
    val again = TextOps.cdcChunks(d, window = 16, maskBits = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(again === out)
  }

  test("dedup cascade: each tier shrinks the funnel, monotone per lang") {
    // docs fixture: en has 0,1 exact dups; 2 a bag-dup of 0; 3 a near
    // dup; 4 unrelated. exact drops 1; SNM (adjacent sort order)
    // catches 0-2 and 0-3 at t=7 → drops 2,3; jaccard has nothing new.
    val out = Dedup.dedupCascade(docs, window = 4, snmTenths = 7,
      jacTenths = 7).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(out("en") === ((5L, 4L, 2L, 2L)))
    assert(out("de") === ((1L, 1L, 1L, 1L)))
    // funnel is monotone non-increasing for every lang
    out.values.foreach { case (a, b, c, d) =>
      assert(a >= b && b >= c && c >= d) }
  }

  test("multi-pass SNM: the reversed-text pass catches suffix-sharing dups pass 1 misses") {
    import org.apache.spark.sql.DataFrame
    // 10 and 11 share their whole tail but OPEN differently ("alpha"
    // vs "zulu"): a full lexicographic sort strands them at opposite
    // ends behind the 8 mid-alphabet spacers, while reversed-text
    // order makes them adjacent. Spacers share no tokens (no false
    // pairs), each is one token so the threshold can't pick them up.
    val spacers = Seq("dd", "ee", "ff", "gg", "hh", "ii", "jj", "kk")
      .zipWithIndex.map { case (w, i) => (20L + i, w, "en", "s0", 2L) }
    val d = (Seq(
      (10L, "alpha common shared tail tokens here now", "en", "s0", 40L),
      (11L, "zulu common shared tail tokens here now", "en", "s0", 39L)
    ) ++ spacers).toDF("doc_id", "text", "lang", "source", "n_chars")
    def pairSet(df: DataFrame) =
      df.select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // jaccard(10,11) = 6/8 = 0.75: above 0.7, found only when adjacent
    val single = pairSet(Dedup.snmPairs(d, window = 1, thresholdTenths = 7))
    assert(!single.contains((10L, 11L)),
      "a window-1 single pass must strand the suffix-sharing pair")
    val multi = pairSet(Dedup.snmPairsMultiPass(d, window = 1, thresholdTenths = 7))
    assert(multi.contains((10L, 11L)),
      "the reversed-text pass must make the pair adjacent")
    // multipass is a superset of pass 1 and emits each pair once
    assert(single.subsetOf(multi))
    val rows = Dedup.snmPairsMultiPass(d, window = 1, thresholdTenths = 7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length === rows.toSet.size, "no duplicate pairs across passes")
  }

  test("BM25 ranks higher-tf docs first, prunes top-k map-side") {
    val corpus = Seq(
      (1L, "apple apple apple banana", "en", "s0", 24L),
      (2L, "apple banana cherry date", "en", "s0", 24L),
      (3L, "banana cherry date egg", "en", "s0", 22L),
      (4L, "fig grape kiwi lemon", "en", "s0", 20L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.bm25TopK(corpus, Seq("q" -> Seq("apple")), k = 10)
      .orderBy("rnk").collect()
    // only the two apple docs score; tf=3 beats tf=1 at equal length
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L))
    assert(out.map(_.getLong(3)).toSeq === Seq(1L, 2L))
    assert(out(0).getLong(2) > out(1).getLong(2) && out(1).getLong(2) > 0L)
    // k cutoff applies per query
    assert(TextOps.bm25TopK(corpus, Seq("q" -> Seq("apple")), k = 1).count() === 1)
    // multi-term query unions matches; rarer terms contribute higher idf
    val two = TextOps.bm25TopK(corpus,
      Seq("q2" -> Seq("banana", "egg")), k = 10).orderBy("rnk").collect()
    assert(two.map(_.getLong(1)).toSet === Set(1L, 2L, 3L))
    assert(two.head.getLong(1) === 3L, "the only egg doc must rank first")
    // the per-query top-k must prune map-side (WindowGroupLimit), not
    // sort the whole scored relation
    val p = TextOps.bm25TopK(corpus, Seq("q" -> Seq("apple")), k = 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"bm25 top-k must prune map-side, plan:\n$p")
  }

  test("minhash LSH candidates include true near-dups, estimates bounded") {
    val pairs = Dedup.minhashLshPairs(docs, bands = 8)
    val m = pairs.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(m.contains((0L, 1L)) && m((0L, 1L)) === 1.0) // identical docs: all minhashes equal
    assert(m.keySet.contains((0L, 3L)))                 // near-dup surfaces as candidate
    assert(m.values.forall(j => j >= 0.0 && j <= 1.0))
    // non-divisible banding would silently drop signature rows
    assertThrows[IllegalArgumentException] {
      Dedup.minhashLshPairs(docs, bands = 5)
    }
  }

  test("lsh recall audit: exact-dup band is 1000 milli, counts tie to truth") {
    // corpus with an exact-dup pair (band 10), a CROSS-LANG exact dup
    // (the sketch bands corpus-wide, so the audit truth must count it
    // — the lang-blocked Jaccard tier would not), plus the fixture's
    // near-dups: truth bands and hit counts must tie out against the
    // source relations computed independently
    val dupy = docs
      .unionByName(docs.limit(2)
        .withColumn("doc_id", col("doc_id") + lit(100L)))
      .unionByName(docs.limit(1)
        .withColumn("doc_id", col("doc_id") + lit(200L))
        .withColumn("lang", lit("fr")))
    val audit = Dedup.lshRecallAudit(dupy, sampleMod = 1).collect()
    val byBand = audit.map(r => r.getInt(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // identical token bags share the full signature: recall is
    // deterministic 1000 in band 10, never probabilistic
    assert(byBand.contains(10) && byBand(10)._3 === 1000L,
      s"exact-dup band must have full recall, got $byBand")
    // hits never exceed truth; recall is the integer floor ratio
    byBand.values.foreach { case (t, h, r) =>
      assert(h <= t && r === h * 1000 / t)
    }
    // per-band truth counts equal an independent CORPUS-WIDE (lang-
    // neutralized) jaccardPairs bucketing — and the cross-lang dup is
    // in it: band 10 holds all C(6,2) pairs of the identical-bag class
    // {0, 1, 2, 100, 101, 200}, not just the intra-lang ones
    val truthBands = Dedup.jaccardPairs(
        dupy.withColumn("lang", lit("_")), thresholdTenths = 8)
      .selectExpr("CAST(inter * 10 DIV uni AS INT) AS band")
      .groupBy("band").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBand.view.mapValues(_._1).toMap === truthBands)
    assert(byBand(10)._1 === 15L,
      s"band 10 must hold all 15 identical-bag pairs, got ${byBand(10)}")
    // shingle tier: exact text dups share every shingle → band 10 at
    // full recall, same deterministic argument
    val sh = Dedup.shingleRecallAudit(dupy, sampleMod = 1).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(sh.contains(10) && sh(10)._2 === 1000L,
      s"shingle exact-dup band must have full recall, got $sh")
    // precision twin: hits bounded by candidates, floor-ratio exact,
    // est-band 10 (identical signatures ⊇ identical bags) all-true
    val prec = Dedup.lshPrecisionAudit(dupy, sampleMod = 1).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    prec.values.foreach { case (c, h, pm) =>
      assert(h <= c && pm === h * 1000 / c)
    }
    assert(prec(10)._3 === 1000L,
      s"identical-bag candidates are true dups, got $prec")
    // the two audits see the SAME truth∩candidates intersection:
    // Σ true_hits (precision, over est bands) = Σ lsh_hits (recall,
    // over true bands)
    assert(prec.values.map(_._2).sum === byBand.values.map(_._2).sum)
  }

  test("lsh quotient decision follows the calibrated candidate-mass rule") {
    import graft.operators.RelationStats
    RelationStats.reset()
    // no exact dups → zero collapse → never engage, at any mass
    assert(!Dedup.quotientEngages(1000, 1000, Long.MaxValue / 4))
    // the two CALIBRATION corpora (MINHASH_CANDMASS_r07.json) must
    // classify with margin: sf0.1 word tier stays raw, ×3 replica
    // engages — both at the SAME 1.27 collapse, so the rule is
    // provably keyed on candidate mass, not mean class size
    assert(!Dedup.quotientEngages(5000, 3935, 23830706L))
    assert(Dedup.quotientEngages(15000, 11805, 189186932L))
    // toy corpora never clear a threshold of thousands of saved
    // bucket-join rows per doc → the auto path bands raw (no quotient
    // machinery in the plan), even when every doc has an exact copy
    val dupy = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + lit(100L)))
    val auto = Dedup.minhashLshPairs(dupy)
    assert(!auto.queryExecution.analyzed.toString.contains("class_fp"),
      "toy corpus must band raw under the per-doc mass threshold")
    // the switch is purely physical: the forced quotient emits
    // row-identically to raw banding on the same corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(Dedup.minhashLshPairsForceQuotient(dupy)) ===
      rows(Dedup.minhashLshPairsRaw(dupy)))
  }

  test("connected components equal a union-find oracle on a seeded graph") {
    import spark.implicits._
    import graft.operators.Dedup
    // seeded random graph: chains, a cycle, isolated pairs
    val rnd = new scala.util.Random(7)
    val base = (Seq((1L, 2L), (2L, 3L), (3L, 4L),      // chain (diam 3)
      (10L, 11L), (11L, 12L), (12L, 10L),               // cycle
      (20L, 21L)) ++                                    // isolated pair
      Seq.fill(40)((rnd.nextInt(30).toLong + 100L, rnd.nextInt(30).toLong + 100L)))
      .filter(e => e._1 != e._2)
    // a 300-node path over shuffled ids (diameter 299: without the
    // hooking step the rounds do not converge within 20), self-loops (on
    // a lone node and inside the chain) and duplicate edges in both
    // orientations
    val ids = rnd.shuffle((1000L until 1300L).toVector)
    val path = ids.zip(ids.tail)
    val edges = base ++ path ++
      Seq((500L, 500L), (2L, 2L), (1L, 2L), (2L, 1L), (1L, 2L))
    // union-find oracle
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => (k, find(k))).toSet
    val df = edges.toDF("d1", "d2")
    def rows(c: org.apache.spark.sql.DataFrame) =
      c.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a graph this small seeds in one partition: exact, no rounds
    val (auto, autoRounds) = Dedup.seededComponents(df, 20, seedParts = 0)
    assert(rows(auto) === expected)
    assert(autoRounds === 0)
    // a forced 4-way seed splits components across partitions, so the
    // propagation rounds start from an inexact seed
    val (split, splitRounds) = Dedup.seededComponents(df, 20, seedParts = 4)
    assert(rows(split) === expected)
    assert(splitRounds > 0)
    // one oversized partition: past a 16-node budget the union-find
    // streams edge-local labels, so the seed is inexact without any
    // split across partitions
    val (over, overRounds) =
      Dedup.seededComponents(df, 20, seedParts = 1, seedNodes = 16)
    assert(rows(over) === expected)
    assert(overRounds > 0)
    // int ids stay int on every path; a 0-node budget streams every edge
    val intDf = df.select(col("d1").cast("int").as("d1"), col("d2").cast("int").as("d2"))
    for ((parts, budget) <- Seq((0, Dedup.SeedNodes), (4, Dedup.SeedNodes), (1, 0))) {
      val c = Dedup.seededComponents(intDf, 20, parts, budget)._1
      assert(c.schema.map(_.dataType).toSet ===
        Set(org.apache.spark.sql.types.IntegerType))
      assert(c.collect().map(r => (r.getInt(0).toLong, r.getInt(1).toLong)).toSet
        === expected)
    }
    // a CLEAN corpus produces zero pairs — every path must converge on
    // the empty graph (null label sum), not NPE
    val none = df.filter(col("d1") < lit(-1L))
    for ((parts, budget) <- Seq((0, Dedup.SeedNodes), (4, Dedup.SeedNodes), (1, 0)))
      assert(Dedup.seededComponents(none, 20, parts, budget)._1.count() === 0L)
  }

  test("connected components over a small edge relation submit at most 3 jobs") {
    import graft.operators.Dedup
    // the exact seed is one checkpoint job plus the stages AQE submits
    // ahead of it; a per-round job loop would need more
    val df = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("d1", "d2")
    val jobs = jobsDuring { Dedup.connectedComponents(df) }
    assert(jobs.size <= 3,
      s"components submitted ${jobs.size} jobs:\n" + jobs.mkString("\n---\n"))
  }

  test("quotient-graph components equal full-graph components") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en"),  // exact dup of 0
      (2L, "kappa iota theta eta zeta epsilon delta gamma beta alpha", "en"),  // bag dup of 0
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en"), // near dup (J=9/11<0.9? 9 shared/11 union)
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "de"),  // same bag, OTHER lang: must NOT merge
      (5L, "totally different words entirely here now foo bar baz qux", "en"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda", "en")) // J=10/11≥0.9 vs 0
      .map { case (id, t, l) => (id, t, l, "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val full = Dedup.connectedComponents(
        Dedup.jaccardPairs(docs, thresholdTenths = 9))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quotient = Dedup.jaccardComponents(docs, thresholdTenths = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(quotient === full)
    // the semantics the equality could mask if both were wrong:
    // {0,1,2,6} cluster via exact/bag/near links; 3 joins TRANSITIVELY
    // (J(0,3)=9/11 < 0.9 but J(6,3)=10/11 ≥ 0.9 — that transitive pull
    // is exactly why clustering, not pairing, is the unit of removal);
    // 4 is lang-isolated; 5 pairs with nothing
    assert(quotient === Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (6L, 0L)))
  }

  test("incremental components equal the full recompute, bridges included") {
    import spark.implicits._
    import graft.operators.Dedup
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // corpus: FOUR separate near-dup components (superset pairs at
    // J = 10/11 or 21/22 ≥ 0.9), plus unassigned singletons 20, 21;
    // comps {70,71} and {80,81} share 19 of ~21 tokens
    // (J = 19/23 = 0.826 — close but legitimately SEPARATE)
    val t19 = (1 to 19).map(i => s"t$i").mkString(" ")
    val corpus = mk(Seq(
      (0L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11"), // J=10/11 with 0
      (10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
      (11L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11"),
      (20L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (21L, "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"),
      (70L, s"$t19 u1 u2"), (71L, s"$t19 u1 u2 u3"),
      (80L, s"$t19 v1 v2"), (81L, s"$t19 v1 v2 v3")))
    val batch = mk(Seq(
      (30L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a12"), // joins {0,1}
      (40L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"), // pulls singleton 20
      (50L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),     // batch-internal pair
      (51L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11"),
      // the BRIDGE: J(90,70) = J(90,80) = 21/23 = 0.913 — one batch
      // doc near both old components MERGES them (the arm the
      // contracted fixpoint exists for)
      (90L, s"$t19 u1 u2 v1 v2"),
      (60L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 f10")))    // true singleton: drops
    val assign = Dedup.jaccardComponents(corpus, thresholdTenths = 9)
    // precondition the fixture banks on: the corpus really holds four
    // separate components before the batch arrives
    assert(assign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((0L, 0L), (1L, 0L), (10L, 10L), (11L, 10L),
        (70L, 70L), (71L, 70L), (80L, 80L), (81L, 80L)))
    val inc = Dedup.jaccardComponentsIncremental(assign, corpus, batch,
        thresholdTenths = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.jaccardComponents(corpus.unionByName(batch),
        thresholdTenths = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc === full, s"law violated: inc=$inc full=$full")
    // and the arms individually: untouched comp {10,11} keeps its
    // label; 30 joins comp 0; the unassigned singleton 20 enters via
    // 40 under label 20; the batch-only pair {50,51} forms; the
    // bridge doc 90 MERGES comps 70 and 80 under the global min 70;
    // 60 and 21 stay dropped singletons
    assert(inc === Set((0L, 0L), (1L, 0L), (30L, 0L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (40L, 20L),
      (50L, 50L), (51L, 50L),
      (70L, 70L), (71L, 70L), (80L, 70L), (81L, 70L), (90L, 70L)))
  }

  test("persisted assignment and banded tier serve the identical fold") {
    import spark.implicits._
    import graft.operators.Dedup
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val t19 = (1 to 19).map(i => s"t$i").mkString(" ")
    val corpus = mk(Seq(
      (0L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11"),
      (10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
      (11L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11"),
      (20L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"),
      (70L, s"$t19 u1 u2"), (71L, s"$t19 u1 u2 u3"),
      (80L, s"$t19 v1 v2"), (81L, s"$t19 v1 v2 v3")))
    val batch = mk(Seq(
      (30L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a12"), // joins {0,1}
      (40L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"), // pulls singleton 20
      (50L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),     // batch-internal pair
      (51L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11"),
      (90L, s"$t19 u1 u2 v1 v2")))                 // bridges 70 and 80
    val assign = Dedup.jaccardComponents(corpus, thresholdTenths = 9)
    val base = java.nio.file.Files
      .createTempDirectory("graft_assign_spec_").toString
    // the r16 verdict #1 law, extended one hop: persisted-fold ==
    // memoized-fold == full recompute — the standing assignment is a
    // lake artifact any session re-reads, not a session cache
    Dedup.saveComponentsAssign(assign, s"$base/assign")
    val loaded = Dedup.loadComponentsAssign(spark, s"$base/assign")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = setOf(Dedup.jaccardComponents(corpus.unionByName(batch),
      thresholdTenths = 9))
    val foldMem = setOf(Dedup.jaccardComponentsIncremental(assign,
      corpus, batch, thresholdTenths = 9))
    val foldPersisted = setOf(Dedup.jaccardComponentsIncremental(loaded,
      corpus, batch, thresholdTenths = 9))
    assert(foldMem === full)
    assert(foldPersisted === full,
      "the persisted artifact must serve the identical fold")
    // the r16 verdict #4 arm: PAST the broadcast cap the banded tier
    // carries the fold — candidates from the persisted bands=8 index
    // (the declared configuration), exact verify, same contracted
    // fixpoint
    intercept[IllegalArgumentException] {
      Dedup.jaccardPairsAgainstCorpus(batch, corpus, thresholdTenths = 9,
        maxBroadcastRows = 1L)
    }
    Dedup.saveLshBandIndex(corpus, s"$base/lsh",
      bands = 8)
    val foldBanded = setOf(Dedup.jaccardComponentsIncrementalBanded(
      spark, loaded, corpus, batch, s"$base/lsh", thresholdTenths = 9))
    assert(foldBanded === full,
      "banded-candidate + exact-verify fold must equal the broadcast fold")
    // and the QUOTIENTED index (one row set per bag class — the
    // declared configuration) serves the identical fold: bag-equal
    // corpus members already share their rep's component, so the
    // contracted edge set is unchanged
    val corpusQ = corpus.unionByName(mk(Seq(
      (72L, s"$t19 u1 u2 u3"),   // bag-dup of 71: quotients away
      (82L, s"$t19 v1 v2 v3")))) // bag-dup of 81
    val assignQ = Dedup.jaccardComponents(corpusQ, thresholdTenths = 9)
    val fullQ = setOf(Dedup.jaccardComponents(
      corpusQ.unionByName(batch), thresholdTenths = 9))
    Dedup.saveLshBandIndex(Dedup.bagClassReps(corpusQ), s"$base/lshq", bands = 8)
    val foldQ = setOf(Dedup.jaccardComponentsIncrementalBanded(
      spark, assignQ, corpusQ, batch, s"$base/lshq", thresholdTenths = 9))
    assert(foldQ === fullQ,
      "the bag-class-quotiented index must serve the identical fold")
  }

  test("hot-band cap bounds banded candidate mass with skip accounting") {
    import spark.implicits._
    import graft.operators.Dedup
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // ADVERSARIAL hot-band fixture (the r17 verdict #1 blowup
    // mechanism): every doc shares a 36-token core with a 2-token
    // unique tail — pairwise J = 36/40 = 0.9, and each band's minhash
    // slice almost always takes its mins from the CORE, so one band
    // fingerprint is shared by nearly the whole corpus (the degenerate
    // hot key that emits |corpus| candidates per probing band row)
    val core = (1 to 36).map(i => s"c$i").mkString(" ")
    val corpus = mk((0 until 40).map(i =>
      (100L + i, s"$core x${i}a x${i}b")))
    val batch = mk((0 until 6).map(i =>
      (200L + i, s"$core y${i}a y${i}b")))
    val base = java.nio.file.Files
      .createTempDirectory("graft_hotband_").toString
    Dedup.saveLshBandIndex(corpus, s"$base/lsh", bands = 8)
    // premise: the fixture genuinely produces hot bands at cap=5
    val audit = Dedup.bandedHotBands(spark, batch, s"$base/lsh",
      maxBandPostings = 5L).collect()
    assert(audit.nonEmpty, "fixture must produce hot bands at cap=5")
    val worstPlen = audit.map(_.getAs[Long]("plen")).max
    assert(worstPlen > 20L,
      s"the hot band should hold most of the corpus, got $worstPlen")
    audit.foreach { r =>
      assert(r.getAs[Long]("skipped_candidates") ===
        r.getAs[Long]("plen") * r.getAs[Long]("probing_docs"))
    }
    def pairsAt(cap: Long) = Dedup.jaccardPairsAgainstCorpusBanded(
        spark, batch, corpus, s"$base/lsh", thresholdTenths = 9,
        maxBandPostings = cap)
      .select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = pairsAt(Long.MaxValue)
    val capped = pairsAt(5L)
    // uncapped, the self-similar corpus pairs every batch doc with
    // most of the lake (J=0.9 >= threshold); the cap may only REMOVE
    // pairs (skip is one-sided), and the declared default must not
    // fire at fixture scale
    assert(uncapped.size >= 100,
      s"fixture must be self-similar enough to blow up: ${uncapped.size}")
    assert(capped.subsetOf(uncapped))
    assert(pairsAt(100000L) === uncapped,
      "the declared default cap must not fire on a 40-doc corpus")
    // a NORMAL corpus never trips the default cap: the audit is empty
    val normal = mk(Seq((0L, "a1 a2 a3 a4 a5"), (1L, "b1 b2 b3 b4 b5"),
      (2L, "c1 c2 c3 c4 c5")))
    Dedup.saveLshBandIndex(normal, s"$base/lsh_n",
      bands = 8)
    assert(Dedup.bandedHotBands(spark, batch, s"$base/lsh_n",
      maxBandPostings = 100000L).isEmpty)
    // the prune reads posting lengths from the persisted band_stats
    // relation (r18 — a serve must never re-aggregate the postings);
    // the postings-derived fallback (pre-r18 index, stats dir absent)
    // must audit and serve identically
    assert(new java.io.File(s"$base/lsh/band_stats").isDirectory,
      "saveLshBandIndex must write the band_stats relation")
    def auditSet() = Dedup.bandedHotBands(spark, batch, s"$base/lsh",
        maxBandPostings = 5L).collect()
      .map(r => (r.getAs[String]("band_fp"), r.getAs[Long]("plen"),
        r.getAs[Long]("skipped_candidates"))).toSet
    val fromStats = auditSet()
    val cappedFromStats = pairsAt(5L)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$base/lsh/band_stats"))
    assert(auditSet() === fromStats,
      "stats-served and postings-derived audits must agree")
    assert(pairsAt(5L) === cappedFromStats,
      "stats-served and postings-derived prunes must serve identically")
    // an APPEND keeps stats sum-mergeable: appending half the corpus
    // again doubles every audited posting length
    Dedup.saveLshBandIndex(corpus, s"$base/lsh_a",
      bands = 8)
    Dedup.appendToLshBandIndex(corpus, s"$base/lsh_a",
      bands = 8)
    val doubled = Dedup.bandedHotBands(spark, batch, s"$base/lsh_a",
        maxBandPostings = 5L).collect()
      .map(r => r.getAs[String]("band_fp") -> r.getAs[Long]("plen")).toMap
    fromStats.foreach { case (fp, plen, _) =>
      assert(doubled(fp) === 2 * plen,
        "appended stats fragments must sum-merge per band")
    }
  }

  test("simhash of identical and near-dup docs is close in hamming distance") {
    val fps = Dedup.simhashFingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(0L), fps(3L)) < ham(fps(0L), fps(4L)))
    val pairs = Dedup.simhashPairs(docs, maxDistance = 0)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
  }

  test("simhash band blocking: exact recall, selective, one sketch pass") {
    // synthetic corpus with genuine near-dup structure: 30 base docs,
    // 200 copies with ~5% token mutations (seeded)
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa")
    val bases = Vector.fill(30)(Vector.fill(40)(vocab(rng.nextInt(vocab.size))))
    val corpus = (0 until 200).map { i =>
      val t = bases(rng.nextInt(bases.size)).map(w =>
        if (rng.nextInt(20) == 0) vocab(rng.nextInt(vocab.size)) else w)
      (i.toLong, t.mkString(" "), if (i % 5 == 0) "de" else "en", "s", 0L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val k = 4

    // pigeonhole recall is EXACT: band-blocked result == naive all-pairs
    val banded = Dedup.simhashPairs(corpus, k)
    val got = banded.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val fp = Dedup.simhashFingerprints(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= k
    } yield (a, b, h)).toSet
    assert(naive.nonEmpty, "vacuous corpus: no true near-dup pairs")
    assert(got === naive)

    // blocking selectivity: band candidates well under the intra-lang
    // pair count the replaced lang-blocked join always paid
    val candidates = Dedup.simhashCandidates(corpus, k)
      .select("d1", "d2").distinct().count()
    val intraLang = corpus.groupBy("lang").count().collect()
      .map(r => r.getLong(1) * (r.getLong(1) - 1) / 2).sum
    assert(candidates < intraLang / 2,
      s"band blocking not selective: $candidates candidates vs $intraLang intra-lang pairs")

    // single fingerprint computation: the banded self-join shares one
    // exchange, so the md5-heavy sketch runs once, not once per side
    val plan = banded.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected a reused exchange in:\n$plan")
  }

  test("language ID picks the max-evidence label deterministically") {
    val out = TextOps.langId(docs).select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) === "en") // two "the" hits beat the empty scores
    assert(out(5L) === "en") // all-zero scores tie-break to en (>= chain)
  }

  test("punctuation stats count the punct charset exactly") {
    val d = Seq((9L, "wait... what?! ok; fine: good, end.", "en", "s", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val s = TextOps.stats(d).collect().head
    // '...' =3, '?' '!' =2, ';' =1, ':' =1, ',' =1, '.' =1 → 9
    assert(s.getAs[Long]("punct_hits") === 9L)
    assert(s.getAs[Double]("punct_ratio") === 9.0 / 35)
  }

  test("token stats are exact on a known sentence") {
    val s = TextOps.stats(docs.filter(col("doc_id") === 0)).collect().head
    assert(s.getAs[Long]("tokens") === 9L)
    assert(s.getAs[Long]("distinct_tokens") === 8L) // "the" twice
    assert(s.getAs[Long]("stopword_hits") === 2L)
    assert(s.getAs[Long]("chars") === 43L)
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),  // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),  // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1), // opposite of 0
    (4L, Array(0.8f, 0.2f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("passage bm25 surfaces the tail chunk a doc-level rank would bury") {
    import spark.implicits._
    // doc 1 buries the query terms at token 61-63 of 63; 32/24
    // chunking puts them alone in chunk 2 (tokens 49-63, dl=15), so
    // the passage rank must point AT the span — doc_id + chunk
    // unpack from the packed pid — and the short relevant passage
    // must outrank doc 2's terms diluted across a long single chunk
    val filler = (1 to 60).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler spark stream window"),
      (2L, "spark " + (1 to 25).map(i => s"g$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.bm25Passages(docs,
        Seq(("q", Seq("spark", "stream", "window"))), k = 5)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.head === ((1L, 2L)),
      s"top passage must be doc 1's tail chunk, got ${out.toSeq}")
    // doc 2's single chunk ranks somewhere, but below the 3-term hit
    assert(out.contains((2L, 0L)))
  }

  test("persisted lexical index serves the scan arm bit-identically") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "alpha noise noise2 beta"),
      (3L, "zzz yyy xxx www"),
      (4L, "beta beta beta gamma"),
      (5L, "alpha gamma delta other"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft_lex_spec_").toString
    TextOps.saveLexicalIndex(docs, base)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val scan = rows(TextOps.lexicalDocAsQueryTopK(docs, numQueries = 2,
      k = 4))
    val served = rows(TextOps.bm25DocAsQueryFromIndex(spark, base,
      numQueries = 2, k = 4))
    assert(served === scan,
      "index serve must reproduce the scan arm exactly (same quantized " +
        "scores, same ranks)")
    // and raw text really is absent from the serving relations
    val cols = spark.read.parquet(s"$base/postings").columns.toSet ++
      spark.read.parquet(s"$base/doclen").columns.toSet ++
      spark.read.parquet(s"$base/stats").columns.toSet
    assert(!cols.contains("text"), s"index leaked raw text: $cols")
  }

  test("two-day nightly cycle: fold, save back, append bands, fold again") {
    import spark.implicits._
    import graft.operators.Dedup
    // the saveComponentsAssign scaladoc's cycle — load → fold the
    // day's batch → save back — proven ACROSS two days, broadcast and
    // banded tiers both: day-2 state from chained folds must equal
    // the full recompute over corpus ∪ day1 ∪ day2
    def mk(rows: Seq[(Long, String)]) = rows
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = mk(Seq(
      (0L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11"),
      (10L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
      (11L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11")))
    val day1 = mk(Seq(
      (30L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a12"),  // joins {0,1}
      (40L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10")))     // new singleton
    val day2 = mk(Seq(
      (50L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),  // pairs with 40
      // bridges the a-cluster and the b-cluster via day-1 doc 30's
      // tokens: proves day-2 folds see day-1 DOCS, not just labels
      (60L, "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b12")))
    val base = java.nio.file.Files
      .createTempDirectory("graft_nightly_").toString
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // day 0: cluster the lake, persist assignment + band index
    Dedup.saveComponentsAssign(
      Dedup.jaccardComponents(corpus, 9), s"$base/assign")
    Dedup.saveLshBandIndex(Dedup.bagClassReps(corpus), s"$base/lsh", bands = 8)
    // day 1: fold via the BANDED tier, save the assignment back,
    // append the day's docs to the band index (plain append — reps
    // are an optimization; members only add duplicate candidates)
    val fold1 = Dedup.jaccardComponentsIncrementalBanded(spark,
      Dedup.loadComponentsAssign(spark, s"$base/assign"),
      corpus, day1, s"$base/lsh", thresholdTenths = 9)
    Dedup.saveComponentsAssign(fold1, s"$base/assign")
    Dedup.appendToLshBandIndex(day1, s"$base/lsh",
      bands = 8)
    val lake1 = corpus.unionByName(day1)
    assert(setOf(Dedup.loadComponentsAssign(spark, s"$base/assign"))
      === setOf(Dedup.jaccardComponents(lake1, 9)),
      "day-1 persisted state must equal the day-1 recompute")
    // day 2: the chained fold against the updated artifacts
    val fold2 = Dedup.jaccardComponentsIncrementalBanded(spark,
      Dedup.loadComponentsAssign(spark, s"$base/assign"),
      lake1, day2, s"$base/lsh", thresholdTenths = 9)
    assert(setOf(fold2) ===
      setOf(Dedup.jaccardComponents(lake1.unionByName(day2), 9)),
      "day-2 chained fold must equal the two-day full recompute")
    // and the broadcast tier chains identically from the same artifact
    val fold2b = Dedup.jaccardComponentsIncremental(
      Dedup.loadComponentsAssign(spark, s"$base/assign"),
      lake1, day2, thresholdTenths = 9)
    assert(setOf(fold2b) === setOf(fold2))
  }

  test("versioned assignment: promote-by-rename, crash-safe, keep-N pruned") {
    import spark.implicits._
    import graft.operators.Dedup
    def assignOf(pairs: (Long, Long)*) =
      pairs.toSeq.toDF("doc_id", "component")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val root = java.nio.file.Files
      .createTempDirectory("graft_assignv_").toString + "/assign"
    // no promoted version yet: loading is a loud error, not an empty df
    intercept[IllegalArgumentException] {
      Dedup.loadComponentsAssignVersioned(spark, root)
    }
    val v1 = Dedup.saveComponentsAssignVersioned(
      assignOf((0L, 0L), (1L, 0L)), root, keep = 2)
    val v2 = Dedup.saveComponentsAssignVersioned(
      assignOf((0L, 0L), (1L, 0L), (2L, 0L)), root, keep = 2)
    assert(v1 === 1L && v2 === 2L)
    assert(setOf(Dedup.loadComponentsAssignVersioned(spark, root))
      === Set((0L, 0L), (1L, 0L), (2L, 0L)),
      "the loader must serve the highest promoted version")
    // MID-PROMOTE CRASH (the r17 verdict #6 scenario): a fold that
    // died while writing its stage leaves only a .stage_* directory —
    // no reader matches it, and the prior version stays servable
    val junk = new java.io.File(s"$root/.stage_v3/part-junk.parquet")
    junk.getParentFile.mkdirs()
    java.nio.file.Files.writeString(junk.toPath, "not parquet")
    assert(setOf(Dedup.loadComponentsAssignVersioned(spark, root))
      === Set((0L, 0L), (1L, 0L), (2L, 0L)),
      "a crashed stage must not affect the served version")
    // the retry's save reuses the version slot cleanly (stage scrubbed)
    val v3 = Dedup.saveComponentsAssignVersioned(
      assignOf((0L, 0L), (3L, 3L)), root, keep = 2)
    assert(v3 === 3L)
    // keep-N pruning: only the newest 2 versions remain on disk
    val names = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("assign_v")).sorted.toSeq
    assert(names === Seq("assign_v2", "assign_v3"),
      s"keep=2 must prune older versions, found $names")
    // rollback after a bad fold: delete the bad version, the loader
    // serves the prior one — the capability the flat overwrite lacked
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$root/assign_v3"))
    assert(setOf(Dedup.loadComponentsAssignVersioned(spark, root))
      === Set((0L, 0L), (1L, 0L), (2L, 0L)))
  }

  test("lexical index append + stats refresh equals a from-scratch rebuild") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma delta"),
      (2L, "alpha noise noise2 beta"),
      (3L, "zzz yyy xxx www"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (4L, "beta beta beta gamma"),
      (5L, "alpha gamma delta other"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft_lex_append_").toString
    TextOps.saveLexicalIndex(corpus, s"$base/inc")
    TextOps.appendToLexicalIndex(batch, s"$base/inc")
    TextOps.refreshLexicalStats(spark, s"$base/inc")
    TextOps.saveLexicalIndex(corpus.unionByName(batch), s"$base/full")
    def rows(path: String) =
      TextOps.bm25DocAsQueryFromIndex(spark, path, numQueries = 2, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    assert(rows(s"$base/inc") === rows(s"$base/full"),
      "append + refresh must serve bit-identically to a rebuild " +
        "(unions + order-free aggregations everywhere)")
    // without the refresh, serves still WORK (new docs retrievable)
    // but score with the stale avgdl — the documented staleness trade
    val stale = java.nio.file.Files
      .createTempDirectory("graft_lex_stale_").toString
    TextOps.saveLexicalIndex(corpus, stale)
    TextOps.appendToLexicalIndex(batch, stale)
    val served = TextOps.bm25DocAsQueryFromIndex(spark, stale,
      numQueries = 2, k = 10).collect().map(_.getLong(1)).toSet
    assert(served.contains(4L) || served.contains(5L),
      "appended docs must be retrievable before the stats refresh")
  }

  test("passage bm25 raises on a doc_id outside the packed-key domain") {
    import spark.implicits._
    // doc_id past Long.Max/1e5 would silently overflow the packed
    // (doc_id, chunk) key and collide passages across documents — the
    // r17 guard turns that into a loud row-local error
    val docs = Seq(
      (Long.MaxValue / 100000L + 5L, "spark stream window"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextOps.bm25Passages(docs, Seq(("q", Seq("spark"))), k = 5).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("packed key out of domain")),
      messages(e).mkString(" | "))
    // in-domain docs are untouched by the guard
    val ok = TextOps.bm25Passages(
      Seq((1L, "spark stream")).toDF("doc_id", "text"),
      Seq(("q", Seq("spark"))), k = 5).collect()
    assert(ok.nonEmpty)
  }

  test("hybrid rrf fuses arm ranks and keeps single-arm docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma"),   // the probe (doc-as-query)
      (1L, "alpha beta gamma"),   // identical text: lexical rank 1
      (2L, "alpha noise noise2"), // partial lexical overlap
      (3L, "zzz yyy xxx"),        // zero overlap: lexical arm absent
      (4L, "beta beta beta"))     // lexical only (dense rank 4 > kArm)
      .toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // dot 0: dense rank 3
      (2L, Array(0.5f, 0.0f, 0.0f, 0.0f)),  // dense rank 2
      (3L, Array(0.9f, 0.0f, 0.0f, 0.0f)),  // dense rank 1
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))) // below the kArm=3 cut
      .toDF("vec_id", "embedding")
    val out = TextOps.hybridRrfTopK(docs, emb, numQueries = 1,
        kArm = 3, k = 4)
      .orderBy("rnk").collect()
      .map(r => (r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    // doc 1 is in BOTH arms (lex 1, dense 3) and must outrank doc 3's
    // single dense rank-1: floor(1e6/61) + floor(1e6/63) = 32266 >
    // 16393 — the reward-agreement property RRF exists for
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(out(0) === ((1L, 16393L + 15873L, Some(1L), Some(3L))))
    // single-arm docs survive with a NULL audit column for the other
    assert(out(2) === ((3L, 16393L, None, Some(1L))))
    assert(out(3)._4 === None) // doc 4: lexical only
  }

  test("hybrid recall audit scores each tier against cosine truth") {
    import spark.implicits._
    // equal-norm corpus vectors make dot ranking == cosine ranking,
    // so the dense arm must score recall 1000; probe-disjoint vocab
    // zeroes the lexical arm; fusion with an empty lexical arm IS the
    // dense set — the audit's three rows are fully determined
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.8f, 0.6f, 0.0f, 0.0f)),
      (2L, Array(0.6f, 0.8f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val docs = Seq(
      (0L, "alpha beta"), (1L, "x y"), (2L, "z w"), (3L, "u v"))
      .toDF("doc_id", "text")
    val out = TextOps.hybridRecallAudit(docs, emb, numQueries = 1,
        kArm = 3, k = 2)
      .collect().map(r => r.getString(1) -> r.getLong(3)).toMap
    assert(out === Map("dense" -> 1000L, "hybrid" -> 1000L,
      "lexical" -> 0L))
  }

  test("brute-force knn ranks by true dot product with id tie-break") {
    val out = Similarity.knnBruteForce(vecs, numQueries = 1, k = 4)
      .orderBy("rn").select("vec_id").collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L, 4L, 2L, 3L)) // 0.9 > 0.8 > 0.0 > -1.0
  }

  test("quantized cosine tracks exact cosine") {
    val row = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") === 0 && col("b.vec_id") === 1)
      .select(
        VectorFunctions.cosine(col("a.embedding"), col("b.embedding")).as("exact"),
        VectorFunctions.cosineQuantized(col("a.embedding"), col("b.embedding"), 1000).as("quant"))
      .collect().head
    assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 0.01)
  }

  // Lloyd cells split this fixture cleanly: seeds are vec 0 (+x
  // archetype) and vec 1 (−x archetype), so one training round lands
  // 2, 3 with the query and 4 with the antipode.
  private lazy val ivfFixture = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
    (1L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
    (3L, Array(0.8f, 0.0f, 0.2f, 0.0f), 0),
    (4L, Array(-0.9f, -0.1f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("ivf ann probes the best cluster and reranks by exact cosine") {
    val out = Similarity.annIvf(spark, ivfFixture, numQueries = 1, k = 2,
        cells = 2, cellRounds = 1)
      .orderBy("rn").collect()
    // probed its own cell (cell id 0 = seed vec 0), never the antipode's
    assert(out.map(_.getAs[Long]("cell")).forall(_ == 0L))
    assert(out.map(_.getAs[Long]("vec_id")).toSeq === Seq(2L, 3L))
  }

  test("ann recall audit: perfect recall on clustered data, more probes never hurt") {
    val out = Similarity.annRecallAudit(spark, ivfFixture, numQueries = 1,
      k = 2, cells = 2, cellRounds = 1)
      .collect().map(r => r.getAs[Long]("probes") ->
        ((r.getAs[Long]("hits"), r.getAs[Long]("recall_milli")))).toMap
    // query 0's exact top-2 (vecs 2, 3) live in its own cell:
    // probe-1 already finds both → recall 1000; probe-2 can't regress
    assert(out(1L) === ((2L, 1000L)))
    assert(out(2L) === ((2L, 1000L)))
    assert(out(2L)._1 >= out(1L)._1)
  }

  test("label centroids match a Scala-side quantized oracle") {
    val cents = Similarity.labelCentroids(spark, vecs, dim = 4)
      .collect().map(r => r.getAs[Int]("label") ->
        ((r.getAs[Seq[Long]]("sum_q"), r.getAs[Long]("n")))).toMap
    // label 0: vecs 0,1,2 → dim0 sums floor(1000)+floor(899.99…)+floor(0)
    // (0.9f widens to 0.8999999762 — fixed-point floors the FLOAT value,
    // exactly as the DuckDB oracle does)
    assert(cents(0)._2 === 3L)
    assert(cents(0)._1.head === 1000L + 899L + 0L)
    assert(cents(1)._1.head === -1000L + 800L)
  }

  test("kmeans round reassigns a mislabeled vector to its nearer centroid") {
    import spark.implicits._
    // seed centroids (scale 10, truncated): label 0 → (1,0) from
    // {(0,0),(2,0)}; label 1 → (5,5) from {(10,10),(1,0)}. The (0.1,0)
    // vector sits 0 from centroid 0 and 41 from centroid 1, so the
    // round moves it: cluster 0 ends with sums (3,0) over n=3,
    // cluster 1 keeps only (10,10).
    val emb = Seq(
      (1L, Seq(0.0f, 0.0f), 0), (2L, Seq(0.2f, 0.0f), 0),
      (3L, Seq(1.0f, 1.0f), 1), (4L, Seq(0.1f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = graft.operators.Similarity.kmeansRound(spark, emb,
      dim = 2, scale = 10)
      .orderBy("cluster", "d").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (0, 1L, 3L, 3L), (0, 2L, 0L, 3L),
      (1, 1L, 10L, 1L), (1, 2L, 10L, 1L)))
    // chaining: the toy clustering is already Lloyd-stable after one
    // round, so a second round through the (sum, n) state is a fixpoint
    val r1 = graft.operators.Similarity.kmeansRound(spark, emb,
      dim = 2, scale = 10)
    val r2 = graft.operators.Similarity.kmeansRoundFrom(emb, r1, scale = 10)
      .orderBy("cluster", "d").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(r2.toSeq === out.toSeq)
  }

  test("pq codes pick the nearest codeword slice per subspace") {
    import spark.implicits._
    // trained book, cw=2 rounds=1, m=2 subspaces of 2 dims: seeds are
    // v0's slices (code 0) and v1's (code 1). One Lloyd round lands
    // sub0 {v0,v2,v4}→code0=(1000,1000), {v1,v3}→code1=(0,0); sub1
    // {v0,v2}→code0=(0,0), {v1,v3,v4}→code1=(1000,1000).
    val emb = Seq(
      (0L, Seq(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.0f, 0.0f, 1.0f, 1.0f), 1),
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f, 1.0f, 1.0f), 1),
      (4L, Seq(1.0f, 1.0f, 1.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val codes = Similarity.pqCodes(spark, emb, m = 2, dim = 4, cw = 2,
        rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // v4 = (1,1,1,1): subspace 0 exactly on codeword 0, subspace 1
    // exactly on codeword 1 — both at distance 0
    assert(codes((4L, 0L)) === ((0L, 0L)))
    assert(codes((4L, 1L)) === ((1L, 0L)))
    assert(codes((0L, 0L)) === ((0L, 0L)))
    assert(codes((0L, 1L)) === ((0L, 0L)))

    // ADC search from q0: adist(v) sums the query's codeword-table
    // entries selected by v's codes — v2 (same codes as q0) at 0,
    // then v4 (one foreign subspace), then v1/v3 (both foreign)
    val ranked = Similarity.annPq(spark, emb, numQueries = 1, k = 3,
        m = 2, dim = 4, cw = 2, rounds = 1)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("adist")))
    assert(ranked.toSeq === Seq((2L, 0L), (4L, 2000000L),
      (1L, 4000000L)))

    // composed IVF-PQ over 2 Lloyd cells (seeds v0, v1): q0's nearest
    // cell holds {v2, v4} (v4 ties between cells, asc → cell 0), so
    // v1/v3 never rank at probe-1
    val ivfpq = Similarity.annIvfPq(spark, emb, numQueries = 1, k = 2,
        m = 2, dim = 4, cw = 2, rounds = 1, cells = 2, cellRounds = 1)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("adist")))
    assert(ivfpq.toSeq === Seq((0L, 2L, 0L), (0L, 4L, 2000000L)))

    // nprobe: probe-2 ranks across BOTH cells, so v1/v3 (cell 1)
    // enter the candidate set; its top-k prefix must contain probe-1's
    // rows (recall ⊇ — a candidate superset can only improve a rank)
    val p2 = Similarity.annIvfPq(spark, emb, numQueries = 1, k = 4,
        m = 2, dim = 4, probes = 2, cw = 2, rounds = 1, cells = 2,
        cellRounds = 1)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("cell"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("adist")))
    assert(p2.toSeq === Seq((0L, 2L, 0L), (0L, 4L, 2000000L),
      (1L, 1L, 4000000L), (1L, 3L, 4000000L)))
    assert(p2.take(2).toSeq === ivfpq.toSeq)
  }

  test("ivf-pq exact rerank recovers brute-L2 truth when the shortlist covers the corpus") {
    import spark.implicits._
    // the pq-codes fixture: probes=2 spans both Lloyd cells and
    // prefilter=4 admits every non-query vector, so the exact re-rank
    // must reproduce knnExactL2 bit-for-bit — dist is EXACT integer
    // squared-L2, unlike the ADC tier's table-sum approximation
    val emb = Seq(
      (0L, Seq(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.0f, 0.0f, 1.0f, 1.0f), 1),
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Seq(0.0f, 0.0f, 1.0f, 1.0f), 1),
      (4L, Seq(1.0f, 1.0f, 1.0f, 1.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val rr = Similarity.annIvfPqRerank(spark, emb, numQueries = 1, k = 2,
        prefilter = 4, m = 2, dim = 4, probes = 2, cw = 2, rounds = 1,
        cells = 2, cellRounds = 1)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dist")))
    // q0 = (1,1,0,0): v2 identical (0), v4 one foreign half (2e6);
    // v1/v3 (4e6) rank behind and fall outside k=2
    assert(rr.toSeq === Seq((2L, 0L), (4L, 2000000L)))
    val brute = Similarity.knnExactL2(emb, numQueries = 1, k = 2)
      .orderBy("rn").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dist")))
    assert(rr.toSeq === brute.toSeq)
    // prefilter must cover k
    intercept[IllegalArgumentException] {
      Similarity.annIvfPqRerank(spark, emb, numQueries = 1, k = 5,
        prefilter = 3, m = 2, dim = 4)
    }
  }

  test("incremental pq encode codes the batch against the frozen corpus book") {
    import spark.implicits._
    // corpus = {v0..v4} (the pq-codes fixture), batch = {v5, v6}:
    // v5 copies v0 exactly and v6 copies v1 — a frozen-book encode
    // must give each batch vector its corpus twin's code AND distance
    // (zero perturbation from the batch: the book never sees it)
    val corpus = Seq(
      (0L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 1.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f, 1.0f)),
      (4L, Seq(1.0f, 1.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val batch = Seq(
      (5L, Seq(1.0f, 1.0f, 0.0f, 0.0f)),
      (6L, Seq(0.0f, 0.0f, 1.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpusCodes = Similarity.pqCodes(spark, corpus, m = 2, dim = 4,
        cw = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val got = Similarity.pqIncrementalCodes(batch, corpus, m = 2, dim = 4,
        cw = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // output is batch-only, every (vector, subspace) coded once
    assert(got.keySet === Set((5L, 0L), (5L, 1L), (6L, 0L), (6L, 1L)))
    for (s <- 0L to 1L) {
      assert(got((5L, s)) === corpusCodes((0L, s)))
      assert(got((6L, s)) === corpusCodes((1L, s)))
    }
  }

  test("gram power iteration converges to the dominant eigenvector") {
    import spark.implicits._
    // vecs (1,0) and (1,1) at scale 10 → G = [[200,100],[100,100]];
    // dominant eigenvector of [[2,1],[1,1]] has component ratio
    // (√5−1)/2 ≈ 0.618, so the L∞-normalized integer trace is
    // v1=(1000,666), v2=(1000,624), v3=(1000,618) — hand-computed.
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val v3 = graft.operators.Similarity.gramPowerIteration(
      emb, dims = 2, scale = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(v3 === Seq((1L, 1000L), (2L, 618L)))
  }

  test("gram matrix matches hand-computed quantized outer products") {
    val e = Seq(
      (1L, Array(1.0f, 0.5f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, -0.5f), 0)
    ).toDF("vec_id", "embedding", "label")
    val g = Similarity.gramMatrix(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("gram")).toMap
    // q1=(1000,500,0), q2=(0,1000,-500)
    assert(g === Map(
      (1L, 1L) -> 1000000L, (1L, 2L) -> 500000L, (1L, 3L) -> 0L,
      (2L, 2L) -> 1250000L, (2L, 3L) -> -500000L, (3L, 3L) -> 250000L))
  }

  test("residual pq codes match a plain-Scala replay of the recipe") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.4f), 0),
      (1L, Seq(0.8f, 0.1f, -0.1f, 0.5f), 0),
      (2L, Seq(-0.5f, 0.9f, 0.2f, -0.4f), 0),
      (3L, Seq(-0.6f, 0.8f, 0.1f, -0.2f), 0)
    )
    val e = vecs.toDF("vec_id", "embedding", "label")
    val m = 2; val groups = 2; val scale = 1000
    val cells = 2; val cellRounds = 1; val rounds = 1
    // plain-Scala replay of the full r11 recipe: quantize, Lloyd
    // coarse cells (seeds = lowest vec_ids, tie-break cell asc,
    // update = per-dim sum/n — Scala Long `/` truncates toward zero
    // exactly like Spark `div`), residuals vs the ASSIGNED cell,
    // seeded+trained residual codebook, argmin codes
    val q = vecs.map { case (id, v, _) =>
      id -> v.map(x => math.floor(x.toDouble * scale).toLong).toArray }.toMap
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def mean(members: Seq[Array[Long]]): Array[Long] =
      (0 until members.head.length).map(d =>
        members.map(_(d)).sum / members.size).toArray
    var book: Map[Long, Array[Long]] =
      q.view.filterKeys(_ < cells).toMap
    for (_ <- 1 to cellRounds) {
      val asg = q.view.mapValues(v =>
        book.toSeq.map { case (c, cq) => (sq(v, cq), c) }.min._2).toMap
      book = asg.groupBy(_._2).view.mapValues(ids =>
        mean(ids.keys.toSeq.sorted.map(q))).toMap
    }
    val asg = q.view.mapValues(v =>
      book.toSeq.map { case (c, cq) => (sq(v, cq), c) }.min._2).toMap
    val r = q.map { case (id, v) =>
      id -> v.zip(book(asg(id))).map { case (x, c) => x - c } }
    def slice(a: Array[Long], s: Int) = a.slice(s * 2, s * 2 + 2)
    var rbook: Map[(Long, Int), Array[Long]] = (for {
      id <- r.keys.toSeq.sorted if id < groups; s <- 0 until m
    } yield (id, s) -> slice(r(id), s)).toMap
    for (_ <- 1 to rounds) {
      val rasg = (for { id <- r.keys.toSeq; s <- 0 until m } yield
        (id, s) -> rbook.collect { case ((c, `s`), cs) =>
          (sq(slice(r(id), s), cs), c) }.min._2).toMap
      rbook = rasg.groupBy { case ((_, s), c) => (c, s) }.view
        .mapValues(ms =>
          mean(ms.keys.toSeq.sortBy(_._1).map { case (id, s) =>
            slice(r(id), s) })).toMap
    }
    val expected = (for { id <- r.keys; s <- 0 until m } yield {
      val v = slice(r(id), s)
      val scored = rbook.collect { case ((c, `s`), cs) =>
        (sq(v, cs), c) }.min
      (id, s.toLong) -> ((scored._2, scored._1))
    }).toMap
    val got = Similarity.pqResidualCodes(spark, e, m = m, groups = groups,
        dim = 4, rounds = rounds, cells = cells,
        cellRounds = cellRounds)
      .collect().map(row => (row.getAs[Long]("vec_id"),
        row.getAs[Long]("subspace")) ->
        ((row.getAs[Long]("code"), row.getAs[Long]("dist")))).toMap
    assert(got === expected)
  }

  test("residual ivf-adc ranks an exact duplicate of the query first") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.4f), 0),
      (1L, Seq(1.0f, 0.2f, -0.3f, 0.4f), 0),  // exact dup of query 0
      (2L, Seq(-0.5f, 0.9f, 0.2f, -0.4f), 0),
      (3L, Seq(0.1f, -0.8f, 0.7f, 0.2f), 0)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.annIvfRpq(spark, e, numQueries = 1, k = 3,
      m = 2, groups = 2, dim = 4)
    val rows = out.collect().sortBy(_.getAs[Int]("rn"))
    assert(rows.nonEmpty)
    // the dup shares the query's residual exactly → identical codes →
    // minimal ADC distance; tie-break by vec_id puts it first
    assert(rows.head.getAs[Long]("vec_id") === 1L)
  }

  test("residual ivf-adc probe-2 candidates cover probe-1's") {
    import spark.implicits._
    // two coarse cells; the probe-2 search must consider a superset of
    // the single-cell candidates and keep per-cell residual frames
    val e = Seq(
      (0L, Seq(1.0f, 0.1f, -0.2f, 0.3f), 0),
      (1L, Seq(0.9f, 0.2f, -0.1f, 0.4f), 0),
      (2L, Seq(-0.8f, 0.7f, 0.2f, -0.3f), 1),
      (3L, Seq(-0.7f, 0.8f, 0.1f, -0.2f), 1),
      (4L, Seq(0.5f, -0.5f, 0.5f, -0.5f), 1)
    ).toDF("vec_id", "embedding", "label")
    def cands(p: Int) = Similarity.annIvfRpq(spark, e, numQueries = 1,
        k = 10, m = 2, groups = 2, dim = 4, probes = p)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(cands(1).subsetOf(cands(2)))
    assert(cands(2).size > cands(1).size) // the second cell contributes
  }

  test("srp rerank: exact cosine reorders the hamming prefilter") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.4f)),
      (1L, Seq(1.0f, 0.2f, -0.3f, 0.4f)),   // exact dup: cos 1, ranks first
      (2L, Seq(0.9f, 0.3f, -0.2f, 0.5f)),
      (3L, Seq(-0.5f, 0.9f, 0.2f, -0.4f))
    ).toDF("vec_id", "embedding")
    val rows = Similarity.annSrpRerank(e, numQueries = 1, k = 3,
        prefilter = 3, bits = 16, dim = 4)
      .collect().sortBy(_.getAs[Int]("rn"))
    assert(rows.head.getAs[Long]("vec_id") === 1L)
    // output is ordered by exact cosine, descending
    val cos = rows.map(_.getAs[Double]("cos"))
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
  }

  test("srp hamming ann: a duplicate vector codes identically and ranks first") {
    import spark.implicits._
    val e = Seq(
      (0L, Seq(1.0f, 0.2f, -0.3f, 0.4f)),
      (1L, Seq(1.0f, 0.2f, -0.3f, 0.4f)),   // exact dup of the query
      (2L, Seq(-1.0f, -0.2f, 0.3f, -0.4f)), // antipode: all bits flip
      (3L, Seq(0.9f, 0.1f, -0.2f, 0.5f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.annSrpHamming(e, numQueries = 1, k = 3,
      bits = 16, dim = 4)
    val rows = out.collect().sortBy(_.getAs[Int]("rn"))
    assert(rows.map(_.getAs[Long]("qid")).forall(_ == 0L))
    assert(rows.head.getAs[Long]("vec_id") === 1L)
    assert(rows.head.getAs[Long]("hamming") === 0L)
    // the antipode flips the sign of every plane dot → hamming = bits
    // (no plane dot is exactly 0 on this fixture)
    val anti = rows.find(_.getAs[Long]("vec_id") == 2L).get
    assert(anti.getAs[Long]("hamming") === 16L)
    assert(rows.map(_.getAs[Int]("rn")).toSeq === (1 to rows.length).toSeq)
  }

  test("lsh-bucketed ann returns self-bucket neighbors ranked by cosine") {
    val out = Similarity.annLshBucketed(spark, vecs, numQueries = 1, k = 3,
      numPlanes = 2, dim = 4)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("qid") == 0L))
    // ranks are contiguous from 1
    assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq === (1 to rows.length).toSeq)
  }

  test("repetition signals: degenerate vs diverse docs at each gram order") {
    val reps = Seq(
      (10L, "a a a a", "en", "s0", 7L),
      (11L, "a b c d", "en", "s0", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.repetitionSignals(reps).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n")) -> r).toMap
    // "a a a a": every order is one gram repeated → both fracs 1.0
    for (n <- 1 to 3) {
      val r = out((10L, n))
      assert(r.getAs[Long]("grams") === (5 - n).toLong)
      assert(r.getAs[Long]("distinct_grams") === 1L)
      assert(r.getAs[Double]("top_frac") === 1.0)
      assert(r.getAs[Double]("dup_frac") === 1.0)
    }
    // "a b c d": all grams unique → top_frac = 1/grams, dup_frac = 0
    val d = out((11L, 1))
    assert(d.getAs[Long]("top_cnt") === 1L)
    assert(d.getAs[Double]("top_frac") === 0.25)
    assert(d.getAs[Double]("dup_frac") === 0.0)
  }

  private def md5Nibble(id: Long): Char =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.charAt(0)

  test("contamination flags train docs sharing a 5-gram with the eval split") {
    // pick real split members so the operator's md5 routing is exercised
    val ids = (0L until 64L)
    val evalId = ids.find(i => "01".contains(md5Nibble(i))).get
    val trainIds = ids.filter(i => md5Nibble(i) > '3').take(2)
    val valId = ids.find(i => "23".contains(md5Nibble(i))).get
    val shared = "one two three four five six"
    val corpus = Seq(
      (evalId, shared, "en", "s0", 27L),
      (trainIds(0), shared, "en", "s0", 27L),                 // contaminated
      (trainIds(1), "totally fresh text nothing shared here", "en", "s0", 38L),
      (valId, shared, "en", "s0", 27L)                        // val: not scanned
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val hits = TextOps.contaminationHits(corpus).collect()
    assert(hits.map(_.getAs[Long]("doc_id")).toSeq === Seq(trainIds(0)))
    assert(hits.head.getAs[Double]("hit_frac") === 1.0)
  }

  test("bigram familiarity scores docs by top-table membership fraction") {
    val c = Seq(
      (0L, "a b a b", "en", "s0", 7L), // bigrams: "a b","b a","a b"
      (1L, "x y", "en", "s0", 3L)      // bigram: "x y"
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // top-1 corpus bigram is "a b" (count 2)
    val f = TextOps.bigramFamiliarity(c, k = 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("bigrams"),
        r.getAs[Long]("known_bigrams"), r.getAs[Double]("familiarity")))
    assert(f.toSeq === Seq((0L, 3L, 2L, 2.0 / 3.0), (1L, 1L, 0L, 0.0)))
  }

  test("bpe merge rounds run char-level over the weighted word table") {
    val c = Seq(
      (0L, "ab ab cd", "en", "s0", 8L),
      (1L, "ab cd", "en", "s0", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // word table: ab×3 → "a b", cd×2 → "c d". Round 1 pairs weighted
    // by word count: "a b"→3, "c d"→2 ⇒ merge ("a b", 3); "ab" is then
    // a single symbol (no pair), so round 2 merges ("c d", 2). The
    // weighted cnt=3 exceeds the 2-doc corpus — proof the counts come
    // from word frequency, not document rows.
    val m = TextOps.bpeMerges(c, rounds = 2).orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getString(1), r.getAs[Long]("cnt")))
    assert(m.toSeq === Seq((1, "a b", 3L), (2, "c d", 2L)))
  }

  test("bpe encode counts merged tokens per doc with the induced merges") {
    val c = Seq(
      (0L, "ab ab cd", "en", "s0", 8L),
      (1L, "ab cd", "en", "s0", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // rounds=1 learns only ("a b"): ab encodes to 1 token, cd stays
    // "c d" = 2 ⇒ doc0 = 1+1+2 = 4 over 3 words, doc1 = 1+2 = 3 over 2
    val one = TextOps.bpeEncode(c, rounds = 1).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("words"),
        r.getAs[Long]("bpe_tokens")))
    assert(one.toSeq === Seq((0L, 3L, 4L), (1L, 2L, 3L)))
    // rounds=2 also merges ("c d") ⇒ every word is one token
    val two = TextOps.bpeEncode(c, rounds = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("words"),
        r.getAs[Long]("bpe_tokens")))
    assert(two.toSeq === Seq((0L, 3L, 3L), (1L, 2L, 2L)))
  }

  test("bpe encode survives an exhausted merge round") {
    import spark.implicits._
    // single-char words: no adjacent symbol pairs exist, so EVERY merge
    // round is exhausted — the encode must treat each round as a no-op
    // (one output row per doc, bpe_tokens = word count), not crossJoin
    // the vocabulary against an empty round and silently emit nothing
    val c = Seq((1L, "a b a", "en"), (2L, "b b", "en"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.bpeEncode(c, rounds = 2).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("words"),
        r.getAs[Long]("bpe_tokens")))
    assert(out.toSeq === Seq((1L, 3L, 3L), (2L, 2L, 2L)))
  }

  test("bpe merge is left-to-right non-overlapping within a word") {
    // word "xxxx" → " x x x x ": one replace pass consumes the shared
    // separator, leaving "xx x x" — round 2's pairs are "xx x" and
    // "x x" (both weight 1) and the lexicographic tie-break picks
    // "x x" (space sorts before 'x')
    val c = Seq((0L, "xxxx", "en", "s0", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextOps.bpeMerges(c, rounds = 2).orderBy("round").collect()
      .map(r => (r.getAs[Int]("round"), r.getString(1), r.getAs[Long]("cnt")))
    assert(m.head === ((1, "x x", 3L)))
    assert(m(1) === ((2, "x x", 1L)))
  }

  test("gramRows equals Scala sliding windows on random token streams") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val docGen = for {
      len <- Gen.choose(1, 12)
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "cc", "d"))
    } yield toks
    val corpus = (1 to 30).flatMap(s =>
      docGen.apply(Gen.Parameters.default, Seed(s.toLong)))
    val docsDf = corpus.zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val got = TextOps.gramRows(docsDf, Seq(1, 2, 3))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(t => (t._1, t._2))
      .view.mapValues(_.map(_._3).sorted.toSeq).toMap
    val expected = (for {
      (toks, i) <- corpus.zipWithIndex
      n <- 1 to 3
    } yield {
      val grams =
        if (toks.size < n) Seq(toks.mkString(" ")) // clamped short gram
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      (i.toLong, n) -> grams.sorted
    }).toMap
    assert(got === expected)
  }

  test("split leakage reports only multi-split duplicate classes") {
    // same BAG of tokens across three ids; md5(id) nibbles route them
    // to real splits, so craft ids landing in different splits
    val ids = (0L until 64L)
    def nib(id: Long): Char = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString.charAt(0)
    val trainId = ids.find(i => nib(i) > '3').get
    val testId = ids.find(i => "01".contains(nib(i))).get
    val trainId2 = ids.filter(i => nib(i) > '3').apply(1)
    val c = Seq(
      (trainId, "alpha beta gamma", "en", "s0", 16L),
      (testId, "gamma beta alpha", "en", "s0", 16L),  // reordered bag-dup
      (trainId2, "wholly unrelated text", "en", "s0", 21L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextOps.splitLeakage(c).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("splits") === "test,train")
    assert(rows.head.getAs[Long]("docs") === 2L)
    assert(rows.head.getAs[Long]("first_doc") === math.min(trainId, testId))
  }

  test("leak-free split moves classes to the canonical split; audit drops to zero") {
    import spark.implicits._
    val c = (0L until 64L).map { i =>
      // 4 content classes of 16 docs each → classes certainly span splits
      (i, s"shared content class ${i % 4}", "en", "s0", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val fixed = TextOps.leakFreeSplit(c)
    val rows = fixed.collect()
    assert(rows.length === 64)
    // the moved flag is exactly "assignment changed"
    assert(rows.forall(r => r.getAs[Boolean]("moved") ===
      (r.getAs[String]("split_orig") != r.getAs[String]("split_fixed"))))
    // something actually moved on this fixture (classes span splits)
    assert(rows.exists(_.getAs[Boolean]("moved")))
    // one split per content class after the fix
    val perClass = rows.groupBy(_.getAs[String]("content_hash")).view
      .mapValues(_.map(_.getAs[String]("split_fixed")).distinct.length)
    assert(perClass.values.forall(_ === 1))
    // re-running the audit on the FIXED assignment finds nothing: same
    // relation shape as splitLeakage but grouped on split_fixed
    val audit = fixed.groupBy("content_hash")
      .agg(org.apache.spark.sql.functions.countDistinct("split_fixed").as("s"))
      .filter(col("s") > 1)
    assert(audit.count() === 0L)
  }

  test("span rewrite cuts every non-canonical duplicated window occurrence") {
    import spark.implicits._
    val c = Seq(
      (1L, "a b c d e", "en", "s0", 9L),
      (2L, "x a b c y", "en", "s0", 9L),   // contains dup window "a b c"
      (3L, "p q r s t", "en", "s0", 9L)    // untouched
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.dedupSpansRewrite(c, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("tokens"),
        r.getAs[Long]("removed_tokens"), r.getAs[String]("text_clean"))).toMap
    // canonical occurrence = (1, pos 0): doc 1 keeps everything
    assert(out(1L) === ((5L, 0L, "a b c d e")))
    // doc 2 loses positions 1..3 → "x y"
    assert(out(2L) === ((5L, 3L, "x y")))
    assert(out(3L) === ((5L, 0L, "p q r s t")))
  }

  test("token zipf ranks by frequency with shares summing to one") {
    val c = Seq((0L, "a a a b b c", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val z = TextOps.tokenZipf(c).orderBy("rank").collect()
    assert(z.map(r => (r.getAs[Long]("rank"), r.getString(1),
      r.getAs[Long]("freq"))).toSeq ===
      Seq((1L, "a", 3L), (2L, "b", 2L), (3L, "c", 1L)))
    assert(math.abs(z.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
  }

  test("dup rate by source counts bag-duplicate mass per feed") {
    val c = Seq(
      (0L, "a b c", "en", "s0", 5L),
      (1L, "c b a", "en", "s0", 5L), // bag-dup of 0
      (2L, "x y z", "en", "s0", 5L),
      (3L, "u v w", "en", "s1", 5L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = TextOps.dupRateBySource(c).orderBy("source").collect()
    assert(rows.map(r => (r.getString(0), r.getAs[Long]("docs"),
      r.getAs[Long]("distinct_bags"), r.getAs[Double]("dup_rate"))).toSeq ===
      Seq(("s0", 3L, 2L, 1.0 - 2.0 / 3.0), ("s1", 1L, 1L, 0.0)))
  }

  test("lang confusion aggregates actual-vs-predicted pairs") {
    val c = Seq(
      (0L, "the a value value", "en", "s0", 17L), // en markers → pred en
      (1L, "data table row row", "es", "s0", 18L), // es markers → pred es
      (2L, "data table row", "en", "s0", 14L)      // en doc misread as es
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val m = TextOps.langConfusion(c).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getAs[Long]("docs")).toMap
    assert(m === Map(("en", "en") -> 1L, ("es", "es") -> 1L,
      ("en", "es") -> 1L))
  }

  test("corpus ngrams ranks by occurrences then gram text") {
    val c = Seq((0L, "x y z x y z", "en", "s0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val top = TextOps.corpusNgrams(c, n = 3, k = 3).collect()
    assert(top.map(r => (r.getString(0), r.getAs[Long]("occurrences"))).toSeq ===
      Seq(("x y z", 2L), ("y z x", 1L), ("z x y", 1L)))
    assert(top.forall(_.getAs[Long]("docs") === 1L))
  }

  test("semdedup drops the lower-priority twin inside each cluster only") {
    // exact-in-binary components so quantization is trivially exact:
    // v1 is colinear with v0 (cos = 1), v4 colinear with v3; v2 is
    // orthogonal to everything (dot = 0 fails the dot > 0 guard even
    // though 0 >= 0·na·nb would hold)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.75f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
      (4L, Array(-0.75f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedup(spark, emb, thresholdHundredths = 90,
        dim = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("kept"),
        r.getAs[Long]("dup_of")))
    assert(out.toSeq === Seq(
      (0L, 1L, -1L), (1L, 0L, 0L), (2L, 1L, -1L),
      (3L, 1L, -1L), (4L, 0L, 3L)))
    // opposite-direction vectors (v0 vs v3) never pair: different
    // clusters AND negative dot — relaxing the threshold to the floor
    // must not create cross-cluster drops
    val loose = Similarity.semDedup(spark, emb, thresholdHundredths = 1,
        dim = 4)
      .filter(col("kept") === 0).collect().map(_.getLong(0)).sorted
    assert(loose.toSeq === Seq(1L, 4L))
  }

  test("lloyd book seeds from the k lowest vec_ids and refines to a fixpoint") {
    // k = 2 seeds = v1 (0,0), v2 (1,0) quantized at 1000 (cluster id =
    // seed vec_id). Round 1 assigns {v1,v3,v6} to cluster 1 and
    // {v2,v4,v5} to cluster 2; the truncated-integer update gives
    // (6 div 3, 0) = (2,0) and ((1000+998+1000) div 3, 2 div 3) =
    // (999,0). The toy clustering is Lloyd-stable, so round 2 through
    // the same book representation is a fixpoint.
    val emb = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.002f, 0.0f)), (4L, Array(0.998f, 0.0f)),
      (5L, Array(1.0f, 0.002f)), (6L, Array(0.004f, 0.0f))
    ).toDF("vec_id", "embedding")
    def bookOf(rounds: Int): Seq[(Long, List[Long])] =
      Similarity.lloydBook(spark, emb, k = 2, rounds = rounds)
        .orderBy("cluster").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSeq
    assert(bookOf(1) === Seq((1L, List(2L, 0L)), (2L, List(999L, 0L))))
    assert(bookOf(2) === bookOf(1))
  }

  test("semdedup candidate mass falls as the codebook k rises") {
    // 120 deterministic vectors on a ring: a finer Lloyd codebook cuts
    // the corpus into more, smaller clusters, so the intra-cluster pair
    // mass Σ C(n_i, 2) must fall as k rises — THE 100 TB knob (candidate
    // mass is O(N²/k); the label-derived book pins k to ~10 labels).
    val emb = (0L until 120L).map { i =>
      val a = 2 * math.Pi * (i % 40).toDouble / 40
      (i, Array(math.cos(a).toFloat, math.sin(a).toFloat,
        ((i % 7).toFloat - 3f) / 7f, ((i % 11).toFloat - 5f) / 11f))
    }.toDF("vec_id", "embedding")
    def cands(k: Int): Long =
      Similarity.semDedupCandidates(spark, emb, k = k, rounds = 2).count()
    val (c1, c4, c16) = (cands(1), cands(4), cands(16))
    assert(c1 === 120L * 119 / 2) // k = 1: every pair is a candidate
    assert(c4 < c1)
    assert(c16 < c4)
  }

  test("proto prune drops the closest-to-centroid fraction per cluster") {
    // same fixture as the semdedup test; centroids (scale 1000,
    // truncated): c0 = (583, 333, 0, 0) over {v0,v1,v2},
    // c1 = (-875, 0, 0, 0) over {v3,v4}. Hand-computed squared dists:
    // v0 417²+333²=284778, v1 167²+333²=138778, v2 583²+667²=784778,
    // v3 = v4 = 125²=15625 (exact tie → vec_id breaks it).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.75f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
      (4L, Array(-0.75f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    // pct=50: cluster 0 (n=3) drops (3·50) div 100 = 1 — its most
    // prototypical v1; cluster 1 (n=2) drops 1 — tie goes to v3
    val out = Similarity.protoPrune(spark, emb, pct = 50, dim = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("dist"),
        r.getAs[Long]("rnk"), r.getAs[Long]("kept")))
    assert(out.toSeq === Seq(
      (0L, 284778L, 2L, 1L), (1L, 138778L, 1L, 0L),
      (2L, 784778L, 3L, 1L), (3L, 15625L, 1L, 0L),
      (4L, 15625L, 2L, 1L)))
    // pct=0 keeps everything — the floor never rounds a drop into being
    val all = Similarity.protoPrune(spark, emb, pct = 0, dim = 4)
      .filter(col("kept") === 0).count()
    assert(all === 0L)
  }

  test("d4 funnel prunes prototypes among semdedup survivors only") {
    // same fixture: semdedup drops v1 (twin of v0) and v4 (twin of v3);
    // survivors c0 = {v0 d=284778, v2 d=784778}, c1 = {v3 d=15625}.
    // pct=50: c0 (n_s=2) drops its most prototypical survivor v0 —
    // NOT v1, which a pre-dedup rank would have hit; c1 (n_s=1) drops
    // (1·50) div 100 = 0
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.75f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1),
      (4L, Array(-0.75f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.d4Funnel(spark, emb, thresholdHundredths = 90,
        pct = 50, dim = 4)
      .orderBy("cluster").collect()
      .map(r => (r.getInt(0), r.getAs[Long]("n_vecs"),
        r.getAs[Long]("after_semdedup"), r.getAs[Long]("after_proto")))
    assert(out.toSeq === Seq((0, 3L, 2L, 1L), (1, 2L, 1L, 1L)))
    // pct=100 empties every cluster — the coalesce keeps the funnel row
    val gone = Similarity.d4Funnel(spark, emb, thresholdHundredths = 90,
        pct = 100, dim = 4)
      .orderBy("cluster").collect().map(_.getAs[Long]("after_proto"))
    assert(gone.toSeq === Seq(0L, 0L))
  }

  test("semdedup components close the near-twin chain transitively") {
    // hand-computed integer verdicts at t=90 (scale 100):
    //   A=(100,0) B=(75,25): 10⁴·7500² = 5.625e11 ≥ 8100·10⁴·6250 = 5.0625e11 ✓
    //   B=(75,25) C=(50,25): 10⁴·4375² ≈ 1.914e11 ≥ 8100·6250·3125 ≈ 1.582e11 ✓
    //   A=(100,0) C=(50,25): 10⁴·5000² = 2.5e11 < 8100·10⁴·3125 ≈ 2.53e11 ✗
    // so A≈B≈C chains into ONE component even though A≉C; isolated D
    // (other cluster, no pairs) is absent from the output
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.75f, 0.25f, 0.0f, 0.0f), 0),
      (2L, Array(0.5f, 0.25f, 0.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupComponents(spark, emb,
        thresholdHundredths = 90, dim = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("component")))
    assert(out.toSeq === Seq((0L, 0L), (1L, 0L), (2L, 0L)))
    // while the non-transitive keep rule would keep C (its only
    // qualifying lower twin is B, but dup_of pins it): one component
    // means ONE survivor — the stricter clustering semantics
    val kept = Similarity.semDedup(spark, emb, 90, dim = 4)
      .filter(col("kept") === 1).count()
    assert(kept === 2L) // semdedup keeps A and D only (B, C evicted)
  }

  test("incremental semantic dedup drops corpus twins, never batch twins") {
    // corpus codebook: c0 = centroid{v0,v1} = (500,500,0,0),
    // c1 = {v2} = (-1000,0,0,0). Batch v10 is colinear with corpus v0
    // (cos = 1 → dropped); v11 is orthogonal to every corpus vector
    // (novel → survives); v12 is colinear with BATCH v11 — both must
    // survive, ingestion dedup never judges the batch against itself
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0),
      (2L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val batch = Seq(
      (10L, Array(0.75f, 0.0f, 0.0f, 0.0f), 0),
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f), 0),
      (12L, Array(0.0f, 0.0f, 0.75f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupAgainstCorpus(spark, batch, corpus,
        thresholdHundredths = 90, dim = 4)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(out.toSeq === Seq((11L, 0), (12L, 0)))
  }

  test("dsir weights rank target-like docs above background-only docs") {
    val c = Seq(
      (0L, "a b a b", "en", "s0", 7L), // pure target bigrams
      (1L, "a b c", "en", "s1", 5L),   // shares ab with the target
      (2L, "x y x y", "en", "s1", 7L), // background-only bigrams
      (3L, "z", "en", "s0", 1L)        // < 2 tokens: no transitions
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextOps.dsirWeights(c, targetSources = Seq("s0"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("is_target"),
        r.getAs[Long]("n_bigrams"), r.getAs[Long]("avg_wmilli"),
        r.getAs[Long]("max_wmilli")))
    // hand-computed: N_b=8, N_t=3, V=5; wmilli(ab)=39000//32=1218,
    // wmilli(ba)=26000//16=1625, wmilli(bc)=13000//16=812,
    // wmilli(xy)=13000//24=541, wmilli(yx)=812
    assert(out.toSeq === Seq(
      (0L, 1L, 3L, (1218L + 1625 + 1218) / 3, 1625L),
      (1L, 0L, 2L, (1218L + 812) / 2, 1218L),
      (2L, 0L, 3L, (541L + 812 + 541) / 3, 812L)))
    // the ordering DSIR resampling consumes: target-like > mixed > alien
    assert(out(0)._4 > out(1)._4 && out(1)._4 > out(2)._4)
  }

  test("edit-distance pairs find exactly the brute-force ED<=1 set") {
    import spark.implicits._
    // substitution (cat~bat), deletion/insertion (cat~cart is 1 insert?
    // no: cat->cart inserts 'r'), equal-after-distinct, ED=2 decoys
    val names = Seq("cat", "bat", "cart", "ca", "dog", "dig", "dug",
      "kitten", "sitten", "mitten", "smitten", "xyz", "cat")
    val df = names.toDF("name")
    val got = Dedup.editDistancePairs(df, "name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val distinct = names.distinct
    val want = (for {
      a <- distinct; b <- distinct if a < b
      d = lev(a, b) if d <= 1
    } yield (a, b, d.toLong)).toSet
    assert(got === want)
    // the fixture exercises all three edit kinds
    assert(want.contains(("bat", "cat", 1L)))   // substitution
    assert(want.contains(("ca", "cat", 1L)))    // insertion/deletion
    assert(want.exists(_._3 == 1L))
    assert(!want.exists { case (a, b, _) => a == "kitten" && b == "smitten" })
  }

  test("hard negatives return only foreign-label near misses, nearest first") {
    import spark.implicits._
    // anchor 0 (label 0) points at +x; label 1 holds a near miss at
    // 30deg and a far vector at -x; label 2 holds an orthogonal vector.
    // dim-64 vectors, mostly zero.
    def v(parts: (Int, Double)*): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      parts.foreach { case (i, x) => a(i) = x.toFloat }
      a
    }
    val emb = Seq(
      (0L, v(0 -> 1.0), 0),
      (1L, v(0 -> 0.9, 1 -> 0.5), 1),   // near miss, label 1
      (2L, v(0 -> -1.0), 1),            // antipode, label 1
      (3L, v(1 -> 1.0), 2),             // orthogonal, label 2
      (4L, v(0 -> 0.95), 0)             // same label: must NEVER appear
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(spark, emb, numQueries = 1, k = 3).collect()
    assert(out.nonEmpty)
    // no same-label vector ever mined as a negative
    assert(out.forall(r => r.getAs[Int]("neg_label") != r.getAs[Int]("qlabel")))
    assert(!out.exists(_.getAs[Long]("vec_id") == 4L))
    // the near miss outranks everything else for anchor 0
    val first = out.filter(_.getAs[Int]("rn") == 1).head
    assert(first.getAs[Long]("vec_id") === 1L)
  }

  test("doc novelty counts df-1 gram occurrences in ppm") {
    import spark.implicits._
    // docs 1 and 2 share their only trigram; doc 3 is fully novel;
    // doc 4 repeats a shared gram (occurrences, not distinct grams)
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "x y z"),
      (4L, "a b c a b c")   // grams: abc, bca, cab, abc -> abc df>1
    ).toDF("doc_id", "text")
    val out = TextOps.docNovelty(docs).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("grams"),
        r.getAs[Long]("unique_grams"), r.getAs[Long]("novelty_ppm"))).toMap
    assert(out(1L) === ((1L, 0L, 0L)))          // shared with 2 and 4
    assert(out(3L) === ((1L, 1L, 1000000L)))    // fully novel
    // doc 4: 4 gram occurrences; "a b c" x2 shared; "b c a"/"c a b"
    // unique to doc 4 -> 2/4 = 500000 ppm
    assert(out(4L) === ((4L, 2L, 500000L)))
  }

  test("ctfidf keywords rank source-distinguishing tokens first") {
    import spark.implicits._
    val docs = Seq(
      (1L, "common alpha alpha", "s1"),
      (2L, "common beta", "s2"),
      (3L, "common beta gamma", "s2")
    ).toDF("doc_id", "text", "source")
    val out = TextOps.ctfidfKeywords(docs, k = 2).collect()
      .map(r => (r.getString(0), r.getAs[Long]("rnk")) ->
        (r.getString(1), r.getAs[Long]("idf_ppm"), r.getAs[Long]("score")))
      .toMap
    // s_total = 2; df(common)=2 -> idf 1000000; df(alpha)=1 -> 2000000
    // s1: alpha tf=2 score 4e6 beats common tf=1 score 1e6
    assert(out(("s1", 1L))._1 === "alpha")
    assert(out(("s1", 1L))._2 === 2000000L)
    assert(out(("s1", 2L)) === (("common", 1000000L, 1000000L)))
    // s2: beta tf=2 idf 2000000 score 4e6 first
    assert(out(("s2", 1L)) === (("beta", 2000000L, 4000000L)))
  }

  test("edit-distance components close typo chains transitively") {
    import spark.implicits._
    // aa~ab~bb chain: aa and bb are ED 2 apart but share the cluster;
    // xx~xy is a separate cluster; zz pairs with nothing
    val df = Seq((10L, "aa"), (11L, "ab"), (12L, "bb"),
      (20L, "xx"), (21L, "xy"), (30L, "zz")).toDF("id", "name")
    val out = Dedup.editDistanceComponents(df, "name", "id").collect()
      .map(r => r.getString(0) -> r.getAs[Long]("component")).toMap
    assert(out === Map("aa" -> 10L, "ab" -> 10L, "bb" -> 10L,
      "xx" -> 20L, "xy" -> 20L))   // zz absent: never paired
  }

  test("incremental fuzzy match counts corpus near-twins per new key") {
    import spark.implicits._
    val corpus = Seq("cat", "dog", "dog").toDF("k")
    val batch = Seq("cat", "bat", "zebra", "do").toDF("k")
    val out = Dedup.fuzzyMatchAgainstCorpus(batch, corpus, "k").collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n_matches"),
        Option(r.getString(2)), r.getAs[Boolean]("keep"))).toMap
    assert(out("cat") === ((1L, Some("cat"), false)))   // exact re-occurrence
    assert(out("bat") === ((1L, Some("cat"), false)))   // substitution
    assert(out("do") === ((1L, Some("dog"), false)))    // deletion
    assert(out("zebra") === ((0L, None, true)))         // novel -> kept
  }

  test("pii stats count each class and flag the pii-free arm") {
    import spark.implicits._
    val d = Seq(
      (1L, "write to a@b.org or c.d@e-f.io today"),
      (2L, "server 10.1.2.3 then 192.168.0.255 up"),
      (3L, "call 555-0199 re 10.0.0.1 or x@y.com"),
      (4L, "no contact details at all here")
    ).toDF("doc_id", "text")
    val out = TextOps.piiStats(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(out(1L) === ((2L, 0L, 0L, 1L)))
    assert(out(2L) === ((0L, 2L, 0L, 1L)))
    assert(out(3L) === ((1L, 1L, 1L, 1L)))
    assert(out(4L) === ((0L, 0L, 0L, 0L)))
  }

  test("pii redact masks every class in fixed order and counts rewrites") {
    import spark.implicits._
    val d = Seq((1L, "mail a@b.org from 10.1.2.3 call 555-0199 done"))
      .toDF("doc_id", "text")
    val r = TextOps.piiRedact(d).head
    assert(r.getString(1) === "mail <EMAIL> from <IP> call <PHONE> done")
    assert(r.getLong(2) === 3L)
  }

  test("pii fixture exercises all residue arms and the oracle trio agrees") {
    // Fixture docs 0..59 cover every (mod 3, mod 4, mod 5) combination;
    // ids coprime to 3·4·5 must stay pii-free.
    import spark.implicits._
    val base = (0L to 59L).map(i => (i, "plain words only", "s0"))
      .toDF("doc_id", "text", "source")
    val st = TextOps.piiStats(TextOps.withPiiFixture(base)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    for (i <- 0L to 59L) {
      val (ne, ni, np) = st(i)
      assert(ne === (if (i % 3 == 0) 1L else 0L), s"email arm at $i")
      assert(ni === (if (i % 4 == 0) 1L else 0L), s"ipv4 arm at $i")
      assert(np === (if (i % 5 == 0) 1L else 0L), s"phone arm at $i")
    }
    // redaction leaves no residual match for any pattern
    val resid = TextOps.piiStats(
      TextOps.piiRedact(TextOps.withPiiFixture(base))
        .select(col("doc_id"), col("text_clean").as("text")))
      .filter(col("has_pii") > 0).count()
    assert(resid === 0L)
  }

  test("component canonical selection keeps the best member, not the first") {
    import spark.implicits._
    // docs 1↔2 pair at J = 20/21 ≈ 0.95; doc 2 (the LATER crawl) lands
    // in the 100–500 char quality band while doc 1 misses it, so the
    // quality argmax must pick 2 where min-id canonicalization picks 1
    val base = (1 to 20).map(i => f"t$i%02d").mkString(" ")
    val d = Seq(
      (1L, base, "en", "s0"),
      (2L, base + " verylongextraordinarytoken", "en", "s0"),
      (3L, "completely unrelated other words", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val out = Dedup.componentsBestQuality(d, thresholdTenths = 9).collect()
    assert(out.length === 1) // doc 3 has no near-dup → no component row
    val r = out.head
    assert(r.getAs[Long]("component") === 1L)
    assert(r.getAs[Long]("keep_id") === 2L,
      "must keep the higher-quality member, not the lower id")
    assert(r.getAs[Long]("size") === 2L)
  }

  test("markup strip removes tags, collapses space, counts both arms") {
    import spark.implicits._
    val d = Seq(
      (1L, "<div><a href=x>link</a> and <!-- hidden --> tail</div>"),
      (2L, "no markup at all")
    ).toDF("doc_id", "text")
    val out = TextOps.markupStrip(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) === (("link and tail", 5L, 13L)))
    assert(out(2L) === (("no markup at all", 0L, 16L)))
    // fixture round-trip: stripping the wrapped fixture recovers the
    // original text byte-for-byte on every doc
    val base = Seq((0L, "alpha beta"), (1L, "gamma delta"))
      .toDF("doc_id", "text")
    val stripped = TextOps.markupStrip(TextOps.withMarkupFixture(base))
      .select(col("doc_id"), col("text_plain").as("text"))
    assert(stripped.except(base).count() === 0L)
  }

  test("doc chunking: overlap windows, clamped tail, short-doc arm") {
    import spark.implicits._
    // 10 tokens, size 4, stride 3 → chunks at 0,3,6,(9 clamped);
    // n_chunks = ceil((10-4)/3)+1 = 3 full + last partial
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b")) // short doc: exactly one clamped chunk
      .toDF("doc_id", "text")
    val out = TextOps.chunkDocs(docs, sizeToks = 4, strideToks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out.keySet === Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(out((1L, 0L)) === ((0L, 4L, "t1 t2 t3 t4")))
    assert(out((1L, 1L)) === ((3L, 4L, "t4 t5 t6 t7"))) // stride-1 overlap
    assert(out((1L, 2L)) === ((6L, 4L, "t7 t8 t9 t10")))
    assert(out((2L, 0L)) === ((0L, 2L, "a b")))
    // shuffle-free: the chunk fan-out is a row-local explode
    val plan = TextOps.chunkDocs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle, plan:\n$plan")
  }

  test("phrase search counts overlapping hits and respects token order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w w w x"), (2L, "join stream now"), (3L, "the stream join"))
      .toDF("doc_id", "text")
    val out = TextOps.phraseSearch(docs,
        Seq(("q_rep", "w w"), ("q_ord", "stream join")))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // overlap: "w w w" carries TWO "w w" occurrences (gram semantics)
    assert(out === Map(("q_rep", 1L) -> 2L, ("q_ord", 3L) -> 1L))
    // order matters: doc 2 has both tokens adjacent but reversed — no hit
    assert(!out.contains(("q_ord", 2L)))
  }

  test("phrase search normalizes whitespace runs instead of zero-matching") {
    import spark.implicits._
    // r15 split on a single space, so "stream  join" produced an
    // empty-string gram token and SILENTLY returned 0 hits; whitespace
    // runs (and tabs, and surrounding space) must mean the
    // single-space phrase
    val docs = Seq((1L, "the stream join runs")).toDF("doc_id", "text")
    val out = TextOps.phraseSearch(docs,
        Seq(("q_dbl", "stream  join"), ("q_tab", "stream\tjoin"),
          ("q_pad", " stream join ")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out === Map("q_dbl" -> 1L, "q_tab" -> 1L, "q_pad" -> 1L))
  }

  test("temperature mixing upweights low-resource languages") {
    import spark.implicits._
    // en corpus 100x the size of mi: proportional sampling gives mi
    // ~1% of the budget; alpha=1/2 gives it sqrt(1/100) ~ 1/11 of en's
    // weight — the upweighting the op exists for
    val docs = (
      (0 until 400).map(i => (i.toLong, "w " * 24 + "w", "en")) ++
      (0 until 4).map(i => (1000L + i, "w " * 24 + "w", "mi"))
    ).toDF("doc_id", "text", "lang")
    val m = TextOps.mixTemperature(docs)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (enToks, enPpm, _, enEp) = m("en")
    val (miToks, miPpm, _, miEp) = m("mi")
    assert(enToks === 100L * miToks)
    // weights proportional to sqrt(tokens): ratio 10, not 100
    assert(enPpm > 9L * miPpm && enPpm < 11L * miPpm)
    // the known temperature cost: the low-resource language samples
    // past one epoch while the high-resource one stays well under
    assert(miEp > 1000L && enEp < 1000L,
      s"mi epochs_milli=$miEp en=$enEp")
    // weights normalize (floor-division leaves at most |langs| ppm)
    assert(enPpm + miPpm > 999990L && enPpm + miPpm <= 1000000L)
  }

  test("table profile: exact stats per column, approx twin lands near") {
    import spark.implicits._
    import graft.operators.Profile
    val df = Seq[(java.lang.Long, String)](
      (1L, "en"), (2L, "en"), (3L, null), (null, "de"), (5L, "de"))
      .toDF("id", "lang")
    val p = Profile.tableProfile(df, Seq("id", "lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getString(6))).toMap
    assert(p("id") === ((5L, 4L, 1L, 4L, "1", "5")))
    assert(p("lang") === ((5L, 4L, 1L, 2L, "de", "en")))
    // the 100 TB twin: identical schema + row/null stats, HLL distinct
    // within the advertised band (exact on a tiny domain)
    val a = Profile.tableProfileApprox(df, Seq("id", "lang"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(4)))
      .toMap
    assert(a("id")._1 === 5L)
    assert(math.abs(a("id")._2 - 4L) <= 1L)
    assert(math.abs(a("lang")._2 - 2L) <= 1L)
  }

  test("runaway fixture engages the auto ceiling's hot set at zero loss") {
    import spark.implicits._
    // 400 ids: enough for tail-sharing truth pairs (149 residues) and
    // for the runaway's N/2 salient postings to tower over the p99
    val docs = TextOps.withRunawayFixture(
      spark.range(400).select(col("id").as("doc_id"), lit("x").as("text")))
    // the r14 coverage gap: the auto tier must run with a NON-empty
    // hot set here (on the raw verify corpus p99 == postings max and
    // the hot set is empty — the prune never engages)
    val hot = TextOps.autoHotTokens(docs).collect().map(_.getString(0))
    assert(hot.nonEmpty, "auto ceiling must classify some token hot")
    assert(hot.contains("zhot"),
      s"the runaway token must be above the p99 ceiling, hot=${hot.toSeq}")
    // zero loss THROUGH the engaged prune: auto-capped == uncapped
    val auto = TextOps.tfidfCosinePairsCapped(docs).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = TextOps.tfidfCosinePairs(docs,
      thresholdHundredths = 60).select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === uncapped && auto.nonEmpty,
      s"auto-capped must equal uncapped (|auto|=${auto.size}, " +
        s"|uncapped|=${uncapped.size})")
    // and the truth pairs are the shared-tail pairs plus the
    // degenerate d ≡ 0 (mod 97) class, whose 8 body slots collapse to
    // one tf-8 token (zb0, pc = 5 — still sub-ceiling, so those pairs
    // also generate through a RARE token)
    assert(auto.forall { case (a, b) =>
      a % 149 === b % 149 || (a % 97 === 0L && b % 97 === 0L) })
  }

  test("bloom semi-join output is identical to the plain semi-join") {
    import spark.implicits._
    val fact = (0L until 1000L).map(k => (k, k % 97)).toDF("fk", "payload")
    val dim = Seq(3L, 11L, 500L, 999L, 1234L).toDF("dk") // 1234 matches nothing
    val viaBloom = graft.operators.BloomJoin
      .semiJoinBloom(fact, dim, "fk", "dk", expectedItems = 100L)
      .select("fk").collect().map(_.getLong(0)).sorted
    val plain = fact.join(dim, col("fk") === col("dk"), "left_semi")
      .select("fk").collect().map(_.getLong(0)).sorted
    assert(viaBloom.toSeq === plain.toSeq && plain.length === 4)
  }

  test("bloom prefilter never drops a true key and bounds false positives") {
    import spark.implicits._
    val dimKeys = (0L until 500L).map(_ * 3)
    val bloom = graft.operators.BloomJoin.buildBloom(
      dimKeys.toDF("dk"), "dk", expectedItems = 500L, fpp = 0.03)
    val probe = (0L until 3000L).toDF("fk")
    val pass = probe
      .where(graft.operators.BloomJoin.mightContain(bloom, col("fk")))
      .collect().map(_.getLong(0)).toSet
    assert(dimKeys.forall(pass.contains), "bloom false negative")
    val fp = pass.size - dimKeys.count(_ < 3000L)
    assert(fp <= (3000 * 0.03 * 5).toInt, s"fp rate implausibly high: $fp")
  }

  test("oversized bloom build restores the session maxNumBits cap") {
    import spark.implicits._
    val confKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val prior = spark.conf.getOption(confKey)
    // pin a tiny cap so the optimal sketch for 10k expected items
    // (~73 kbit at fpp 3%) must raise it during the aggregation
    spark.conf.set(confKey, "1024")
    try {
      val dim = Seq(1L, 2L, 3L).toDF("dk")
      val bloom = graft.operators.BloomJoin.buildBloom(
        dim, "dk", expectedItems = 10000L)
      assert(bloom.nonEmpty)
      assert(spark.conf.get(confKey) === "1024",
        "buildBloom must not leak the raised cap into the session — " +
          "Spark's own runtime bloom injection sizes against it")
    } finally prior match {
      case Some(v) => spark.conf.set(confKey, v)
      case None => spark.conf.unset(confKey)
    }
  }
}
