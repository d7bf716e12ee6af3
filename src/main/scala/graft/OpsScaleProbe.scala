package graft

// Measurement tooling (dev/judge, not a driver surface): adjudicates
// the two unexplained ×10 ops-smoke entries the r13 verdict flagged —
// `doc_repetition` 7.9× and `dedup_exact_normalized` 5.8× wall growth
// for ×10 tagged-replica volume, standing out against shape-siblings
// like dedup_exact_groups (1.25×, overhead-dominated). Same standard
// as MINHASH_SCALE_r13: cumulative stage prefixes at ×1 and ×N on the
// smoke's own replica construction, so the paying stage is NAMED, not
// guessed, plus a shuffle-width leg to rule out a spilling aggregation.
//
//   doc_repetition prefixes: grams (posexplode + lead window + gram
//     explode — gramRows' volume), agg1 (+ per-(doc,n,gram-hash)
//     count), full (+ the per-(doc,n) signal aggregation);
//   dedup_exact_normalized prefixes: norm (the lower + 3×regexp_replace
//     chain, forced via a length sum so column pruning can't skip it),
//     hash (+ md5 of the normalized text, same forcing), full (+ the
//     content-key groupBy).
//
// Read the numbers as PER-PREFIX ×1→×N ratios, not as cumulative stage
// deltas: each prefix is forced by its own count/aggregate action, and
// a prefix whose forcing action runs over a LARGE intermediate (agg1's
// count over the per-gram relation) can legitimately clock above a
// longer prefix whose final stage reduces before counting — the
// comparison that adjudicates is each prefix's own scaling ratio.
//
// → OPS_PROBE_r{N}.json (append-only per the probe pinning rule).
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.TextOps

object OpsScaleProbe {
  def main(args: Array[String]): Unit = {
    // Subcommand dispatch (r19, the r18 verdict #8 — probe mains fold
    // into OpsScaleProbe instead of accreting one-shot top-level
    // objects): `banded`/`hotband` are the r17/r18 BandedCostProbe
    // legs verbatim; `foldcost` decomposes the components fixpoint and
    // A/B-prices connected-components loop variants.
    args.headOption match {
      case Some("banded") => ProbeLegs.bandedCost(args.drop(1)); return
      case Some("hotband") => ProbeLegs.hotband(args.drop(1)); return
      case Some("foldcost") => ProbeLegs.foldCost(args.drop(1)); return
      case Some("pairspin") => ProbeLegs.pairsPin(args.drop(1)); return
      case Some("containment") => ProbeLegs.containmentSpread(args.drop(1)); return
      case Some("sourceoverlap") => ProbeLegs.sourceOverlapInter(args.drop(1)); return
      case Some("fuzzy") => ProbeLegs.fuzzyIdPairs(args.drop(1)); return
      case _ =>
    }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Tables.documents(spark, sfDir)
    val stride = docs1.agg(max("doc_id")).first().getLong(0) + 1
    val base = java.nio.file.Files
      .createTempDirectory("graft_opsprobe_").toString
    ScaleSmoke.scaledDocs(docs1, factor, stride).write.mode("overwrite")
      .parquet(s"$base/documents")
    val docsN = spark.read.parquet(s"$base/documents")
    docs1.count(); docsN.count() // scan warm-up

    def minOf2(f: => Unit): Double = {
      f // codegen warm-up
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    // each stage is a CUMULATIVE prefix timed at both scales
    def stages(op: String, d1: DataFrame, dN: DataFrame,
               prefixes: Seq[(String, DataFrame => Unit)]): String = {
      val cells = prefixes.map { case (tag, f) =>
        val t1 = minOf2(f(d1))
        val tN = minOf2(f(dN))
        println(f"[opsscale] $op/$tag x1=$t1%.2fs x$factor=$tN%.2fs " +
          f"ratio=${tN / t1}%.2f")
        Console.flush()
        f""""$tag":{"t1":$t1%.3f,"tN":$tN%.3f,"ratio":${tN / t1}%.2f}"""
      }
      s""""$op":{${cells.mkString(",")}}"""
    }

    val rep = stages("doc_repetition", docs1, docsN, Seq(
      // gramRows ends in a filter on the computed gram struct, so a
      // count cannot prune the explode/window work
      "grams" -> (d => TextOps.gramRows(d, Seq(1, 2, 3)).count(): Unit),
      "agg1" -> (d => TextOps.gramRows(d, Seq(1, 2, 3))
        .select(col("doc_id"), col("n"), xxhash64(col("gram")).as("gh"))
        .groupBy("doc_id", "n", "gh").agg(count(lit(1)).as("cnt"))
        .count(): Unit),
      // r15 (r14 verdict #6): the second aggregation timed separately —
      // agg1's forcing count runs over the LARGE per-gram relation
      // while full's counts the reduced per-(doc,n) rows, so the
      // agg1→full ratio gap could hide either in the per-(doc,n)
      // signal aggregation or in the forcing asymmetry; agg2 pins it
      "agg2" -> (d => TextOps.gramRows(d, Seq(1, 2, 3))
        .select(col("doc_id"), col("n"), xxhash64(col("gram")).as("gh"))
        .groupBy("doc_id", "n", "gh").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id", "n")
        .agg(sum("cnt").as("grams"), count(lit(1)).as("distinct_grams"),
          max("cnt").as("top_cnt"),
          sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0L)))
            .as("dup_grams"))
        .count(): Unit),
      "full" -> (d => TextOps.repetitionSignals(d).count(): Unit)))

    val norm = stages("dedup_exact_normalized", docs1, docsN, Seq(
      // force the projection through an aggregate — count() alone
      // would column-prune the regex chain away
      "norm" -> (d => d.select(length(TextOps.normalizedText(col("text")))
        .as("l")).agg(sum("l")).first(): Unit),
      "hash" -> (d => d.select(length(md5(TextOps.normalizedText(col("text"))
        .cast("binary"))).as("l")).agg(sum("l")).first(): Unit),
      "full" -> (d => TextOps.dedupExactNormalized(d).count(): Unit)))

    // width leg: the full ops at 32/128/512 shuffle partitions — flat
    // means no spilling aggregation, the cluster dial is not the issue
    val widths = Seq(32, 128, 512).map { parts =>
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      val tr = minOf2(TextOps.repetitionSignals(docsN).count(): Unit)
      val tn = minOf2(TextOps.dedupExactNormalized(docsN).count(): Unit)
      println(f"[opsscale] width=$parts doc_repetition=$tr%.2fs " +
        f"dedup_exact_normalized=$tn%.2fs")
      Console.flush()
      f""""p$parts":{"doc_repetition":$tr%.3f,"dedup_exact_normalized":$tn%.3f}"""
    }
    println(s"""{"metric":"ops_scale_probe","sf":"$sfDir","factor":$factor,""" +
      s"""$rep,$norm,"width_sec":{${widths.mkString(",")}}}""")
    spark.stop()
  }

}

/** The folded-in probe legs ([[OpsScaleProbe]] subcommands — r19, the
  * r18 verdict #8: no new one-shot mains at HEAD).
  *
  *   banded <sfDir> <batchPct> — cumulative stage prefixes of the
  *     banded incremental fold (idx_scan / cand / verify / fold), the
  *     r17 BandedCostProbe decomposition. → INCCOMP/BANDED probe JSON.
  *   hotband <nCorpus> <nBatch> <cap> — the adversarial hot-band
  *     fixture pricing the maxBandPostings cap (r18).
  *   foldcost <sfDir> — the r19 fixpoint decomposition: pair
  *     generation vs the connected-components loop on the REAL rep
  *     graph, plus an A/B of loop variants (current jump through the
  *     round's own stepped relation / STALE jump through the previous
  *     checkpointed labels / no jump) — each variant validated against
  *     the current loop's output before its timing counts. */
object ProbeLegs {
  import graft.operators.{Dedup, LakeMaintenance}

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def minOf2Long(f: => Long): (Double, Long) = {
    f
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (a, n) = once(); val (b, _) = once()
    (math.min(a, b), n)
  }

  def bandedCost(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchPct = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = session()
    val docs = Tables.documents(spark, sfDir)
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    val stride = maxId + 1
    val cut = maxId - maxId * batchPct / 100
    val batch = docs.filter(col("doc_id") > cut)
      .withColumn("doc_id", col("doc_id") + lit(stride))
      .withColumn("text", concat_ws(" ", col("text"), lit("inccopy")))
      .localCheckpoint()
    val corpus = docs.localCheckpoint()
    val assign = Dedup.jaccardComponents(corpus, 9).localCheckpoint()
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_bandedcost_").toString
    Dedup.saveLshBandIndex(Dedup.bagClassReps(corpus), idxPath,
      numHashes = 32, bands = 8)
    val (tIdx, nIdx) = minOf2Long(
      spark.read.parquet(s"$idxPath/bands").count())
    val (tCand, nCand) = minOf2Long {
      val qb = Dedup.lshBandFpRows(
          Dedup.minhashSignatures(batch, 32), 32, 8)
        .select(col("band_fp"), col("doc_id").as("d1"))
      val idx = spark.read.parquet(s"$idxPath/bands")
        .select(col("band_fp"), col("doc_id").as("d2"))
      qb.join(idx, "band_fp").select("d1", "d2").distinct().count()
    }
    val (tVerify, nVerify) = minOf2Long(
      Dedup.jaccardPairsAgainstCorpusBanded(spark, batch, corpus,
        idxPath, 9).count())
    // skinny-first A/B in the SAME session (r19): same output, arrays
    // attached only to lang/length survivors
    val (tVerifySk, nVerifySk) = minOf2Long(
      Dedup.jaccardPairsAgainstCorpusBanded(spark, batch, corpus,
        idxPath, 9, skinnyVerify = true).count())
    val (tFold, nFold) = minOf2Long(
      Dedup.jaccardComponentsIncrementalBanded(spark, assign, corpus,
        batch, idxPath, 9).count())
    println(f"[bandedcost] idx_scan=$tIdx%.2fs ($nIdx rows) " +
      f"cand=$tCand%.2fs ($nCand pairs) verify=$tVerify%.2fs " +
      f"verify_skinny=$tVerifySk%.2fs ($nVerify/$nVerifySk pairs) " +
      f"fold=$tFold%.2fs ($nFold rows)")
    Console.flush()
    println(f"""{"metric":"banded_cost_probe","sf":"$sfDir",""" +
      f""""batch_pct":$batchPct,""" +
      f""""idx_scan_sec":$tIdx%.3f,"idx_rows":$nIdx,""" +
      f""""cand_sec":$tCand%.3f,"cand_pairs":$nCand,""" +
      f""""verify_sec":$tVerify%.3f,"verified_pairs":$nVerify,""" +
      f""""verify_skinny_sec":$tVerifySk%.3f,""" +
      f""""verified_pairs_skinny":$nVerifySk,""" +
      f""""fold_sec":$tFold%.3f,"fold_rows":$nFold}""")
    spark.stop()
  }

  /** `hotband <nCorpus> <nBatch> <cap>` — the r17 verdict #1
    * adversarial fixture at probe scale: every doc shares a 36-token
    * core (one band fingerprint per band covers nearly the whole
    * corpus), so uncapped banded candidate mass approaches
    * |batch|·|corpus| and the cap's bound (|batch band rows| × cap)
    * is the number under test. → HOTBAND_PROBE_r{N}.json. */
  def hotband(args: Array[String]): Unit = {
    val nCorpus = args.lift(0).map(_.toInt).getOrElse(20000)
    val nBatch = args.lift(1).map(_.toInt).getOrElse(500)
    val cap = args.lift(2).map(_.toLong).getOrElse(1000L)
    val spark = session()
    val core = (1 to 36).map(i => s"c$i").mkString(" ")
    def mk(n: Int, idBase: Long, tag: String) =
      spark.range(0, n, 1, 32)
        .selectExpr(s"id + $idBase AS doc_id",
          s"concat('$core ${tag}', id, 'a ${tag}', id, 'b') AS text",
          "'en' AS lang", "'s' AS source", "40L AS n_chars")
    val corpus = mk(nCorpus, 1000000L, "x").localCheckpoint()
    val batch = mk(nBatch, 9000000L, "y").localCheckpoint()
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_hotband_probe_").toString
    Dedup.saveLshBandIndex(corpus, idxPath, numHashes = 32, bands = 8)
    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    // candidate mass per regime — count BEFORE distinct (the join's
    // raw output is what explodes; distinct is damage already done)
    def candMass(capV: Long): Long = {
      val qb = Dedup.lshBandFpRows(
          Dedup.minhashSignatures(batch, 32), 32, 8)
        .withColumn("fp_pfx", substring(col("band_fp"), 1,
          Dedup.bandPfxWidthOf(spark, idxPath)))
        .select(col("fp_pfx"), col("band_fp"), col("doc_id").as("d1"))
      val idx = LakeMaintenance.readPartitionedString(spark, s"$idxPath/bands", "fp_pfx")
        .select(col("fp_pfx"), col("band_fp"), col("doc_id").as("d2"))
      val hot = idx.join(qb.select("fp_pfx", "band_fp").distinct(),
          Seq("fp_pfx", "band_fp"), "left_semi")
        .groupBy("fp_pfx", "band_fp").agg(count(lit(1)).as("plen"))
        .filter(col("plen") > capV).select("fp_pfx", "band_fp")
      qb.join(idx.join(hot, Seq("fp_pfx", "band_fp"), "left_anti"),
        Seq("fp_pfx", "band_fp")).count()
    }
    val (tUn, mUn) = timed(candMass(Long.MaxValue))
    val (tCap, mCap) = timed(candMass(cap))
    val audit = Dedup.bandedHotBands(spark, batch, idxPath, cap)
      .agg(count(lit(1)), coalesce(max("plen"), lit(0L)),
        coalesce(sum("skipped_candidates"), lit(0L))).first()
    val qbRows = Dedup.lshBandFpRows(
      Dedup.minhashSignatures(batch, 32), 32, 8).count()
    val bound = qbRows * cap
    println(f"[hotband] corpus=$nCorpus batch=$nBatch cap=$cap " +
      f"uncapped=$mUn (${tUn}%.2fs) capped=$mCap (${tCap}%.2fs) " +
      f"bound=$bound hot_bands=${audit.getLong(0)} " +
      f"max_plen=${audit.getLong(1)} skipped=${audit.getLong(2)}")
    Console.flush()
    println(f"""{"metric":"hotband_probe","n_corpus":$nCorpus,""" +
      f""""n_batch":$nBatch,"cap":$cap,""" +
      f""""uncapped_cand":$mUn,"uncapped_sec":$tUn%.3f,""" +
      f""""capped_cand":$mCap,"capped_sec":$tCap%.3f,""" +
      f""""cand_bound":$bound,"hot_bands":${audit.getLong(0)},""" +
      f""""max_plen":${audit.getLong(1)},""" +
      f""""skipped_candidates":${audit.getLong(2)}}""")
    spark.stop()
  }

  /** `pairspin <sfDir>` — one-JVM A/B of the docTokens lazy pin inside
    * jaccardPairsOf (r19, the r18 verdict #5): the aggregated per-doc
    * sorted-array relation is consumed 3× (prefix length join + both
    * verify sides) and each pass re-runs the explode + groupBy +
    * sort_array; the pin trades those re-runs for one materialization
    * of an arrays-wide relation. Word tier and ngram tier, both ways,
    * min-of-2 in the same session so the JVM ramp cancels. */
  def pairsPin(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    // raw parquet scan, exactly the declared queries' input shape (a
    // checkpointed docs relation was measured to distort the A/B: it
    // collapses the scan to the checkpoint's partitioning for every
    // consumer, taxing the unpinned side 3x)
    val docs = Tables.documents(spark, sfDir)
    docs.count() // footer warm-up off-clock
    def word(pin: Boolean) = Dedup.jaccardPairsOf(
      Dedup.tokenPostings(docs).select(col("doc_id"), col("lang"),
        xxhash64(col("token")).as("tid")), 9, pinDocTokens = pin)
    def ngram(pin: Boolean) = Dedup.jaccardPairsOf(
      Dedup.ngramIdPostings(docs, 12), 9, pinDocTokens = pin)
    val cells = Seq(
      ("word_nopin", () => word(false)), ("word_pin", () => word(true)),
      ("ngram_nopin", () => ngram(false)), ("ngram_pin", () => ngram(true))
    ).map { case (tag, f) =>
      val (t, n) = minOf2Long(f().count())
      println(f"[pairspin] $tag min2=$t%.2fs rows=$n")
      Console.flush()
      f""""$tag":$t%.3f"""
    }
    println(s"""{"metric":"pairspin_probe","sf":"$sfDir",""" +
      s""""sec":{${cells.mkString(",")}}}""")
    spark.stop()
  }

  /** `fuzzy <sfDir>` — adjudicates the r18 final-commit
    * editDistanceIdPairs projection (name string dropped from the
    * variant self-join's exchange, pair order on kid — guide §2.3):
    * one-JVM A/B of the old name-carrying formulation vs the current
    * one on the real customer keys; unordered edge sets asserted
    * equal. */
  def fuzzyIdPairs(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val keyed = Tables.customer(spark, sfDir)
      .select(col("c_name").cast("string").as("n"),
        col("c_custkey").cast("long").as("id"))
      .filter(col("n").isNotNull && length(col("n")) >= 1)
      .groupBy("n").agg(min("id").as("kid"))
      .localCheckpoint()
    def oldForm(): DataFrame = {
      val dels = Dedup.deletionVariantsKeyed(keyed.select(col("n"), col("kid")))
      val subs = dels.as("a")
        .join(dels.as("b"),
          col("a.bk") === col("b.bk") && col("a.pos") === col("b.pos") &&
            col("a.n") < col("b.n"))
        .select(col("a.kid").as("d1"), col("b.kid").as("d2"))
      val insdel = dels.as("d")
        .join(keyed.as("s"), col("d.bk") === col("s.n"))
        .select(least(col("d.kid"), col("s.kid")).as("d1"),
          greatest(col("d.kid"), col("s.kid")).as("d2"))
        .distinct()
      subs.unionByName(insdel)
    }
    def norm(df: DataFrame) = df.select(
        least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    require(norm(oldForm()) == norm(Dedup.editDistanceIdPairs(keyed)),
      "edge sets diverged")
    val (tOld, _) = minOf2Long(oldForm().count())
    val (tNew, _) = minOf2Long(Dedup.editDistanceIdPairs(keyed).count())
    println(f"[fuzzy] idpairs_old=$tOld%.2fs idpairs_new=$tNew%.2fs")
    Console.flush()
    println(f"""{"metric":"fuzzy_idpairs_probe","sf":"$sfDir",""" +
      f""""old_sec":$tOld%.3f,"new_sec":$tNew%.3f}""")
    spark.stop()
  }

  /** `sourceoverlap <sfDir>` — adjudicates the r18 final-commit
    * exact-intersection rewrite (gram-keyed self-join → per-gram
    * sorted collect_set + in-place pair expansion, guide §2.5 skew by
    * construction) with a one-JVM A/B over the SAME pinned grams
    * relation; per-pair intersections asserted equal. */
  def sourceOverlapInter(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val docs = Tables.documents(spark, sfDir)
    val n = 3
    val grams = docs
      .select(col("source"), split(col("text"), " ").as("ts"))
      .select(col("source"), explode(expr(
        s"""CASE WHEN size(ts) < $n THEN array(concat_ws(' ', ts)) ELSE
           |  transform(sequence(0, size(ts) - $n),
           |            i -> concat_ws(' ', slice(ts, i + 1, $n)))
           |END""".stripMargin)).as("gram"))
      .distinct()
      .localCheckpoint()
    def interSet(): DataFrame = grams.groupBy("gram")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (x, i) -> " +
          "transform(slice(ss, i + 2, size(ss) - i - 1), " +
          "y -> struct(x AS src_a, y AS src_b))))")).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    def interJoin(): DataFrame = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    def rows(df: DataFrame) = df.collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    require(rows(interSet()) == rows(interJoin()),
      "inter formulations diverged")
    val (tJoin, _) = minOf2Long(interJoin().count())
    val (tSet, _) = minOf2Long(interSet().count())
    println(f"[sourceoverlap] inter_join=$tJoin%.2fs inter_set=$tSet%.2fs")
    Console.flush()
    println(f"""{"metric":"source_overlap_inter_probe","sf":"$sfDir",""" +
      f""""join_sec":$tJoin%.3f,"set_sec":$tSet%.3f}""")
    spark.stop()
  }

  /** `containment <sfDir>` — one-JVM A/B of the brute-verify
    * probe-side spread (r19, the r18 verdict #4): without the
    * repartition, AQE coalesces the ~4k-row rep docTokens probe to one
    * partition and the 9.1 M-pair intersect fan-out serializes on one
    * core (the 0.63 8-vs-32-core scaling row). Rep relation + brute
    * switch resolved once off-clock; both variants' outputs asserted
    * equal. */
  def containmentSpread(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val docs = Tables.documents(spark, sfDir)
    docs.count()
    def run(spread: Boolean): DataFrame = {
      val (_, repDocs) = Dedup.bagQuotientPlans(docs)
      Dedup.containmentPairsOf(repDocs, 9, bruteVerify = true,
        spreadProbe = spread)
    }
    val nS = run(spread = true).count()
    val nU = run(spread = false).count()
    require(nS == nU, s"spread changed the output: $nS vs $nU")
    val (tU, _) = minOf2Long(run(spread = false).count())
    val (tS, _) = minOf2Long(run(spread = true).count())
    println(f"[containment] rep_pairs_verified=$nS " +
      f"nospread=$tU%.2fs spread=$tS%.2fs")
    Console.flush()
    println(f"""{"metric":"containment_spread_probe","sf":"$sfDir",""" +
      f""""verified":$nS,"nospread_sec":$tU%.3f,"spread_sec":$tS%.3f}""")
    spark.stop()
  }

  def foldCost(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = session()
    val docs = Tables.documents(spark, sfDir)
    // the REAL rep graph the declared dedup_components runs its
    // fixpoint on (bag-quotiented), pairs pinned off-clock
    val pairs = Dedup.jaccardPairs(Dedup.bagClassReps(docs), 9)
      .select("d1", "d2").localCheckpoint()
    val nPairs = pairs.count()
    val (tPairs, _) = minOf2Long(
      Dedup.jaccardPairs(Dedup.bagClassReps(docs), 9).count())
    val truth = Dedup.connectedComponents(pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))

    // --- loop variants on the pinned edge list ---
    def loop(jump: String): DataFrame = {
      val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(pairs.select(col("d2").as("src"), col("d1").as("dst")))
        .distinct()
        .repartition(col("dst"))
        .localCheckpoint()
      var labels = edges.groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("min_nbr"))
        .select(col("id"), least(col("id"), col("min_nbr")).as("comp"))
        .localCheckpoint()
      var sum = labels.agg(coalesce(
        org.apache.spark.sql.functions.sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).first().getDecimal(0)
      var converged = false
      var i = 0
      while (!converged && i < 30) {
        def step(l: DataFrame): DataFrame = edges
          .join(l.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("comp"))
          .unionByName(l)
          .groupBy("id").agg(min("comp").as("comp"))
        val stepped =
          if (jump == "double_stale") step(step(labels)) else step(labels)
        val next = jump match {
          case "current" =>
            val j = stepped.select(col("id").as("jid"), col("comp").as("jcomp"))
            stepped.join(j, col("comp") === col("jid"), "left")
              .select(col("id"),
                least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
          case "stale" | "double_stale" =>
            // pointer jump through the PREVIOUS round's checkpointed
            // labels: comp's label as of round i-1 — still a member of
            // the same component and <= comp, so monotone and safe
            val j = labels.select(col("id").as("jid"), col("comp").as("jcomp"))
            stepped.join(j, col("comp") === col("jid"), "left")
              .select(col("id"),
                least(col("comp"), coalesce(col("jcomp"), col("comp"))).as("comp"))
          case _ => stepped
        }
        labels = next.localCheckpoint()
        val s = labels.agg(coalesce(
          org.apache.spark.sql.functions.sum(col("comp").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).first().getDecimal(0)
        converged = s.compareTo(sum) == 0
        sum = s
        i += 1
      }
      println(s"[foldcost] variant=$jump rounds=$i")
      labels.select(col("id").as("doc_id"), col("comp").as("component"))
    }
    val variants = Seq("current", "stale", "double_stale", "none").map { v =>
      val got = loop(v).orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(got.sameElements(truth), s"variant $v diverged from truth")
      val (t, _) = minOf2Long(loop(v).count())
      println(f"[foldcost] variant=$v min2=$t%.2fs")
      Console.flush()
      f""""$v":$t%.3f"""
    }
    println(f"""{"metric":"foldcost_probe","sf":"$sfDir",""" +
      f""""rep_pairs":$nPairs,"pairs_sec":$tPairs%.3f,""" +
      f""""cc_variants_sec":{${variants.mkString(",")}}}""")
    spark.stop()
  }
}

/** r16 scale leg (runMain graft.HybridScaleLeg): ×1 vs ×factor wall
  * for `hybrid_rrf` on matched doc+embedding replicas (the smoke's
  * own scaledDocs/scaledEmb constructions). Both arms are
  * corpus-linear scans (token scan / probe×corpus dot) and the fusion
  * is ≤ 2·kArm rows per query by construction — the leg verifies the
  * measured growth tracks that claim. → OPS_PROBE_r{N}.json */

object HybridScaleLeg {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Tables.documents(spark, sfDir)
    val emb1 = Tables.embeddings(spark, sfDir)
    val dStride = docs1.agg(max("doc_id")).first().getLong(0) + 1
    val eStride = emb1.agg(max("vec_id")).first().getLong(0) + 1
    val base = java.nio.file.Files
      .createTempDirectory("graft_hybridscale_").toString
    ScaleSmoke.scaledDocs(docs1, factor, dStride).write.mode("overwrite")
      .parquet(s"$base/documents")
    ScaleSmoke.scaledEmb(emb1, factor, eStride).write.mode("overwrite")
      .parquet(s"$base/embeddings")
    val docsN = spark.read.parquet(s"$base/documents")
    val embN = spark.read.parquet(s"$base/embeddings")
    docs1.count(); docsN.count(); emb1.count(); embN.count()

    def minOf2(f: => Unit): Double = {
      f
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    def run(d: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame): Unit =
      TextOps.hybridRrfTopK(d, e, numQueries = 3, kArm = 20, k = 10)
        .count(): Unit
    val t1 = minOf2(run(docs1, emb1))
    val tN = minOf2(run(docsN, embN))
    println(f"[hybridscale] x1=$t1%.3fs x$factor=$tN%.3fs " +
      f"ratio=${tN / t1}%.2f")
    Console.flush()
    println(f"""{"metric":"hybrid_scale_probe","sf":"$sfDir",""" +
      f""""factor":$factor,"t1":$t1%.3f,"tN":$tN%.3f,""" +
      f""""ratio":${tN / t1}%.2f}""")
    spark.stop()
  }
}

/** r17 scale leg (runMain graft.HybridIndexedScaleLeg): the
  * INDEX-SERVED hybrid (`hybrid_rrf_indexed`) vs the scan-tier hybrid
  * at ×1 and ×factor corpus — the number behind the
  * [[graft.operators.TextOps.hybridRrfTopKIndexed]] serving claim.
  * Index builds (lexical postings + IVF-PQ) clock SEPARATELY as the
  * offline job they are; the serve comparison is what a query pays.
  * Expected shape: the scan tier grows with the corpus (both arms are
  * corpus-linear by declared design); the indexed serve's lexical arm
  * touches only the query terms' postings and its dense arm reads
  * probes/cells of the index — so the serve ratio should sit well
  * under the scan ratio. → OPS_PROBE_r{N}.json */
object HybridIndexedScaleLeg {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Tables.documents(spark, sfDir)
    val emb1 = Tables.embeddings(spark, sfDir)
    val dStride = docs1.agg(max("doc_id")).first().getLong(0) + 1
    val eStride = emb1.agg(max("vec_id")).first().getLong(0) + 1
    val base = java.nio.file.Files
      .createTempDirectory("graft_hybridxscale_").toString
    ScaleSmoke.scaledDocs(docs1, factor, dStride).write.mode("overwrite")
      .parquet(s"$base/documents")
    ScaleSmoke.scaledEmb(emb1, factor, eStride).write.mode("overwrite")
      .parquet(s"$base/embeddings")
    val docsN = spark.read.parquet(s"$base/documents")
    val embN = spark.read.parquet(s"$base/embeddings")
    docs1.count(); docsN.count(); emb1.count(); embN.count()

    def minOf2(f: => Unit): Double = {
      f
      def once(): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      math.min(once(), once())
    }
    def leg(tag: String, d: org.apache.spark.sql.DataFrame,
            e: org.apache.spark.sql.DataFrame): (Double, Double, Double) = {
      val lex = s"$base/lex_$tag"; val pq = s"$base/pq_$tag"
      val tb0 = System.nanoTime()
      TextOps.saveLexicalIndex(d, lex)
      graft.operators.Similarity.savePqIndex(spark, e, pq,
        m = 16, cw = 256, rounds = 2, cells = 10, cellRounds = 2)
      val build = (System.nanoTime() - tb0) / 1e9
      val serve = minOf2(
        TextOps.hybridRrfTopKIndexed(spark,
          e.filter(col("vec_id") < 3), lex, pq,
          numQueries = 3, kArm = 20, k = 10, m = 16).count(): Unit)
      val scan = minOf2(
        TextOps.hybridRrfTopK(d, e, numQueries = 3, kArm = 20,
          k = 10).count(): Unit)
      (build, serve, scan)
    }
    val (b1, s1, c1) = leg("x1", docs1, emb1)
    val (bN, sN, cN) = leg("xN", docsN, embN)
    // LEXICAL BUCKETED-PRUNE leg (r18, the r17 verdict #2's "show the
    // ratio drop"): the scaled replicas above SHARE the base
    // vocabulary, so the probe terms' postings genuinely grow xN and
    // no layout can shrink them — the corpus-linear floor of lexical
    // serving on a vocabulary-saturating query. The lake-realistic
    // shape is the PERTURBED replica set (zero shared vocabulary:
    // global vocab grows xN, the probe docs' terms stay a 1/N slice),
    // where the token-bucketed directory prune + sorted row groups
    // should hold the lexical serve near-flat while the corpus grows
    // xN. Measured on the lexical arm alone to isolate the layout.
    ScaleSmoke.perturbedDocs(docs1, factor, dStride).write
      .mode("overwrite").parquet(s"$base/documents_pert")
    val docsP = spark.read.parquet(s"$base/documents_pert")
    docsP.count()
    TextOps.saveLexicalIndex(docsP, s"$base/lex_pert")
    val l1 = minOf2(TextOps.bm25DocAsQueryFromIndex(spark,
      s"$base/lex_x1", numQueries = 3, k = 20).count(): Unit)
    val lP = minOf2(TextOps.bm25DocAsQueryFromIndex(spark,
      s"$base/lex_pert", numQueries = 3, k = 20).count(): Unit)
    println(f"[hybridxscale] x1 build=$b1%.3f serve=$s1%.3f scan=$c1%.3f" +
      f" | x$factor build=$bN%.3f serve=$sN%.3f scan=$cN%.3f" +
      f" | serve ratio=${sN / s1}%.2f scan ratio=${cN / c1}%.2f" +
      f" | lex pert x1=$l1%.3f xN=$lP%.3f ratio=${lP / l1}%.2f")
    Console.flush()
    println(f"""{"metric":"hybrid_indexed_scale_probe","sf":"$sfDir",""" +
      f""""factor":$factor,"build_x1":$b1%.3f,"build_xN":$bN%.3f,""" +
      f""""serve_x1":$s1%.3f,"serve_xN":$sN%.3f,""" +
      f""""scan_x1":$c1%.3f,"scan_xN":$cN%.3f,""" +
      f""""serve_ratio":${sN / s1}%.2f,"scan_ratio":${cN / c1}%.2f,""" +
      f""""lex_pert_x1":$l1%.3f,"lex_pert_xN":$lP%.3f,""" +
      f""""lex_pert_ratio":${lP / l1}%.2f}""")
    spark.stop()
  }
}
