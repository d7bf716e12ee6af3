package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, LakeMaintenance, TextOps}

/** Measurement tooling, outside the Bench/Verify contract: the probe legs
  * that still decide an open ROADMAP item, one subcommand each. Every
  * leg times min-of-2 after a warm-up run in one JVM and prints one JSON
  * line; A/B legs assert that their variants' outputs are equal before
  * any timing counts.
  *
  *   banded <sfDir> <batchPct> — cumulative stage prefixes of the banded
  *     incremental fold (idx_scan / cand / verify / fold). Serves
  *     "Banded verify: length prune". → BANDED_COST_PROBE_r{N}.json.
  *   hotband <nCorpus> <nBatch> <cap> — the adversarial hot-band fixture
  *     pricing the `maxBandPostings` cap. Serves "Banded verify: length
  *     prune". → HOTBAND_PROBE_r{N}.json.
  *   fuzzy <sfDir> — A/B of the pre-r18 name-carrying edit-distance pair
  *     formulation against [[Dedup.editDistanceIdPairs]]. Serves the
  *     `fuzzy_components` floor adjudication.
  *   foldcost <sfDir> — pair generation vs the connected-components loop
  *     on the real rep graph, plus an A/B of loop variants. Serves
  *     "Components fallback".
  *   hybridindexed <sfDir> <factor> — the index-served hybrid vs the
  *     scan-tier hybrid at ×1 and ×factor corpus. Serves the
  *     `hybrid_rrf_indexed` probe-vocabulary item. → OPS_PROBE_r{N}.json.
  *
  *   sbt "runMain graft.OpsScaleProbe <subcommand> [args ...]"
  */
object OpsScaleProbe {
  def main(args: Array[String]): Unit = {
    val rest = args.drop(1)
    args.headOption match {
      case Some("banded") => bandedCost(rest)
      case Some("hotband") => hotband(rest)
      case Some("fuzzy") => fuzzyIdPairs(rest)
      case Some("foldcost") => foldCost(rest)
      case Some("hybridindexed") => hybridIndexed(rest)
      case other => sys.error(s"unknown subcommand ${other.getOrElse("(none)")}: " +
        "expected banded | hotband | fuzzy | foldcost | hybridindexed")
    }
  }

  private def session(): SparkSession =
    GraftExtensions.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

  /** Min-of-2 wall seconds of `f` after one warm-up run, with the
    * count `f` returned. */
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

  private def bandedCost(args: Array[String]): Unit = {
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
    val (tFold, nFold) = minOf2Long(
      Dedup.jaccardComponentsIncrementalBanded(spark, assign, corpus,
        batch, idxPath, 9).count())
    println(f"[bandedcost] idx_scan=$tIdx%.2fs ($nIdx rows) " +
      f"cand=$tCand%.2fs ($nCand pairs) verify=$tVerify%.2fs " +
      f"($nVerify pairs) fold=$tFold%.2fs ($nFold rows)")
    Console.flush()
    println(f"""{"metric":"banded_cost_probe","sf":"$sfDir",""" +
      f""""batch_pct":$batchPct,""" +
      f""""idx_scan_sec":$tIdx%.3f,"idx_rows":$nIdx,""" +
      f""""cand_sec":$tCand%.3f,"cand_pairs":$nCand,""" +
      f""""verify_sec":$tVerify%.3f,"verified_pairs":$nVerify,""" +
      f""""fold_sec":$tFold%.3f,"fold_rows":$nFold}""")
    spark.stop()
  }

  /** `hotband <nCorpus> <nBatch> <cap>` — the r17 verdict #1
    * adversarial fixture at probe scale: every doc shares a 36-token
    * core (one band fingerprint per band covers nearly the whole
    * corpus), so uncapped banded candidate mass approaches
    * |batch|·|corpus| and the cap's bound (|batch band rows| × cap)
    * is the number under test. */
  private def hotband(args: Array[String]): Unit = {
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
    val (tUn, mUn) = minOf2Long(candMass(Long.MaxValue))
    val (tCap, mCap) = minOf2Long(candMass(cap))
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

  /** `fuzzy <sfDir>` — adjudicates the r18 final-commit
    * editDistanceIdPairs projection (name string dropped from the
    * variant self-join's exchange, pair order on kid — guide §2.3):
    * one-JVM A/B of the old name-carrying formulation vs the current
    * one on the real customer keys; unordered edge sets asserted
    * equal. */
  private def fuzzyIdPairs(args: Array[String]): Unit = {
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

  /** `foldcost <sfDir>` — the r19 fixpoint decomposition: pair
    * generation vs the connected-components loop on the REAL rep graph,
    * plus an A/B of loop variants (current jump through the round's own
    * stepped relation / STALE jump through the previous checkpointed
    * labels / no jump) — each variant validated against
    * [[Dedup.connectedComponents]]'s output before its timing counts. */
  private def foldCost(args: Array[String]): Unit = {
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

  /** `hybridindexed <sfDir> <factor>` — the INDEX-SERVED hybrid
    * (`hybrid_rrf_indexed`) vs the scan-tier hybrid at ×1 and ×factor
    * corpus (the smoke's own replica constructions) — the number behind
    * the [[graft.operators.TextOps.hybridRrfTopKIndexed]] serving claim.
    * Index builds (lexical postings + IVF-PQ) clock SEPARATELY as the
    * offline job they are; the serve comparison is what a query pays.
    * Expected shape: the scan tier grows with the corpus (both arms are
    * corpus-linear by declared design); the indexed serve's lexical arm
    * touches only the query terms' postings and its dense arm reads
    * probes/cells of the index — so the serve ratio should sit well
    * under the scan ratio. */
  private def hybridIndexed(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = session()
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

    def leg(tag: String, d: DataFrame, e: DataFrame): (Double, Double, Double) = {
      val lex = s"$base/lex_$tag"; val pq = s"$base/pq_$tag"
      val tb0 = System.nanoTime()
      TextOps.saveLexicalIndex(d, lex)
      graft.operators.Similarity.savePqIndex(spark, e, pq,
        m = 16, cw = 256, rounds = 2, cells = 10, cellRounds = 2)
      val build = (System.nanoTime() - tb0) / 1e9
      val (serve, _) = minOf2Long(
        TextOps.hybridRrfTopKIndexed(spark,
          e.filter(col("vec_id") < 3), lex, pq,
          numQueries = 3, kArm = 20, k = 10, m = 16).count())
      val (scan, _) = minOf2Long(
        TextOps.hybridRrfTopK(d, e, numQueries = 3, kArm = 20,
          k = 10).count())
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
    val (l1, _) = minOf2Long(TextOps.bm25DocAsQueryFromIndex(spark,
      s"$base/lex_x1", numQueries = 3, k = 20).count())
    val (lP, _) = minOf2Long(TextOps.bm25DocAsQueryFromIndex(spark,
      s"$base/lex_pert", numQueries = 3, k = 20).count())
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
