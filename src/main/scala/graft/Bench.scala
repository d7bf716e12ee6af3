package graft

/** Driver-run benchmark: times every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  * An untimed warm-up action absorbs JVM/session/parquet-footer startup
  * so per-query numbers measure the queries, not the cold JVM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftExtensions.session(cpus.toInt)

    // Warm-up (untimed): JVM classloading, codegen, parquet footers.
    Tables.All.foreach(t => Tables.load(spark, sfDir, t).count())

    // Timed repeats per query, report the MINIMUM: container CPU
    // contention swings single-shot totals ±30%, and min-of-k is the
    // standard noise floor estimator for a deterministic workload.
    // Repeats run ROUND-ROBIN across the suite (all queries pass 1,
    // then pass 2, then a pass 3 for sub-second queries) rather than
    // back-to-back per query: a transient multi-second load spike then
    // poisons at most one sample of many queries — recoverable by the
    // min — instead of BOTH samples of one query, which r3's artifact
    // showed as phantom 8× regressions on the matmul family.
    // Sub-second queries get the THIRD pass: noise there is a large
    // multiple of the true time (a ±0.3 s swing doubles a 0.3 s query),
    // so two samples routinely report phantom 2× regressions; the extra
    // repeat costs <1 s each by construction.
    // Dev-only subset filter (SPARK_GRAFT_ONLY=q1,q2) for tuning a hot
    // query without paying for the whole suite; driver sets it never.
    // An undeclared name fails: a typo'd name would otherwise bench an
    // empty suite and print a suspiciously fast "clean" total.
    val only = SparkEntry.onlyNames
    val suite = SparkEntry.select(only).map(_.name)
    def once(name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          // a failed query must be visible, not a plausible elapsed time
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0
      }
    }
    // CALIBRATION ANCHOR: a fixed synthetic workload — one codegen'd
    // scan over a generated range plus one small fixed-size shuffle —
    // timed before and after the suite. Its true cost is a machine
    // constant independent of sfDir and of any engine change, so
    // round-over-round artifact comparisons divide it out to normalize
    // ambient container load (r3 and r4 both re-litigated phantom
    // 2× "regressions" that were shared-machine contention: every
    // unchanged query inflated uniformly, which is exactly the
    // signature the anchor now measures directly).
    // SETTLED min-of-3 (r11): the PRE anchor runs ~30 s into the
    // JVM's life, the POST anchor ~10 min — and three refused r11
    // captures on an idle host (loadavg_pre 0.72/0.89, pre/post
    // 1.50-1.64x, same direction every time) showed one warm-up +
    // min-of-3 does not read host throughput. Generated code is not
    // the gap: at sf0.01 on 4 cores the PRE anchors compile 15
    // classes and the POST anchors 0 (9 at Spark's 100-entry codegen
    // cache), all in the untimed warm-up call, yet POST still read
    // 0.126 s against PRE 0.321 s. Warm until two
    // consecutive samples agree within 10% (cap 8 extra runs, ~3 s)
    // so BOTH ends of the run measure the same settled state; a real
    // mid-run host shift still moves the settled post anchor and
    // still refuses the write.
    def settledMin(one: () => Double): Double = {
      one() // codegen warm-up, untimed
      var prev = one()
      var cur = one()
      var n = 0
      while (n < 8 && math.abs(cur - prev) > 0.1 * prev) {
        prev = cur; cur = one(); n += 1
      }
      Seq.fill(3)(one()).min
    }
    def calibrate(): Double = settledMin { () =>
      val t0 = System.nanoTime()
      spark.range(0, 4000000L, 1, 32)
        .selectExpr("id % 997 AS k", "id AS v")
        .groupBy("k").sum("v").count()
      (System.nanoTime() - t0) / 1e9
    }
    // STRING anchor (r8): the integer anchor above was FLAT across a
    // measured ~1.2-1.5× host drift on every string-split-explode
    // query (r6 vs r8 quiet captures, identical code) — container
    // moves change string/memory throughput independently of integer
    // ALU throughput, and most of this suite is string-shaped. A
    // second anchor exercising split+explode+string-groupBy makes that
    // axis measurable, so bench_compare can tell string-host drift
    // from a plan regression.
    def calibrateStr(): Double = settledMin { () =>
      val t0 = System.nanoTime()
      spark.range(0, 400000L, 1, 32)
        .selectExpr("concat_ws(' ', 'alpha', 'beta', 'gamma', 'delta', " +
          "'epsilon', CAST(id % 9973 AS STRING)) AS s")
        .selectExpr("explode(split(s, ' ')) AS t")
        .groupBy("t").count().count()
      (System.nanoTime() - t0) / 1e9
    }
    // HOST LOAD, recorded: the r6 artifacts diverged 143.8 s (driver)
    // vs 102.4 s (builder) purely on ambient shared-host load the
    // calibration anchors only partially expose — /proc/loadavg at
    // start and end makes external load a recorded fact instead of a
    // post-hoc argument (bench_compare prints both).
    def loadavg(): Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // LOAD GUARD (r7 verdict; tightened r10): the artifact of record
    // must never be a loaded capture (r7's committed 131.8 s vs
    // 127.7 s quiet; r9's accepted loadavg_pre 1.86 carried ~1.34×
    // anchor drift and two unadjudicable 30% per-query swings — the
    // old < 2 gate held the letter, not the spirit). Before timing
    // anything, wait for the 1-minute loadavg to decay under
    // SPARK_GRAFT_MAX_LOAD (default 1.0: genuinely quiet, not merely
    // half-loaded), up to SPARK_GRAFT_LOAD_WAIT seconds (default 600).
    // Dev subset runs skip the wait — they never write the artifact.
    // If the host never quiets, the run proceeds (the stdout line
    // still reports) but the artifact write is refused below, so a
    // loaded capture can't become the file of record.
    val maxLoad = sys.env.get("SPARK_GRAFT_MAX_LOAD").map(_.toDouble)
      .getOrElse(1.0)
    val loadWaitS = sys.env.get("SPARK_GRAFT_LOAD_WAIT").map(_.toLong)
      .getOrElse(600L)
    if (only.isEmpty) {
      val deadline = System.nanoTime() + loadWaitS * 1000000000L
      while (loadavg() > maxLoad && System.nanoTime() < deadline) {
        System.err.println(f"[bench] loadavg ${loadavg()}%.2f > $maxLoad%.1f" +
          " — waiting for the host to quiet before timing")
        Thread.sleep(15000L)
      }
    }
    // Codegen compiles per stage of the run, to stderr: a pass that
    // recompiles what an earlier one compiled shows here, not in stdout.
    def compiling[A](stage: String)(body: => A): A = {
      val before = CodegenStats.now()
      val out = body
      System.err.println(s"[bench] codegen $stage: ${CodegenStats.now() - before}")
      out
    }
    val loadPre = loadavg()
    val (calibPre, calibStrPre) =
      compiling("pre anchors")((calibrate(), calibrateStr()))
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    compiling("pass 1")(suite.foreach { name => best(name) = once(name) })
    // pass 2: every non-failed query (don't re-run failures — a slow
    // failure would double the wall cost with no effect on the -1.0)
    compiling("pass 2")(suite.foreach { name =>
      if (best(name) >= 0) once(name) match {
        case t if t >= 0 => best(name) = math.min(best(name), t)
        case _ =>
      }
    })
    // pass 3: sub-second queries only
    compiling("pass 3")(suite.foreach { name =>
      if (best(name) >= 0 && best(name) < 1.0) once(name) match {
        case t if t >= 0 => best(name) = math.min(best(name), t)
        case _ =>
      }
    })
    // MECHANICAL RE-ADJUDICATION (r11, the verdict ask): the r10
    // artifact of record shipped dedup_components 10.05 s and
    // dedup_containment 6.31 s that measured 5.96/2.85 s solo — suite-
    // context noise the pre/post anchors can't see (they bracket the
    // RUN, not the window where a spike lands), and the house rule
    // ("adjudicate in-suite flags with a quiet SOLO re-run") was
    // manual. Now it is code: any query whose min-of-passes still
    // reads > 1.5x its number in the PREVIOUS artifact of record (and
    // > 0.3 s absolute, so sub-second jitter doesn't churn) re-runs
    // SOLO after the whole suite — min of 2 — and keeps the best of
    // all samples. Genuine regressions survive (the solo run confirms
    // them); suite-context phantoms die here instead of in a judge's
    // re-measurement. The adjudicated names ship in the artifact
    // (`readjudicated`) so a reader can see which numbers were flagged.
    // committed-file twin of the stdout line (written below); also the
    // default previous-artifact-of-record to adjudicate against.
    // SPARK_GRAFT_BENCH_OUT names the file (per-round artifacts, e.g.
    // BENCH_FULL_r06.json, so the file of record says which round).
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // SPARK_GRAFT_BENCH_PREV accepts a ':'-separated LIST of artifacts
    // (r17, the r16 verdict #5): the FIRST is the previous artifact of
    // record (anchors + the single-window baseline); the per-query MIN
    // over ALL of them is the cross-capture noise floor
    // (scripts/bench_merge.py's estimator, computed in-process).
    // Gate = AND of both baselines — MEASURED, not assumed: across the
    // nine r16 same-code captures, floor-only gating flags 63 rows
    // (the floor is the fastest view, so ordinary window jitter
    // clears 1.5x of it constantly) vs 7 for single-only; the AND
    // keeps those same 7 genuinely-slow-in-window rows while pruning
    // the lucky-fast-prev class single-only churns on. One path given
    // -> floor == single, the r16 behavior unchanged.
    val prevPaths = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", benchOut)
      .split(":").map(_.trim).filter(_.nonEmpty).toSeq
    val prevPath = prevPaths.headOption.getOrElse(benchOut)
    // REAL JSON parse (r12, the r11 ADVICE item): the artifact is
    // machine-written single-line JSON, and the hand-rolled regex this
    // replaces silently yielded an EMPTY prev map — disabling solo
    // re-adjudication with no warning — on any format drift
    // (scientific notation, pretty-printing, reordered keys). The
    // session's own JSON reader is the parser that is guaranteed
    // present; per-query values surface as double/long/decimal
    // depending on inference, all folded to double. A file that
    // exists but parses to an empty map now WARNS instead of quietly
    // benching ungated.
    // prev ANCHORS too (r16 gate redesign, the r15 verdict #2): the
    // artifact's calib_{,str_}{pre,post} fields are the like-state
    // baselines the new cross-capture gate compares against.
    var prevAnchors: Map[String, Double] = Map.empty
    // ONE per-query artifact parser for the prev baseline AND every
    // floor artifact (r18, the r17 ADVICE item — the floor fold
    // duplicated this parse but collapsed failures with .toOption,
    // silently dropping non-numeric entries and quietly weakening the
    // noise floor): per-field Try (r13) with a loud per-skip warning,
    // a missing file or whole-file parse failure warns and yields an
    // empty map so gating stays live for whatever did parse.
    def toDouble(v: Any): Double = v match {
      case d: java.lang.Double => d.doubleValue
      case l: java.lang.Long => l.toDouble
      case bd: java.math.BigDecimal => bd.doubleValue
      case bd: scala.math.BigDecimal => bd.toDouble
      case s: String => s.toDouble
      case other => other.toString.toDouble
    }
    def parseQueryFields(path: String): Map[String, Double] = {
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path))) {
        System.err.println(s"[bench] no artifact at $path — skipped " +
          "for gating")
        return Map.empty
      }
      try {
        val df = spark.read.json(path).select("queries.*")
        val row = df.head()
        df.schema.fieldNames.zipWithIndex.flatMap { case (n, i) =>
          if (row.isNullAt(i)) None
          else scala.util.Try(toDouble(row.get(i))) match {
            case scala.util.Success(v) => Some(n -> v)
            case scala.util.Failure(e) =>
              System.err.println(s"[bench] $path queries.$n is " +
                s"non-numeric (${e.getMessage}) — skipping this entry, " +
                "gating stays enabled for the rest")
              None
          }
        }.toMap
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $path exists but failed to parse " +
          s"(${e.getMessage}) — skipped for gating; inspect the artifact")
        Map.empty
      }
    }
    val prevQ: Map[String, Double] = {
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(prevPath))) {
        // PRE anchors only (r17, the r16 ADVICE item): the gate's
        // cross-capture legs compare like-state pre-vs-prev-pre, and
        // the post legs are WITHIN-run by design (post-vs-prev-post
        // was tried and refuted — ramp depth varies across clean
        // windows), so parsing prev post fields suggested an input
        // the gate deliberately does not use.
        prevAnchors = scala.util.Try(spark.read.json(prevPath)) match {
          case scala.util.Success(full) =>
            Seq("calib_pre", "calib_str_pre").flatMap { f =>
              scala.util.Try(f -> toDouble(full.select(f).head().get(0)))
                .toOption
            }.toMap
          case scala.util.Failure(_) => Map.empty
        }
      }
      val m = parseQueryFields(prevPath)
      if (m.isEmpty) System.err.println(s"[bench] $prevPath yielded no " +
        "query baselines — solo re-adjudication disabled; inspect the " +
        "artifact")
      m
    }
    // cross-capture noise floor (r17, the r16 verdict #5): per-query
    // MIN over every artifact in SPARK_GRAFT_BENCH_PREV — the
    // bench_merge.py estimator in-process, through the SAME loud
    // parser as the prev baseline. One path -> floor == single.
    val floorQ: Map[String, Double] =
      prevPaths.drop(1).foldLeft(prevQ) { (acc, path) =>
        val m = parseQueryFields(path)
        (acc.keySet ++ m.keySet).iterator.map { k =>
          k -> math.min(acc.getOrElse(k, Double.MaxValue),
            m.getOrElse(k, Double.MaxValue))
        }.toMap
      }
    // Gate (r12, the r11 verdict ask): 1.5x for everything, tightened
    // to 1.3x once the previous number exceeds 2 s — pipeline_curate_v4
    // slid 2.75 → 3.82 s (1.39x) under the uniform 1.5x gate, and at
    // multi-second scale the 0.3 s absolute floor is trivially cleared
    // by real regressions and noise alike, so the solo run must decide.
    // r17: a row flags only if it regressed against BOTH the previous
    // artifact of record AND the min-merged noise floor (a genuine
    // regression clears both by construction, floor <= single; a
    // lucky-fast single-window prev no longer churns a solo re-run on
    // its own — measured rates in the SPARK_GRAFT_BENCH_PREV note).
    def regressed(cur: Double, p: Double): Boolean =
      p > 0 && cur - p > 0.3 &&
        (cur > 1.5 * p || (p > 2.0 && cur > 1.3 * p))
    val flagged = suite.collect { case name
      if best(name) >= 0 && prevQ.get(name).exists(p =>
        regressed(best(name), p)) && floorQ.get(name).exists(p =>
        regressed(best(name), p)) => name }
    flagged.foreach { name =>
      System.err.println(f"[bench] ${name} ${best(name)}%.2fs over gate vs " +
        f"prev ${prevQ(name)}%.2fs — solo re-adjudication")
      val solos = Seq.fill(2)(once(name)).filter(_ >= 0)
      if (solos.nonEmpty) best(name) = math.min(best(name), solos.min)
    }
    // ms precision keeps the 100+-entry line short enough that a
    // tail-truncating log capture still holds the whole map (r3's
    // artifact lost 45 entries); total goes LAST for the same reason.
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = best.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // total counts successful queries only — summing the -1.0 failure
    // sentinels would make a broken run look faster than a clean one
    val total = best.values.filter(_ >= 0).sum
    val (calibPost, calibStrPost) =
      compiling("post anchors")((calibrate(), calibrateStr()))
    val loadPost = loadavg()
    val readj = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // field ORDER is load-bearing (r14, the r13 verdict's top ask): the
    // driver's log capture keeps the TAIL of this line, and r13's
    // committed BENCH_r13.json lost every head field — including the
    // loadavg/calibration evidence two consecutive rounds needed to
    // adjudicate ambient noise. The big queries map goes FIRST so what
    // truncation drops is per-query detail; the ambient fields +
    // readjudicated list + total survive any tail clip.
    val line = s"""{"metric":"total","sf":"$sfDir","queries":$qs,"calib_pre":${fmt(calibPre)},"calib_post":${fmt(calibPost)},"calib_str_pre":${fmt(calibStrPre)},"calib_str_post":${fmt(calibStrPost)},"loadavg_pre":${fmt(loadPre)},"loadavg_post":${fmt(loadPost)},"readjudicated":$readj,"unit":"sec","value":${fmt(total)}}"""
    println(line)
    // committed-file twin of the stdout line: the driver's tail capture
    // has dropped 29-45 head entries two rounds running; the full
    // artifact must survive regardless of how the log is clipped.
    // SPARK_GRAFT_ONLY dev runs skip the write — a partial suite
    // claiming metric=total must never clobber the committed artifact.
    if (only.nonEmpty)
      System.err.println("[bench] SPARK_GRAFT_ONLY active — skipping " +
        s"$benchOut write (partial run is not the full suite)")
    else if (loadPre > maxLoad)
      System.err.println(f"[bench] loadavg_pre $loadPre%.2f > $maxLoad%.1f" +
        s" after ${loadWaitS}s wait — refusing $benchOut write (a loaded" +
        " capture must not become the artifact of record; stdout line above" +
        " still reports this run)")
    // CROSS-CAPTURE anchor gate (r16, the r15 verdict #2 — replaces
    // the within-run pre-vs-post comparison): a same-code capture's
    // post anchors read ~0.28-0.34 → ~0.20 s faster than its pre
    // anchors on a GENUINELY QUIET host. Not from codegen: the timed
    // anchor samples compile nothing at either end (the `[bench]
    // codegen` lines: PRE 15 and POST 0 compiles, all in the untimed
    // warm-up); the cpufreq ramp remains a guess. The within-run gate
    // refused 4 of 6 clean r15 captures, and a 40-sample anchor curve
    // refuted the warm-up fix (a fresh JVM plateaus at ~0.27-0.29 s;
    // ~90 s of diverse warm-up jobs never reaches the post-suite fast
    // state; docs/THROUGHPUT.md). The sound
    // start-state comparison is LIKE-STATE vs LIKE-STATE across
    // captures: this run's PRE anchors (fresh-JVM, pre-ramp) against
    // the previous artifact's PRE anchors. Band stays 1.25×; the old
    // 0.1 s absolute floor shrinks to a 0.05 s jitter guard so the
    // band does the work, not the floor.
    //
    // Mid-run load is gated WITHIN-run but ASYMMETRICALLY: the ramp
    // can only make the post anchor FASTER than the pre, so a post
    // reading slower than pre by the band can only be load that
    // arrived during the suite (r16 capture 2's genuine catch read
    // post 0.298/0.375 vs pre 0.269/0.320). A symmetric
    // post-vs-prev-POST pair was tried first and measured WRONG: ramp
    // DEPTH varies with the window (post 0.176/0.219/0.242 across
    // three clean same-day captures), so a cross-capture post
    // baseline refused the round's quietest capture (152.3 s,
    // loadavg_pre 0.35, 4 re-adjudications, flat PRE pairs) on a
    // stale 0.173 — conflating how far the boost ramped with host
    // state. First capture on a host (no prev anchors): the pre pairs
    // are skipped with a warning, the within-run asymmetric check
    // still applies, and the loadavg gate above still holds.
    else {
      def drifted(tag: String, cur: Double, prev: Option[Double])
          : Option[String] = prev.flatMap { p =>
        if (math.max(cur, p) > 1.25 * math.min(cur, p) &&
            math.abs(cur - p) > 0.05)
          Some(f"$tag ${p}%.3f (prev) -> $cur%.3f (this run)")
        else None
      }
      // asymmetric: only post SLOWER than pre flags (ramp-safe)
      def slowedMidRun(tag: String, pre: Double, post: Double)
          : Option[String] =
        if (post > 1.25 * pre && post - pre > 0.05)
          Some(f"$tag pre $pre%.3f -> post $post%.3f (slower — load " +
            "arrived mid-run)")
        else None
      val drifts = Seq(
        drifted("calib_pre", calibPre, prevAnchors.get("calib_pre")),
        drifted("calib_str_pre", calibStrPre,
          prevAnchors.get("calib_str_pre")),
        slowedMidRun("calib", calibPre, calibPost),
        slowedMidRun("calib_str", calibStrPre, calibStrPost)).flatten
      if (prevAnchors.isEmpty)
        System.err.println(s"[bench] $prevPath carries no anchor fields " +
          "— cross-capture anchor gate unavailable for this run; writing " +
          s"$benchOut under the loadavg gate alone")
      if (drifts.nonEmpty)
        System.err.println("[bench] cross-capture anchors drifted > " +
          s"1.25x band: ${drifts.mkString("; ")} — host state differs " +
          s"from the previous capture; refusing $benchOut write (stdout " +
          "line above still reports this run)")
      else
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(benchOut), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] $benchOut write failed: ${e.getMessage}")
      }
    }
    // memory the run retains after a full GC; runs at two codegen cache
    // sizes differ by what the compiled-class cache holds
    System.gc()
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    val metaMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == "Metaspace").map(_.getUsage.getUsed).sum / 1e6
    System.err.println(f"[bench] retained after GC: heap $heapMb%.0f MB, " +
      f"metaspace $metaMb%.0f MB")
    spark.stop()
  }
}
