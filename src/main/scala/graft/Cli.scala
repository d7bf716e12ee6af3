package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's CLI grammar (SURVEY.md §2.4) as one entry point:
  *
  *   graft.Cli [algo] <sizes...> [-r|--repeats R] [--block BS]
  *             [--density D] [-p|--threads P] [--out DIR]
  *
  * Stage 1: `graft.Cli 64 128 256 -r 3`           (algo defaults basic)
  * Stage 2: `graft.Cli blocked 128 256 --block 64 --density 0.05`
  * Stage 3: `graft.Cli 256 512 1024 -p 8 -r 3`    (threads = local[p])
  *
  * Output: the reference-shaped results CSV (BenchHarness schema) under
  * --out (default ./results), one row per repeat (Q5), plus the rows on
  * stdout.
  *
  * The REPORT verb composes the whole reference workflow end-to-end —
  * harness → results lake → drift-union ingest → analytics → all three
  * visualizer stages — in one invocation:
  *
  *   graft.Cli render-report <sizes...> [-r R] [--block BS] [--density D]
  *             [--threads-list 1,2,4] [--out DIR]
  *
  * runs the Stage-2 algo grid once and the basic kernel once per entry
  * in --threads-list (each in its own `local[p]` session — the
  * reference's one-process-per-thread-count protocol), writes each run
  * as a named `results_spark_*.csv`, then ingests the results dir (any
  * pre-existing reference CSVs union in through the 9-dialect drift
  * scan) and renders the Stage 1/2/3 figure set under `--out/figures`.
  */
object Cli {

  final case class CliConfig(bench: BenchConfig, threads: Int, out: String)

  val Algos: Set[String] = Set("basic", "blocked", "transposed", "sparse", "square")

  def parse(args: Seq[String]): CliConfig = {
    var algos = Vector.empty[String]
    var sizes = Vector.empty[Long]
    var repeats = 3
    var block = 64
    var density = 0.05
    var threads = 0
    var out = "results"
    var i = 0
    def arg(flag: String): String = {
      require(i + 1 < args.length, s"$flag requires a value")
      args(i + 1)
    }
    while (i < args.length) {
      args(i) match {
        case f @ ("-r" | "--repeats") => repeats = arg(f).toInt; i += 2
        case f @ "--block"            => block = arg(f).toInt; i += 2
        case f @ "--density"          => density = arg(f).toDouble; i += 2
        case f @ ("-p" | "--threads") => threads = arg(f).toInt; i += 2
        case f @ "--out"              => out = arg(f); i += 2
        case f @ "--algo"             => // Python-variant flag form
          val a = arg(f)
          require(Algos(a), s"unknown algo '$a' (expected one of ${Algos.mkString(", ")})")
          algos :+= a; i += 2
        case a if Algos(a)            => algos :+= a; i += 1
        case n                        =>
          val size = try n.toLong catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"unrecognized argument '$n' (not a flag, algo, or size)")
          }
          require(size > 0, s"size must be positive, got $size")
          sizes :+= size; i += 1
      }
    }
    require(sizes.nonEmpty, "at least one size required")
    CliConfig(
      BenchConfig(sizes = sizes,
        algos = if (algos.isEmpty) Seq("basic") else algos,
        repeats = repeats, blockSize = block, density = density),
      threads, out)
  }

  /** Reference dialect columns the ingest relies on (time + the
    * per-language memory families of [[graft.operators.Analytics
    * .peakMemoryExpr]] + threads): a results dir holding only engine
    * runs yields a narrower drift union, so absent columns pad as NULL
    * doubles — exactly what the 9-schema union produces for a file
    * missing them. */
  private val DialectCols = Seq(
    "time_ms", "avg_time_ms", "threads",
    "rss_peak_mb", "rss_now_mb", "rss_mb",
    "heap_peak_mb", "heap_now_mb", "memory_mb", "peak_exec_mem_mb",
    "psutil_peak_rss_mb", "psutil_rss_mb")

  private def padDialect(df: DataFrame): DataFrame =
    DialectCols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast("double")))

  /** Ingest a results lake and render every reference figure (Stage 1
    * time+memory, Stage 2 dense/sparse clusters, Stage 3 per-size
    * speedup/efficiency/time) — the composed `ResultsCsv` →
    * `Analytics` → `SvgPlot` path as one callable. Returns the written
    * figure paths. Everything up to the final ≤|sizes|·|series| series
    * tables is engine work; only rendering collects. */
  def renderReport(spark: SparkSession, resultsDir: String,
                   figuresDir: String): Seq[java.nio.file.Path] = {
    import graft.operators.Analytics
    import graft.sources.ResultsCsv
    import graft.viz.SvgPlot
    new java.io.File(figuresDir).mkdirs()
    // readResultsDir, NOT a single multi-file glob read: one
    // spark.read.csv over the glob would force the first file's header
    // onto every file, silently misaligning the 9-dialect schema drift
    // this verb exists to union (ResultsCsv's own doc names the trap)
    val clean = Analytics.cleanResults(
      padDialect(ResultsCsv.readResultsDir(spark, resultsDir)))
      // harness rows carry per-repeat time_ms; reference rows a
      // pre-averaged avg_time_ms — one coalesced time source for all.
      // Rows with NO time value (a dialect carrying neither column, a
      // failed coercion) are useless for every figure and would deflate
      // sum/count averages; drop them here once.
      .withColumn("t_ms", coalesce(col("time_ms"), col("avg_time_ms")))
      .filter(col("t_ms").isNotNull)
    // collapse repeats to the reference's one-row-per-(lang,algo,size)
    // shape; memory dialect columns aggregate by max (peak semantics)
    val memCols = DialectCols.filterNot(
      Set("time_ms", "avg_time_ms", "threads"))
    val cellAggs = (sum("t_ms") / count(lit(1))).as("avg_time_ms") +:
      memCols.map(c => max(col(c)).as(c))
    // Stage-1/2 cells exclude the Stage-3 thread-sweep files: the
    // reference's visualizers are stage-scoped (per-stage impl dirs,
    // `results_*opt_*.csv` glob) and never average across thread
    // counts — without this filter the 1/2/4-thread parallel runs of
    // the basic kernel would fold into the same (lang, algo, size)
    // cell as the full-width opt-grid run
    val perCell = clean
      .filter(!coalesce(col("source_file"), lit("")).rlike("parallel"))
      .groupBy("lang", "algo", "size")
      .agg(cellAggs.head, cellAggs.tail: _*)
    val stage1 = Seq(
      SvgPlot.save(SvgPlot.lineChart(
        perCell.filter(col("algo").isin("basic", "unknown")),
        "size", "avg_time_ms", "lang",
        "Matrix Multiplication Performance Comparison", "Matrix size (N)",
        "Average execution time (ms)", logX = true, logY = true),
        s"$figuresDir/mm_perf_time.svg"),
      SvgPlot.save(SvgPlot.lineChart(
        perCell.filter(col("algo").isin("basic", "unknown"))
          .withColumn("peak_mem_mb", Analytics.peakMemoryExpr)
          .filter(col("peak_mem_mb").isNotNull),
        "size", "peak_mem_mb", "lang",
        "Matrix Multiplication Memory Usage", "Matrix size (N)",
        "Peak memory (MB)", logX = true, logY = true),
        s"$figuresDir/mm_perf_memory.svg"))
    val stage2 = SvgPlot.stage2Plots(perCell, figuresDir)
    // Stage 3 is the BASIC kernel's thread sweep (the reference's
    // parallel stage runs one algorithm): restricting by algo keeps
    // the engine's own Stage-2 opt-grid rows — which also carry a
    // threads value — from injecting a mixed-algo average against the
    // basic-only T1 baseline
    val perThread = Analytics.avgTime(
      clean.filter(col("threads").isNotNull &&
        col("algo").isin("basic", "unknown")),
      Seq("lang", "size", "threads"), "t_ms")
    val stage3 = SvgPlot.parallelPlots(
      Analytics.speedupEfficiency(perThread)
        .filter(col("speedup").isNotNull), figuresDir)
    stage1 ++ stage2 ++ stage3
  }

  private def renderReportMain(args: Seq[String]): Unit = {
    var threadsList = Seq(1, 2, 4)
    val rest = Vector.newBuilder[String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--threads-list" =>
          require(i + 1 < args.length, "--threads-list requires a value")
          threadsList = args(i + 1).split(",").map(_.trim.toInt).toSeq
          require(threadsList.nonEmpty && threadsList.forall(_ > 0),
            s"bad --threads-list: ${args(i + 1)}")
          i += 2
        case a => rest += a; i += 1
      }
    }
    val cfg = parse(rest.result())
    val resultsDir = s"${cfg.out}/results"
    // Stage-3 protocol: one session per thread count, like the
    // reference's one process per `-p`; Spark can't resize a local
    // master in place
    threadsList.foreach { p =>
      val s = GraftExtensions.session(p)
      try BenchHarness.writeNamedCsv(
        BenchHarness.run(s, cfg.bench.copy(algos = Seq("basic"))),
        resultsDir, s"results_spark_parallel_${p}threads.csv")
      finally s.stop()
    }
    // Stage-2 grid at full width
    val s = GraftExtensions.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      BenchHarness.writeNamedCsv(
        BenchHarness.run(s, cfg.bench.copy(
          algos = Seq("basic", "blocked", "transposed", "sparse"))),
        resultsDir, "results_spark_opt.csv")
      val figs = renderReport(s, resultsDir, s"${cfg.out}/figures")
      figs.foreach(p => println(s"[report] wrote $p"))
    } finally s.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("render-report")) {
      renderReportMain(args.toIndexedSeq.drop(1)); return
    }
    val cfg = parse(args.toIndexedSeq)
    val cores =
      if (cfg.threads > 0) cfg.threads
      else sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftExtensions.session(cores)
    val results = BenchHarness.run(spark, cfg.bench)
    BenchHarness.writeCsv(results, cfg.out)
    results.show(numRows = 1000, truncate = false)
    spark.stop()
  }
}
