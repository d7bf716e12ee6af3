package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.sources.ResultsCsv

import graft.SparkEntry._

/** Bench-results analytics (SURVEY §2.3, A1/A4/A7–A16) over a
  * lineitem-derived results table and the results-CSV fixtures. */
private[graft] object BenchResultsQueries {
  /** Reference-shaped benchmark-results table derived deterministically
    * from lineitem (SURVEY §7 R1): the analytics operators A1/A4 run on
    * this on both engines. */
  private def benchResults(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      expr("CASE l_suppkey % 3 WHEN 0 THEN 'c' WHEN 1 THEN 'java' ELSE 'python' END").as("lang"),
      expr("CASE l_partkey % 4 WHEN 0 THEN 'basic' WHEN 1 THEN 'blocked' WHEN 2 THEN 'transposed' ELSE 'sparse' END").as("algo"),
      expr("CASE l_orderkey % 3 WHEN 0 THEN 64 WHEN 1 THEN 128 ELSE 256 END").cast("long").as("size"),
      expr("CASE l_partkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END").cast("long").as("threads"),
      (col("l_quantity") * 100 + col("l_linenumber")).as("time_ms"))

  private val sqlBenchResults =
    """SELECT
      |  CASE l_suppkey % 3 WHEN 0 THEN 'c' WHEN 1 THEN 'java' ELSE 'python' END AS lang,
      |  CASE l_partkey % 4 WHEN 0 THEN 'basic' WHEN 1 THEN 'blocked' WHEN 2 THEN 'transposed' ELSE 'sparse' END AS algo,
      |  CAST(CASE l_orderkey % 3 WHEN 0 THEN 64 WHEN 1 THEN 128 ELSE 256 END AS BIGINT) AS size,
      |  CAST(CASE l_partkey % 4 WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 8 END AS BIGINT) AS threads,
      |  l_quantity * 100 + l_linenumber AS time_ms
      |FROM lineitem""".stripMargin

  /** Reference-shape results-CSV fixtures (FIXTURES.md §B.3) — the 9
    * schema dialects the visualizers really face. Absolute, resolved
    * against the repo root the mains and specs run from, because the
    * DuckDB oracle reads the same files from its own working dir. */
  private val FixtureDir = java.nio.file.Paths
    .get("src/test/resources/results_csv").toAbsolutePath.toString

  /** Column universe of the drift union (everything except the text
    * columns is numeric after cleanup). */
  private val FixtureNumericCols = Seq(
    "size", "repeats", "avg_time_ms", "rss_now_mb", "rss_peak_mb",
    "allocated_mb", "heap_now_mb", "heap_peak_mb", "psutil_rss_mb_now",
    "psutil_vms_mb_now", "psutil_peak_rss_mb", "tracemalloc_peak_mib",
    "psutil_rss_mb", "psutil_vms_mb", "threads", "speedup", "efficiency",
    "rss_mb", "memory_mb")

  private val sqlFixtureClean = {
    val casts = FixtureNumericCols
      .map(c => s"TRY_CAST(replace($c, ',', '.') AS DOUBLE) AS $c")
      .mkString(",\n  ")
    s"""SELECT lower(lang) AS lang, COALESCE(algo, 'unknown') AS algo, extra,
       |  regexp_extract(filename, '([^/]+)$$', 1) AS source_file,
       |  $casts
       |FROM read_csv_auto('$FixtureDir/results_*.csv',
       |  union_by_name=true, all_varchar=true, filename=true)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("bench_avg_time", (s, dir) =>
      Analytics.avgTime(benchResults(s, dir))
        .orderBy("lang", "algo", "size"),
      oracle =
      s"""WITH r AS ($sqlBenchResults)
         |SELECT lang, algo, size, SUM(time_ms) / COUNT(*) AS avg_time_ms,
         |  CAST(COUNT(*) AS BIGINT) AS runs
         |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),
    QuerySpec("speedup_efficiency", (s, dir) =>
      Analytics.speedupEfficiency(
        Analytics.avgTime(benchResults(s, dir), Seq("lang", "size", "threads"))
          .drop("runs"))
        .orderBy("lang", "size", "threads"),
      oracle =
      s"""WITH r AS ($sqlBenchResults),
         |p AS (SELECT lang, size, threads, SUM(time_ms) / COUNT(*) AS avg_time_ms
         |      FROM r GROUP BY 1, 2, 3)
         |SELECT lang, size, threads, avg_time_ms,
         |  MAX(CASE WHEN threads = 1 THEN avg_time_ms END)
         |    OVER (PARTITION BY lang, size) / avg_time_ms AS speedup,
         |  (MAX(CASE WHEN threads = 1 THEN avg_time_ms END)
         |    OVER (PARTITION BY lang, size) / avg_time_ms) / threads AS efficiency
         |FROM p ORDER BY 1, 2, 3""".stripMargin),
    QuerySpec("results_union_clean", (s, _) =>
      Analytics.cleanResults(
        ResultsCsv.readResultsDir(s, FixtureDir))
        // avg_time_ms breaks the tie between per-repeat rows (Q5) that
        // share (file, size, algo, threads) — total order on both sides
        .orderBy(asc_nulls_first("source_file"), asc_nulls_first("size"),
          asc_nulls_first("algo"), asc_nulls_first("threads"),
          asc_nulls_first("avg_time_ms")),
      oracle =
      s"""$sqlFixtureClean
         |ORDER BY source_file NULLS FIRST, size NULLS FIRST,
         |  algo NULLS FIRST, threads NULLS FIRST, avg_time_ms NULLS FIRST""".stripMargin),
    QuerySpec("results_extra_parsed", (s, _) =>
      Analytics.parseExtra(
        Analytics.cleanResults(
          ResultsCsv.readResultsDir(s, FixtureDir, "results_*opt_*.csv")))
        .select(col("source_file"), col("lang"), col("algo"), col("size"),
          col("avg_time_ms"), col("block"), col("density"))
        .orderBy(asc_nulls_first("source_file"), asc_nulls_first("size"),
          asc_nulls_first("algo")),
      oracle = {
      val casts = Seq("size", "avg_time_ms")
        .map(c => s"TRY_CAST(replace($c, ',', '.') AS DOUBLE) AS $c")
        .mkString(", ")
      s"""SELECT regexp_extract(filename, '([^/]+)$$', 1) AS source_file,
         |  lower(lang) AS lang, COALESCE(algo, 'unknown') AS algo, $casts,
         |  TRY_CAST(regexp_extract(extra, 'block\\D*(\\d+)', 1) AS BIGINT) AS block,
         |  TRY_CAST(regexp_extract(extra, 'density\\D*([0-9.]+)', 1) AS DOUBLE) AS density
         |FROM read_csv_auto('$FixtureDir/results_*opt_*.csv',
         |  union_by_name=true, all_varchar=true, filename=true)
         |ORDER BY source_file NULLS FIRST, size NULLS FIRST, algo NULLS FIRST""".stripMargin
    }),
    QuerySpec("mem_by_lang", (s, _) => {
      val cleaned = Analytics.cleanResults(
        ResultsCsv.readResultsDir(s, FixtureDir))
      cleaned.withColumn("peak_mem_mb", Analytics.peakMemoryExpr)
        .groupBy("lang")
        .agg(max(col("peak_mem_mb")).as("max_peak_mem_mb"),
          count(lit(1)).as("rows"))
        .orderBy("lang")
    },
      oracle =
      s"""WITH u AS ($sqlFixtureClean)
         |SELECT lang,
         |  MAX(CASE WHEN lang = 'c' THEN COALESCE(rss_peak_mb, rss_now_mb, rss_mb)
         |           WHEN lang = 'java' THEN COALESCE(heap_peak_mb, heap_now_mb, memory_mb)
         |           ELSE COALESCE(psutil_peak_rss_mb, psutil_rss_mb, rss_mb) END)
         |    AS max_peak_mem_mb,
         |  CAST(COUNT(*) AS BIGINT) AS rows
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin),
  )
}
