package graft

import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** Driver-contract invariants: every oracle entry has a query, the
  * flagship smoke query returns rows, and every declared query runs
  * non-empty at the smoke scale factor with a sane schema. The engine's
  * session keeps the code it generates: a second pass of the pair tier
  * hits Spark's compiled-class cache instead of recompiling. */
class SparkEntrySpec extends SparkSpec {

  private val smokeDir = "/root/testdata/sf0.001"

  /** The ten pair-tier queries of graftbench's `Pipelines.Pairs`. */
  private val pairs = Seq(
    "dedup_jaccard_pairs", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_containment", "dedup_winnow_pairs", "tfidf_cosine_pairs",
    "dedup_components", "fuzzy_components",
    "dedup_components_incremental_banded", "source_overlap")

  test("the shared session sizes the codegen cache to the engine's default") {
    spark // SQLConf.get reads the active session's conf
    assert(SQLConf.get.codegenCacheMaxEntries === GraftExtensions.CodegenCacheEntries)
  }

  test("Bridge.defaultConf sets an unset key and leaves a user-set one unchanged") {
    val sc = spark.sparkContext
    // SparkSpec's builder set the time zone on the context conf
    Bridge.defaultConf("spark.sql.session.timeZone", "America/Chicago")
    assert(sc.getConf.get("spark.sql.session.timeZone") === "UTC")
    val unset = "spark.graft.spec.defaultConf"
    Bridge.defaultConf(unset, "on")
    assert(sc.getConf.get(unset) === "on")
  }

  test("a warm pass of the pair tier does not recompile its generated code") {
    val registry = SparkEntry.queries
    def pass(): (Seq[Int], CodegenStats) = {
      val before = CodegenStats.now()
      val rows = pairs.map(q => registry(q)(spark, smokeDir).collect().length)
      (rows, CodegenStats.now() - before)
    }
    val (rows1, first) = pass()
    val (rows2, second) = pass()
    assert(rows1 === rows2)
    // measured on 4 cores, compiles in the first / second pass: 505 / 24
    // alone, 318 / 16 in the full suite, 203 / 22 after PipelineOpsSpec
    // and the registry-wide test below; 681 / 465 at Spark's 100-entry
    // cache. The cache is JVM-wide, so earlier suites warm the first
    // pass; a quarter keeps a 2x margin over the warmest order measured.
    assert(second.compiles * 4 <= first.compiles,
      s"first pass: $first; second pass: $second")
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry() returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("query functions tolerate concurrent invocation on a shared session") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.functions.col
    // region_rollup registers a temp view; concurrent runs over
    // DIFFERENT scale factors must each aggregate their own data — a
    // fixed view name would let one run silently read the other's.
    val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val runs = dirs.map(d => Future {
      // grand-total row (both grouping columns NULL) carries the
      // supplier count, which differs 10x between the two sfs
      SparkEntry.queries("region_rollup")(spark, d)
        .filter(col("r_name").isNull && col("n_name").isNull)
        .collect().head.getAs[Long]("suppliers")
    })
    val totals = Await.result(Future.sequence(runs), 120.seconds)
    val expected = dirs.map(d =>
      Tables.supplier(spark, d).count())
    assert(totals === expected)
  }

  test("indexed serve memoizes its build: repeat invocations reuse one index dir") {
    // the r14 contract behind the serve-only bench number: the first
    // invocation builds the persisted index into a fresh directory
    // under the JVM's serve-state root; later invocations (and the
    // probe2 sibling on the same corpus) must SERVE from it, not
    // rebuild — observable as exactly one new directory under
    // SparkEntry.memoRoot across three invocations
    def indexDirs(): Set[String] = SparkEntry.memoRoot.listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val before = indexDirs()
    val a = SparkEntry.queries("ann_ivf_pq_indexed")(spark, smokeDir).count()
    val mid = indexDirs()
    val b = SparkEntry.queries("ann_ivf_pq_indexed")(spark, smokeDir).count()
    val c = SparkEntry.queries("ann_ivf_pq_indexed_probe2")(spark, smokeDir).count()
    val after = indexDirs()
    assert(a > 0 && b > 0 && c > 0)
    assert((mid -- before).size <= 1, "first invocation builds at most one dir")
    assert(after === mid,
      "repeat and probe2 invocations must serve from the memoized index")
  }

  test("a JVM that builds every persisted serve state leaves no graft_ temp dir") {
    import scala.jdk.CollectionConverters._
    // these eight declarations build all nine persisted memos (PQ full
    // and half, LSH half and decile, both standing assignments, lex,
    // media IVF, manifest); the child exits normally after explaining
    val memoQueries = Seq("ann_ivf_pq_indexed", "dedup_incremental_indexed",
      "dedup_incremental_lsh_indexed", "dedup_components_incremental",
      "dedup_components_incremental_banded", "bm25_indexed",
      "media_ann_ivf_indexed", "manifest_pruned_scan")
    val tmp = java.nio.file.Files.createTempDirectory("leakcheck_").toFile
    val log = new java.io.File(tmp.getParentFile, tmp.getName + ".log")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Djava.io.tmpdir="))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq(s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.Explain") ++ memoQueries
    val pb = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(log)
    pb.environment().put("SPARK_GRAFT_SF_DIR", smokeDir)
    val exit = pb.start().waitFor()
    val plans = scala.io.Source.fromFile(log).getLines()
      .count(_.startsWith("========== "))
    assert(exit === 0 && plans === memoQueries.size,
      s"graft.Explain exited $exit after $plans plans; see $log")
    val left = tmp.listFiles().map(_.getName).filter(_.startsWith("graft_"))
    assert(left.isEmpty, s"left behind in $tmp: ${left.sorted.mkString(", ")}")
    log.delete()
    java.nio.file.Files.walk(tmp.toPath).iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.delete)
  }

  test("every declared query runs non-empty at sf0.001 with unique columns") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, smokeDir)
        val cols = df.columns
        if (cols.distinct.length != cols.length)
          Some(s"$name: duplicate columns ${cols.mkString(",")}")
        else if (df.count() == 0)
          Some(s"$name: empty result")
        else None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
