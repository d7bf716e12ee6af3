package graft

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Z-order layout: key bit-exactness and the files-touched locality
  * property the layout exists for (Layout scaladoc). */
class LayoutSpec extends SparkSpec {

  import spark.implicits._

  test("zValue interleaves bits exactly (a even positions, b odd)") {
    // a=5 (101), b=3 (011) at 3 bits:
    // pos0=a0=1 pos1=b0=1 pos2=a1=0 pos3=b1=1 pos4=a2=1 pos5=b2=0
    // → 011011₂ = 27
    val out = Seq((5L, 3L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 3)).head.getLong(0)
    assert(out === 27L)
    // masking: bits above the width must not leak into the key
    val masked = Seq((5L + 8L, 3L + 16L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 3)).head.getLong(0)
    assert(masked === 27L)
    // identity corners
    val zero = Seq((0L, 0L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 16)).head.getLong(0)
    assert(zero === 0L)
    val ones = Seq((65535L, 0L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), bits = 16)).head.getLong(0)
    assert(ones === 0x55555555L) // all even positions set
  }

  test("sqlZValue agrees with the column form on every 6-bit pair") {
    val d = spark.range(0, 4096)
      .selectExpr("id % 64 AS a", "id DIV 64 AS b")
    val both = d.select(
      Layout.zValue(col("a"), col("b"), bits = 6).as("zc"),
      expr(Layout.sqlZValue("a", "b", 6)).cast("long").as("zs"))
    assert(both.filter(col("zc") =!= col("zs")).count() === 0L)
  }

  test("z-order clustering shrinks the files a box scan touches") {
    // 64×64 grid written b-major (the "natural" arrival order): every
    // natural file spans all a values, so an a-box touches everything;
    // the z-ordered layout packs the box into a few tight rectangles.
    val grid = spark.range(0, 4096)
      .selectExpr("id", "id % 64 AS a", "id DIV 64 AS b")
    val base = java.nio.file.Files
      .createTempDirectory("graft_layout_").toString
    grid.repartitionByRange(16, col("id"))
      .write.mode("overwrite").parquet(s"$base/natural")
    Layout.zorderWrite(grid, col("a"), col("b"), s"$base/zorder",
      numFiles = 16, bits = 6)

    // layouts hold identical content
    val nat = spark.read.parquet(s"$base/natural")
    val zo = spark.read.parquet(s"$base/zorder")
    assert(zo.count() === 4096L &&
      nat.select("id").except(zo.select("id")).count() === 0L)

    // the adversarial predicate for a b-major layout is a strip on `a`:
    // every natural file holds full b-rows and so every a value
    val box = col("a") < 8
    val natFiles = Layout.filesTouched(nat, box)
    val zoFiles = Layout.filesTouched(zo, box)
    assert(natFiles === 16L, s"b-major layout must spread the strip; got $natFiles")
    assert(zoFiles * 4 <= natFiles,
      s"z-order must concentrate the strip: $zoFiles vs $natFiles files")
  }

  test("stats manifest plans from metadata and prunes at zero loss") {
    val grid = spark.range(0, 4096)
      .selectExpr("id", "id % 64 AS a", "id DIV 64 AS b",
        "CAST(id % 97 AS DOUBLE) AS v")
    val base = java.nio.file.Files
      .createTempDirectory("graft_manifest_spec_").toString
    Layout.zorderWrite(grid, col("a"), col("b"), s"$base/data",
      numFiles = 16, bits = 6)
    Layout.writeStatsManifest(spark, s"$base/data", s"$base/manifest",
      Seq("a", "b", "v"))
    // one manifest row per data file; stats present for every column
    val m = spark.read.parquet(s"$base/manifest")
    val dataFiles = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(m.count() === dataFiles.toLong)
    assert(m.columns.sorted.toSeq ===
      Seq("file", "max_a", "max_b", "max_v", "min_a", "min_b",
        "min_v", "rows"))
    assert(m.agg(sum("rows")).head.getLong(0) === 4096L)
    // the box prunes: manifest keeps strictly fewer files than exist,
    // answered from the manifest ALONE
    val ranges = Seq(("a", 0.0, 7.0), ("b", 0.0, 7.0))
    val kept = Layout.manifestFilesKept(spark, s"$base/manifest", ranges)
    assert(kept < dataFiles.toLong && kept >= 1L,
      s"box must keep a strict subset: $kept of $dataFiles")
    // zero loss: pruned read ≡ full-scan filter (both directions)
    val pruned = Layout.manifestPrunedRead(spark, s"$base/data",
      s"$base/manifest", ranges).select("id")
    val full = spark.read.parquet(s"$base/data")
      .filter(col("a").between(0, 7) && col("b").between(0, 7))
      .select("id")
    assert(pruned.count() === 64L)
    assert(pruned.except(full).count() === 0L &&
      full.except(pruned).count() === 0L)
    // the scan lists the kept files in path order, not in the
    // manifest's row order (which follows the paths' hashes)
    val half = Layout.manifestPrunedRead(spark, s"$base/data",
      s"$base/manifest", Seq(("a", 0.0, 31.0)))
    val scanned = half.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation
    }.collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }
    assert(scanned.size === 1 && scanned.head.size >= 2)
    assert(scanned.head === scanned.head.sorted)
    // empty-range arm: no file survives, the read returns zero rows
    // without erroring (parquet(Nil) is invalid — the limit(0) guard)
    val none = Layout.manifestPrunedRead(spark, s"$base/data",
      s"$base/manifest", Seq(("v", 500.0, 600.0)))
    assert(none.count() === 0L)

    // lifecycle: an ingest append stats ONLY its fresh files and the
    // pruned serve sees the new rows immediately
    val batch = spark.range(10000, 10064)
      .selectExpr("id", "CAST(3 AS BIGINT) AS a", "CAST(3 AS BIGINT) AS b",
        "CAST(id % 97 AS DOUBLE) AS v")
      .coalesce(1)
    Layout.appendWithManifest(spark, batch, s"$base/data",
      s"$base/manifest", Seq("a", "b", "v"))
    val m2 = spark.read.parquet(s"$base/manifest")
    val dataFiles2 = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(dataFiles2 === dataFiles + 1)
    assert(m2.count() === dataFiles2.toLong,
      "append must add exactly the fresh files' manifest rows")
    assert(m2.agg(sum("rows")).head.getLong(0) === 4160L)
    val pruned2 = Layout.manifestPrunedRead(spark, s"$base/data",
      s"$base/manifest", ranges).select("id")
    assert(pruned2.count() === 128L, // 64 original + 64 appended at (3,3)
      "appended rows must serve through the manifest")
  }

  test("idempotent manifest append: replay no-op and crash scrub-redo") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_midem_").toString
    val b0 = spark.range(0, 64)
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v").coalesce(1)
    def apply0(): Unit = Layout.appendWithManifestIdempotent(spark, b0,
      s"$base/data", s"$base/manifest", Seq("v"), tag = 0L)
    apply0()
    def dataRows = spark.read.parquet(s"$base/data").count()
    def mSet = spark.read.parquet(s"$base/manifest")
      .collect().map(_.toSeq).toSet
    val (d1, m1) = (dataRows, mSet)
    assert(d1 === 64L && m1.size === 1)
    // replay AFTER the marker committed: exact no-op (same files)
    apply0()
    assert(dataRows === d1 && mSet === m1)
    // crash window: data + manifest landed but the marker did not —
    // the replay must scrub its own tagged files and redo, converging
    // to the one-apply state (not 128 rows / 2 manifest rows)
    val marker = new java.io.File(s"$base/manifest/_applied_batches/b0")
    assert(marker.exists, "marker ledger must exist after a full apply")
    assert(marker.delete())
    apply0()
    assert(dataRows === 64L, "scrub-redo must not duplicate lake rows")
    assert(mSet.size === 1, "scrub-redo must not duplicate manifest rows")
    // crash window: a stray partial data file from a half-renamed
    // attempt of tag 1 — the tag-1 apply must scrub it before redoing
    val junk = new java.io.File(s"$base/data/b1_junk.parquet")
    java.nio.file.Files.writeString(junk.toPath, "not parquet")
    val b1 = spark.range(100, 132)
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v").coalesce(1)
    Layout.appendWithManifestIdempotent(spark, b1,
      s"$base/data", s"$base/manifest", Seq("v"), tag = 1L)
    assert(!junk.exists, "partial tagged files must be scrubbed")
    assert(dataRows === 96L && mSet.size === 2)
    // the ledgered manifest still equals a from-scratch rebuild
    Layout.writeStatsManifest(spark, s"$base/data",
      s"$base/manifest_rebuilt", Seq("v"))
    val rebuilt = spark.read.parquet(s"$base/manifest_rebuilt")
      .collect().map(_.toSeq).toSet
    assert(mSet === rebuilt,
      "ledgered manifest diverged from the batch builder")
  }

  test("manifest lake compaction shrinks files, retires rows, serves equal") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_mcompact_").toString
    // 8 ingest batches -> 8+ data files, 8 manifest rows (the
    // accumulating small-files debt the compaction exists to retire)
    (0 until 8).foreach { b =>
      val batch = spark.range(b * 100L, b * 100L + 100L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v").coalesce(1)
      Layout.appendWithManifestIdempotent(spark, batch,
        s"$base/data", s"$base/manifest", Seq("id", "v"), tag = b.toLong)
    }
    def dataFiles = new java.io.File(s"$base/data").listFiles()
      .count(_.getName.endsWith(".parquet"))
    def mRows = spark.read.parquet(s"$base/manifest").count()
    assert(dataFiles >= 8 && mRows >= 8L)
    val ranges = Seq(("id", 250.0, 349.0))
    def served = Layout.manifestPrunedRead(spark, s"$base/data",
        s"$base/manifest", ranges)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    val before = served
    assert(before === (250L to 349L))
    Layout.compactManifestLake(spark, s"$base/data", s"$base/manifest",
      Seq("id", "v"), numFiles = 2, sortCol = "id")
    // files and manifest rows SHRINK to the target
    assert(dataFiles === 2, s"expected 2 compacted files, got $dataFiles")
    assert(mRows === 2L, s"superseded manifest rows must retire: $mRows")
    // zero-loss: the pruned serve is row-identical across compaction
    assert(served === before,
      "pruned serve must be identical across the compaction")
    // range-sorted rewrite keeps stats tight: the id box still prunes
    assert(Layout.manifestFilesKept(spark, s"$base/manifest", ranges)
      === 1L, "compacted files must stay range-disjoint on the sort col")
    // the replay ledger survives: a pre-compaction batch replay is
    // still a no-op (no duplicate rows re-appended into the lake)
    val b3 = spark.range(300L, 400L)
      .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v").coalesce(1)
    Layout.appendWithManifestIdempotent(spark, b3,
      s"$base/data", s"$base/manifest", Seq("id", "v"), tag = 3L)
    assert(spark.read.parquet(s"$base/data").count() === 800L,
      "a replayed pre-compaction batch must no-op through the ledger")
  }

  test("compaction scrubs unmarked crashed-batch files (no replay dupes)") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_mcrash_").toString
    (0 until 4).foreach { b =>
      val batch = spark.range(b * 100L, b * 100L + 100L)
        .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v").coalesce(1)
      Layout.appendWithManifestIdempotent(spark, batch,
        s"$base/data", s"$base/manifest", Seq("id", "v"), tag = b.toLong)
    }
    // simulate the crash window: batch 3's files landed but its marker
    // did not (delete the marker — the tagged files stay behind)
    val marker = new java.io.File(s"$base/manifest/_applied_batches/b3")
    assert(marker.exists && marker.delete())
    // the r17 form folded those partial rows into untagged compacted
    // files; now they scrub BEFORE the rewrite
    Layout.compactManifestLake(spark, s"$base/data", s"$base/manifest",
      Seq("id", "v"), numFiles = 2, sortCol = "id")
    assert(spark.read.parquet(s"$base/data").count() === 300L,
      "unmarked (crashed) batch rows must not survive into compacted files")
    // the stream's replay then redoes batch 3 cleanly — exactly once
    val b3 = spark.range(300L, 400L)
      .selectExpr("id", "CAST(id % 97 AS DOUBLE) AS v").coalesce(1)
    Layout.appendWithManifestIdempotent(spark, b3,
      s"$base/data", s"$base/manifest", Seq("id", "v"), tag = 3L)
    val ids = spark.read.parquet(s"$base/data")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 400L),
      "replayed crashed batch must land exactly once after compaction")
    // manifest agrees with a from-scratch rebuild over the final lake
    Layout.writeStatsManifest(spark, s"$base/data",
      s"$base/manifest_rebuilt", Seq("id", "v"))
    val mSet = spark.read.parquet(s"$base/manifest")
      .collect().map(_.toSeq).toSet
    val rebuilt = spark.read.parquet(s"$base/manifest_rebuilt")
      .collect().map(_.toSeq).toSet
    assert(mSet === rebuilt)
  }

  test("writer lock: second concurrent writer rejected, stale lock taken over") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_mlock_").toString
    val b0 = spark.range(0, 64)
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v").coalesce(1)
    Layout.appendWithManifestIdempotent(spark, b0,
      s"$base/data", s"$base/manifest", Seq("v"), tag = 0L)
    // another writer is live: its lock is present and FRESH — a second
    // writer must fail loudly instead of racing the ledger (this is
    // the race the guard closes: writer A would scrub writer B's
    // in-flight tagged files as "crashed")
    val lock = new java.io.File(s"$base/manifest/_writer_lock")
    assert(lock.createNewFile())
    val b1 = spark.range(100, 164)
      .selectExpr("id", "CAST(id % 7 AS DOUBLE) AS v").coalesce(1)
    val e = intercept[IllegalStateException] {
      Layout.appendWithManifestIdempotent(spark, b1,
        s"$base/data", s"$base/manifest", Seq("v"), tag = 1L)
    }
    assert(e.getMessage.contains("locked by another live writer"))
    assert(spark.read.parquet(s"$base/data").count() === 64L,
      "a rejected writer must not have moved any files")
    // compaction is a writer too — same rejection
    intercept[IllegalStateException] {
      Layout.compactManifestLake(spark, s"$base/data", s"$base/manifest",
        Seq("v"), numFiles = 1, sortCol = "id")
    }
    // a CRASHED writer never releases: age the lock past the stale
    // bound and the next writer takes over instead of deadlocking
    assert(lock.setLastModified(System.currentTimeMillis() - 3600 * 1000L))
    Layout.appendWithManifestIdempotent(spark, b1,
      s"$base/data", s"$base/manifest", Seq("v"), tag = 1L,
      staleLockMs = 60 * 1000L)
    assert(spark.read.parquet(s"$base/data").count() === 128L)
    assert(!lock.exists, "the lock must release after a successful append")
  }

  test("scaled bucket is order-preserving, bounded, degenerate-safe") {
    import spark.implicits._
    val df = (0L to 10L).toDF("x")
      .withColumn("b", Layout.scaledBucket(col("x"), lit(0L), lit(10L), 3))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // min -> 0, max -> 2^bits - 1, interior floor((x/10)*7)
    assert(m(0L) === 0L && m(10L) === 7L && m(5L) === 3L)
    // order-preserving across the whole domain
    val bs = (0L to 10L).map(m)
    assert(bs === bs.sorted)
    // degenerate max == min never divides by zero
    val deg = Seq(42L).toDF("x")
      .select(Layout.scaledBucket(col("x"), lit(42L), lit(42L), 3).as("b"))
      .head.getLong(0)
    assert(deg === 0L)
  }

  test("scaled z-order restores locality on a wide (wrapping) domain") {
    import spark.implicits._
    // ids span 0..8191 — 32x past the 8-bit mask, so plain zValue at
    // bits=8 WRAPS (id % 256) and an id-range box is scattered across
    // every z range; scaledBucket maps the full span into [0, 256)
    // order-preserved, so the same box stays a contiguous z band
    val rows = (0L until 8192L).map(i => (i, i % 61))
      .toDF("id", "v")
    val base = java.nio.file.Files
      .createTempDirectory("graft_zscale_").toString
    Layout.zorderWriteScaled(rows, col("id"), col("v"),
      s"$base/scaled", numFiles = 16, bits = 8)
    Layout.zorderWrite(rows, col("id"), col("v"),
      s"$base/masked", numFiles = 16, bits = 8)
    // row preservation through the scaled write
    val back = spark.read.parquet(s"$base/scaled")
    assert(back.count() === 8192L &&
      back.agg(sum("id")).head.getLong(0) === 8192L * 8191L / 2)
    val box = col("id").between(1000, 1255) // 1/32 of the id span
    val scaledTouched = Layout.filesTouched(
      spark.read.parquet(s"$base/scaled"), box)
    val maskedTouched = Layout.filesTouched(
      spark.read.parquet(s"$base/masked"), box)
    // the masked layout scatters the box (id % 256 covers every
    // residue), the scaled layout keeps it in a few z-adjacent files
    assert(maskedTouched === 16L,
      s"wide-domain wrap should scatter the box, got $maskedTouched")
    // the box spans ~9 of 256 a-buckets crossed with the full v range
    // — a thin vertical strip, so a handful of z-adjacent files, not
    // a perfect 1/16 (measured 5-7/16 across runs: repartitionByRange
    // SAMPLES its bounds, so the exact file split wobbles ±2 with
    // input parallelism; the masked layout saturates at 16/16 every
    // time, which is the contrast the test pins)
    assert(scaledTouched <= 8L &&
      scaledTouched * 2 <= maskedTouched,
      s"scaled z-order should localize the box, got $scaledTouched " +
        s"vs masked $maskedTouched")
  }
}
