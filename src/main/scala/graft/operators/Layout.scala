package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout operators — Z-order (Morton) clustering for lake writes
  * (north-star extension; the reference writes flat CSVs).
  *
  * At 100 TB the scan you DON'T do is the cheapest operator in the
  * engine: parquet keeps per-row-group min/max stats on every column,
  * and Spark's pushed filters skip row groups whose stat range misses
  * the predicate — but stats only prune if the layout CLUSTERS each
  * column's values, and sorting by one column destroys clustering on
  * every other. The Z-order curve interleaves the bits of two key
  * columns so files are tight rectangles in (a, b) space: a box
  * predicate on EITHER or BOTH keys touches only the files whose
  * rectangle overlaps the box (measured: ZORDER_PROBE artifact).
  *
  * Everything is plain column arithmetic (shift/mask/or — whole-stage
  * codegen, bit-identical in DuckDB's integer ops, so the key itself
  * is oracle-checkable), and the write path is
  * `repartitionByRange(z) + sortWithinPartitions(z)` — one range
  * exchange, the same shuffle a plain sorted write pays.
  */
object Layout {

  /** Morton key: interleave the low `bits` bits of `a` (even positions)
    * and `b` (odd positions). Inputs are masked to `bits` — callers
    * bucket wider domains first (quantile-bucket or `% 2^bits`); the
    * mask keeps the key total-ordered and both engines two's-complement
    * agree even on negative inputs.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val terms = (0 until bits).flatMap { k =>
      Seq(
        shiftleft(shiftright(a.cast("long"), k).bitwiseAND(lit(1L)), 2 * k),
        shiftleft(shiftright(b.cast("long"), k).bitwiseAND(lit(1L)),
          2 * k + 1))
    }
    terms.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** The DuckDB spelling of [[zValue]] — mechanically unrolled so the
    * oracle computes the identical key bit-for-bit. */
  def sqlZValue(a: String, b: String, bits: Int = 16): String =
    (0 until bits).flatMap { k =>
      Seq(s"((($a >> $k) & 1) << ${2 * k})",
        s"((($b >> $k) & 1) << ${2 * k + 1})")
    }.mkString("(", " | ", ")")

  /** Z-order-clustered parquet write: range-partition on the Morton key
    * into `numFiles` tight z-ranges, sort within each, drop the key.
    * One range exchange (sampled bounds), then a local sort — the same
    * cost as any sorted write; the payoff is every later box scan.
    */
  def zorderWrite(df: DataFrame, a: Column, b: Column, path: String,
      numFiles: Int, bits: Int = 16): Unit =
    df.withColumn("_z", zValue(a, b, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  /** Min-max AFFINE bucketing to a bounded domain — the built-in
    * answer to [[zValue]]'s documented precondition ("callers bucket
    * wider domains first"; r16). `zValue` masks each key to its low
    * `bits` bits, so a domain wider than 2^bits WRAPS (event_id
    * 65 537 ≡ 1 at 16 bits) and the interleaved key scrambles
    * locality — a box predicate then touches most files and the
    * layout silently stops paying. Scaling
    * floor((x − min)/(max − min) · (2^bits − 1)) is order-preserving,
    * lands exactly in [0, 2^bits), and costs ONE metadata aggregation
    * (the min/max pair, broadcast) plus row-local arithmetic — no
    * rank window, no global sort, fully codegen (an NTILE-balanced
    * bucketing would equalize bucket POPULATIONS under skew but needs
    * a total-order rank; file-size balance is already the range
    * partitioner's job in [[zorderWrite]], so the affine form keeps
    * the write path distributed and the oracle replay is one
    * correctly-rounded double division — bit-identical in DuckDB).
    * Degenerate max == min maps to bucket 0. */
  def scaledBucket(c: Column, minV: Column, maxV: Column,
                   bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val span = maxV.cast("double") - minV.cast("double")
    when(span <= 0.0, lit(0L)).otherwise(
      floor((c.cast("double") - minV.cast("double")) / span *
        ((1L << bits) - 1).toDouble).cast("long"))
  }

  /** The DuckDB spelling of [[scaledBucket]] — same expression order,
    * so the double division rounds identically. */
  def sqlScaledBucket(c: String, minV: String, maxV: String,
                      bits: Int): String =
    s"(CASE WHEN CAST($maxV AS DOUBLE) - CAST($minV AS DOUBLE) <= 0.0 " +
      s"THEN 0 ELSE CAST(floor((CAST($c AS DOUBLE) - CAST($minV AS DOUBLE)) " +
      s"/ (CAST($maxV AS DOUBLE) - CAST($minV AS DOUBLE)) * " +
      s"${(1L << bits) - 1}.0) AS BIGINT) END)"

  /** [[zorderWrite]] with built-in [[scaledBucket]] bucketing: one
    * extra aggregation computes both keys' min/max (metadata-scale,
    * broadcast into the scan), then the usual range-partitioned
    * sorted write on the interleaved key. Reach for this whenever
    * either key's domain exceeds 2^bits or is not already
    * zero-anchored — i.e. almost always on real ids. */
  def zorderWriteScaled(df: DataFrame, a: Column, b: Column,
      path: String, numFiles: Int, bits: Int = 16): Unit = {
    val bounds = df.agg(min(a).as("amin"), max(a).as("amax"),
      min(b).as("bmin"), max(b).as("bmax"))
    val z = zValue(
      scaledBucket(a, col("amin"), col("amax"), bits),
      scaledBucket(b, col("bmin"), col("bmax"), bits), bits)
    df.crossJoin(broadcast(bounds))
      .withColumn("_z", z)
      .drop("amin", "amax", "bmin", "bmax")
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Files a predicate actually has to read under a given layout — the
    * layout audit number (files whose contents intersect the predicate;
    * parquet stats let the scan skip the rest when one row group spans
    * a file). */
  def filesTouched(df: DataFrame, pred: Column): Long =
    df.where(pred).select(input_file_name()).distinct().count()

  /** Per-file min/max column-stats MANIFEST — the table-format
    * data-skipping pattern (Iceberg manifests / Delta file stats) as a
    * plain relation: one row per data file with row count and
    * `min_<c>`/`max_<c>` for each stat column. Built in ONE pass over
    * the data (`input_file_name()` groupBy — map-side partial agg, so
    * the shuffle carries file-count rows, metadata-scale at any data
    * size). A real lake harvests the same numbers from parquet
    * footers at write time; building it relationally keeps the index
    * engine-pure and lets the oracle replay the pruning decision. The
    * manifest is to RANGE scans what the LSH band index is to
    * near-dup probes: the persisted artifact that decides what NOT to
    * read — at 100 TB a planner that opens every footer pays a
    * metadata storm per query ([[manifestPrunedRead]] opens none). */
  def writeStatsManifest(spark: org.apache.spark.sql.SparkSession,
      dataPath: String, manifestPath: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "at least one stat column")
    val aggs = count(lit(1)).as("rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    spark.read.parquet(dataPath)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(manifestPath)
  }

  /** Append an ingest batch to a manifest-tracked lake: write the
    * batch's part files, stat ONLY the fresh files (a before/after
    * directory listing names them — driver metadata, never a data
    * read of the existing lake), and append their manifest rows. The
    * lifecycle contract is the persisted indexes' ([[graft.operators
    * .Similarity.appendToPqIndex]] one module over): appends touch
    * delta-scale data, nothing rebuilds, and idempotence is the
    * caller's offsets problem. Manifest and data move in two steps —
    * run single-writer (the plain-parquet lake caveat
    * [[LakeMaintenance.compactPartitioned]] documents); a reader
    * between the steps sees fresh files missing from the manifest,
    * so [[manifestPrunedRead]] would UNDER-read — pause serving
    * across the append or adopt a table format for concurrent
    * writers. */
  def appendWithManifest(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dataPath: String, manifestPath: String,
      cols: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    // FLAT layout assumed (the manifest lake writes no partition
    // dirs): the fresh-file listing is non-recursive by design —
    // partition-dir lakes get their stats from the partition values
    // themselves and don't need this manifest
    val dir = new Path(dataPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a FIRST append bootstraps the lake (the stream twin's batch 0):
    // a missing data dir is an empty file set, not an error
    def parts(): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir)
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).toSet
    val before = parts()
    batch.write.mode("append").parquet(dataPath)
    val fresh = (parts() -- before).toSeq.sorted
    require(fresh.nonEmpty, "append produced no new files")
    val aggs = count(lit(1)).as("rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    spark.read.parquet(fresh: _*)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .coalesce(1)
      .write.mode("append").parquet(manifestPath)
  }

  /** [[appendWithManifest]] made IDEMPOTENT under replay of a tagged
    * batch (r17, the r16 ADVICE item on
    * [[graft.streaming.EventStream.manifestIngestStream]]): foreachBatch
    * re-delivers a batch after a crash between the data write and the
    * checkpoint commit, and the plain append would then duplicate both
    * lake rows and manifest rows. This variant makes the whole append
    * a replay-safe transaction keyed by `tag` (the stream's batchId):
    *
    *   1. a MARKER (`_applied_batches/b<tag>` under the manifest dir —
    *      `_`-prefixed, invisible to parquet reads) is written LAST,
    *      only after both the data and manifest rows are in place; a
    *      replay that sees it is an exact no-op;
    *   2. every file the attempt places carries a `b<tag>_` name
    *      prefix, so a replay WITHOUT the marker first scrubs whatever
    *      a half-crashed prior attempt left (data files, manifest
    *      rows) and redoes the append from its staged copy — every
    *      crash window lands in "scrub and redo", none in "duplicate".
    *
    * The stats pass reads ONLY this batch's files (delta-scale, the
    * batch contract), and single-writer is now ENFORCED, not just
    * documented (r18, the r17 verdict #5): two concurrent writers
    * would race the `_applied_batches` marker — writer A scrubs
    * writer B's in-flight `b<tag>_` files as "crashed", or both place
    * files for the same tag and the marker commits a union neither
    * wrote. The guard is [[withWriterLock]]'s marker-file mutex: the
    * lock is acquired with an atomic create-no-overwrite before any
    * file moves and released after the marker commits, so a second
    * concurrent writer fails LOUDLY instead of corrupting the lake. A
    * crashed writer's stale lock is taken over by age (the replay of
    * its own batch must not deadlock behind its own corpse) —
    * `staleLockMs` must exceed the longest legitimate append. */
  def appendWithManifestIdempotent(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, dataPath: String, manifestPath: String,
      cols: Seq[String], tag: Long,
      staleLockMs: Long = 15 * 60 * 1000L): Unit = {
    import org.apache.hadoop.fs.Path
    val dataDir = new Path(dataPath)
    val mDir = new Path(manifestPath)
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(mDir, s"_applied_batches/b$tag")
    if (fs.exists(marker)) return // replayed after commit: no-op
    withWriterLock(fs, mDir, staleLockMs) {
    if (fs.exists(marker)) return // committed while we waited for the lock
    def scrub(dir: Path): Unit =
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.startsWith(s"b${tag}_"))
          .foreach(p => fs.delete(p, false))
    scrub(dataDir); scrub(mDir)
    def stageInto(df: DataFrame, stage: Path, dst: Path): Seq[String] = {
      fs.delete(stage, true)
      df.write.mode("overwrite").parquet(stage.toString)
      fs.mkdirs(dst)
      val placed = fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).toSeq.sortBy(_.getName)
        .map { p =>
          val target = new Path(dst, s"b${tag}_${p.getName}")
          if (!fs.rename(p, target))
            sys.error(s"appendWithManifestIdempotent: rename $p -> $target")
          target.toString
        }
      fs.delete(stage, true)
      placed
    }
    val fresh = stageInto(batch,
      new Path(s"$dataPath.stage_b$tag"), dataDir)
    require(fresh.nonEmpty, "append produced no new files")
    val aggs = count(lit(1)).as("rows") +:
      cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"),
        max(col(c)).as(s"max_$c")))
    stageInto(
      spark.read.parquet(fresh: _*)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .coalesce(1),
      new Path(s"$manifestPath.stage_b$tag"), mDir)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    }
  }

  /** Marker-file WRITER MUTEX for the manifest ledger (r18, the r17
    * verdict #5): `_writer_lock` under the manifest dir, acquired by
    * atomic create-no-overwrite (every HDFS-like filesystem's create
    * with overwrite=false is the one atomic primitive a plain-parquet
    * lake has). A lock that already exists means another writer is
    * live — fail loudly — UNLESS it is older than `staleLockMs`
    * (a crashed writer never releases; its own batch's replay must be
    * able to take over, or the ledger deadlocks behind a corpse): then
    * delete-and-retake once, and if the retake ALSO collides, another
    * writer won the takeover race and this one still fails loudly.
    * S3-consistency caveat unchanged: without atomic create, adopt a
    * table format — this mutex is for filesystems that have one. */
  private def withWriterLock[T](fs: org.apache.hadoop.fs.FileSystem,
      mDir: org.apache.hadoop.fs.Path, staleLockMs: Long)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val lock = new Path(mDir, "_writer_lock")
    def tryAcquire(): Boolean =
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }
    fs.mkdirs(mDir)
    if (!tryAcquire()) {
      val age = try System.currentTimeMillis() -
        fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      val takeover = age > staleLockMs && { fs.delete(lock, false); tryAcquire() }
      if (!takeover)
        throw new IllegalStateException(
          s"manifest ledger at $mDir is locked by another live writer " +
            s"(lock age ${age / 1000}s <= stale bound ${staleLockMs / 1000}s " +
            "or takeover lost) — the ledger serializes ONE writer; run " +
            "ingest single-writer or adopt a table format for concurrency")
    }
    try body finally fs.delete(lock, false)
  }

  /** Compact a manifest-tracked FLAT lake (r17, the r16 verdict #3):
    * [[appendWithManifest]] accumulates one part file + one manifest
    * row per batch forever, so after B batches every pruned serve
    * pays a B-file listing and the manifest itself grows B rows — the
    * small-files debt every append-only lake owes. This rewrites the
    * data to `numFiles` RANGE-SORTED files on `sortCol` and rebuilds
    * the manifest wholesale, retiring every superseded row.
    *
    * Sort, don't coalesce: a bin-packing coalesce would widen every
    * file's min/max to the whole domain and silently destroy the
    * manifest's pruning value — range-partitioned + sorted files keep
    * stat ranges tight (disjoint on `sortCol`), so the pruned serve
    * gets BETTER after compaction, not just fewer files. Staging +
    * rename-swap is the shared [[LakeMaintenance.compactPartitioned]]
    * contract (never read-and-overwrite; single-writer, serving
    * paused). The `_applied_batches` replay ledger SURVIVES the
    * manifest rebuild — a late replay of a pre-compaction batch must
    * still no-op, or it would re-append rows the compacted files
    * already hold.
    *
    * UNMARKED tagged files are scrubbed FIRST (r18, the r17 ADVICE
    * item): a batch that crashed between placing its `b<tag>_` files
    * and writing its ledger marker leaves partial rows the replay
    * contract says must be scrubbed-and-redone — but a compaction that
    * folded them into untagged compacted files would strand them
    * (scrub finds no tagged files, the replay re-appends the FULL
    * batch, and the partial rows duplicate). So before the rewrite,
    * every `b<tag>_` file in either directory whose tag has no marker
    * is deleted — the same scrub [[appendWithManifestIdempotent]]
    * itself runs, just across all tags — and the stream's replay then
    * redoes those batches cleanly against the compacted lake. */
  def compactManifestLake(spark: org.apache.spark.sql.SparkSession,
      dataPath: String, manifestPath: String, cols: Seq[String],
      numFiles: Int, sortCol: String,
      staleLockMs: Long = 15 * 60 * 1000L): Unit = {
    import org.apache.hadoop.fs.Path
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    val dataDir = new Path(dataPath)
    val mDir = new Path(manifestPath)
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the compactor is a WRITER too: it must hold the same mutex the
    // ingest path holds, or an in-flight append's tagged-but-unmarked
    // files would be scrubbed below as a crashed batch. The lock rides
    // the manifest swap into the promoted directory's place (the swap
    // is the final step, so release-by-swap is release-at-commit).
    withWriterLock(fs, mDir, staleLockMs) {
    // scrub crashed batches (tagged files with no ledger marker) so the
    // rewrite folds only committed rows; the replay redoes them after
    val ledgerDir = new Path(mDir, "_applied_batches")
    val marked: Set[String] =
      if (!fs.exists(ledgerDir)) Set.empty
      else fs.listStatus(ledgerDir).map(_.getPath.getName).toSet
    val TaggedName = "^(b\\d+)_.*".r
    for (dir <- Seq(dataDir, mDir) if fs.exists(dir);
         st <- fs.listStatus(dir)) st.getPath.getName match {
      case TaggedName(tag) if !marked.contains(tag) =>
        fs.delete(st.getPath, false)
      case _ =>
    }
    def swap(live: Path, stage: Path): Unit = {
      val retired = new Path(s"$live.compact_old")
      fs.delete(retired, true)
      if (!fs.rename(live, retired))
        sys.error(s"compactManifestLake: could not retire $live")
      if (!fs.rename(stage, live)) {
        fs.rename(retired, live) // roll back — the old layout stays live
        sys.error(s"compactManifestLake: could not promote $stage")
      }
      fs.delete(retired, true)
    }
    val stage = new Path(s"$dataPath.compact_stage")
    fs.delete(stage, true)
    spark.read.parquet(dataPath)
      .repartitionByRange(numFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(stage.toString)
    swap(dataDir, stage)
    val mStage = new Path(s"$manifestPath.compact_stage")
    fs.delete(mStage, true)
    writeStatsManifest(spark, dataPath, mStage.toString, cols)
    val ledger = new Path(mDir, "_applied_batches")
    if (fs.exists(ledger) &&
        !fs.rename(ledger, new Path(mStage, "_applied_batches")))
      sys.error("compactManifestLake: could not carry the replay ledger")
    swap(mDir, mStage)
    }
  }

  /** Manifest-driven pruned scan: keep only files whose [min, max]
    * stat range intersects EVERY requested closed range, read just
    * those (the collect is file-count strings — metadata-scale, the
    * buildBloom class of driver action), and re-apply the exact
    * predicate for row-level truth. Output ≡ the full scan filtered —
    * min/max pruning can only skip files that PROVABLY contain no
    * matching row, so the equality gate is the zero-loss proof and
    * the files-opened count is the efficiency fact. */
  def manifestPrunedRead(spark: org.apache.spark.sql.SparkSession,
      dataPath: String, manifestPath: String,
      ranges: Seq[(String, Double, Double)]): DataFrame = {
    require(ranges.nonEmpty, "at least one range predicate")
    val m = spark.read.parquet(manifestPath)
    val keep = ranges.foldLeft(m) { case (acc, (c, lo, hi)) =>
      acc.filter(col(s"max_$c").cast("double") >= lo &&
        col(s"min_$c").cast("double") <= hi)
    }
    // sorted: the manifest's row order follows its paths' hashes, so an
    // unsorted list would make the scan's file order run-dependent
    val files = keep.select("file").collect().map(_.getString(0)).sorted
    val data =
      if (files.isEmpty) spark.read.parquet(dataPath).limit(0)
      else spark.read.parquet(files.toSeq: _*)
    ranges.foldLeft(data) { case (acc, (c, lo, hi)) =>
      acc.filter(col(c).cast("double").between(lo, hi))
    }
  }

  /** Files the manifest keeps for `ranges` — the audit twin of
    * [[filesTouched]], answered from the manifest ALONE (no data
    * file opens at all). */
  def manifestFilesKept(spark: org.apache.spark.sql.SparkSession,
      manifestPath: String, ranges: Seq[(String, Double, Double)]): Long = {
    val m = spark.read.parquet(manifestPath)
    ranges.foldLeft(m) { case (acc, (c, lo, hi)) =>
      acc.filter(col(s"max_$c").cast("double") >= lo &&
        col(s"min_$c").cast("double") <= hi)
    }.count()
  }
}
