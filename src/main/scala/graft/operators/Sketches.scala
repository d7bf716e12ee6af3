package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distinct-count sketching — the approximate tier of the analytics
  * family (north-star extension; the reference computes only exact
  * dense aggregates, SURVEY.md §2.5).
  *
  * The estimator is KMV (k-minimum values, Bar-Yossef et al. 2002): hash
  * every key uniformly, keep the k smallest distinct hash values; with
  * kth(k) the k-th smallest, distinct ≈ (k−1) · M / kth where M is the
  * hash range. Unlike HyperLogLog the whole sketch is DETERMINISTIC
  * given the hash function — which is what lets an approximate operator
  * still hash-match an exact SQL oracle (the repo's correctness gate):
  * both engines share the md5-derived 60-bit hash, the k-th minimum is
  * an exact integer, and the estimate is one IEEE division of exactly
  * representable doubles ((k−1)·2^60 has a 6-bit mantissa; int→double
  * conversion and division are correctly rounded on both engines).
  */
object Sketches {

  /** 60-bit uniform hash shared with the SQL oracle (and the streaming
    * sketch twin): the first 15 hex nibbles of md5 — positive, fits
    * signed 64-bit. One native kernel ([[graft.functions.Md5Hash60]]). */
  def hash60(key: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.Md5Hash60(Bridge.expression(key.cast("string"))))
  }

  /** Per-group KMV distinct-count estimate for `key`, alongside the
    * exact count for validation.
    *
    * Plan shape: one distinct aggregation over (group, hash), then one
    * window (partition by group, order by hash) feeding a single
    * aggregation — the per-group sort IS the sketch here because the
    * validation column `n_exact` forces every distinct hash through
    * anyway. The production form ([[kmvDistinctSketch]]) drops
    * `n_exact`, filters `rn <= k` directly under the window, and
    * Spark's WindowGroupLimit then keeps only k rows per group per
    * partition map-side — the sketch never materializes the full
    * distinct set. Both shapes shuffle once on `group`.
    */
  def kmvDistinct(df: DataFrame, group: String, key: String, k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hashes = df.select(col(group), hash60(col(key)).as("h")).distinct()
    val w = Window.partitionBy(group).orderBy("h")
    val numerator = Math.scalb((k - 1).toDouble, 60) // (k−1)·2^60, exact
    hashes.withColumn("rn", row_number().over(w))
      .groupBy(group)
      .agg(
        count(lit(1)).as("n_exact"),
        max(when(col("rn") <= k, col("h"))).as("kth_hash"),
        sum(when(col("rn") <= k, lit(1L)).otherwise(lit(0L))).as("n_kept"))
      .select(col(group), col("n_exact"), col("kth_hash"),
        when(col("n_kept") < k, col("n_exact").cast("double"))
          .otherwise(lit(numerator) / col("kth_hash").cast("double"))
          .as("kmv_estimate"))
  }

  /** The production form of [[kmvDistinct]]: no exact-count validation
    * column, so the `rn <= k` filter sits directly under the window and
    * Spark's rank-limit pushdown (WindowGroupLimit, plan-audited) keeps
    * only k rows per group per partition map-side — the full distinct
    * hash set never materializes past the partial aggregation. Returns
    * the estimate only; when a group holds fewer than k distinct keys
    * the estimate IS the exact count.
    */
  def kmvDistinctSketch(df: DataFrame, group: String, key: String,
                        k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    val hashes = df.select(col(group), hash60(col(key)).as("h")).distinct()
    val w = Window.partitionBy(group).orderBy("h")
    val numerator = Math.scalb((k - 1).toDouble, 60)
    hashes.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(group)
      .agg(max("h").as("kth_hash"), count(lit(1)).as("n_kept"))
      .select(col(group), col("kth_hash"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(numerator) / col("kth_hash").cast("double"))
          .as("kmv_estimate"))
  }

  /** KMV sketch MERGE: the distinct-count estimate of the union of
    * several groups, computed by merging the per-group k-min sketches —
    * never rescanning the union. This is the property that matters at
    * 100 TB: per-partition / per-day / per-source sketches combine into
    * any rollup because the k smallest of a union are always contained
    * in the union of each side's k smallest. The correctness gate
    * exploits exactly that: the engine merges sketches while the SQL
    * oracle computes the union sketch from scratch — a hash match
    * PROVES the merge is lossless.
    */
  def kmvMergedEstimate(df: DataFrame, group: String, key: String, k: Int,
                        include: Seq[String]): DataFrame = {
    require(k >= 2 && include.nonEmpty, s"need k >= 2 and groups, got $k/$include")
    val w = Window.partitionBy(group).orderBy("h")
    val numerator = Math.scalb((k - 1).toDouble, 60)
    val perGroup = df.filter(col(group).isin(include: _*))
      .select(col(group), hash60(col(key)).as("h")).distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k) // per-group sketches (WindowGroupLimit)
    perGroup.select("h").distinct()
      .orderBy("h").limit(k) // sketch merge: k smallest across sketches
      .agg(count(lit(1)).as("n_kept"), max("h").as("kth_hash"))
      .select(col("n_kept"), col("kth_hash"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit(numerator) / col("kth_hash").cast("double"))
          .as("kmv_estimate"))
  }

  /** The oracle-side constant for [[kmvDistinct]]'s numerator, printed
    * with full round-trip precision so the SQL literal parses to the
    * identical double. */
  def kmvNumeratorSql(k: Int): String = {
    val d = Math.scalb((k - 1).toDouble, 60)
    s"CAST(${java.math.BigDecimal.valueOf(d).toPlainString} AS DOUBLE)"
  }

  /** Mergeable QUANTILE sketch by k-min-hash sampling — the distributed
    * p50/p90/p99 that doesn't sort the corpus: hash each row's id
    * uniformly, keep the k smallest per group (a deterministic uniform
    * sample — the same k-min set algebra as [[kmvDistinct]], so
    * per-partition/per-day sketches merge losslessly into any rollup),
    * and read discrete quantiles off the sample. Estimates sit beside
    * the exact quantiles so the row itself reports sketch error.
    * Deterministic end to end: the sample is hash-chosen (no RNG) and
    * `percentile_disc` PICKS an element (both engines use the
    * ceil(p·n) index — no interpolation arithmetic to diverge).
    *
    * Plan shape: the rank filter carries the literal k, so
    * WindowGroupLimit prunes each group to k rows map-side — the
    * full-population sort happens ONLY in the exact-quantile validation
    * aggregation, which a production deployment drops exactly like
    * [[kmvDistinctSketch]] drops `n_exact`. */
  def kmvQuantileSketch(df: DataFrame, group: String, idCol: String,
                        valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"need k >= 2, got $k")
    val h = hash60(concat(lit("qs:"), col(idCol).cast("string")))
    val w = Window.partitionBy(group).orderBy(col("h"), col(idCol))
    val est = df
      .select(col(group), col(idCol), col(valueCol).as("v"), h.as("h"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(group)
      .agg(count(lit(1)).as("n_sampled"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50_est"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)").as("p90_est"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY v)").as("p99_est"))
    val exact = df.groupBy(group)
      .agg(count(lit(1)).as("n"),
        expr(s"percentile_disc(0.5) WITHIN GROUP (ORDER BY $valueCol)")
          .as("p50_exact"),
        expr(s"percentile_disc(0.9) WITHIN GROUP (ORDER BY $valueCol)")
          .as("p90_exact"),
        expr(s"percentile_disc(0.99) WITHIN GROUP (ORDER BY $valueCol)")
          .as("p99_exact"))
    est.join(exact, group)
      .select(col(group), col("n"), col("n_sampled"),
        col("p50_est"), col("p50_exact"), col("p90_est"), col("p90_exact"),
        col("p99_est"), col("p99_exact"))
  }

  /** Count–min sketch cell table (Cormode & Muthukrishnan 2005) over a
    * key column: depth×width counters, cell (d, b) = number of
    * occurrences whose d-th hash lands in bucket b. One explode over
    * the `depth` hash rows + one hash aggregation; the table is
    * MERGEABLE cell-wise (counts add), which is the 100 TB property —
    * per-partition/per-day tables sum into any rollup without
    * rescanning. Hashes ride [[hash60]] (md5-derived), so the oracle
    * rebuilds the identical table. */
  def cmsTable(df: DataFrame, key: String, depth: Int,
               width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad cms shape $depth x $width")
    df.select(col(key).cast("string").as("k"))
      .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("d"),
        (hash60(concat(col("d").cast("string"), lit(":"), col("k")))
          % width).as("b"))
      .groupBy("d", "b").agg(count(lit(1)).as("c"))
  }

  /** Heavy hitters with count–min estimates: the exact top-`k` keys by
    * occurrence (deterministic tie-break) annotated with their CMS
    * point estimate — min over depth rows of the key's cell. The
    * estimate NEVER undercounts (every cell holds the key's true count
    * plus its colliders), so `est ≥ exact` row by row, and the gap IS
    * the measured collision error — the [[kmvDistinct]] validation
    * pattern: production keeps the table + point lookups and drops the
    * exact aggregation.
    *
    * Plan shape: the occurrence relation aggregates to (key, count)
    * exactly ONCE — the only corpus-scale pass — and that
    * vocabulary-scale relation (reused via lazy localCheckpoint) feeds
    * everything downstream: the CMS table as a count-WEIGHTED cell sum
    * (cell = Σ counts of the keys hashing there — identical to
    * counting raw occurrences, [[cmsTable]]'s unweighted form, but the
    * depth-way hash explode runs over |vocab| rows instead of |corpus|
    * rows), the exact top-k as a TakeOrdered, and the k-row probe list
    * joining the depth-row cells via a broadcast. */
  def heavyHitters(df: DataFrame, key: String, k: Int, depth: Int = 4,
                   width: Int = 1024): DataFrame = {
    val counts = df.select(col(key).cast("string").as("k"))
      .groupBy("k").agg(count(lit(1)).as("exact"))
      .localCheckpoint(eager = false)
    val cms = counts
      .select(col("k"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("d"),
        (hash60(concat(col("d").cast("string"), lit(":"), col("k")))
          % width).as("b"),
        col("exact"))
      .groupBy("d", "b").agg(sum("exact").as("c"))
    val top = counts.orderBy(col("exact").desc, col("k")).limit(k)
    val probes = top
      .select(col("k"), col("exact"),
        explode(sequence(lit(0), lit(depth - 1))).as("d"))
      .select(col("k"), col("exact"), col("d"),
        (hash60(concat(col("d").cast("string"), lit(":"), col("k")))
          % width).as("b"))
    broadcast(probes).join(cms, Seq("d", "b"))
      .groupBy("k", "exact").agg(min("c").as("cms_est"))
      .select(col("k").as("token"), col("exact"), col("cms_est"))
  }

  /** Per-group HyperLogLog register table (Flajolet et al. 2007): the
    * top `p` bits of the 60-bit hash pick one of m = 2^p buckets, and
    * the register is the max over the group's keys of ρ = position of
    * the first set bit in the remaining 60−p bits (counting from the
    * top, 1-based; ρ = 61−p when they are all zero). Deterministic
    * given [[hash60]], so the oracle rebuilds the identical table —
    * the bit-position arithmetic rides `length(bin(x))` (binary string
    * without leading zeros), which both engines define identically,
    * rather than a floating log2 whose rounding could differ.
    *
    * The register table IS the sketch: max is idempotent and
    * commutative, so per-partition/per-day tables merge by cell-wise
    * max into any rollup without rescanning ([[hllMerged]] proves it
    * against this whole-corpus build). The float estimate
    * (α·m²/Σ2^−reg) is intentionally NOT a column — harmonic-mean
    * summation order is engine-dependent — it lives in the spec, which
    * checks it against the exact count.
    *
    * Plan shape: one projection (hash, shift, mask, bin-length) and
    * one partial+final max aggregation — no distinct, no window. */
  def hllRegisters(df: DataFrame, group: String, key: String,
                   p: Int = 8): DataFrame = {
    require(p >= 4 && p <= 16, s"need 4 <= p <= 16, got $p")
    val lowBits = 60 - p
    val mask = (1L << lowBits) - 1
    df.select(col(group), hash60(col(key)).as("h"))
      .select(col(group), shiftright(col("h"), lowBits).as("bucket"),
        col("h").bitwiseAND(lit(mask)).as("rest"))
      .select(col(group), col("bucket"),
        when(col("rest") === 0, lit(lowBits + 1))
          .otherwise(lit(lowBits + 1) - length(bin(col("rest"))))
          .cast("long").as("rho"))
      .groupBy(group, "bucket").agg(max("rho").as("register"))
  }

  /** HLL register-table MERGE proof: split the input into two halves by
    * a hash of `splitKey`, build each half's register table, merge them
    * by cell-wise max, and join the whole-corpus table — `agree` is
    * true on every row iff the merge is lossless (it always is; the
    * oracle recomputing both sides from scratch makes the claim a
    * hash-checked fact rather than an assertion). The 100 TB shape:
    * per-source sketches union + one metadata-scale max aggregation —
    * the corpus is scanned once per half, never for the rollup. */
  def hllMerged(df: DataFrame, group: String, key: String,
                splitKey: String, p: Int = 8): DataFrame = {
    val lowBits = 60 - p
    val mask = (1L << lowBits) - 1
    val perHalf = df
      .select(col(group), pmod(hash60(col(splitKey)), lit(2)).as("half"),
        hash60(col(key)).as("h"))
      .select(col(group), col("half"),
        shiftright(col("h"), lowBits).as("bucket"),
        col("h").bitwiseAND(lit(mask)).as("rest"))
      .select(col(group), col("half"), col("bucket"),
        when(col("rest") === 0, lit(lowBits + 1))
          .otherwise(lit(lowBits + 1) - length(bin(col("rest"))))
          .cast("long").as("rho"))
      .groupBy(group, "half", "bucket").agg(max("rho").as("register"))
    val merged = perHalf.groupBy(group, "bucket")
      .agg(max("register").as("register_merged"))
    merged.join(hllRegisters(df, group, key, p), Seq(group, "bucket"))
      .select(col(group), col("bucket"), col("register_merged"),
        col("register"),
        (col("register_merged") === col("register")).as("agree"))
  }
}
