package graft.operators

import scala.collection.mutable

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Distributed matrix algebra over coordinate-form DataFrames.
  *
  * A matrix is a DataFrame with columns `(i: BIGINT, j: BIGINT, v: DOUBLE)`
  * holding the stored (generally nonzero) cells. This is the engine's
  * canonical form for BOTH the reference's dense `double[n][n]` matrices
  * (`Stage 1/C Implementation/mm_baseline.c:21-29`, `Stage 1/Java
  * Implementation/MMBaseline.java:19-21`) and its CSR sparse matrices
  * (`Stage 2/Python Implementation/mm_opt.py:10-28`, `Stage 2/C
  * Implementation/mm_opt.c:81`): at the 100 TB scale the assignment PDF's
  * Stage 4 demands ("matrices that cannot fit into the memory of a single
  * machine"), a dense array representation is impossible and CSR's
  * skip-the-zeros trick is exactly what a coordinate relation does by
  * construction.
  *
  * Multiplication `C[i,j] = Σ_k A[i,k]·B[k,j]` (the triple loop at
  * `Stage 1/Python Implementation/mm_baseline.py:17-28`) is an equi-join on
  * the contraction index followed by a grouped sum — Catalyst then owns the
  * physical strategy (sort-merge vs broadcast-hash, partial aggregation,
  * AQE skew splitting), which subsumes the reference's hand-built loop-order
  * / tiling / threading variants (SURVEY.md §4).
  *
  * Scale notes (local[32] today, 1000 executors tomorrow):
  *   - `fromTable` pre-aggregates duplicate coordinates BEFORE the join:
  *     correct per the reference's accumulate semantics (SURVEY Q3,
  *     `Stage 2/C Implementation/mm_opt.c:112-120`) and shrinks the shuffle
  *     to ≤ n² rows per side.
  *   - `multiply` shuffles both sides by the contraction key, then the
  *     grouped sum gets map-side partial aggregation for free. Partial
  *     products never materialize beyond the aggregation hash maps.
  *   - For sparse × small-dense (SpMM, `mm_opt.c:112-120`) pass
  *     `broadcastRight = true`: it is precisely the reference's Stage-3
  *     Python plan — chunk A across workers, replicate B to each
  *     (`Stage 3/Python Implementation/mm_opt_par.py:26-41`) — as a
  *     broadcast-hash join with zero shuffle on the big side.
  */
object MatrixOps {

  /** Derive a coordinate matrix from a relational table.
    *
    * Deterministic arithmetic over existing columns replaces the
    * reference's seeded RNG fills (`mm_baseline.py:13-15`, `mm_opt.c:24`,
    * `MMBaseline.java:23-28`) so that external engines (the DuckDB oracle)
    * reproduce bit-identical values — the reference itself could never
    * compare results across its three languages because each used a
    * different RNG (SURVEY.md §5). Duplicate (i,j) contributions accumulate
    * (SURVEY Q3), hence the groupBy-sum.
    */
  def fromTable(df: DataFrame, i: Column, j: Column, v: Column): DataFrame =
    df.select(i.cast("long").as("i"), j.cast("long").as("j"), v.cast("double").as("v"))
      .groupBy("i", "j").agg(sum("v").as("v"))

  /** n×n identity. Generated distributed (`spark.range` parallelizes). */
  def identity(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("i"), col("id").as("j"), lit(1.0).as("v"))

  /** Dense n×n generator — the engine form of `gen_matrix`/`fill*`
    * (`mm_baseline.py:13-15`, `mm_baseline.c:31-38`, `MMBaseline.java:23-28`).
    * Seeded `rand` matches the reference's "statistical shape only"
    * contract: no two of its languages ever agreed on values either.
    */
  def genDense(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n * n).select(
      // integer div, not double `/`: double rounding near 2^53 would
      // misassign row indices at extreme n
      expr(s"id div $n").as("i"),
      (col("id") % n).as("j"),
      rand(seed).as("v"))

  /** Sparse generator mirroring `gen_sparse_csr` (`mm_opt.py:10-28`):
    * ≈ density·n² stored cells, spread per-row like the reference's
    * per-row quota. Deterministic stride instead of `rnd.sample` so the
    * same cells exist on every engine/run.
    */
  def genSparse(spark: SparkSession, n: Long, density: Double, seed: Long): DataFrame = {
    val stride = math.max(1L, math.round(1.0 / density))
    genDense(spark, n, seed)
      .filter(((col("i") * 31L + col("j") + lit(seed)) % stride) === 0)
  }

  /** G5 exact-quota parity: the reference's CSR generator distributes
    * nnz = ⌊n²·density⌋ as `per_row = nnz / n` per row with one extra for
    * the first `nnz % n` rows (`mm_opt.py:17-18`, `mm_opt.c:86-87`,
    * `MMOpt.java:97`). Column positions come from a per-row deterministic
    * stride (distinct within a row — the Python generator's sorted
    * `rnd.sample` contract) instead of RNG, values from seeded `rand`.
    * Fully distributed: `range(n)` → per-row sequence explode, no driver
    * materialization at any n.
    */
  def genSparseQuota(spark: SparkSession, n: Long, density: Double,
                     seed: Long): DataFrame = {
    val nnz = (n * n * density).toLong
    val perRow = nnz / n
    val leftover = nnz % n
    spark.range(n)
      .select(col("id").as("i"),
        (lit(perRow) + when(col("id") < leftover, 1L).otherwise(0L)).as("k"))
      .filter(col("k") > 0)
      .withColumn("stride", greatest(lit(1L), (lit(n) / col("k")).cast("long")))
      .select(col("i"),
        explode(sequence(lit(0L), col("k") - 1)).as("t"),
        col("stride"))
      .select(col("i"), ((col("i") + col("t") * col("stride")) % n).as("j"))
      .withColumn("v", rand(seed))
  }

  /** C = A × B: equi-join on the contraction index k (= A.j = B.i), then
    * grouped sum — `matmul_basic` (`mm_baseline.py:17-28`, `mm_baseline.c:40-52`,
    * `MMBaseline.java:30-42`) and, unchanged, `spmm_csr_dense`
    * (`mm_opt.py:75-89`): a coordinate relation only stores nnz, so the
    * sparse kernel IS the dense kernel here.
    *
    * `broadcastRight` replicates B to every task (no shuffle of A) — the
    * plan of `parallel_mul` (`mm_opt_par.py:26-41`, whole-B-per-worker).
    */
  def multiply(a: DataFrame, b: DataFrame, broadcastRight: Boolean = false): DataFrame = {
    val probe = a.select(col("i"), col("j").as("k"), col("v").as("va"))
    val build0 = b.select(col("i").as("k"), col("j"), col("v").as("vb"))
    val build = if (broadcastRight) broadcast(build0) else build0
    probe.join(build, "k")
      .groupBy("i", "j")
      .agg(sum(col("va") * col("vb")).as("v"))
  }

  /** Bᵀ — a pure projection: the reference materializes a transposed copy
    * for cache locality (`mm_opt.c:49-61`); in coordinate form it is a
    * column swap with zero data movement.
    */
  def transpose(m: DataFrame): DataFrame =
    m.select(col("j").as("i"), col("i").as("j"), col("v"))

  /** `matmul_transposed` (`mm_opt.py:42-55`, `MMOpt.java:44-62`): compute
    * C = A × B given BT = Bᵀ. The i-j-k dot-product loop order is a
    * physical detail Catalyst owns; logically it is the same join with the
    * contraction on BT's j.
    */
  def multiplyTransposed(a: DataFrame, bt: DataFrame): DataFrame =
    multiply(a, transpose(bt))

  /** A^k by left-to-right chaining. Chained multiplies reuse the
    * contraction-key partitioning: each product is already hash-
    * partitioned by (i, j) from its grouped sum, so re-keying by the next
    * contraction index is the only exchange between steps — the pattern
    * iterative algorithms (PageRank-style walks, reachability) hit at
    * scale. */
  def power(a: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "power requires k >= 1")
    (2 to k).foldLeft(a)((acc, _) => multiply(acc, a))
  }

  /** Boolean-semiring closure step: cap every stored cell at 1.0. Chained
    * with [[multiply]] this computes k-hop REACHABILITY instead of path
    * counts — and, critically for scale, keeps magnitudes at 1 so
    * iterated products can't overflow doubles the way raw path counts do
    * (count-explosion is why A^k over a web-scale graph is always run in
    * the boolean/tropical semiring, never the ring of reals).
    */
  def boolCap(m: DataFrame): DataFrame =
    m.withColumn("v", least(col("v"), lit(1.0)))

  /** k-hop reachability: capped A, k-1 capped multiplies. */
  def reachability(a: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    (2 to k).foldLeft(boolCap(a))((acc, _) => boolCap(multiply(acc, boolCap(a))))
  }

  /** Persist both operands bucketed on their contraction key so that
    * REPEATED multiplies (iterative solvers, chained products, A against
    * many B's) join with NO exchange at all: Spark's bucketed
    * sort-merge join reads co-located buckets directly. At 100 TB this
    * converts the per-iteration shuffle — the dominant cost — into a
    * one-time bucketed write. A is keyed by its column index j, B by its
    * row index i (the two sides of the contraction).
    */
  def saveForMultiply(a: DataFrame, b: DataFrame, aTable: String,
                      bTable: String, buckets: Int): Unit = {
    a.select(col("i"), col("j").as("k"), col("v").as("va"))
      .write.mode("overwrite")
      .bucketBy(buckets, "k").sortBy("k").saveAsTable(aTable)
    b.select(col("i").as("k"), col("j"), col("v").as("vb"))
      .write.mode("overwrite")
      .bucketBy(buckets, "k").sortBy("k").saveAsTable(bTable)
  }

  /** Multiply two matrices persisted with [[saveForMultiply]]: the join
    * consumes co-located buckets (no Exchange on either side — asserted
    * in BucketingSpec); only the final grouped sum shuffles. */
  def multiplyBucketed(spark: SparkSession, aTable: String,
                       bTable: String): DataFrame =
    spark.table(aTable).join(spark.table(bTable), "k")
      .groupBy("i", "j")
      .agg(sum(col("va") * col("vb")).as("v"))

  /** Skew-resistant multiply: when a few contraction keys dominate (a
    * dense column of A / row of B — the power-law case at 100 TB), a
    * plain hash join puts one key on one task. Salting splits each hot
    * A-key into `salt` shards and replicates the matching B rows across
    * shards, so the heavy key fans out over `salt` tasks. Same result as
    * [[multiply]] (property-tested); AQE skew-join does this adaptively,
    * this is the explicit form for when statistics are absent.
    */
  def multiplySalted(a: DataFrame, b: DataFrame, salt: Int): DataFrame = {
    val saltedA = a.select(col("i"), col("j").as("k"), col("v").as("va"),
      (pmod(hash(col("i")), lit(salt))).as("salt"))
    val saltedB = b.select(col("i").as("k"), col("j"), col("v").as("vb"))
      .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
    saltedA.join(saltedB, Seq("k", "salt"))
      .groupBy("i", "j")
      .agg(sum(col("va") * col("vb")).as("v"))
  }

  /** `matmul_blocked` (`mm_opt.py:57-73`, `mm_opt.c:63-78`, `MMOpt.java:64-82`):
    * the reference's cache tiling with block size BS, as a cuboid-
    * partitioned product (FuseME, SIGMOD'22). Same logical result as
    * [[multiply]]; this is the physical path for dense×dense at scale,
    * where the coordinate join's n³ partial-product rows would dominate.
    *
    * The (n/BS)³ block products form a cube, cut into a `pr×pc×pk` grid
    * of cuboids ([[Grid]]), one Spark task each:
    *   1. every input partition folds its cells into partial BS×BS
    *      blocks ([[Partial]]: sparse cells until they would outweigh the
    *      dense block, then dense) and sends each straight to the cuboids
    *      that read it — an A block to the `pc` cuboids of its row
    *      group, a B block to the `pr` cuboids of its column group;
    *   2. ONE exchange, `repartition(T, key)` with keys that hash to
    *      distinct partitions ([[cuboidKeys]]): one cuboid per task;
    *   3. each task sums its partial blocks and multiplies its A and B
    *      strips block by block with BLAS `dgemm`, then emits the nonzero
    *      cells of each output block. With `pk > 1` it emits partial
    *      output blocks instead, summed per output block after a second
    *      exchange.
    *
    * Memory: [[chooseGrid]] picks the grid that replicates the fewest
    * bytes among those with at least one task per core whose resident set
    * per task — A strip + B strip + one output block — fits half of one
    * core's share of executor memory. Past that bound it splits the
    * contraction (`pk > 1`), so per-task memory is bounded at any n. A
    * map task holds at most about [[FlushBytes]] of partial blocks before
    * it sends them on.
    *
    * Shuffle: a partial block goes out sparse unless it holds as many
    * cells as the dense block weighs, so the exchange carries at most
    * about 12 bytes per input cell and copy before compression, whatever
    * the order of the cells in a partition. When each partition holds
    * whole blocks (row-major dense input) the parts are dense and A and
    * B cross the exchange `pc` and `pr` times at 8 bytes a cell; when
    * partitions scatter their cells over the blocks (`fromTable`'s
    * hash-aggregate output) the parts are sparse.
    *
    * Semantics: duplicate coordinates sum; absent (all-zero) blocks cost
    * no GEMM and emit nothing; `n` need not be a multiple of BS (the last
    * block is zero-padded); cell indices must lie in `[0, n)`.
    * Known asymmetry: a cell whose contraction cancels to EXACTLY 0.0 is
    * dropped here (indistinguishable from a never-touched cell of a dense
    * block) but kept by [[multiply]] (the join matched). Equivalent for
    * non-negative inputs — all of this engine's derivations — and only
    * reachable under sign cancellation.
    */
  def multiplyBlocked(spark: SparkSession, a: DataFrame, b: DataFrame,
                      n: Long, blockSize: Int = 64): DataFrame =
    multiplyCuboid(spark, a, b, n, blockSize,
      chooseGrid(blocksPerSide(n, blockSize), blockSize,
        spark.sparkContext.defaultParallelism, taskBudget(spark)))

  /** A `pr×pc×pk` grid over the block cube: cuboid `(r, c, k)` computes
    * the output blocks of row group `r` × column group `c`, contracted
    * over the blocks of group `k`. */
  private[graft] final case class Grid(pr: Int, pc: Int, pk: Int) {
    def tasks: Int = pr * pc * pk
    def id(r: Int, c: Int, k: Int): Int = (r * pc + c) * pk + k
  }

  /** Partial blocks a map task holds before it sends them on. */
  private val FlushBytes = 32L << 20

  private def blocksPerSide(n: Long, bs: Int): Int = {
    require(n >= 1 && bs >= 1, s"multiplyBlocked needs n >= 1 and blockSize >= 1, got $n, $bs")
    val nb = (n + bs - 1) / bs
    require(nb <= Int.MaxValue, s"$nb blocks per side exceed the block index range")
    nb.toInt
  }

  /** Group of block index `b` when `nb` blocks split into `p` groups
    * whose sizes differ by at most one. */
  private def group(b: Int, p: Int, nb: Int): Int = (b.toLong * p / nb).toInt

  /** FuseME's cost model. Replicated bytes: A goes to `pc` cuboids, B to
    * `pr`, and with `pk > 1` each output block is written `pk` times
    * before its partials are summed; A, B and C are all `nb²` blocks.
    * Among grids with at least `cores` tasks (as far as the `nb³` block
    * products allow) whose resident set per task fits `budget` bytes,
    * the least replication wins, then the fewest tasks. For each group
    * size only the smallest group count is tried: more groups of the same
    * size hold as much and replicate more. When nothing fits, the finest
    * grid is the best there is. */
  private[graft] def chooseGrid(nb: Int, bs: Int, cores: Int, budget: Long): Grid = {
    val blockBytes = bs.toLong * bs * 8
    def span(p: Int): Long = (nb + p - 1) / p
    def resident(g: Grid): Long =
      (span(g.pr) * span(g.pk) + span(g.pk) * span(g.pc) + 1) * blockBytes
    def replicated(g: Grid): Long = g.pc.toLong + g.pr + (if (g.pk > 1) g.pk else 0)
    val counts = (1 to nb).map(s => (nb + s - 1) / s).distinct.sorted
    val minTasks = math.min(cores.toLong, nb.toLong * nb * nb)
    // per (pr, pc) the smallest feasible pk: replication grows with pk
    val fits = for {
      pr <- counts; pc <- counts
      pk <- counts.find { pk =>
        val t = pr.toLong * pc * pk
        t >= minTasks && t <= Int.MaxValue && resident(Grid(pr, pc, pk)) <= budget
      }
    } yield Grid(pr, pc, pk)
    if (fits.isEmpty) Grid(nb, nb, nb) else fits.minBy(g => (replicated(g), g.tasks))
  }

  /** Half of one core's share of an executor's unified memory; the other
    * half is left to the exchange's buffers and the deserialized rows. */
  private def taskBudget(spark: SparkSession): Long = {
    val sc = spark.sparkContext
    val all = sc.getExecutorMemoryStatus
    // the driver's block manager is listed too; it runs tasks only in local mode
    val executors = if (all.size > 1) all - SparkEnv.get.blockManager.blockManagerId.hostPort else all
    val cores = math.max(1, sc.defaultParallelism / executors.size)
    executors.values.map(_._1).min / cores / 2
  }

  /** Keys for `repartition(tasks, key)` under which key `t` lands on
    * partition `t`. Spark hash-partitions an int key to
    * `pmod(murmur3(key, seed 42), tasks)`, so the cuboid ids themselves
    * collide; scanning the non-negative ints and keeping the first that
    * hits each partition makes placement a bijection (pinned by
    * MatrixOpsSpec against the real exchange). */
  private[graft] def cuboidKeys(tasks: Int): Array[Int] = {
    val keys = Array.fill(tasks)(-1)
    var found = 0
    var k = 0
    while (found < tasks) {
      val p = Math.floorMod(Murmur3_x86_32.hashInt(k, 42), tasks)
      if (keys(p) < 0) { keys(p) = k; found += 1 }
      k += 1
    }
    keys
  }

  /** The cuboid product under a given grid; [[multiplyBlocked]] picks the
    * grid, specs force one. */
  private[graft] def multiplyCuboid(spark: SparkSession, a: DataFrame, b: DataFrame,
                                    n: Long, bs: Int, grid: Grid): DataFrame = {
    import spark.implicits._
    val parts = blockParts(spark, a, b, n, bs, grid).repartition(grid.tasks, col("key"))
    val cells =
      if (grid.pk == 1) parts.mapPartitions(cuboidProducts(_, bs).flatMap(blockCells(bs)))
      else parts.mapPartitions(cuboidProducts(_, bs))
        .repartition(grid.tasks, col("_1"), col("_2"))
        .sortWithinPartitions("_1", "_2")
        .mapPartitions(sumPartials(_).flatMap(blockCells(bs)))
    cells.toDF("i", "j", "v")
  }

  /** The partial blocks of A and B, one copy per cuboid that reads them:
    * what the cuboid exchange carries. */
  private[graft] def blockParts(spark: SparkSession, a: DataFrame, b: DataFrame,
                                n: Long, bs: Int, grid: Grid): Dataset[BlockPart] = {
    import spark.implicits._
    val nb = blocksPerSide(n, bs)
    val keys = cuboidKeys(grid.tasks)
    def side(m: DataFrame, isA: Boolean): Dataset[BlockPart] =
      m.select(col("i").cast("long"), col("j").cast("long"), col("v").cast("double"))
        .filter(col("v").isNotNull)
        .as[(Long, Long, Double)]
        .mapPartitions(partialBlocks(_, n, bs, FlushBytes).flatMap { case (r, c, part) =>
          val cuboids =
            if (isA) Iterator.range(0, grid.pc)
              .map(cg => grid.id(group(r, grid.pr, nb), cg, group(c, grid.pk, nb)))
            else Iterator.range(0, grid.pr)
              .map(rg => grid.id(rg, group(c, grid.pc, nb), group(r, grid.pk, nb)))
          val (pos, vals) = part.payload
          cuboids.map(t => BlockPart(keys(t), t, isA, r, c, pos, vals))
        })
    side(a, isA = true).union(side(b, isA = false))
  }

  /** Folds a partition's cells into partial blocks and yields them as
    * (row block, column block, partial), all it holds each time that
    * reaches `flushBytes`; the cuboid tasks sum the partials. */
  private[graft] def partialBlocks(cells: Iterator[(Long, Long, Double)], n: Long, bs: Int,
                                   flushBytes: Long): Iterator[(Int, Int, Partial)] =
    new Iterator[(Int, Int, Partial)] {
      private val held = mutable.LongMap.empty[Partial]
      private var out: Iterator[(Int, Int, Partial)] = Iterator.empty

      def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

      def next(): (Int, Int, Partial) = { hasNext; out.next() }

      private def fill(): Unit = {
        var bytes = 0L
        while (bytes < flushBytes && cells.hasNext) {
          val (i, j, v) = cells.next()
          require(i >= 0 && i < n && j >= 0 && j < n, s"cell ($i, $j) outside the ${n}x$n index space")
          val key = (i / bs) << 32 | (j / bs)
          var part = held.getOrNull(key)
          if (part == null) {
            part = new Partial(bs)
            held.update(key, part)
            bytes += part.bytes
          }
          bytes += part.add((i % bs * bs + j % bs).toInt, v)
        }
        out = held.toArray.iterator.map { case (key, part) => ((key >>> 32).toInt, key.toInt, part) }
        held.clear()
      }
    }

  /** A partial bs×bs block on the map side: a list of (row-major
    * position, value) cells, duplicates included, until that list would
    * weigh more than the dense block; from then on the dense block. */
  private[graft] final class Partial(bs: Int) {
    private val area = bs * bs
    // sparse cells that weigh as much as the dense block: 12 bytes vs 8 per cell
    private val sparseMax = (area.toLong * 8 / 12).toInt
    private var pos: Array[Int] = if (sparseMax == 0) null else new Array[Int](math.min(4, sparseMax))
    private var vals = new Array[Double](if (pos == null) area else pos.length)
    private var size = 0

    /** Heap held, with about 64 bytes of object and map-entry headers. */
    def bytes: Long = 64 + (if (pos == null) vals.length * 8L else pos.length * 12L)

    /** Adds `v` at position `p`; returns the bytes the partial grew by. */
    def add(p: Int, v: Double): Long =
      if (pos == null) { vals(p) += v; 0L }
      else {
        val before = bytes
        if (size == pos.length) grow()
        if (pos == null) vals(p) += v
        else { pos(size) = p; vals(size) = v; size += 1 }
        bytes - before
      }

    private def grow(): Unit =
      if (size == sparseMax) {
        val dense = new Array[Double](area)
        var q = 0
        while (q < size) { dense(pos(q)) += vals(q); q += 1 }
        pos = null
        vals = dense
      } else {
        val cap = math.min(size * 2, sparseMax)
        pos = java.util.Arrays.copyOf(pos, cap)
        vals = java.util.Arrays.copyOf(vals, cap)
      }

    /** The positions, each minus the one before (empty for a dense
      * block), and the values to send. Cells that arrive in row order
      * give runs of equal steps, which the shuffle's compression all but
      * removes. */
    def payload: (Array[Int], Array[Double]) =
      if (pos == null) (Array.emptyIntArray, vals)
      else (Array.tabulate(size)(q => if (q == 0) pos(0) else pos(q) - pos(q - 1)),
        java.util.Arrays.copyOf(vals, size))
  }

  /** Products of every cuboid in a partition, as (row block, column block,
    * block) per output block with at least one block product. Placement
    * puts one cuboid in each partition; keying by cuboid keeps the result
    * right even if it did not. */
  private def cuboidProducts(parts: Iterator[BlockPart], bs: Int): Iterator[(Int, Int, Array[Double])] = {
    val cuboids = mutable.LongMap.empty[Cuboid]
    parts.foreach(p => cuboids.getOrElseUpdate(p.cuboid, new Cuboid(bs)).add(p))
    cuboids.valuesIterator.flatMap(_.products)
  }

  /** One cuboid's A and B strips, partials summed on arrival. */
  private final class Cuboid(bs: Int) {
    private val aRows = mutable.LongMap.empty[mutable.LongMap[Array[Double]]] // bi → bk → block
    private val bBlocks = mutable.LongMap.empty[Array[Double]] // (bk, bj) → block
    private val bCols = mutable.Set.empty[Int]

    private def pack(r: Int, c: Int): Long = r.toLong << 32 | c

    def add(p: BlockPart): Unit =
      if (p.isA) sumInto(aRows.getOrElseUpdate(p.r, mutable.LongMap.empty), p.c, p)
      else { sumInto(bBlocks, pack(p.r, p.c), p); bCols += p.c }

    private def sumInto(m: mutable.LongMap[Array[Double]], key: Long, p: BlockPart): Unit =
      if (p.pos.isEmpty) m.get(key) match {
        case Some(acc) => addInto(acc, p.vals)
        case None => m.update(key, p.vals)
      } else {
        val acc = m.getOrElseUpdate(key, new Array[Double](bs * bs))
        var q = 0
        var at = 0
        while (q < p.pos.length) { at += p.pos(q); acc(at) += p.vals(q); q += 1 }
      }

    def products: Iterator[(Int, Int, Array[Double])] = for {
      (bi, row) <- aRows.iterator
      bj <- bCols.iterator
      out <- product(row, bj)
    } yield (bi.toInt, bj, out)

    private def product(row: mutable.LongMap[Array[Double]], bj: Int): Option[Array[Double]] = {
      var out: Array[Double] = null
      row.foreachEntry { (bk, x) =>
        bBlocks.get(pack(bk.toInt, bj)).foreach { y =>
          if (out == null) out = new Array[Double](bs * bs)
          gemm(bs, x, y, out)
        }
      }
      Option(out)
    }
  }

  private def addInto(acc: Array[Double], x: Array[Double]): Unit = {
    var p = 0
    while (p < acc.length) { acc(p) += x(p); p += 1 }
  }

  /** out += x·y on row-major bs×bs blocks. A row-major product is the
    * transposed product in column-major order, hence y before x. Kept a
    * small method of its own so the JIT compiles it apart from the
    * partition loop. */
  private def gemm(bs: Int, x: Array[Double], y: Array[Double], out: Array[Double]): Unit =
    BLAS.getInstance().dgemm("N", "N", bs, bs, bs, 1.0, y, bs, x, bs, 1.0, out, bs)

  /** Sums runs of partial blocks of the same output block; the input is
    * sorted by (row block, column block). */
  private def sumPartials(parts: Iterator[(Int, Int, Array[Double])]): Iterator[(Int, Int, Array[Double])] = {
    val in = parts.buffered
    new Iterator[(Int, Int, Array[Double])] {
      def hasNext: Boolean = in.hasNext

      def next(): (Int, Int, Array[Double]) = {
        val (bi, bj, acc) = in.next()
        while (in.hasNext && in.head._1 == bi && in.head._2 == bj) addInto(acc, in.next()._3)
        (bi, bj, acc)
      }
    }
  }

  /** The nonzero cells of output block (bi, bj). */
  private def blockCells(bs: Int)(out: (Int, Int, Array[Double])): Iterator[(Long, Long, Double)] = {
    val (bi, bj, blk) = out
    Iterator.range(0, blk.length).filter(blk(_) != 0.0)
      .map(pos => (bi.toLong * bs + pos / bs, bj.toLong * bs + pos % bs, blk(pos)))
  }
}

/** A partial block on its way to cuboid `cuboid`: `key` routes it there,
  * `(r, c)` is its block position in A (`isA`) or B. It holds the cells
  * `vals` at the row-major positions whose successive differences are
  * `pos`, or the dense block `vals` when `pos` is empty. */
private[graft] final case class BlockPart(key: Int, cuboid: Int, isA: Boolean,
                                          r: Int, c: Int, pos: Array[Int], vals: Array[Double])
