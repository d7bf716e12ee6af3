package graft.operators

import scala.collection.mutable

import dev.ludovic.netlib.blas.BLAS
import org.apache.spark.{Dependency, HashPartitioner, OneToOneDependency, Partition, SparkEnv, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD, UnionRDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.execution.UnsafeRowSerializer
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

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
    *   1. every input partition folds its cell rows into partial BS×BS
    *      blocks ([[Partial]]: sparse cells until they would outweigh the
    *      dense block, then dense) and sends each straight to the cuboids
    *      that read it — an A block to the `pc` cuboids of its row
    *      group, a B block to the `pr` cuboids of its column group;
    *   2. ONE shuffle, keyed by cuboid id, that puts cuboid `t` in
    *      partition `t`: one cuboid per task;
    *   3. each task sums its partial blocks and multiplies its A and B
    *      strips block by block with BLAS `dgemm`, then emits the nonzero
    *      cells of each output block. With `pk > 1` it emits partial
    *      output blocks instead, summed per output block by one keyed
    *      reduce.
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
  private[graft] def group(b: Int, p: Int, nb: Int): Int = (b.toLong * p / nb).toInt

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

  /** The cuboid product under a given grid; [[multiplyBlocked]] picks the
    * grid, specs force one. Rows stay Catalyst rows end to end: the fold
    * reads the inputs' rows, blocks cross the exchange as `UnsafeRow`s
    * and output cells are written straight into one reused `UnsafeRow`.
    * Declaring it runs no job: the inputs are planned on first use. */
  private[graft] def multiplyCuboid(spark: SparkSession, a: DataFrame, b: DataFrame,
                                    n: Long, bs: Int, grid: Grid): DataFrame = {
    val products = cuboidExchange(a, b, n, bs, grid)
      .mapPartitions(parts => cuboidProducts(parts.map(_._2), bs))
    val blocks =
      if (grid.pk == 1) products
      else products.map { case (bi, bj, blk) => (bi.toLong << 32 | bj, blk) }
        .combineByKeyWithClassTag[Array[Double]]((blk: Array[Double]) => blk, addInto _, addInto _,
          new HashPartitioner(grid.tasks), mapSideCombine = false)
        .map { case (key, blk) => ((key >>> 32).toInt, key.toInt, blk) }
    Bridge.dataFrame(spark, blocks.mapPartitions(blockCells(bs)), CellSchema)
  }

  /** The one shuffle of partial blocks: an Int key `t < tasks` hashes to
    * partition `t`, so cuboid `t` is computed in partition `t`. */
  private[graft] def cuboidExchange(a: DataFrame, b: DataFrame, n: Long, bs: Int,
                                    grid: Grid): RDD[(Int, UnsafeRow)] =
    new ShuffledRDD[Int, UnsafeRow, UnsafeRow](blockParts(a, b, n, bs, grid),
      new HashPartitioner(grid.tasks)).setSerializer(new UnsafeRowSerializer(PartFields))

  private val CellSchema = StructType(Seq(StructField("i", LongType, nullable = false),
    StructField("j", LongType, nullable = false), StructField("v", DoubleType, nullable = false)))

  /** The rows of `df`'s plan, planned when the RDD is first used: under
    * AQE `queryExecution.toRdd` runs the plan's shuffle stages as it is
    * called, which would put jobs into a product's declaration. */
  private[graft] final class PlannedRows(@transient df: DataFrame)
      extends RDD[InternalRow](df.sparkSession.sparkContext, Nil) {
    @transient private lazy val rows = df.queryExecution.toRdd

    override protected def getDependencies: Seq[Dependency[_]] = Seq(new OneToOneDependency(rows))

    override protected def getPartitions: Array[Partition] = rows.partitions

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, context)
  }

  /** The partial blocks of A and B, keyed by the cuboid that reads them,
    * one copy per such cuboid: what the cuboid exchange carries. */
  private[graft] def blockParts(a: DataFrame, b: DataFrame, n: Long, bs: Int,
                                grid: Grid): RDD[(Int, UnsafeRow)] = {
    val nb = blocksPerSide(n, bs)
    def side(m: DataFrame, isA: Boolean): RDD[(Int, UnsafeRow)] =
      new PlannedRows(m.select(col("i").cast("long"), col("j").cast("long"), col("v").cast("double"))
        .filter(col("v").isNotNull))
        .mapPartitions { rows =>
          val out = new PartWriter
          partialBlocks(rows, n, bs, FlushBytes).flatMap { case (r, c, part) =>
            val cuboids =
              if (isA) Iterator.range(0, grid.pc)
                .map(cg => grid.id(group(r, grid.pr, nb), cg, group(c, grid.pk, nb)))
              else Iterator.range(0, grid.pr)
                .map(rg => grid.id(rg, group(c, grid.pc, nb), group(r, grid.pk, nb)))
            // the shuffle writer serializes each record as it takes it,
            // so every copy can share the one row
            val row = out.write(isA, r, c, part)
            cuboids.map(t => (t, row))
          }
        }
    // UnionRDD directly: SparkContext.union asks each side for its partitions
    new UnionRDD(a.sparkSession.sparkContext, Seq(side(a, isA = true), side(b, isA = false)))
  }

  /** Folds a partition's `(i, j, v)` rows into partial blocks and yields
    * them as (row block, column block, partial), all it holds each time
    * that reaches `flushBytes`; the cuboid tasks sum the partials. */
  private[graft] def partialBlocks(rows: Iterator[InternalRow], n: Long, bs: Int,
                                   flushBytes: Long): Iterator[(Int, Int, Partial)] =
    new Iterator[(Int, Int, Partial)] {
      private val held = mutable.LongMap.empty[Partial]
      private var out: Iterator[(Int, Int, Partial)] = Iterator.empty

      def hasNext: Boolean = out.hasNext || { fill(); out.hasNext }

      def next(): (Int, Int, Partial) = { hasNext; out.next() }

      private def fill(): Unit = {
        var bytes = 0L
        while (bytes < flushBytes && rows.hasNext) {
          val row = rows.next()
          require(!row.isNullAt(0) && !row.isNullAt(1), "a cell with a null index")
          val i = row.getLong(0)
          val j = row.getLong(1)
          require(i >= 0 && i < n && j >= 0 && j < n, s"cell ($i, $j) outside the ${n}x$n index space")
          val key = (i / bs) << 32 | (j / bs)
          var part = held.getOrNull(key)
          if (part == null) {
            part = new Partial(bs)
            held.update(key, part)
            bytes += part.bytes
          }
          bytes += part.add((i % bs * bs + j % bs).toInt, row.getDouble(2))
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

    /** Writes the positions, each minus the one before (none for a dense
      * block), and the values to send. Cells that arrive in row order
      * give runs of equal steps, which the shuffle's compression all but
      * removes. */
    def writeTo(steps: UnsafeArrayWriter, values: UnsafeArrayWriter, row: UnsafeRowWriter): Unit = {
      val cells = if (pos == null) 0 else size
      var start = row.cursor()
      steps.initialize(cells)
      var q = 0
      while (q < cells) { steps.write(q, if (q == 0) pos(0) else pos(q) - pos(q - 1)); q += 1 }
      row.setOffsetAndSizeFromPreviousCursor(PartSteps, start)
      start = row.cursor()
      val count = if (pos == null) area else size
      values.initialize(count)
      q = 0
      while (q < count) { values.write(q, vals(q)); q += 1 }
      row.setOffsetAndSizeFromPreviousCursor(PartValues, start)
    }
  }

  /** A partial block crosses the exchange as the row `(isA, r, c, steps,
    * values)`: block `(r, c)` of A (`isA`) or B, holding `values` at the
    * row-major positions whose successive differences are `steps`, or the
    * dense block `values` when `steps` is empty. */
  private val PartFields = 5
  private val PartSteps = 3
  private val PartValues = 4

  /** Writes partial blocks as exchange rows into one reused buffer. */
  private[graft] final class PartWriter {
    private val row = new UnsafeRowWriter(PartFields)
    private val steps = new UnsafeArrayWriter(row, 4)
    private val values = new UnsafeArrayWriter(row, 8)

    def write(isA: Boolean, r: Int, c: Int, part: Partial): UnsafeRow = {
      row.reset()
      row.write(0, isA)
      row.write(1, r)
      row.write(2, c)
      part.writeTo(steps, values, row)
      row.getRow
    }
  }

  /** Products of the cuboid in a partition, as (row block, column block,
    * block) per output block with at least one block product. */
  private def cuboidProducts(parts: Iterator[UnsafeRow], bs: Int): Iterator[(Int, Int, Array[Double])] = {
    val cuboid = new Cuboid(bs)
    parts.foreach(cuboid.add)
    cuboid.products
  }

  /** One cuboid's A and B strips, partials summed on arrival. */
  private final class Cuboid(bs: Int) {
    private val aRows = mutable.LongMap.empty[mutable.LongMap[Array[Double]]] // bi → bk → block
    private val bBlocks = mutable.LongMap.empty[Array[Double]] // (bk, bj) → block
    private val bCols = mutable.Set.empty[Int]

    private def pack(r: Int, c: Int): Long = r.toLong << 32 | c

    /** Sums in one exchange row; the row's buffer is reused after this. */
    def add(p: UnsafeRow): Unit = {
      val c = p.getInt(2)
      if (p.getBoolean(0)) sumInto(aRows.getOrElseUpdate(p.getInt(1), mutable.LongMap.empty), c, p)
      else { sumInto(bBlocks, pack(p.getInt(1), c), p); bCols += c }
    }

    private def sumInto(m: mutable.LongMap[Array[Double]], key: Long, p: UnsafeRow): Unit = {
      val steps = p.getArray(PartSteps)
      val values = p.getArray(PartValues)
      var acc = m.getOrNull(key)
      if (steps.numElements == 0 && acc == null) m.update(key, values.toDoubleArray)
      else if (steps.numElements == 0) {
        var q = 0
        while (q < acc.length) { acc(q) += values.getDouble(q); q += 1 }
      } else {
        if (acc == null) { acc = new Array[Double](bs * bs); m.update(key, acc) }
        var q = 0
        var at = 0
        while (q < steps.numElements) { at += steps.getInt(q); acc(at) += values.getDouble(q); q += 1 }
      }
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

  private def addInto(acc: Array[Double], x: Array[Double]): Array[Double] = {
    var p = 0
    while (p < acc.length) { acc(p) += x(p); p += 1 }
    acc
  }

  /** out += x·y on row-major bs×bs blocks. A row-major product is the
    * transposed product in column-major order, hence y before x. Kept a
    * small method of its own so the JIT compiles it apart from the
    * partition loop. */
  private def gemm(bs: Int, x: Array[Double], y: Array[Double], out: Array[Double]): Unit =
    BLAS.getInstance().dgemm("N", "N", bs, bs, bs, 1.0, y, bs, x, bs, 1.0, out, bs)

  /** The nonzero cells of each output block (bi, bj) as `(i, j, v)` rows,
    * all written into one reused `UnsafeRow`: a consumer copies a row
    * before it asks for the next. */
  private def blockCells(bs: Int)(blocks: Iterator[(Int, Int, Array[Double])]): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private val row = new UnsafeRowWriter(3)
      private var bi = 0
      private var bj = 0
      private var blk = Array.emptyDoubleArray
      private var pos = 0

      def hasNext: Boolean = {
        while (pos < blk.length && blk(pos) == 0.0) pos += 1
        while (pos == blk.length && blocks.hasNext) {
          val (r, c, next) = blocks.next()
          bi = r; bj = c; blk = next; pos = 0
          while (pos < blk.length && blk(pos) == 0.0) pos += 1
        }
        pos < blk.length
      }

      def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("no cells left")
        row.write(0, bi.toLong * bs + pos / bs)
        row.write(1, bj.toLong * bs + pos % bs)
        row.write(2, blk(pos))
        pos += 1
        row.getRow
      }
    }
}
