package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.operators.MatrixOps

/** Correctness of the coordinate-matrix algebra (FIXTURES.md §B.1/§B.4).
  *
  * The reference never checks its computed C (SURVEY.md §5 — discarded
  * unchecked in all three languages); these tests assert the equivalences
  * its four kernels implicitly claim: basic ≡ transposed ≡ blocked, A×I=A,
  * (A×B)ᵀ=Bᵀ×Aᵀ, and duplicate-coordinate accumulation (SURVEY Q3).
  */
class MatrixOpsSpec extends SparkSpec {

  private def mat(entries: (Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    entries.toDF("i", "j", "v")
  }

  // Hand-computed 2×2 golden product: [[1,2],[3,4]]·[[5,6],[7,8]].
  private def A = mat((0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0), (1, 1, 4.0))
  private def B = mat((0, 0, 5.0), (0, 1, 6.0), (1, 0, 7.0), (1, 1, 8.0))
  private val golden = Seq(
    (0L, 0L, 19.0), (0L, 1L, 22.0), (1L, 0L, 43.0), (1L, 1L, 50.0))

  test("multiply matches the hand-computed 2x2 golden product") {
    assert(cells(MatrixOps.multiply(A, B)) === golden)
  }

  test("multiply with broadcastRight yields the same result") {
    assert(cells(MatrixOps.multiply(A, B, broadcastRight = true)) === golden)
  }

  test("multiplyTransposed(A, B-transposed) equals multiply(A, B)") {
    val bt = MatrixOps.transpose(B)
    assert(cells(MatrixOps.multiplyTransposed(A, bt)) === golden)
  }

  private def intify(m: DataFrame) = m.withColumn("v", floor(col("v") * 10).cast("double"))

  test("multiplyBlocked equals multiply on an integral random matrix") {
    // Integral values so block-wise and row-wise summation orders agree
    // bit-for-bit (SURVEY §7 R2/R3).
    val a = intify(MatrixOps.genDense(spark, 24, seed = 1))
    val b = intify(MatrixOps.genSparse(spark, 24, density = 0.3, seed = 2))
    val viaJoin = cells(MatrixOps.multiply(a, b)).filter(_._3 != 0.0)
    val viaBlocks = cells(MatrixOps.multiplyBlocked(spark, a, b, 24, blockSize = 8))
    assert(viaBlocks === viaJoin)
  }

  /** multiplyBlocked against the coordinate join, which keeps cells that
    * cancel to 0.0 (the documented asymmetry). */
  private def assertBlockedMatches(a: DataFrame, b: DataFrame, n: Long, bs: Int): Unit =
    assert(cells(MatrixOps.multiplyBlocked(spark, a, b, n, bs)) ===
      cells(MatrixOps.multiply(a, b)).filter(_._3 != 0.0))

  test("multiplyBlocked handles a ragged last block (n % blockSize != 0)") {
    assertBlockedMatches(intify(MatrixOps.genDense(spark, 23, seed = 3)),
      intify(MatrixOps.genSparse(spark, 23, density = 0.4, seed = 4)), 23, 8)
  }

  test("multiplyBlocked sums duplicate coordinates") {
    val a = mat((0, 0, 1.0), (0, 0, 2.0), (0, 9, 3.0), (9, 9, 4.0), (9, 9, -1.0))
    val b = mat((0, 0, 5.0), (9, 0, 6.0), (9, 0, 1.0), (9, 9, 2.0))
    assertBlockedMatches(a, b, 10, 4)
  }

  test("multiplyBlocked skips absent blocks: block-diagonal inputs stay block-diagonal") {
    // 4x4 grid of 8-blocks, only the diagonal blocks stored on each side
    def blockDiag(seed: Long) = intify(MatrixOps.genDense(spark, 32, seed))
      .filter(expr("i div 8 = j div 8"))
    val out = cells(MatrixOps.multiplyBlocked(spark, blockDiag(5), blockDiag(6), 32, 8))
    assert(out.nonEmpty && out.forall { case (i, j, _) => i / 8 == j / 8 })
    assertBlockedMatches(blockDiag(5), blockDiag(6), 32, 8)
  }

  test("multiplyBlocked drops a cell whose contraction cancels to 0.0") {
    val a = mat((0, 0, 1.0), (0, 1, 1.0), (1, 0, 2.0))
    val b = mat((0, 0, 3.0), (1, 0, -3.0), (0, 1, 1.0))
    assert(cells(MatrixOps.multiply(a, b)).contains((0L, 0L, 0.0)))
    assertBlockedMatches(a, b, 2, 2)
  }

  test("every cuboid grid gives the same product, including a split contraction") {
    val n = 30L // 4 blocks of 8 per side, the last one ragged
    val a = intify(MatrixOps.genDense(spark, n, seed = 7))
    val b = intify(MatrixOps.genSparse(spark, n, density = 0.5, seed = 8))
    val want = cells(MatrixOps.multiply(a, b)).filter(_._3 != 0.0)
    for (g <- Seq(MatrixOps.Grid(1, 1, 1), MatrixOps.Grid(3, 1, 1),
        MatrixOps.Grid(2, 2, 1), MatrixOps.Grid(2, 2, 2)))
      assert(cells(MatrixOps.multiplyCuboid(spark, a, b, n, 8, g)) === want, s"grid $g")
  }

  test("cuboid cost model: 2x2x1 for 6 blocks a side on 4 cores, split k when memory is tight") {
    val bs = 256
    assert(MatrixOps.chooseGrid(6, bs, 4, 1L << 30) === MatrixOps.Grid(2, 2, 1))
    // 10 blocks per task cannot hold two full strips of 6 at pk = 1
    val tight = MatrixOps.chooseGrid(6, bs, 4, 10L * bs * bs * 8)
    assert(tight.pk > 1 && tight.tasks >= 4, s"tight budget chose $tight")
    // fewer block products than cores: every product gets its own task
    assert(MatrixOps.chooseGrid(1, bs, 4, 1L << 30) === MatrixOps.Grid(1, 1, 1))
  }

  test("cuboid t is computed in partition t") {
    // the kernel's one-cuboid-per-task placement rests on the exchange's
    // partitioner; a change to it must fail here, not silently pile two
    // cuboids onto one core or hand a cuboid another one's blocks
    val (nb, bs) = (6, 4)
    val n = nb.toLong * bs
    val a = MatrixOps.genDense(spark, n, seed = 13)
    val b = MatrixOps.genDense(spark, n, seed = 14)
    def in(blk: Int, g: Int, p: Int): Boolean = MatrixOps.group(blk, p, nb) == g
    for (g <- Seq(MatrixOps.Grid(1, 1, 1), MatrixOps.Grid(2, 3, 1),
        MatrixOps.Grid(3, 2, 2), MatrixOps.Grid(2, 2, 3))) {
      val exchange = MatrixOps.cuboidExchange(a, b, n, bs, g)
      assert(exchange.getNumPartitions == g.tasks)
      // the exchange reuses one row buffer: read each row as it comes
      val placed = exchange.mapPartitionsWithIndex { (part, rows) =>
        rows.map { case (_, p) => (part, p.getBoolean(0), p.getInt(1), p.getInt(2)) }
      }.collect().toSet
      val want = for {
        rg <- 0 until g.pr; cg <- 0 until g.pc; kg <- 0 until g.pk
        r <- 0 until nb; c <- 0 until nb
        isA <- Seq(true, false)
        if (if (isA) in(r, rg, g.pr) && in(c, kg, g.pk) else in(r, kg, g.pk) && in(c, cg, g.pc))
      } yield (g.id(rg, cg, kg), isA, r, c)
      assert(placed === want.toSet, s"grid $g")
    }
  }

  /** (i, j, v) cells as the Catalyst rows the fold reads. */
  private def rows(in: Seq[(Long, Long, Double)]): Iterator[InternalRow] =
    in.iterator.map { case (i, j, v) => InternalRow(i, j, v) }

  /** A partial block's steps and values as the exchange row carries them. */
  private def sent(p: MatrixOps.Partial): (Array[Int], Array[Double]) = {
    val row = new MatrixOps.PartWriter().write(isA = true, 0, 0, p)
    (row.getArray(3).toIntArray, row.getArray(4).toDoubleArray)
  }

  test("map-side fold: scattered cells flush as sparse parts that sum back to the input") {
    val (n, bs) = (96L, 8) // 144 blocks, 64 cells each
    val rnd = new scala.util.Random(11)
    // about 4 cells a block in random order: consecutive cells rarely share a block
    val in = Seq.fill(600)((rnd.nextInt(n.toInt).toLong, rnd.nextInt(n.toInt).toLong,
      rnd.nextInt(9) - 4.0))
    // a budget of a few blocks forces many flushes
    val parts = MatrixOps.partialBlocks(rows(in), n, bs, 2048).map { case (r, c, p) =>
      val (pos, vals) = sent(p)
      (r, c, pos, vals)
    }.toSeq
    assert(parts.size > parts.map(p => (p._1, p._2)).distinct.size, "expected repeated flushes")
    // the parts weigh at most 12 bytes per input cell whatever the order
    assert(parts.map(p => p._3.length * 4L + p._4.length * 8L).sum <= 12L * in.size)
    val summed = parts.flatMap { case (r, c, pos, vals) =>
      val at = if (pos.isEmpty) vals.indices else pos.toSeq.scanLeft(0)(_ + _).tail
      at.zip(vals).map { case (q, v) => ((r.toLong * bs + q / bs, c.toLong * bs + q % bs), v) }
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val want = in.groupMapReduce(c => (c._1, c._2))(_._3)(_ + _)
    assert(summed === want)
  }

  test("map-side fold: a partition holding whole blocks sends them dense") {
    val (n, bs) = (16L, 8)
    val in = for (i <- 0L until n; j <- 0L until n) yield (i, j, 1.0)
    val parts = MatrixOps.partialBlocks(rows(in), n, bs, 1L << 20).map(p => sent(p._3)).toSeq
    assert(parts.size == 4 && parts.forall { case (pos, vals) => pos.isEmpty && vals.length == 64 })
  }

  test("multiplyBlocked over AQE inputs runs no job until the product is consumed") {
    // fromTable aggregates, so each input plan has a shuffle stage that
    // AQE runs as soon as its rows are asked for
    val ids = spark.range(500).toDF()
    def m(salt: Int) = MatrixOps.fromTable(ids, pmod(col("id") * 7 + salt, lit(20)),
      pmod(col("id") * 3 + salt, lit(20)), col("id") % 5 + 1)
    var product: DataFrame = null
    val declared = jobsDuring { product = MatrixOps.multiplyBlocked(spark, m(1), m(2), 20, 8) }
    assert(declared.isEmpty, declared.mkString("declaring the product ran jobs:\n", "\n---\n", ""))
    var got = Seq.empty[(Long, Long, Double)]
    assert(jobsDuring { got = cells(product) }.nonEmpty)
    assert(got === cells(MatrixOps.multiply(m(1), m(2))).filter(_._3 != 0.0))
  }

  test("hash-partitioned fromTable input: the cuboid exchange carries sparse cells, not dense blocks") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // ~20k cells over 64x64 blocks of 32, in fromTable's hash-aggregate
    // order: every partition touches most blocks with a handful of cells
    val (n, bs) = (2048L, 32)
    val ids = spark.range(20000).toDF().repartition(8)
    // checkpointed with its layout, so the listener sees only the product's exchange
    val a = MatrixOps.fromTable(ids, pmod(hash(col("id")), lit(n)),
      pmod(hash(col("id"), lit(1)), lit(n)), col("id") % 5 + 1).localCheckpoint()
    val b = intify(MatrixOps.genDense(spark, bs, seed = 12)) // block (0, 0) only
    val (aCells, bCells) = (a.count(), b.count())
    val grid = MatrixOps.Grid(2, 2, 1)
    val copies = (aCells + bCells) * 2
    val payload = MatrixOps.blockParts(a, b, n, bs, grid)
      .map { case (_, p) => p.getArray(3).numElements * 4L + p.getArray(4).numElements * 8L }
      .fold(0L)(_ + _)
    // sparse parts carry 12 bytes per cell copy; dense partial blocks
    // would carry 8 KB per partition and block, about 130 times more here
    assert(payload <= 12 * copies, s"payload $payload B for $copies cell copies")
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => written.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val got = try {
      val out = cells(MatrixOps.multiplyCuboid(spark, a, b, n, bs, grid))
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc, 10000L)
      out
    } finally sc.removeSparkListener(listener)
    assert(got === cells(MatrixOps.multiply(a, b)).filter(_._3 != 0.0))
    // with part headers and compression the exchange writes less than a
    // raw (i, j, v) row of 24 bytes per cell copy
    assert(written.get <= 24 * copies, s"shuffle wrote ${written.get} B for $copies cell copies")
  }

  test("3x3 golden product (FIXTURES B.1)") {
    // [[1,2,3],[4,5,6],[7,8,9]] · [[9,8,7],[6,5,4],[3,2,1]]
    val a3 = mat((0, 0, 1.0), (0, 1, 2.0), (0, 2, 3.0),
      (1, 0, 4.0), (1, 1, 5.0), (1, 2, 6.0),
      (2, 0, 7.0), (2, 1, 8.0), (2, 2, 9.0))
    val b3 = mat((0, 0, 9.0), (0, 1, 8.0), (0, 2, 7.0),
      (1, 0, 6.0), (1, 1, 5.0), (1, 2, 4.0),
      (2, 0, 3.0), (2, 1, 2.0), (2, 2, 1.0))
    assert(cells(MatrixOps.multiply(a3, b3)) === Seq(
      (0L, 0L, 30.0), (0L, 1L, 24.0), (0L, 2L, 18.0),
      (1L, 0L, 84.0), (1L, 1L, 69.0), (1L, 2L, 54.0),
      (2L, 0L, 138.0), (2L, 1L, 114.0), (2L, 2L, 90.0)))
  }

  test("zero matrix annihilates (FIXTURES B.1)") {
    // coordinate form: the zero matrix stores nothing — empty DF
    val zero = mat().select(col("i"), col("j"), col("v"))
    assert(cells(MatrixOps.multiply(A, zero)).isEmpty)
    assert(cells(MatrixOps.multiply(zero, A)).isEmpty)
  }

  test("A x I = A") {
    val a = mat((0, 1, 2.0), (2, 3, 5.0), (3, 0, 7.0))
    val out = cells(MatrixOps.multiply(a, MatrixOps.identity(spark, 4)))
    assert(out === Seq((0L, 1L, 2.0), (2L, 3L, 5.0), (3L, 0L, 7.0)))
  }

  test("(A x B) transposed = B-transposed x A-transposed") {
    val lhs = cells(MatrixOps.transpose(MatrixOps.multiply(A, B)))
    val rhs = cells(MatrixOps.multiply(MatrixOps.transpose(B), MatrixOps.transpose(A)))
    assert(lhs === rhs)
  }

  test("fromTable accumulates duplicate coordinates (SURVEY Q3)") {
    import spark.implicits._
    // The reference's C/Java CSR generators can emit the same (i,j) twice
    // and spmm adds both contributions (mm_opt.c:99-120, MMOpt.java:105-110).
    val raw = Seq((1L, 1L, 2.0), (1L, 1L, 3.0), (0L, 1L, 4.0)).toDF("a", "b", "x")
    val m = MatrixOps.fromTable(raw, col("a"), col("b"), col("x"))
    assert(cells(m) === Seq((0L, 1L, 4.0), (1L, 1L, 5.0)))
  }

  test("genSparse keeps roughly density * n^2 cells") {
    val n = 50L
    val count = MatrixOps.genSparse(spark, n, 0.1, seed = 7).count()
    assert(count > n * n * 0.05 && count < n * n * 0.2)
  }

  test("square case A x A (Stage-3 Q2 semantics) matches itself") {
    val viaSelf = cells(MatrixOps.multiply(A, A))
    assert(viaSelf === Seq((0L, 0L, 7.0), (0L, 1L, 10.0), (1L, 0L, 15.0), (1L, 1L, 22.0)))
  }
}
