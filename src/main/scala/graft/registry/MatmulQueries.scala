package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.MatrixOps

import graft.SparkEntry._

/** Matrix family (SURVEY §2.2 M1–M7): products of two lineitem-derived
  * matrices in coordinate form, checked against the SQL join-contract-sum. */
private[graft] object MatmulQueries {
  /** Larger-N variant for the scale-stress query (≈50k stored cells at
    * sf0.01 instead of 4k). */
  private val NLarge = 512L

  private def matBof(s: SparkSession, dir: String, n: Long): DataFrame =
    MatrixOps.fromTable(Tables.lineitem(s, dir),
      col("l_partkey") % n, col("l_suppkey") % n, col("l_linenumber"))

  private def sqlBof(n: Long): String =
    s"SELECT l_partkey % $n AS i, l_suppkey % $n AS j, SUM(CAST(l_linenumber AS DOUBLE)) AS v FROM lineitem GROUP BY 1, 2"

  private def matB(s: SparkSession, dir: String): DataFrame = matBof(s, dir, N)

  /** Rectangular shapes: A is RectM×RectK, B is RectK×RectN — three
    * distinct dims, lifting the reference's square-only restriction
    * (SURVEY §1.1a); coordinate form never assumed square. */
  private val RectM = 96L
  private val RectK = 64L
  private val RectN = 48L

  private def matARect(s: SparkSession, dir: String): DataFrame =
    MatrixOps.fromTable(Tables.lineitem(s, dir),
      col("l_orderkey") % RectM, col("l_partkey") % RectK, col("l_quantity"))

  private def matBRect(s: SparkSession, dir: String): DataFrame =
    MatrixOps.fromTable(Tables.lineitem(s, dir),
      col("l_partkey") % RectK, col("l_suppkey") % RectN, col("l_linenumber"))

  private def ordered(df: DataFrame): DataFrame = df.orderBy("i", "j")

  private val sqlB = sqlBof(N)
  private val sqlASparse =
    s"SELECT * FROM a0 WHERE (i + j) % $SparseStride = 0"

  private def sqlMultiply(aCte: String, bCte: String): String =
    s"""WITH a0 AS ($sqlA), b0 AS ($sqlB), a AS ($aCte), b AS ($bCte)
       |SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS v
       |FROM a JOIN b ON a.j = b.i
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  private val sqlMatmul = sqlMultiply("SELECT * FROM a0", "SELECT * FROM b0")

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("matmul_basic", (s, dir) =>
      ordered(MatrixOps.multiply(matA(s, dir), matB(s, dir))),
      oracle = sqlMatmul),
    QuerySpec("matmul_transposed", (s, dir) =>
      ordered(MatrixOps.multiplyTransposed(matA(s, dir),
        MatrixOps.transpose(matB(s, dir)))),
      oracle = sqlMatmul),
    QuerySpec("matmul_blocked", (s, dir) =>
      ordered(MatrixOps.multiplyBlocked(s, matA(s, dir), matB(s, dir), N, 16)),
      oracle = sqlMatmul),
    // Rectangular product (96×64 · 64×48): same join-contract-sum plan;
    // only the index derivations differ — shape was never a constraint.
    QuerySpec("matmul_rect", (s, dir) =>
      ordered(MatrixOps.multiply(matARect(s, dir), matBRect(s, dir))),
      oracle =
      s"""WITH a AS (SELECT l_orderkey % $RectM AS i, l_partkey % $RectK AS j,
         |             SUM(l_quantity) AS v FROM lineitem GROUP BY 1, 2),
         |     b AS (SELECT l_partkey % $RectK AS i, l_suppkey % $RectN AS j,
         |             SUM(CAST(l_linenumber AS DOUBLE)) AS v FROM lineitem GROUP BY 1, 2)
         |SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS v
         |FROM a JOIN b ON a.j = b.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QuerySpec("spmm_sparse", (s, dir) =>
      ordered(MatrixOps.multiply(matASparse(s, dir), matB(s, dir),
        broadcastRight = true)),
      oracle = sqlMultiply(sqlASparse, "SELECT * FROM b0")),
    QuerySpec("matmul_identity", (s, dir) =>
      ordered(MatrixOps.multiply(matA(s, dir), MatrixOps.identity(s, N),
        broadcastRight = true)),
      oracle =
      s"WITH a0 AS ($sqlA) SELECT i, j, v FROM a0 ORDER BY 1, 2"),
    QuerySpec("matmul_square", (s, dir) =>
      ordered(MatrixOps.multiply(matA(s, dir), matA(s, dir))),
      oracle = sqlMultiply("SELECT * FROM a0", "SELECT * FROM a0")),
    // A³ via chained multiplies — the iterative-algorithm shape
    // (partitioning reuse between steps).
    QuerySpec("matmul_power3", (s, dir) =>
      ordered(MatrixOps.power(matA(s, dir), 3)),
      oracle =
      s"""WITH a0 AS ($sqlA),
         |c1 AS (SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS v
         |       FROM a0 a JOIN a0 b ON a.j = b.i GROUP BY 1, 2)
         |SELECT c.i AS i, b.j AS j, SUM(c.v * b.v) AS v
         |FROM c1 c JOIN a0 b ON c.j = b.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // 3-hop reachability in the boolean semiring (cap-at-1 between
    // steps — the overflow-proof form of iterated A^k).
    QuerySpec("matmul_reachability3", (s, dir) =>
      ordered(MatrixOps.reachability(matA(s, dir), 3)),
      oracle =
      s"""WITH a0 AS ($sqlA),
         |a AS (SELECT i, j, LEAST(v, 1.0) AS v FROM a0),
         |c2 AS (SELECT x.i AS i, y.j AS j, LEAST(SUM(x.v * y.v), 1.0) AS v
         |       FROM a x JOIN a y ON x.j = y.i GROUP BY 1, 2)
         |SELECT c.i AS i, y.j AS j, LEAST(SUM(c.v * y.v), 1.0) AS v
         |FROM c2 c JOIN a y ON c.j = y.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // Salted variant of matmul_basic — must be bit-identical (skew
    // mitigation is physical only).
    QuerySpec("matmul_salted", (s, dir) =>
      ordered(MatrixOps.multiplySalted(matA(s, dir), matB(s, dir), salt = 8)),
      oracle = sqlMatmul),
    // N=512 scale-stress derivation — near-dense at sf0.1 (~260k stored
    // cells/side), so the BLOCKED physical path is the right plan: per-
    // block GEMM beats a 512³-partial-product hash aggregate ~4×. The
    // coordinate join path stays the plan for sparse inputs (spmm).
    QuerySpec("matmul_large", (s, dir) =>
      ordered(MatrixOps.multiplyBlocked(s, matAof(s, dir, NLarge),
        matBof(s, dir, NLarge), NLarge, 64)),
      oracle =
      s"""WITH a0 AS (${sqlAof(NLarge)}), b0 AS (${sqlBof(NLarge)})
         |SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS v
         |FROM a0 a JOIN b0 b ON a.j = b.i
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
  )
}
