package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded dense n×n fp64 matrices in coordinate form `(i, j, v)`. Every
  * cell value is a pure function of (seed, i, j), so executors write the
  * inputs and the driver recomputes any cell, row or column sum to check
  * a product without reading it back. */
final case class DenseSpec(n: Int, seed: Long) {
  def value(i: Long, j: Long): Double = DenseSpec.unit(seed, i * n + j)

  /** The input as a DataFrame, generated on the executors. */
  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val (nn, s) = (n.toLong, seed)
    spark.range(nn * nn)
      .map(id => (id / nn, id % nn, DenseSpec.unit(s, id)))
      .toDF("i", "j", "v")
  }
}

object DenseSpec {
  /** splitmix64 finaliser of (seed, cell) mapped to [2^-53, 1): strictly
    * positive, so no product cell cancels to zero. */
  def unit(seed: Long, cell: Long): Double = {
    var z = seed * 0x9E3779B97F4A7C15L + cell * 0xBF58476D1CE4E5B9L + 0x632BE59BD9F3CA1DL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 11) | 1L) * (1.0 / (1L << 53))
  }
}

/** What consuming a product yields: its cell count, the sum of its
  * cells and the values found at the probe cells. */
final case class ProductSummary(cells: Long, sum: Double, probes: Map[(Long, Long), Double])

/** Expected properties of C = A × B, derived from the generators alone. */
final case class ProductCheck(n: Int, checksum: Double, probes: Map[(Long, Long), Double]) {

  /** None when `got` passes, else the reason it fails. */
  def failure(got: ProductSummary, relTol: Double = 1e-9): Option[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= relTol * math.abs(b)
    val nn = n.toLong * n
    if (got.cells != nn) Some(s"product has ${got.cells} cells, expected $nn")
    else if (!close(got.sum, checksum))
      Some(s"product checksum ${got.sum} differs from ${checksum}")
    else probes.collectFirst {
      case (ij, want) if !got.probes.get(ij).exists(close(_, want)) =>
        s"cell $ij is ${got.probes.get(ij)}, direct dot product gives $want"
    }
  }
}

object Matrices {

  /** Σ C = Σ_k colsum_A(k) · rowsum_B(k); probes are direct dot products
    * at `probeCount` cells drawn from `seed`. */
  def check(a: DenseSpec, b: DenseSpec, seed: Long, probeCount: Int = 8): ProductCheck = {
    val n = a.n
    val colA = new Array[Double](n)
    val rowB = new Array[Double](n)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        colA(k) += a.value(i, k)
        rowB(i) += b.value(i, k)
        k += 1
      }
      i += 1
    }
    val checksum = (0 until n).map(k => colA(k) * rowB(k)).sum
    val rnd = new scala.util.Random(seed)
    val cells = Seq.fill(probeCount)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).distinct
    val probes = cells.map { case (pi, pj) =>
      (pi, pj) -> (0 until n).map(k => a.value(pi, k) * b.value(k, pj)).sum
    }.toMap
    ProductCheck(n, checksum, probes)
  }

  /** Reads every cell of a product `(i, j, v)` through its full plan. */
  def summarize(product: DataFrame, probeCells: Set[(Long, Long)]): ProductSummary = {
    val parts = product.select("i", "j", "v").queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0.0
      val hits = Seq.newBuilder[((Long, Long), Double)]
      it.foreach { r =>
        n += 1
        s += r.getDouble(2)
        val ij = (r.getLong(0), r.getLong(1))
        if (probeCells.contains(ij)) hits += ij -> r.getDouble(2)
      }
      Iterator((n, s, hits.result()))
    }.collect()
    ProductSummary(parts.map(_._1).sum, parts.map(_._2).sum, parts.flatMap(_._3).toMap)
  }

  /** Single-threaded plain i-k-j product of the same inputs: the serial
    * baseline a parallel product is judged against. Returns C row-major. */
  def serialProduct(a: DenseSpec, b: DenseSpec): Array[Double] = {
    val n = a.n
    val x = Array.tabulate(n * n)(c => a.value(c / n, c % n))
    val y = Array.tabulate(n * n)(c => b.value(c / n, c % n))
    val out = new Array[Double](n * n)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        val xv = x(i * n + k)
        val yOff = k * n
        val oOff = i * n
        var j = 0
        while (j < n) {
          out(oOff + j) += xv * y(yOff + j)
          j += 1
        }
        k += 1
      }
      i += 1
    }
    out
  }
}
