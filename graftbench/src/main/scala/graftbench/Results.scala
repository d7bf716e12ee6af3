package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, xxhash64}

/** Row count plus an order-independent fold of per-row hashes. */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def hex: String = f"$sum%016x$xor%016x"
}

object Results {

  /** Consumes every output column of `df`, in declared order, through
    * the full physical plan (final sort included) the way a caller that
    * reads the result would, and folds it into a [[Digest]].
    *
    * `count()` would let Catalyst prune unread columns and drop the final
    * sort, so it under-measures. The fold happens in JVM code on wrapping
    * longs, which cannot overflow under ANSI mode the way a SQL
    * `sum(xxhash64(...))` does. */
  def digest(df: DataFrame): Digest = {
    // positional names: a result may repeat a column name
    val names = df.columns.indices.map(i => s"c$i")
    val hashed = df.toDF(names: _*).select(xxhash64(names.map(col): _*))
    hashed.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      var x = 0L
      it.foreach { r => val h = r.getLong(0); n += 1; s += h; x ^= h }
      Iterator((n, s, x))
    }.collect().foldLeft(Digest(0, 0, 0)) { case (d, (n, s, x)) =>
      Digest(d.rows + n, d.sum + s, d.xor ^ x)
    }
  }
}
