package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Table profiling — the first thing a pipeline runs against an
  * unfamiliar 100 TB lake drop: per-column row/null/distinct counts
  * and value bounds as a RELATION (north-star extension; the
  * reference's only introspection is pandas `df.head()` prints).
  *
  * One aggregation job over the table produces every column's stats;
  * the unpivot to one-row-per-column happens on the single aggregated
  * row, so the output is column-count-sized however large the input.
  *
  * Exact-vs-approx is the scale dial: multiple `COUNT(DISTINCT)` in
  * one aggregate plan through Spark's Expand operator — the scan's
  * rows replicate once per distinct-aggregate into the exchange, an
  * honest |cols|× shuffle blow-up. The exact form is the declared,
  * oracle-checkable query; [[tableProfileApprox]] swaps in mergeable
  * HLL sketches (`approx_count_distinct`, one pass, NO Expand) for
  * the 100 TB path, where ±2 % on a distinct count answers the same
  * operational question — the spec bounds the two against each other.
  */
object Profile {

  private def statRows(df: DataFrame, cols: Seq[String],
                       nd: String => Column): DataFrame = {
    require(cols.nonEmpty, "at least one column to profile")
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"nn_$c"),
        nd(c).as(s"nd_$c"),
        min(col(c)).cast("string").as(s"mn_$c"),
        max(col(c)).cast("string").as(s"mx_$c"))
    }
    val one = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val perCol = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        col(s"nn_$c").as("non_null"),
        (col("n_rows") - col(s"nn_$c")).as("nulls"),
        col(s"nd_$c").as("n_distinct"),
        col(s"mn_$c").as("min_str"), col(s"mx_$c").as("max_str"))
    }
    one.select(explode(array(perCol: _*)).as("p")).select("p.*")
  }

  /** Exact profile: one row per column with `(column, n_rows,
    * non_null, nulls, n_distinct, min_str, max_str)`. Bounds cast to
    * string so heterogeneous column types share one schema (the
    * DuckDB oracle casts identically). */
  def tableProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    statRows(df, cols, c => countDistinct(col(c)))

  /** The 100 TB form: HLL distinct estimates (relative error 2 %),
    * single pass, no Expand replication — every other stat identical
    * to [[tableProfile]]. */
  def tableProfileApprox(df: DataFrame, cols: Seq[String]): DataFrame =
    statRows(df, cols, c => approx_count_distinct(col(c), 0.02))
}
