package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists `(src, dst)` — the iterative tier of
  * the matrix family (SURVEY.md §2.2: the reference's repeated-multiply
  * loop is the same dataflow shape), plus the pair-graph measures a
  * dedup pipeline reports on its near-dup graph.
  *
  * Everything here is INTEGER arithmetic by construction: PageRank mass
  * is a scaled long and every division is a floor division, so the
  * per-iteration state is exactly reproducible by any engine (the
  * DuckDB oracle unrolls the same iterations in CTEs) — the float
  * formulation would drift by summation order.
  */
object Graph {

  /** Integer PageRank: ranks scaled to `scale`, damping in percent,
    * `iters` synchronous rounds of
    *
    *   r'(v) = (damping · Σ_{u→v} (r(u) div outdeg(u))) div 100 + base,
    *   base  = ((100 − damping) · scale) div 100
    *
    * Floor divisions lose a few units of mass per round (bounded by
    * |V| + |E| units, i.e. ~1e-9 of total at the default scale) —
    * the price of bit-exact cross-engine determinism.
    *
    * Scale shape: each round is one co-partitioned join of the rank
    * relation onto the edge list plus one aggregation on dst — the
    * shape of the label-propagation rounds [[Dedup.connectedComponents]]
    * falls back to when its union-find seed is not exact, which
    * pre-partition the edges once and checkpoint per round; the plan
    * here chains iterations directly because the declared query runs a
    * fixed small `iters`.
    */
  def pagerankInt(edges: DataFrame, iters: Int,
                  scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && scale > 0,
      s"bad pagerank params: iters=$iters scale=$scale")
    val dampingPct = 85
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eDeg = e.join(outdeg, "src")
    val base = (100 - dampingPct).toLong * scale / 100
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          expr("rank div outdeg").as("share"))
        .groupBy("node").agg(sum("share").as("c"))
      ranks = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          expr(s"(($dampingPct * coalesce(c, cast(0 as bigint))) div 100) " +
            s"+ cast($base as bigint)").as("rank"))
    }
    ranks
  }

  /** Undirected simple edges oriented low-rank → high-rank under the
    * DEGREE ORDER (rank = (degree, id), a total order): the
    * Ortmann/Brandes compact-forward orientation. Every vertex's
    * out-degree is then ≤ O(√m) — a hub's edges all point INTO it, so
    * the hub never anchors a wedge and a star graph generates ZERO
    * wedge candidates where id-ordering generates Θ(deg²). */
  private[graft] def degreeOriented(edges: DataFrame): DataFrame = {
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") < col("b")).distinct()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dv"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("v").as("a"), col("dv").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dv").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"))
  }

  /** Triangle count of the UNDIRECTED simple graph induced by the edge
    * list (direction and multiplicity dropped, self-loops excluded).
    * Edges orient along the total (degree, id) order
    * ([[degreeOriented]]); the rank-increasing u→w→x join pattern
    * counts every triangle exactly once (its three vertices form one
    * rank-sorted path plus the closing edge). Degree-ordering is the
    * standard scale refinement over id-ordering: wedge candidates are
    * bounded by Σ out-deg² with out-deg ≤ O(√m), so high-degree hubs —
    * which would otherwise anchor Θ(deg²) candidate wedges — never
    * anchor the join at all. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val dir = degreeOriented(edges)
    dir.as("e1")
      .join(dir.as("e2"), col("e1.w") === col("e2.u"))
      .join(dir.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.w") === col("e2.w"))
      .agg(count(lit(1)).as("triangles"))
  }
}
