package graft
package registry

import org.apache.spark.sql.functions._
import graft.operators.Graph

import graft.SparkEntry._

/** Graph analytics (iterative tier, [[graft.operators.Graph]]) over the
  * sparse matmul matrix read as an edge list. */
private[graft] object GraphQueries {
  /** Shared edge-list CTEs for the graph-analytics oracles: the sparse
    * matrix graph, self-loops dropped. */
  private val sqlGraphEdges =
    s"""a0 AS ($sqlA),
       |e AS (SELECT i AS src, j AS dst FROM a0
       |      WHERE (i + j) % $SparseStride = 0 AND i <> j)""".stripMargin

  /** Unrolled integer-PageRank oracle — same constants as
    * [[graft.operators.Graph.pagerankInt]], one CTE pair per round. */
  private def pagerankSql(iters: Int, scale: Long, dampingPct: Int): String = {
    val base = (100 - dampingPct).toLong * scale / 100
    val rounds = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
         |  CAST(SUM(r${k - 1}.rank // od.outdeg) AS BIGINT) AS c
         |  FROM e JOIN r${k - 1} ON e.src = r${k - 1}.node
         |         JOIN od ON e.src = od.src GROUP BY 1),
         |r$k AS (SELECT n.node,
         |  CAST(($dampingPct * COALESCE(c$k.c, 0)) // 100 + $base AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$k ON n.node = c$k.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $sqlGraphEdges,
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
       |$rounds
       |SELECT node, rank FROM r$iters ORDER BY node""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // Integer PageRank, 3 synchronous rounds on the sparse matrix graph
    // (self-loops dropped) — floor-division arithmetic keeps every
    // iteration bit-identical to the unrolled-CTE oracle.
    QuerySpec("pagerank3", (s, dir) =>
      Graph.pagerankInt(
        matASparse(s, dir).select(col("i").as("src"), col("j").as("dst")),
        iters = 3).orderBy("node"),
      oracle = pagerankSql(iters = 3, scale = 1000000000000L,
      dampingPct = 85)),
    // Triangle count of the same graph (undirected simple form).
    QuerySpec("triangle_count", (s, dir) =>
      Graph.triangleCount(
        matASparse(s, dir).select(col("i").as("src"), col("j").as("dst"))),
      oracle =
      s"""WITH $sqlGraphEdges,
         |und AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |        FROM e GROUP BY 1, 2)
         |SELECT CAST(COUNT(*) AS BIGINT) AS triangles
         |FROM und e1 JOIN und e2 ON e1.b = e2.a
         |            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin),
  )
}
