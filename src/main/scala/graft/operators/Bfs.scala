package graft.operators

import org.apache.spark.sql.DataFrame

/** Multi-source BFS hop distance — the "distance to a trusted seed
  * set" signal (link-quality curation ranks pages by hop distance from
  * a whitelist/seed frontier; this is that operator over an arbitrary
  * undirected edge list).
  *
  * Pure integer min-plus iteration, so Spark and the unrolled DuckDB
  * CTE oracle agree bit-for-bit:
  *
  *  - dist₀(v) = 0 for seeds, `Inf` (2^30, far above any real hop
  *    count, far below overflow under +1) otherwise — a sentinel, not
  *    NULL, so no engine-specific null-in-least semantics enter.
  *  - one round: dist'(v) = min(dist(v), 1 + min_{u→v, dist(u)<Inf}
  *    dist(u)); after k rounds dist is exact for every node within k
  *    hops of a seed and `Inf` beyond (the GraphFrames
  *    shortestPaths/maxIter contract).
  *
  * Scale shape: the [[CsrGraph]] kernel, as for [[PageRank]]. One
  * round ships each node's distance to its neighbours, min-combined
  * per destination map-side (at most |nodes| values per partition in
  * ONE shuffle), and the receiver takes
  * dist'(v) = min(dist₀(v), 1 + min_{u~v} dist(u)). That equals the
  * update above for every BFS state: a non-seed node reached in k
  * hops has a neighbour reached in k − 1 and none in fewer, so
  * carrying dist(v) forward adds nothing to the minimum. A round's
  * state thus depends on its messages and the seed floor only, and no
  * round carries the previous state through its shuffle. Cache
  * contract as in [[PageRank]].
  */
object Bfs {

  /** Unreached sentinel: 2^30 (min-plus safe: Inf + 1 cannot overflow
    * and never beats a real distance). */
  val Inf = 1L << 30

  /** Hop distances after `iters` rounds over `g`, every row read as an
    * undirected edge, from `seeds` (single column `node`). Returns
    * (node, dist) for every node of the graph; unreached nodes carry
    * dist = [[Inf]]. Lazy; persists nothing. */
  def run(g: CsrGraph, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val d0 = g.mark(seeds).map(_.map(s => if (s == 1L) 0L else Inf))
    g.frame("dist" -> g.propagate(d0, d0, iters, CsrGraph.All, CsrGraph.Min)((d, _) => d)(
      (floor, md) => if (md >= Inf) floor else math.min(floor, md + 1)))
  }

  /** DuckDB rendering: the same rounds unrolled as CTEs over caller-
    * provided CTEs `e` (src, dst) and `seeds` (node). Ends in CTE
    * `bfs` = (node, dist). */
  def oracleCtes(iters: Int): String = {
    def step(i: Int): String =
      s"""m$i AS (SELECT a.dst AS node, min(d.dist) + 1 AS md
         |  FROM adj a JOIN d${i - 1} d ON d.node = a.src
         |  WHERE d.dist < $Inf GROUP BY 1),
         |d$i AS (SELECT d.node, least(d.dist, coalesce(m$i.md, $Inf)) AS dist
         |  FROM d${i - 1} d LEFT JOIN m$i ON m$i.node = d.node)""".stripMargin
    s"""adj AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |d0 AS MATERIALIZED (
       |  SELECT n.node, CASE WHEN s.node IS NULL THEN ${Inf}::BIGINT
       |    ELSE 0::BIGINT END AS dist
       |  FROM (SELECT DISTINCT src AS node FROM adj) n
       |  LEFT JOIN (SELECT DISTINCT node FROM seeds) s ON s.node = n.node),
       |${(1 to iters).map(step).mkString(",\n")},
       |bfs AS (SELECT node, dist FROM d$iters)""".stripMargin
  }
}
