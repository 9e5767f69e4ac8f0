package graft.operators

import graft.operators.CsrGraph.{All, Sum}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, when}

/** Synchronous distributed k-core peeling (the iterative pruning shape
  * of Montresor, De Pellegrini & Miorandi, "Distributed k-Core
  * Decomposition", IEEE TPDS 2013 — public literature): each round
  * drops every live node whose degree among LIVE nodes is below k,
  * until the fixed round budget is spent. What remains is (a superset
  * of, and at fixpoint exactly) the k-core — the maximal subgraph with
  * minimum degree ≥ k.
  *
  * Input: a graph of undirected edges; parallel edges and self-loops
  * count like rows of the edge list, as degrees do. Output: one row per
  * node — (node, deg, peel_round) with peel_round = 0 for nodes below
  * k outright, i for nodes collapsing at round i, and −1 for nodes
  * still live after `rounds` rounds. The cascade index is the useful signal
  * (an onion layering under threshold k), not just core membership.
  *
  * Round semantics follow the repo's BFS convention: the round budget
  * is part of the DECLARED semantics, and the differential oracle
  * unrolls exactly the same rounds, so the comparison is exact whether
  * or not the cascade has converged; GraphSpec additionally proves
  * fixpoint on the fixture family.
  *
  * Scale shape: the [[CsrGraph]] kernel at width 1, combining by sum.
  * From live₀(v) = [deg(v) ≥ k] a round is
  * live'(v) = [Σ_{u~v} live(u) ≥ k] — one shuffle of at most |nodes|
  * values per partition. That is "live with ≥ k live neighbours"
  * because the live set only shrinks: a node with ≥ k live neighbours
  * had ≥ k live neighbours a round earlier (≥ k neighbours, for
  * live₀), so it was itself live; a round needs only its messages, as
  * in [[Bfs]]. peel_round = −1 if live after the last round, else
  * Σᵢ liveᵢ. Cache contract as in [[PageRank]].
  */
object KCore {

  /** (node, deg, peel_round) for every node of `g`, every row read as
    * an undirected edge. Lazy; persists nothing. */
  def run(g: CsrGraph, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    val deg = g.degrees(All)
    val live0 = deg.map(_.map(d => if (d >= k) 1L else 0L))
    val lives = (1 to rounds).scanLeft(live0)((l, _) =>
      g.propagate(l, live0, 1, All, Sum)((x, _) => x)((_, in) => if (in >= k) 1L else 0L))
    val names = lives.indices.map(i => s"live$i")
    g.frame(("deg" -> deg) +: names.zip(lives): _*)
      .select(col("node"), col("deg"), when(col(names.last) === 1L, -1L)
        .otherwise(names.map(col).reduce(_ + _)).as("peel_round"))
  }

  /** DuckDB CTE chain mirroring [[run]]; expects `e(u, v)` in scope,
    * leaves `kcore_out(node, deg, peel_round)`. MATERIALIZED on every
    * round's `e` and `k` CTE is an evaluation hint, not a change of meaning:
    * DuckDB inlines a plain CTE at each reference, and each round reads
    * the previous `k` twice, so the un-materialized chain expands
    * 2^rounds-fold (at sf0.01 it filled the spill disk; materialized,
    * it answers in well under a second) — the same trap
    * PageRank.oracleHitsCtes documents. */
  def oracleCtes(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""e$i AS MATERIALIZED (SELECT e.u, e.v FROM e
         |  JOIN k${i - 1} a ON a.node = e.u JOIN k${i - 1} b ON b.node = e.v),
         |d$i AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
         |  (SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE d >= $k)""".stripMargin
    }.mkString(",\n")
    val cases = (1 to rounds)
      .map(i => s"WHEN k$i.node IS NULL THEN $i").mkString("\n|       ")
    val joins = (1 to rounds)
      .map(i => s"LEFT JOIN k$i ON k$i.node = d0.node").mkString("\n|  ")
    s"""d0 AS (SELECT node, CAST(count(*) AS BIGINT) AS d FROM
       |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node),
       |k0 AS MATERIALIZED (SELECT node FROM d0 WHERE d >= $k),
       |$steps,
       |kcore_out AS (
       |  SELECT d0.node, d0.d AS deg,
       |    CAST(CASE WHEN d0.d < $k THEN 0
       |       $cases
       |       ELSE -1 END AS BIGINT) AS peel_round
       |  FROM d0
       |  $joins)""".stripMargin
  }
}
