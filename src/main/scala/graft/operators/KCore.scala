package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous distributed k-core peeling (the iterative pruning shape
  * of Montresor, De Pellegrini & Miorandi, "Distributed k-Core
  * Decomposition", IEEE TPDS 2013 — public literature): each round
  * drops every live node whose degree among LIVE nodes is below k,
  * until the fixed round budget is spent. What remains is (a superset
  * of, and at fixpoint exactly) the k-core — the maximal subgraph with
  * minimum degree ≥ k.
  *
  * Input: undirected simple edges (u, v), u < v, distinct. Output: one
  * row per node — (node, deg, peel_round) with peel_round = 0 for
  * nodes below k outright, i for nodes collapsing at round i, and −1
  * for nodes still live after `rounds` rounds. The cascade index is
  * the useful signal (an onion layering under threshold k), not just
  * core membership.
  *
  * Round semantics follow the repo's BFS convention: the round budget
  * is part of the DECLARED semantics, and the differential oracle
  * unrolls exactly the same rounds, so the comparison is exact whether
  * or not the cascade has converged; GraphSpec additionally proves
  * fixpoint on the fixture family.
  *
  * Scale shape: each round is two left-semi joins of the edge list
  * against the |live| node list plus one map-side-combinable degree
  * count — O(m) work per round with shuffles keyed on node ids, no
  * driver-side state. Plan growth per round is linear (each round
  * references the previous state once), truncated to O(1) by the
  * graph family's alternating localCheckpoint.
  */
object KCore {

  private def degrees(e: DataFrame, out: String): DataFrame =
    e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as(out))

  /** (node, deg, peel_round) for every node of `edges`.
    * `parts` sizes the loop width ([[LoopSizing]], r14): the peeling
    * rounds re-reference the edge list every round, so its partition
    * count sets each round's stage width — size-derived, never the
    * session default (the kNN graph is a few thousand rows; 32-wide
    * rounds measured as ~90–120 ms of empty 32-task stages each). */
  def run(edges0: DataFrame, k: Int, rounds: Int, parts: Int = 0): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    val p = if (parts > 0) parts
      else LoopSizing.partitions(edges0.sparkSession, edges0.count())
    val edges = edges0.repartition(p, col("u"))
    val deg0 = degrees(edges, "deg").persist()
    var peeled = deg0.select(col("node"), col("deg"),
      when(col("deg") < k, lit(0L)).otherwise(lit(null).cast("long")).as("pr"))
    var e = edges
    for (i <- 1 to rounds) {
      val live = peeled.where(col("pr").isNull).select("node")
      e = e.join(live.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(live.select(col("node").as("v")), Seq("v"), "left_semi")
      // a live node absent from the filtered edge list has live-degree
      // 0 — the coalesce below peels it the same round
      peeled = peeled.join(degrees(e, "dc"), Seq("node"), "left")
        .select(col("node"), col("deg"),
          when(col("pr").isNotNull, col("pr"))
            .when(coalesce(col("dc"), lit(0L)) < k, lit(i.toLong))
            .otherwise(lit(null).cast("long")).as("pr"))
      if (i % 2 == 0 && i < rounds) {
        peeled = peeled.localCheckpoint(false)
        e = e.localCheckpoint(false)
      }
    }
    deg0.unpersist()
    peeled.select(col("node"), col("deg"),
      coalesce(col("pr"), lit(-1L)).as("peel_round"))
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
