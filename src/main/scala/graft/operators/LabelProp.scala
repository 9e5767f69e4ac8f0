package graft.operators

import org.apache.spark.sql.DataFrame

/** Synchronous label propagation (Raghavan et al. 2007) for community
  * detection over an undirected graph — the cheap clustering signal
  * corpus pipelines use to group near-duplicate/same-site documents
  * when full connected components over-merge (LPA communities respect
  * local density; components chain through any single weak edge).
  *
  * Made DETERMINISTIC (the paper's random tie-break and vertex order
  * would be unverifiable): updates are synchronous, label'(v) = the
  * most frequent label among v's neighbors with ties broken by the
  * SMALLEST label, and every node starts labeled with its own id.
  * Integer counts + total tie order ⇒ bit-identical across engines and
  * partitionings; the oracle unrolls the same rounds as CTEs.
  * Neighbours count once per adjacency row, as in the oracle's
  * `UNION ALL` adjacency: a parallel edge once per copy, a self-loop
  * twice.
  *
  * Scale shape: one [[CsrGraph.pull]] per round. Each node receives
  * its neighbours' labels, one per row (one keyless shuffle in which a
  * partition ships each partition at most one value per own node),
  * sorts them and keeps the longest run — O(deg · log deg) per node.
  * No frame is cached between rounds: all rounds run in one job over
  * the graph's blocks.
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds over `g`, every row read
    * as an undirected edge. Returns (node, label); lazy, caches
    * nothing (the graph's owner releases it). */
  def run(g: CsrGraph, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val labels = (1 to iters).foldLeft(g.blocks.map(_.ids)) { (l, _) =>
      g.pull(l) { ls =>
        java.util.Arrays.sort(ls)
        var (best, bestN, i) = (ls(0), 0, 0)
        while (i < ls.length) {
          var j = i + 1
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i > bestN) { best = ls(i); bestN = j - i } // ties: first = smallest
          i = j
        }
        best
      }
    }
    g.frame("label" -> labels)
  }

  /** DuckDB rendering over an edge CTE named `e` (src, dst); ends in
    * `lp` = (node, label). The argmax is rendered as a rank-1 window
    * over the same (cnt DESC, label ASC) total order. */
  def oracleCtes(iters: Int, edge: String = "e"): String = {
    def step(i: Int): String =
      s"""m$i AS (SELECT a.dst AS node, l.label, count(*) AS cnt
         |  FROM adj a JOIN l${i - 1} l ON l.node = a.src GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (
         |    PARTITION BY node ORDER BY cnt DESC, label ASC) AS rk
         |  FROM m$i) WHERE rk = 1)""".stripMargin
    s"""adj AS MATERIALIZED (
       |  SELECT src, dst FROM $edge UNION ALL SELECT dst, src FROM $edge),
       |nodes AS (SELECT DISTINCT src AS node FROM adj),
       |l0 AS (SELECT node, node AS label FROM nodes),
       |${(1 to iters).map(step).mkString(",\n")},
       |lp AS (SELECT node, label FROM l$iters)""".stripMargin
  }
}
