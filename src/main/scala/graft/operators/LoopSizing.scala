package graft.operators

import org.apache.spark.sql.SparkSession

/** Scale-adaptive partition sizing for the iterative graph loops
  * (optimization guide §2: derive partitioning from input size, never
  * from a constant tuned for one deployment).
  *
  * Why not the session default: a Pregel-style loop reuses its
  * partitioned graph every round — the [[CsrGraph]] blocks, or the
  * persisted adjacency of [[Components]], the one DataFrame loop that
  * calls this — so the graph's partition count sets the width of EVERY
  * per-round stage. At the session's 32 (= core count) on a
  * sub-million-row graph, each round schedules 32 tasks whose per-task
  * fixed cost (dispatch, shuffle writer setup, codegen lookup) dwarfs
  * its ~20k-row compute. Sizing by
  * rows keeps partitions ~work-proportional at every scale: small
  * graphs collapse to a few meaty tasks, large graphs grow partitions
  * linearly until the session width (the cluster-size knob,
  * SPARK_GRAFT_CPUS here) caps them. For the CSR kernel the count also
  * bounds a round's traffic: each node receives at most one combined
  * value per partition. AQE cannot choose it: the graph's width is
  * fixed when it is built, and every round's exchange aligns to it.
  *
  * [[Components.connectedComponents]] pioneered the pattern (500k
  * rows/partition since round 9). Target default 150k rows, set on
  * q112 (587k symmetrized edges) when it still ran as a relational
  * loop: 32 partitions took 3.97 s/run, 4 took 1.73 s/run, and the
  * optimum sat at 4–8 partitions (100–150k rows each). The CSR kernel
  * that replaced that loop keeps the sizing: the graph queries size
  * their memoized purchase and kNN graphs with it.
  */
object LoopSizing {

  /** Loop partition count for an iterative operator over `rows`
    * input rows: rows/`targetRows` (≥1), capped at the session's
    * configured shuffle width. */
  def partitions(spark: SparkSession, rows: Long,
                 targetRows: Long = 150000L): Int = {
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.min(math.max(sessionParts, 1),
      math.max(1, (rows / targetRows).toInt + 1))
  }
}
