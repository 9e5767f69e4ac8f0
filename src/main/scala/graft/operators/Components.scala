package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by smallest-label propagation — the step after
  * near-dup pair mining that decides WHICH document survives: every doc
  * in a duplicate cluster maps to the cluster's minimal doc id.
  *
  * Iterative driver loop (the Pregel-style shape for algorithms one
  * Catalyst plan can't express): each round joins labels to the
  * symmetrized edge list, takes the per-node min over neighbor labels,
  * and stops when no label changed. `localCheckpoint` truncates lineage
  * every round — without it the plan doubles per iteration and the
  * optimizer, not the data, becomes the bottleneck. Rounds needed =
  * graph diameter ≤ maxIter; each round is one shuffle-join + one
  * aggregation over the edge list, so 100 TB-scale components cost
  * O(diameter) passes, not O(n²). The loop stays off the [[CsrGraph]]
  * kernel: its pointer jumping (label := label(label)) looks a label
  * up by value, which is no message along an edge, and without it the
  * rounds grow from ≈log₂(diameter) to the diameter, so `maxIter` = 50
  * would throw on chains this loop handles.
  */
object Components {

  /** @param edges undirected edges; first two columns are the node pair
    * @param localThreshold edge count at or below which the components
    *        are solved by DRIVER-LOCAL union-find instead of the
    *        iterative distributed loop — the same adaptive decision a
    *        broadcast join makes. The dup-cluster graph this operator
    *        sees is post-aggregation (one node per distinct title /
    *        content hash), typically orders of magnitude smaller than
    *        the corpus; running ~5 shuffle rounds over a 1 000-edge
    *        graph is pure scheduling overhead (measured: ~1.9 s at
    *        sf0.1 vs ~0.1 s local). 500 k edges ≈ 8 MB of longs — a
    *        trivial driver collect; beyond it the Pregel-style loop
    *        runs unchanged.
    * @return (node, component) — component = min reachable node id
    * @throws IllegalStateException if labels have not converged after
    *         `maxIter` rounds (rounds needed = graph diameter) — a
    *         silent partial result would fail the differential oracle
    *         with no hint of the cause. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
                          localThreshold: Long = 500000L): DataFrame = {
    val Seq(a, b) = edges.columns.take(2).toSeq
    val symRaw = edges.select(col(a).as("src"), col(b).as("dst"))
      .unionByName(edges.select(col(b).as("src"), col(a).as("dst")))
      .distinct().localCheckpoint()

    val spark = edges.sparkSession
    val edgeCount = symRaw.count()
    // the local path encodes nodes as Long; non-integral node types
    // (e.g. hash-string ids) always take the distributed loop, so the
    // operator's behavior never depends on data VOLUME for them
    val integralNodes = symRaw.schema("src").dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (integralNodes && edgeCount <= localThreshold)
      return localComponents(spark, symRaw)

    // Size the per-round shuffle to the graph, not the session default:
    // each round is several stages, and on a small edge list 32-partition
    // shuffles are pure scheduling overhead. ~500k edges per partition,
    // capped at the session parallelism for genuinely large graphs.
    val parts = LoopSizing.partitions(spark, edgeCount, 500000L)
    val sym = symRaw.repartition(parts, col("src")).localCheckpoint()

    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint()

    // NOTE on loop shuffle sizing: the per-round join/groupBy shuffles
    // follow the session partition count; AQE coalesces them to the
    // data. Pinning spark.sql.shuffle.partitions for the loop was
    // tried and reverted — it mutates shared session state (races with
    // concurrent queries / nested calls) and measured no win over AQE.
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // fresh per-round: an Observation can be attached to one query only
      val obs = org.apache.spark.sql.Observation()
      val neighborMin = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(min(col("label")).as("nmin"))
      val stepped = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // Pointer jumping (path compression): label := label(label). One
      // self-join on the |nodes|-row label table collapses label chains
      // exponentially, so rounds needed ≈ log₂(diameter) instead of
      // diameter — on a chain-y dup graph this is the difference between
      // 20+ shuffle rounds and ~5. Labels only decrease, so the jumped
      // label is always ≤ the stepped one and needs no `least`.
      //
      // The jump self-joins `stepped` WITHOUT materializing it first
      // (alias-based resolution keeps the shared-lineage join
      // unambiguous), so each round runs exactly ONE eager job — the
      // round-end localCheckpoint. The convergence signal rides along
      // as an `observe` metric computed DURING that materialization
      // (map-side, no extra scan, no second action); Observation.get
      // returns as soon as the checkpoint job completes.
      val next = stepped.alias("s")
        .join(stepped.alias("p"), col("s.label") === col("p.node"), "left")
        .select(col("s.node").as("node"), col("s.old_label").as("old_label"),
          coalesce(col("p.label"), col("s.label")).as("label"))
        .observe(obs, coalesce(sum(when(col("label") =!= col("old_label"), 1L)
          .otherwise(0L)), lit(0L)).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select("node", "label")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter rounds " +
          s"($changed labels still changing) — graph diameter exceeds maxIter")
    labels.withColumnRenamed("label", "component")
  }

  /** Driver-local path: union-find with iterative path compression,
    * union-by-min so every set's root IS its minimal member. Exact same
    * contract as the distributed loop (PropertySpec runs both paths
    * against the same reference). */
  private def localComponents(spark: org.apache.spark.sql.SparkSession,
                              sym: DataFrame): DataFrame = {
    import spark.implicits._
    val pairs = sym.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var root = x0
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var x = x0
      while (parent.getOrElse(x, x) != x) { val nxt = parent(x); parent(x) = root; x = nxt }
      root
    }
    pairs.foreach { case (s, d) =>
      val (rs, rd) = (find(s), find(d))
      if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
      else parent.getOrElseUpdate(rs, rs) // register isolated self-edge nodes
    }
    val labels = pairs.iterator.map(_._1).distinct.map(n => (n, find(n))).toSeq
    // cast back so the output schema matches the distributed path even
    // for IntegerType node ids (the collect upcasts them to Long)
    val srcType = sym.schema("src").dataType
    labels.toDF("node", "component")
      .select(col("node").cast(srcType).as("node"),
        col("component").cast(srcType).as("component"))
  }
}
