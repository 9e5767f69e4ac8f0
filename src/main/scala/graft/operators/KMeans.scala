package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic integer k-means (Lloyd's) over an embedding column —
  * the clustering primitive a curation pipeline needs for
  * semantic-dedup cluster pruning and data-mixing domain discovery
  * (builder-prompt extension surface; the published recipes cluster
  * document embeddings and then prune/rebalance per cluster).
  *
  * Everything is EXACT INTEGER arithmetic so the result is
  * bit-identical across engines, partitionings, and re-runs — the same
  * determinism discipline as the q85/q97 float techniques, taken one
  * step further by removing floats entirely:
  *
  *  - vectors are quantized once: q[d] = floor(double(x[d]) · 2^20).
  *    float→double widening is exact, ·2^20 only shifts the exponent
  *    (exact), floor is unambiguous — no rounding-mode or tie hazard.
  *  - distances are exact int64 squared-L2: components ≤ 2^22, squared
  *    ≤ 2^44, 64 dims → ≤ 2^50, no overflow.
  *  - centroid update is floorDiv(Σq[d], n): integer division of an
  *    order-independent integer sum — a partition-order float AVG
  *    would differ between engines in the last ulp and flip argmin
  *    ties; this cannot.
  *  - seeds are content-addressed (k smallest md5("km:"||id)), not
  *    rand(): re-run-stable and engine-identical, like every sampling
  *    decision in this repo.
  *
  * Scale shape (the MLlib KMeans pattern): centroids are k·dim longs —
  * driver-held and broadcast into the assignment expression as a
  * literal, so assignment is an embarrassingly parallel scan (no
  * shuffle, no join). The update is posexplode → partial-aggregated
  * (cluster, dim) sums: the shuffle per iteration carries at most
  * k·dim rows PER MAP PARTITION after map-side combine — constant-size
  * regardless of corpus rows, the same contract as the CMS/Bloom
  * sketch aggregates. The per-iteration collect is k·dim longs (~4 KB
  * at k=8, dim=64) — the documented broadcast-variable pattern, not a
  * data collect.
  */
object KMeans {

  /** Quantization scale 2^20: float mantissas are 24 bits, so scaled
    * components stay ≤ 2^22 and every downstream product fits int64. */
  val Scale = 1048576L

  def quantize(emb: Column): Column =
    org.apache.spark.sql.functions.transform(emb,
      x => floor(x.cast("double") * lit(Scale)).cast("long"))

  def quantizeSql(e: String): String =
    s"list_transform($e, x -> CAST(floor(CAST(x AS DOUBLE) * $Scale) AS BIGINT))"

  /** Exact int64 squared-L2 distance between two quantized vectors —
    * resolves to the codegen'd [[graft.functions.SqDistLong]] kernel
    * (the interpreted `aggregate(zip_with(...))` HOF form is pinned
    * against it in ClusteringSpec; inside q111's pair join the kernel
    * is the hot loop). */
  def sqDist(a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** DuckDB rendering of [[sqDist]] (same fold-from-zero shape as
    * Dedup.dotProductSql; int64 so order could not matter anyway). */
  def sqDistSql(aE: String, bE: String, dim: Int): String =
    s"list_reduce(list_concat([CAST(0 AS BIGINT)], " +
      s"list_transform(range(1, $dim + 1), i -> ($aE[i] - $bE[i]) * ($aE[i] - $bE[i]))), " +
      "(acc, x) -> acc + x)"

  /** Adds `cluster` (int, argmin centroid index; ties → smaller index)
    * and `dist` (int64) to a frame with a quantized `qv` column, via
    * the codegen'd [[graft.functions.NearestCentroid]] kernel with the
    * centroid table embedded as a literal — a pure per-row projection,
    * no join, no shuffle. (The composable `array_min(transform(...))`
    * form is semantically identical but interpreted: three nested
    * higher-order functions, k·dim lambda dispatches per row.) */
  private def assign(q: DataFrame, cents: Array[Array[Long]]): DataFrame =
    q.withColumn("best",
        call_function("graft_nearest", col("qv"),
          typedLit(cents.map(_.toSeq).toSeq)))
      .withColumn("cluster", col("best.c"))
      .withColumn("dist", col("best.d"))
      .drop("best")

  /** [[fitCentroids]] + [[transform]]: (idCol, cluster, dist) for
    * every input row under the final centroids. */
  def fit(df: DataFrame, idCol: String, embCol: String, k: Int, iters: Int): DataFrame =
    transform(df, idCol, embCol, fitCentroids(df, idCol, embCol, k, iters))

  /** Classifies rows against a fitted centroid table — a stateless
    * per-row projection through the codegen'd kernel (model embedded
    * as a literal: no join, no shuffle, no state), equally valid on a
    * static frame or a streaming micro-batch. */
  def transform(df: DataFrame, idCol: String, embCol: String,
                cents: Array[Array[Long]]): DataFrame =
    assign(df.select(col(idCol), quantize(col(embCol)).as("qv")), cents)
      .select(col(idCol), col("cluster"), col("dist"))

  /** Cluster-blocked semantic near-dup (the SemDeDup shape: cluster
    * first, then compare only WITHIN clusters) — the embedding-space
    * complement of the LSH-bucketed q54/q89 path. LSH buckets by
    * random hyperplanes and pays a recall tail; clustering blocks by
    * the learned partition, so within-cluster recall is exact and the
    * pair expansion is bounded by cluster size. Emits one row per
    * input vector (LINEAR output): its cluster, how many in-cluster
    * neighbors sit within `theta` (exact int64 squared-L2 in the
    * quantized space — engine-identical, no float compare), and the
    * surviving representative `keep = min(self ∪ neighbors)`.
    *
    * Scale shape: a [[Blocking]] self-join on the cluster key (capped,
    * so a pathological cluster contributes at most cap² pairs — the
    * guard every blocked path shares), each unordered pair verified
    * once and then mirrored for the per-vector rollup, one linear
    * left-join back to attach the result to every vector; at 100 TB,
    * k grows with the corpus (k ≈ N / target-cluster-size, the paper
    * regime) so per-cluster work stays constant while the assignment
    * scan stays shuffle-free (centroids ride as literals).
    */
  def nearDup(df: DataFrame, idCol: String, embCol: String, k: Int,
              iters: Int, theta: Long, cap: Int = Dedup.MaxBucket,
              centsOpt: Option[Array[Array[Long]]] = None): DataFrame = {
    // A caller holding an already-fitted model (the memoized coarse
    // fit) passes it in; the fit here is the self-contained default.
    val cents = centsOpt.getOrElse(fitCentroids(df, idCol, embCol, k, iters))
    val asg = transform(df, idCol, embCol, cents)
      .select(col(idCol), col("cluster").cast("long").as("cluster"))
    val (a, b) = (s"${idCol}_a", s"${idCol}_b")
    val near = Blocking(asg.join(df.select(col(idCol), quantize(col(embCol)).as("qv")),
        Seq(idCol)), Seq("cluster"), idCol, cap)
      .selfPairs(Blocking.Lt, multiKey = false)
      .where(sqDist(col("qv_a"), col("qv_b")) <= lit(theta))
      .select(a, b)
    val nbr = Blocking.mirror(near, a, b)
      .groupBy(col(a).as(idCol))
      .agg(count(lit(1)).as("n_near"), min(col(b)).as("mn"))
    asg.join(nbr, Seq(idCol), "left")
      .select(col(idCol), col("cluster"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        least(coalesce(col("mn"), col(idCol)), col(idCol)).as("keep_vec_id"))
  }

  /** Runs `iters` Lloyd iterations from content-addressed seeds and
    * returns the final k×dim centroid table (row index = cluster id).
    * Empty clusters keep their previous centroid (mirrored by the
    * oracle's LEFT JOIN + coalesce). */
  def fitCentroids(df: DataFrame, idCol: String, embCol: String,
                   k: Int, iters: Int): Array[Array[Long]] =
    fitCentroidsQuantized(
      df.select(col(idCol), quantize(col(embCol)).as("qv")), idCol, k, iters)

  /** [[fitCentroids]] over a frame already carrying a quantized-long
    * `qv` column — the entry point for training on DERIVED integer
    * vectors (q147's coarse-residual subspaces, where the input is
    * qv − centroid, not a raw float embedding). */
  def fitCentroidsQuantized(qIn: DataFrame, idCol: String,
                            k: Int, iters: Int): Array[Array[Long]] = {
    require(k > 0 && iters >= 0, "k must be positive, iters non-negative")
    val q = qIn.select(col(idCol), col("qv"))
    // The MLlib iteration shape: the quantized frame is persisted for
    // the seed + per-iteration actions (at 100 TB each iteration reads
    // the cache, not the source scan), and unpersisted before the
    // final single-pass assignment, which recomputes from source.
    q.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Seeds: the k rows with smallest (md5("km:"||id), id) — a
    // TakeOrderedAndProject at any scale. Driver-side re-sort on the
    // hash pins the seed→cid order independent of collect order (h is
    // a total order: distinct ids hash distinctly).
    val seeds = q
      .withColumn("h", md5(concat(lit("km:"), col(idCol).cast("string"))))
      .orderBy(col("h"), col(idCol))
      .limit(k)
      .select(col("h"), col("qv"))
      .collect()
      .sortBy(_.getString(0))
      .map(_.getSeq[Long](1).toArray)
    var cents: Array[Array[Long]] = seeds

    for (_ <- 1 to iters) {
      val sums = assign(q, cents)
        .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty cluster → previous centroid
      sums.groupBy(_.getInt(0)).foreach { case (cid, rows) =>
        val arr = next(cid)
        rows.foreach { r =>
          arr(r.getInt(1)) = Math.floorDiv(r.getLong(2), r.getLong(3))
        }
      }
      cents = next
    }
    q.unpersist(blocking = false)
    cents
  }
}
