package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sink layout (SNK2): the reference creates an index on
  * `created_datetime` (reference `dags/dag.py:511`) to accelerate the
  * incremental MAX read (O2/O6). The Spark-native analog is physical
  * layout: date-partition the files and sort rows within partitions by
  * the timestamp — the high-water-mark query then prunes to ~window
  * partitions and row-group min/max statistics skip within them. */
object Sink {

  /** The date partition column of the time-partitioned sink:
    * `to_date(tsCol)` in the session time zone. */
  val DateCol = "dt"

  /** Write `df` date-partitioned by `tsCol` (partition column
    * [[DateCol]]), clustered so each output partition is one sorted file
    * run. */
  def writeTimePartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    df.withColumn(DateCol, to_date(col(tsCol)))
      .repartition(col(DateCol))
      .sortWithinPartitions(col(DateCol), col(tsCol))
      .write.mode("overwrite")
      .partitionBy(DateCol)
      .parquet(path)

  /** Training-shard write — the PHYSICAL end of the q116/q118 shard
    * manifest: files partitioned by `shard`, rows inside each shard in
    * exact global order (`start_tok`), so a trainer streams `shard=N`
    * directories and reads tokens in the manifest's deterministic
    * content-addressed order with zero further sorting. One shuffle on
    * the shard key; each shard is token-bounded by construction
    * (ShardTokens + one doc), so output files are uniformly sized at
    * any corpus scale. */
  /* The within-partition sort leads with `shard` so the dynamic
   * partition writer's required ordering (partition columns) is
   * satisfied by the existing sort — otherwise FileFormatWriter inserts
   * its own sort on `shard` alone and the per-file `start_tok` order
   * would hang on that sort's (unspecified) stability. `doc_id` is the
   * tie-breaker: rows with EQUAL start_tok exist whenever a document
   * tokenizes to zero tokens (consecutive manifest rows share the
   * prefix-sum value), and without a total order the physical tie
   * order would be sortWithinPartitions-unspecified — a
   * nondeterministic flake against any oracle that orders the same
   * ties. With the total (shard, start_tok, doc_id) sort the physical
   * row order inside each shard file IS the manifest's global order —
   * verified DIFFERENTIALLY by q124 (read-back file positions vs the
   * manifest oracle), not just by spec. */
  def writeShardPartitioned(df: DataFrame, path: String): Unit =
    df.repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("start_tok"), col("doc_id"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(path)

  /** Z-ORDER write — the physical end of the q150 Morton keys (the
    * Delta/Iceberg OPTIMIZE ZORDER analog): files bucketed by a
    * deterministic zkey range (`zfile` = zkey div bucket width,
    * computed by the caller), rows inside each file in exact
    * (zkey, doc_id) order, so per-file min/max column statistics prune
    * scans on EITHER interleaved dimension. Bucketing is explicit
    * arithmetic rather than repartitionByRange: range sampling's
    * boundaries are plan-private state, while an arithmetic bucket is
    * derivable by any independent reader (and by the q260 oracle) —
    * production table formats persist a manifest for the same reason.
    * Same dynamic-partition-writer ordering discipline as
    * [[writeShardPartitioned]]: the within-partition sort leads with
    * the partition column so FileFormatWriter keeps OUR sort, and
    * doc_id breaks zkey ties so the physical order is total. */
  def writeZOrdered(df: DataFrame, path: String): Unit =
    df.repartition(col("zfile"))
      .sortWithinPartitions(col("zfile"), col("zkey"), col("doc_id"))
      .write.mode("overwrite")
      .partitionBy("zfile")
      .parquet(path)

  /** Small-files compaction: rewrite a parquet directory into
    * ~`targetBytes`-sized files. Streaming/incremental sinks accrete
    * tiny files (one per micro-batch per partition); at 100 TB the
    * resulting footer/task overhead dominates scans, so periodic
    * compaction is part of the sink contract, not an afterthought. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val df = spark.read.parquet(path)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, (bytes / BigInt(targetBytes)).toInt)
    val tmp = path + ".compacting"
    df.coalesce(nFiles).write.mode("overwrite").parquet(tmp)
    val fs = new java.io.File(path)
    org.apache.commons.io.FileUtils.deleteDirectory(fs)
    org.apache.commons.io.FileUtils.moveDirectory(new java.io.File(tmp), fs)
  }

  /** SNK1 at scale: keyed upsert against a date-partitioned target that
    * reads and rewrites ONLY the partitions the batch touches (dynamic
    * partition overwrite). A day's micro-batch against a years-deep
    * 100 TB sink costs O(touched days), not O(history) — the reference's
    * ON CONFLICT upsert restated for object storage. Updates must carry
    * `tsCol`; rows may move partitions only if their own timestamp
    * changed, which a keyed upsert forbids by construction.
    *
    * The existing-side restriction is a collected O(touched-days)
    * scalar list turned into a STATIC `isin` partition filter — one
    * driver round-trip over a value set bounded by the batch's calendar
    * span, never by row count. A broadcast-semi-join alternative (zero
    * driver round-trips, relying on Dynamic Partition Pruning to reach
    * the scan) was tried and rejected: Spark's PartitionPruning rule
    * declines an unfiltered dimension side, so the "cleaner" form
    * silently degrades to a FULL history scan + post-join filter —
    * static pruning is deterministic, visible in PartitionFilters
    * (SinkSpec pins it), and independent of optimizer heuristics. */
  def upsertTimePartitioned(spark: org.apache.spark.sql.SparkSession,
                            targetPath: String, updates: DataFrame,
                            keys: Seq[String], tsCol: String): Unit = {
    val up = updates.withColumn(DateCol, to_date(col(tsCol)))
    val touched = up.select(DateCol).distinct().collect().map(_.getDate(0)).toSeq
    val existing = spark.read.parquet(targetPath)
      .where(col(DateCol).isin(touched: _*))
    val merged = Merge.upsert(existing, up.select(existing.columns.map(col).toSeq: _*), keys)
      .persist()
    merged.count() // materialize before overwriting source partitions
    // the write option, not the session setting: it takes precedence
    // for this write alone and leaves the shared session untouched
    try
      merged.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(DateCol).parquet(targetPath)
    finally merged.unpersist()
  }
}
