package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DateType, StructType}

/** Sink layout (SNK2): the reference creates an index on
  * `created_datetime` (reference `dags/dag.py:511`) to accelerate the
  * incremental MAX read (O2/O6). The Spark-native analog is physical
  * layout: date-partition the files and sort rows within partitions by
  * the timestamp — the high-water-mark query then prunes to ~window
  * partitions and row-group min/max statistics skip within them. Both
  * writes of that store, the first write and every upsert, go through
  * one clustered writer, so each day the store holds is one
  * timestamp-sorted file after any sequence of upserts. */
object Sink {

  /** The date partition column of the time-partitioned sink:
    * `to_date(tsCol)` in the session time zone. */
  val DateCol = "dt"

  /** Write `df` date-partitioned by `tsCol` (partition column
    * [[DateCol]]), replacing whatever `path` held: one timestamp-sorted
    * file per day. */
  def writeTimePartitioned(df: DataFrame, path: String, tsCol: String): Unit =
    clustered(df.withColumn(DateCol, to_date(col(tsCol))), tsCol).parquet(path)

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
    * lists, reads and rewrites ONLY the days the batch touches — the
    * reference's ON CONFLICT upsert restated for object storage. A
    * day's micro-batch against a years-deep sink costs O(touched days),
    * not O(history). Updates must carry `tsCol`; rows may move
    * partitions only if their own timestamp changed, which a keyed
    * upsert forbids by construction.
    *
    * Each step runs once:
    *  - the batch plus [[DateCol]] is materialized once (an eager
    *    `localCheckpoint`, released when the upsert ends), and its
    *    touched days are a per-partition distinct of that copy,
    *    collected — no second shuffle, no second run of the caller's
    *    plan;
    *  - the existing side reads only the touched `dt=` directories that
    *    exist (`basePath` = the store root), so an untouched day is
    *    never listed or opened;
    *  - the merge is written by ONE dynamic-partition-overwrite write
    *    through the clustered writer, with no materialization: that
    *    write stages its files and replaces a day's directory only at
    *    job commit, after every task has read the old files.
    *
    * Column contract: the store's columns come from the store — the
    * Spark schema in one data file's footer, read on the driver (a
    * touched day's file, else the last stored day's in name order), plus
    * [[DateCol]]. A store column the batch lacks fails the upsert before
    * anything is written; a batch column the store lacks is dropped. */
  def upsertTimePartitioned(spark: SparkSession,
                            targetPath: String, updates: DataFrame,
                            keys: Seq[String], tsCol: String): Unit = {
    val batch = updates.withColumn(DateCol, to_date(col(tsCol))).localCheckpoint()
    try {
      val root = new Path(targetPath)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = root.getFileSystem(conf)
      val touched = batch.select(DateCol).as(Encoders.LOCALDATE)
        .mapPartitions(_.toSet.iterator)(Encoders.LOCALDATE).collect().distinct
      val stored = touched.toSeq.map(d => new Path(root, dayDir(d))).filter(fs.exists)
      val schema = storeSchema(fs, conf, root, stored)
      val up = batch.select(schema.fieldNames.toSeq.map(col): _*)
      val merged =
        if (stored.isEmpty) up
        else Merge.upsert(spark.read.schema(schema).option("basePath", targetPath)
          .parquet(stored.map(_.toString): _*), up, keys)
      // the write option, not the session setting: it takes precedence
      // for this write alone and leaves the shared session untouched
      clustered(merged, tsCol).option("partitionOverwriteMode", "dynamic").parquet(targetPath)
    } finally
      batch.queryExecution.logical.foreach {
        case r: LogicalRDD => r.rdd.unpersist(blocking = false)
        case _ => ()
      }
  }

  /** The one writer of the time-partitioned store: one shuffle on
    * [[DateCol]] and a (DateCol, tsCol) sort inside each partition, so
    * every written day is one file in timestamp order (SNK2). The sort
    * leads with the partition column, so FileFormatWriter keeps it. */
  private def clustered(df: DataFrame, tsCol: String): DataFrameWriter[Row] =
    df.repartition(col(DateCol))
      .sortWithinPartitions(col(DateCol), col(tsCol))
      .write.mode("overwrite")
      .partitionBy(DateCol)

  /** A day's directory name as the partitioned writer spells it. */
  private def dayDir(day: java.time.LocalDate): String =
    s"$DateCol=${Option(day).fold(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)(_.toString)}"

  /** The store's schema: the Spark schema in the footer of the first
    * data file of `stored`'s first day (else of the last stored day in
    * name order), plus [[DateCol]]. */
  private def storeSchema(fs: FileSystem, conf: Configuration, root: Path,
                          stored: Seq[Path]): StructType = {
    def children(p: Path) = fs.listStatus(p).map(_.getPath).sortBy(_.getName)
    val day = stored.headOption
      .orElse(children(root).filter(_.getName.startsWith(s"$DateCol=")).lastOption)
      .getOrElse(throw new IllegalArgumentException(s"no stored day under $root"))
    val file = children(day).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file in $day"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(SQLConf.get)).add(DateCol, DateType)
  }
}
