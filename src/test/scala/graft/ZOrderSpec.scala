package graft

import org.apache.spark.sql.functions._
import graft.operators.Sink

/** Pins the PAYOFF of the q260 Z-order layout: per-file min/max column
  * statistics prune files on EITHER interleaved dimension, where a
  * single-dimension (doc_id-ordered) layout of the same rows prunes
  * nothing. q260's hash gate certifies the physical order; this spec
  * certifies that the order buys the skipping it exists for. File-level
  * min/max are derived from the read-back rows grouped by physical file
  * — exactly the values a parquet footer records for int64 columns, so
  * the touched-file decision here is the one a stats-based reader makes.
  */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  // 5×20 rank grid, 5 rows per cell — the fixture's (lang, source)
  // shape with ties, ranks materialized directly
  private def grid = (0 until 500).map { i =>
    (i.toLong, (i % 5).toLong, (i % 20).toLong)
  }.toDF("doc_id", "lr", "sr")

  private val interleave = (0 until 16).map(i =>
    s"(shiftleft(shiftright(lr, $i) & 1, ${2 * i + 1}) + " +
      s"shiftleft(shiftright(sr, $i) & 1, ${2 * i}))").mkString(" + ")

  /** files whose [min,max] box intersects `pred` on column `c` */
  private def touched(path: String, c: String, v: Long): (Long, Long) = {
    val stats = spark.read.parquet(path)
      .select(col("_metadata.file_path").as("f"), col(c))
      .groupBy("f").agg(min(c).as("lo"), max(c).as("hi"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("lo") <= v && col("hi") >= v, 1L).otherwise(0L))
          .as("n_touched")).head
    (stats.getLong(1), stats.getLong(0))
  }

  test("z-ordered layout prunes files on both dimensions; doc_id order prunes neither") {
    val base = tempDir("zorder").toString
    val keyed = grid.withColumn("zkey", expr(interleave))
      .withColumn("zfile", expr("zkey div 32"))
    Sink.writeZOrdered(keyed, s"$base/z")
    // baseline: same rows, same file count, doc_id order (the layout a
    // plain ingest leaves behind)
    val nFiles = keyed.select("zfile").distinct().count().toInt
    keyed.withColumn("zfile", expr(s"doc_id div ${500 / nFiles}"))
      .repartition(col("zfile"))
      .sortWithinPartitions("zfile", "doc_id")
      .write.partitionBy("zfile").parquet(s"$base/flat")

    for (c <- Seq("lr", "sr")) {
      val (zTouch, zTotal) = touched(s"$base/z", c, 3L)
      val (fTouch, fTotal) = touched(s"$base/flat", c, 3L)
      // the doc_id layout touches (nearly) everything: ranks cycle
      // with doc_id, so every full-size file spans the whole domain —
      // only a ragged tail file can miss a value
      assert(fTouch >= fTotal - 1,
        s"doc_id layout unexpectedly prunes on $c ($fTouch/$fTotal)")
      assert(zTouch < zTotal,
        s"z layout prunes nothing on $c ($zTouch/$zTotal)")
      assert(zTouch < fTouch,
        s"z layout no better than flat on $c ($zTouch vs $fTouch)")
    }
  }

  test("physical in-file order is (zkey, doc_id) — the stats' precondition") {
    val base = tempDir("zorderord").toString
    Sink.writeZOrdered(grid.withColumn("zkey", expr(interleave))
      .withColumn("zfile", expr("zkey div 32")), base)
    val bad = spark.read.parquet(base)
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("pos"), col("zkey"), col("doc_id"))
      .withColumn("prev", lag(struct(col("zkey"), col("doc_id")), 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy("f").orderBy("pos")))
      .where(col("prev").isNotNull &&
        !(col("prev.zkey") < col("zkey") ||
          (col("prev.zkey") === col("zkey") && col("prev.doc_id") < col("doc_id"))))
      .count()
    assert(bad == 0, s"$bad out-of-order adjacent row pairs")
  }
}
