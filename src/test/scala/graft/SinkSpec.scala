package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Quarantine, Sink}

/** Partition-aware upsert + quarantine specs. */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("upsertTimePartitioned rewrites only touched partitions") {
    val base = tempDir("psink").toString + "/posts"
    val seed = Seq(
      ("p1", ts("2024-01-01 10:00:00"), "v1"),
      ("p2", ts("2024-01-02 10:00:00"), "v1"),
      ("p3", ts("2024-01-03 10:00:00"), "v1")).toDF("post_id", "ts", "v")
    Sink.writeTimePartitioned(seed, base, "ts")

    def filesOf(day: String) =
      new java.io.File(s"$base/dt=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toSet
    val day1Before = filesOf("2024-01-01")
    val day2Before = filesOf("2024-01-02")

    // batch touches only Jan-2: update p2, insert p4
    val batch = Seq(
      ("p2", ts("2024-01-02 10:00:00"), "v2"),
      ("p4", ts("2024-01-02 18:00:00"), "v1")).toDF("post_id", "ts", "v")
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    Sink.upsertTimePartitioned(spark, base, batch, Seq("post_id"), "ts")
    // dynamic overwrite is the write's own option: the session setting
    // is never touched
    assert(spark.conf.getOption(modeKey) == modeBefore)

    assert(filesOf("2024-01-01") == day1Before) // untouched partition: same files
    assert(filesOf("2024-01-02") != day2Before) // touched partition rewritten
    val all = spark.read.parquet(base)
      .select("post_id", "v").as[(String, String)].collect().toMap
    assert(all == Map("p1" -> "v1", "p2" -> "v2", "p3" -> "v1", "p4" -> "v1"))
  }

  test("upsert's existing-side read is statically partition-pruned to touched days") {
    val base = tempDir("prunesink").toString + "/posts"
    val seed = (1 to 10).map(d => (s"p$d", ts(f"2024-01-$d%02d 10:00:00"), "v1"))
      .toDF("post_id", "ts", "v")
    Sink.writeTimePartitioned(seed, base, "ts")
    // the exact existing-side shape upsertTimePartitioned builds
    val touched = Seq(java.sql.Date.valueOf("2024-01-02"))
    val pruned = spark.read.parquet(base).where(col("dt").isin(touched: _*))
    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("dt") && scanLine.contains("2024-01-02"),
      s"expected the touched-day isin to land in PartitionFilters:\n$plan")
    assert(pruned.count() == 1) // only the touched day's rows are read
  }

  test("writeShardPartitioned: shard=N layout, in-file global order, lossless") {
    val base = tempDir("shardsink").toString + "/shards"
    val manifest = graft.queries.CorpusQueries.shardManifest(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens")))
    Sink.writeShardPartitioned(manifest, base)
    // physical layout: one directory per shard id
    val dirs = new java.io.File(base).listFiles()
      .filter(_.getName.startsWith("shard=")).map(_.getName).toSet
    val wantShards = manifest.select("shard").distinct()
      .collect().map(r => s"shard=${r.getLong(0)}").toSet
    assert(dirs == wantShards)
    // lossless round-trip
    val back = spark.read.parquet(base)
    assert(back.count() == manifest.count())
    assert(back.select(sum("n_tokens")).head.getLong(0) ==
      manifest.select(sum("n_tokens")).head.getLong(0))
    // every physical file is internally ordered by start_tok (the
    // trainer's zero-sort streaming contract)
    for (d <- new java.io.File(base).listFiles() if d.getName.startsWith("shard=");
         f <- d.listFiles() if f.getName.endsWith(".parquet")) {
      val starts = spark.read.parquet(f.getAbsolutePath)
        .select("start_tok").collect().map(_.getLong(0)).toSeq
      assert(starts == starts.sorted, s"${f.getName} not in manifest order")
    }
  }

  test("quarantine splits rows by named rules, nulls count as violations") {
    val df = Seq(
      (1L, Some("ok"), 5),
      (2L, None, 5),        // null title
      (3L, Some("ok"), -1), // negative count
      (4L, Some(""), -2)    // both
    ).toDF("id", "title", "n")
    val (valid, rejects) = Quarantine.split(df, Seq(
      "title_nonempty" -> (col("title").isNotNull && col("title") =!= ""),
      "n_nonnegative" -> (col("n") >= 0)))
    assert(valid.select("id").as[Long].collect().toSeq == Seq(1L))
    val r = rejects.select(col("id"), col("reject_reasons"))
      .as[(Long, Seq[String])].collect().sortBy(_._1).toSeq
    assert(r == Seq(
      (2L, Seq("title_nonempty")),
      (3L, Seq("n_nonnegative")),
      (4L, Seq("title_nonempty", "n_nonnegative"))))
  }
}
