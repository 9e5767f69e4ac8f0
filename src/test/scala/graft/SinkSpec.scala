package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{Quarantine, Sink}
import scala.jdk.CollectionConverters._

/** Partition-aware upsert + quarantine specs. */
class SinkSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def seedStore(base: String, days: Int): Unit =
    Sink.writeTimePartitioned((1 to days).map(d =>
      (s"p$d", ts(f"2024-01-$d%02d 10:00:00"), "v1")).toDF("post_id", "ts", "v"), base, "ts")

  /** Every file under `base` (relative path → bytes). */
  private def snapshot(base: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(base)
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> java.nio.file.Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  private def parquetFiles(dir: String) =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(_.getName.endsWith(".parquet"))

  test("upsertTimePartitioned rewrites only touched partitions") {
    val base = tempDir("psink").toString + "/posts"
    val seed = Seq(
      ("p1", ts("2024-01-01 10:00:00"), "v1"),
      ("p2", ts("2024-01-02 10:00:00"), "v1"),
      ("p3", ts("2024-01-03 10:00:00"), "v1"),
      ("p0", null, "v1")).toDF("post_id", "ts", "v")
    Sink.writeTimePartitioned(seed, base, "ts")

    def filesOf(day: String) =
      parquetFiles(s"$base/dt=$day").map(f => f.getName -> f.lastModified).toSet
    val day1Before = filesOf("2024-01-01")
    val day2Before = filesOf("2024-01-02")

    // batch spans a stored day (Jan-2: update p2, insert p4), a new day
    // (Jan-5: insert p5) and the null day (insert p9); `src` is a column
    // the store lacks, so it is dropped
    val batch = Seq(
      ("p4", ts("2024-01-02 18:00:00"), "v1", "s"),
      ("p2", ts("2024-01-02 10:00:00"), "v2", "s"),
      ("p5", ts("2024-01-05 09:00:00"), "v1", "s"),
      ("p9", null, "v1", "s")).toDF("post_id", "ts", "v", "src")
      .repartition(3)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    Sink.upsertTimePartitioned(spark, base, batch, Seq("post_id"), "ts")
    // dynamic overwrite is the write's own option: the session setting
    // is never touched
    assert(spark.conf.getOption(modeKey) == modeBefore)

    assert(filesOf("2024-01-01") == day1Before) // untouched partition: same files
    assert(filesOf("2024-01-02") != day2Before) // touched partition rewritten
    def store() = spark.read.parquet(base)
    val want = Map("p0" -> "v1", "p1" -> "v1", "p2" -> "v2", "p3" -> "v1",
      "p4" -> "v1", "p5" -> "v1", "p9" -> "v1")
    assert(store().columns.toSeq == Seq("post_id", "ts", "v", "dt"))
    assert(store().select("post_id", "v").as[(String, String)].collect().toMap == want)
    assert(store().count() == want.size)

    // each touched day is exactly one file, rows in ts order (SNK2)
    for (day <- Seq("2024-01-02", "2024-01-05", "__HIVE_DEFAULT_PARTITION__")) {
      val files = parquetFiles(s"$base/dt=$day")
      assert(files.length == 1, s"dt=$day holds ${files.length} files")
      val stamps = spark.read.parquet(files.head.getPath).select("ts").as[Timestamp]
        .collect().toSeq.flatMap(Option(_)).map(_.getTime)
      assert(stamps == stamps.sorted, s"dt=$day is not in ts order")
    }

    // the same batch again leaves the same store (ST4)
    val rows = store().collect().map(_.toString).sorted.toSeq
    Sink.upsertTimePartitioned(spark, base, batch, Seq("post_id"), "ts")
    assert(store().collect().map(_.toString).sorted.toSeq == rows)

    // a store column the batch lacks fails loudly, before any write
    val before = snapshot(base)
    intercept[org.apache.spark.sql.AnalysisException] {
      Sink.upsertTimePartitioned(spark, base, batch.drop("v"), Seq("post_id"), "ts")
    }
    assert(snapshot(base) == before)

    // a batch that touches no stored day still takes the store's columns
    Sink.upsertTimePartitioned(spark, base,
      Seq(("p6", ts("2024-01-06 08:00:00"), "v1", "s")).toDF("post_id", "ts", "v", "src"),
      Seq("post_id"), "ts")
    assert(store().columns.toSeq == Seq("post_id", "ts", "v", "dt"))
    assert(store().select("post_id", "v").as[(String, String)].collect().toMap ==
      want + ("p6" -> "v1"))
  }

  test("upsert never lists or opens an untouched day") {
    val base = tempDir("prunesink").toString + "/posts"
    seedStore(base, 10)
    // a stray nested directory under an untouched day: discovering the
    // partitions of the whole store fails on it ("conflicting directory
    // structures"), so an upsert that lists that day cannot succeed
    val stray = new java.io.File(s"$base/dt=2024-01-07/x=1")
    stray.mkdirs()
    org.apache.commons.io.FileUtils.copyFile(parquetFiles(s"$base/dt=2024-01-07").head,
      new java.io.File(stray, "part-0.parquet"))
    val batch = Seq(("p2", ts("2024-01-02 11:00:00"), "v2")).toDF("post_id", "ts", "v")
    Sink.upsertTimePartitioned(spark, base, batch, Seq("post_id"), "ts")
    assert(new java.io.File(stray, "part-0.parquet").isFile)
    val day2 = spark.read.option("basePath", base).parquet(s"$base/dt=2024-01-02")
    assert(day2.select("post_id", "v").as[(String, String)].collect().toSeq == Seq("p2" -> "v2"))
  }

  test("one upsert into a 3-day store runs a pinned number of Spark jobs and releases its batch") {
    val base = tempDir("jobsink").toString + "/posts"
    seedStore(base, 3)
    val batch = Seq(
      ("p3", ts("2024-01-03 11:00:00"), "v2"),
      ("p4", ts("2024-01-04 10:00:00"), "v1")).toDF("post_id", "ts", "v")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    // the listener bus delivers in order: once the marker job's start
    // arrives, every job of the upsert has been counted
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("upsert") => jobs.incrementAndGet()
          case Some("marker") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    val persisted = sc.getPersistentRDDs.keySet
    try {
      sc.setJobGroup("upsert", "upsert")
      Sink.upsertTimePartitioned(spark, base, batch, Seq("post_id"), "ts")
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1)).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the batch's checkpoint, the touched-days collect, the broadcast of
    // its keys, the shuffle on dt and the write
    assert(jobs.get == 5, s"${jobs.get} jobs")
    // the batch's checkpoint is released when the upsert ends
    assert(sc.getPersistentRDDs.keySet == persisted)
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
