package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingIngest
import graft.streaming.StreamingIngest.Event

/** Structured-Streaming specs driven through MemoryStream micro-batches. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed counts aggregate per tumbling window and event type") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val q = StreamingIngest.windowedEventCounts(df, "ts")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.0),
        (ts("2024-01-01 00:02:00"), "click", 2.0),
        (ts("2024-01-01 00:15:00"), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select("window_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows == Set(
        (ts("2024-01-01 00:00:00"), "click", 2L),
        (ts("2024-01-01 00:10:00"), "view", 1L)))
    } finally q.stop()
  }

  test("streaming dedup drops repeated keys within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Long)]
    val df = input.toDF().toDF("ts", "post_id", "v")
    val q = StreamingIngest.dedupStream(df, "ts", Seq("post_id"))
      .writeStream.format("memory").queryName("dd").outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 00:01:00"), "a", 1L),
        (ts("2024-01-01 00:02:00"), "a", 2L),
        (ts("2024-01-01 00:03:00"), "b", 3L))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 00:04:00"), "a", 4L))
      q.processAllAvailable()
      val ids = spark.table("dd").select("post_id").as[String].collect().sorted
      assert(ids.toSeq == Seq("a", "b")) // the later 'a's are dropped
    } finally q.stop()
  }

  test("classifyVectors streams assignments bit-identical to a batch re-run") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rng = new scala.util.Random(19)
    val history = (0 until 30).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cents = graft.operators.KMeans.fitCentroids(
      history, "vec_id", "embedding", k = 3, iters = 2)
    val fresh = (100 until 120).map(i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1)))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = StreamingIngest.classifyVectors(
        input.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("cls").outputMode("append").start()
    try {
      input.addData(fresh.take(10): _*)
      q.processAllAvailable()
      input.addData(fresh.drop(10): _*)
      q.processAllAvailable()
      val streamed = spark.table("cls")
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
      val batch = graft.operators.KMeans.transform(
          fresh.toDF("vec_id", "embedding"), "vec_id", "embedding", cents)
        .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
      assert(streamed == batch)
      assert(streamed.map(_._1) == fresh.map(_._1).sorted)
    } finally q.stop()
  }

  test("heavy-hitter tracker folds the CMS across triggers and matches exact counts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rng = new scala.util.Random(94)
    val vocab = ('a' to 'z').map(_.toString)
    // skewed draws so there IS a stable top-5
    def draw(): String = vocab(math.min(rng.nextInt(vocab.size), rng.nextInt(vocab.size)))
    val batches = Seq.fill(3)(Seq.fill(40)(Seq.fill(12)(draw()).mkString(" ")))
    val tracker = new StreamingIngest.HeavyHitterTracker(k = 5)
    val input = MemoryStream[String]
    val ckpt = tempDir("hh_ckpt").toString
    // one AvailableNow run per batch against the same checkpoint: each
    // restart drains only the new data, so the tracker also proves
    // restart-safety of the driver-held grid
    batches.foreach { b =>
      input.addData(b: _*)
      val q = StreamingIngest.trackHeavyHitters(
        input.toDF().toDF("text"), "text", 5, ckpt, tracker)
      try { q.processAllAvailable() } finally q.stop()
    }
    val exact = batches.flatten.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val expected = exact.sortBy { case (t, n) => (-n, t) }.take(5)
    // 26 tokens in a 4x2048 grid: no collisions, so the one-sided CMS
    // estimate is exact and the streamed top-k IS the true top-k
    assert(tracker.top == expected)
  }

  test("distinct tracker folds HLL registers across triggers, equal to one batch sketch") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rng = new scala.util.Random(46)
    // overlapping ids across batches: the fold must not double-count
    val batches = Seq.fill(3)(Seq.fill(800)(rng.nextInt(1500).toLong))
    val tracker = new StreamingIngest.DistinctTracker
    val input = MemoryStream[Long]
    val ckpt = tempDir("hll_ckpt").toString
    batches.foreach { b =>
      input.addData(b: _*)
      val q = StreamingIngest.trackDistinct(
        input.toDF().toDF("user_id"), "user_id", ckpt, tracker)
      try { q.processAllAvailable() } finally q.stop()
    }
    // register-max fold ≡ one sketch over the union: the streamed
    // estimate must EQUAL the batch aggregate's, not just approximate it
    val batchEst = batches.flatten.toDF("user_id")
      .agg(call_function("graft_approx_distinct", col("user_id")))
      .head.getLong(0)
    assert(tracker.estimate == batchEst)
    val exact = batches.flatten.distinct.size
    assert(math.abs(tracker.estimate - exact) <= exact * 0.05,
      s"est=${tracker.estimate} exact=$exact")
  }

  test("quantile tracker folds histogram bins across triggers within bin-width error") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rng = new scala.util.Random(102)
    val batches = Seq.fill(3)(Seq.fill(500)(rng.nextDouble() * 100))
    val tracker = new StreamingIngest.QuantileTracker(lo = 0L, hi = 9999L)
    val input = MemoryStream[Double]
    val ckpt = tempDir("qt_ckpt").toString
    batches.foreach { b =>
      input.addData(b: _*)
      val q = StreamingIngest.trackQuantiles(
        input.toDF().toDF("value"), "value", ckpt, tracker)
      try { q.processAllAvailable() } finally q.stop()
    }
    val cents = batches.flatten.map(v => math.floor(v * 100).toLong).sorted
    assert(tracker.count == cents.length)
    // driver-side reimplementation of the same histogram: exact equality
    def refQuantile(p: Int): Long = {
      val bins = new Array[Long](128)
      cents.foreach(c => bins(((c - 0L) * 128 / 10000L).toInt) += 1)
      val (total, cum) = (bins.sum, bins.scanLeft(0L)(_ + _).drop(1))
      val b = cum.indexWhere(_ * 100 >= total * p)
      0L + ((b + 1L) * 10000L) / 128 - 1
    }
    // and the bin-width bound against the EXACT percentile
    val binWidth = 10000L / 128 + 1
    for (p <- Seq(50, 90, 99)) {
      val est = tracker.quantile(p).get
      assert(est == refQuantile(p), s"p$p histogram mismatch")
      val exact = cents(math.min(cents.length - 1,
        math.max(0, math.ceil(cents.length * p / 100.0).toInt - 1)))
      assert(math.abs(est - exact) <= binWidth, s"p$p est=$est exact=$exact")
    }
  }

  test("drift tracker: streamed chi2 is bit-identical to the declared q217") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "value", "unix_millis(ts) AS t")
    val mm = ev.agg(min("t"), max("t")).head
    val (t0, t1) = (mm.getLong(0), mm.getLong(1))
    // the q217 split: reference = the early half, live = the late half
    val reference = ev.where(col("t") * 2 < lit(t0 + t1))
      .select(col("event_type"),
        expr("CAST(round(value * 100, 0) AS BIGINT) div 1000").as("bin"))
      .groupBy("event_type", "bin").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toSeq
    val tracker = new StreamingIngest.DriftTracker(reference)
    val rows = ev.where(col("t") * 2 >= lit(t0 + t1))
      .select("event_type", "value").as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)]
    val ckpt = tempDir("drift_ckpt").toString
    rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { chunk =>
      input.addData(chunk: _*)
      val q = StreamingIngest.trackValueDrift(
        input.toDF().toDF("event_type", "value"),
        "event_type", "value", ckpt, tracker)
      try { q.processAllAvailable() } finally q.stop()
    }
    assert(tracker.liveCount == rows.length)
    val want = graft.queries.OpsQueries
      .queries("q217_chisq_drift")(spark, dir).collect()
      .groupBy(_.getString(0)).view.mapValues(_.head.getLong(7)).toMap
    val got = tracker.chi2Milli
    assert(got.keySet == want.keySet)
    want.foreach { case (k, chi) =>
      assert(got(k) == chi, s"$k: streamed ${got(k)} vs batch $chi")
    }
  }

  test("drift tracker: driver state is bounded by the reference grid " +
      "and replayed batches fold once") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // reference covers TWO keys; a zero-count reference cell must be
    // rejected at construction (it would put 0/0 on the bin spine)
    val reference = Seq(
      (("a", 0L), 10L), (("a", 1L), 5L), (("b", 0L), 7L), (("b", 2L), 0L))
    val tracker = new StreamingIngest.DriftTracker(reference)
    assert(tracker.refKeys == Set("a", "b"))
    // a 500-distinct-key stream (the user_id-shaped caller the old
    // signature allowed to grow driver state unboundedly)
    val rows = (0 until 500).map(i => (s"u$i", (i % 30) / 10.0)) ++
      Seq(("a", 0.5), ("a", 12.0), ("b", 3.0))
    val input = MemoryStream[(String, Double)]
    input.addData(rows: _*)
    val ckpt = tempDir("drift_bound_ckpt").toString
    val q = StreamingIngest.trackValueDrift(
      input.toDF().toDF("k", "value"), "k", "value", ckpt, tracker)
    try { q.processAllAvailable() } finally q.stop()
    // live state holds ONLY reference-universe cells; everything else
    // is one scalar gauge
    assert(tracker.trackedCells <= 3)
    assert(tracker.liveCount == 3)
    assert(tracker.novelCount == 500)
    assert(tracker.chi2Milli.keySet == Set("a", "b"))
    // at-least-once replay: the same batch id re-delivered (update
    // applied, commit lost, restart) must NOT double-count
    val before = (tracker.liveCount, tracker.novelCount)
    tracker.update(0L, Seq((("a", 0L), 99L)), novelRows = 99L)
    assert((tracker.liveCount, tracker.novelCount) == before)
    // a genuinely NEW batch still folds
    tracker.update(1L, Seq((("a", 0L), 2L)), novelRows = 1L)
    assert(tracker.liveCount == before._1 + 2)
    assert(tracker.novelCount == before._2 + 1)
  }

  test("drift tracker: per-stream batch ids and a separate null-key gauge") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val reference = Seq((("a", 0L), 10L), (("b", 0L), 7L))
    val tracker = new StreamingIngest.DriftTracker(reference)
    // FIRST query: 2 ref rows + 1 novel-key row + 2 null-key rows.
    // Null keys must land in their own gauge (an upstream join
    // dropping the key is a different failure than novel-key traffic).
    val in1 = MemoryStream[(Option[String], Double)]
    in1.addData(Seq(
      (Some("a"), 0.5), (Some("b"), 1.0), (Some("zz"), 2.0),
      (None, 3.0), (None, 4.0)): _*)
    val ck1 = tempDir("drift_s1").toString
    val q1 = StreamingIngest.trackValueDrift(
      in1.toDF().toDF("k", "value"), "k", "value", ck1, tracker)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(tracker.liveCount == 2)
    assert(tracker.novelCount == 1)
    assert(tracker.nullKeyCount == 2)
    // SECOND query, FRESH checkpoint: its batch ids restart at 0. The
    // round-10 single global high-water mark silently dropped every
    // such batch as a "replay"; per-checkpoint marks must fold it.
    val in2 = MemoryStream[(Option[String], Double)]
    in2.addData(Seq((Some("a"), 0.5), (Some("a"), 0.7)): _*)
    val ck2 = tempDir("drift_s2").toString
    val q2 = StreamingIngest.trackValueDrift(
      in2.toDF().toDF("k", "value"), "k", "value", ck2, tracker)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(tracker.liveCount == 4,
      "a second query's batch 0 must fold, not be dropped as a replay")
    // replay WITHIN a stream is still skipped: re-delivering the
    // second stream's batch 0 directly must not double-count
    tracker.update(0L, Seq((("a", 0L), 50L)), streamId = Some(ck2))
    assert(tracker.liveCount == 4)
    // and the first stream's mark is independent of the second's
    tracker.update(0L, Seq((("b", 0L), 9L)), streamId = Some(ck1))
    assert(tracker.liveCount == 4, "stream-1 batch 0 was already applied")
  }

  test("sessionize closes a session when the gap is exceeded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingIngest.sessionize(input.toDS(), gapMs = 60 * 1000L)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      input.addData(
        Event(1L, ts("2024-01-01 00:00:00"), "click"),
        Event(1L, ts("2024-01-01 00:00:30"), "view"))
      q.processAllAvailable()
      // 2 hours later: far beyond the 60s gap → first session closes
      input.addData(Event(1L, ts("2024-01-01 02:00:00"), "click"))
      q.processAllAvailable()
      val sessions = spark.table("sess")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, Timestamp, Timestamp, Int)].collect().toSeq
      assert(sessions == Seq(
        (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:30"), 2)))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the horizon, state-bounded") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val imp = MemoryStream[(Long, Timestamp)]
    val conv = MemoryStream[(Long, Timestamp)]
    val q = StreamingIngest.intervalJoin(
        imp.toDF().toDF("user_id", "ts"),
        conv.toDF().toDF("user_id", "ts"),
        key = "user_id", horizon = "10 minutes")
      .writeStream.format("memory").queryName("ivj").outputMode("append").start()
    try {
      imp.addData((1L, ts("2024-01-01 00:00:00")), (2L, ts("2024-01-01 00:00:00")))
      conv.addData(
        (1L, ts("2024-01-01 00:05:00")),  // within horizon → joins
        (2L, ts("2024-01-01 00:30:00")),  // past horizon → dropped
        (3L, ts("2024-01-01 00:01:00")))  // no impression → dropped
      q.processAllAvailable()
      val rows = spark.table("ivj")
        .select("user_id", "r_ts").as[(Long, Timestamp)].collect().toSet
      assert(rows == Set((1L, ts("2024-01-01 00:05:00"))))
    } finally q.stop()
  }

  test("trackSharedPrefixes: streamed store equals the batch q157 rollup") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("stream-pfx").toString
    val fixture = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$fixture/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val input = MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      val q = StreamingIngest.trackSharedPrefixes(
        input.toDF().toDF("doc_id", "text"),
        targetPath = s"$dir/pfx", checkpoint = s"$dir/ckpt")
      try q.awaitTermination(60000) finally q.stop()
    }
    val (even, odd) = docs.partition(_._1 % 2 == 0)
    input.addData(even.toSeq: _*)
    runOnce()
    input.addData(odd.toSeq: _*)
    runOnce()
    // the streamed store (resolved through the VersionedStore pointer),
    // filtered and finished like the batch query
    val streamed = StreamingIngest.readStore(spark, s"$dir/pfx").get
      .where(col("n_docs") >= 2)
      .select(col("h"), col("n_docs"), col("prefix_len"),
        ((col("n_docs") - 1) * col("prefix_len")).as("saved_tokens"),
        col("rep_doc_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val batch = graft.queries.CorpusQueries
      .queries("q157_shared_prefixes")(spark, fixture)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(batch.nonEmpty && streamed == batch,
      s"streamed store diverges from batch q157 (${streamed.size} vs ${batch.size})")
  }

  test("upsertEachBatch: effectively-once keyed upsert across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir = tempDir("stream-upsert").toString
    val input = MemoryStream[(Long, String, Long)]
    // Trigger.AvailableNow = one bounded run per invocation (the
    // streaming mirror of the reference's daily DAG run): enqueue, run
    // to termination, restart from the same checkpoint for the next day.
    def runOnce(): Unit = {
      val q = StreamingIngest.upsertEachBatch(
        input.toDF().toDF("post_id", "title", "v"),
        targetPath = s"$dir/posts", keys = Seq("post_id"),
        checkpoint = s"$dir/ckpt")
      try q.awaitTermination(60000) finally q.stop()
    }
    input.addData((1L, "a", 1L), (2L, "b", 1L))
    runOnce()
    // second run: update key 1, add key 3, duplicate key 3 in-batch
    input.addData((1L, "a2", 2L), (3L, "c", 1L), (3L, "c-dup", 2L))
    runOnce()
    val rows = StreamingIngest.readStore(spark, s"$dir/posts").get
      .select("post_id", "title").as[(Long, String)].collect().toMap
    assert(rows(1L) == "a2")      // last writer wins across runs
    assert(rows(2L) == "b")       // untouched key survives
    // in-batch dedup keeps exactly one of the duplicate-key rows (the
    // tie order within equal keys is not part of the contract)
    assert(Set("c", "c-dup").contains(rows(3L)))
    assert(rows.size == 3)
  }

  test("admitNovelEmbeddings: batches admit only history-novel vectors") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dim = graft.operators.Similarity.Dim
    def vec(f: Int => Float): Array[Float] = Array.tabulate(dim)(f)
    val vOne = vec(_ => 1f)                      // in history
    val vAlt = vec(i => if (i % 2 == 0) 1f else -1f)  // orthogonal to vOne
    val vNear = vec(i => if (i == 0) 1.1f else 1f)    // cos≈1 vs vOne
    val history = Seq((0L, vOne), (1L, vec(i => (i % 5) - 2f)))
      .toDF("vec_id", "embedding")
    val dir = tempDir("stream-admit").toString
    val input = MemoryStream[(Long, Array[Float])]
    def runOnce(): Unit = {
      val q = StreamingIngest.admitNovelEmbeddings(
        input.toDF().toDF("vec_id", "embedding"), history,
        targetPath = s"$dir/admitted", checkpoint = s"$dir/ckpt")
      try q.awaitTermination(60000) finally q.stop()
    }
    // batch 1: an exact copy of history v0 (drop) + a novel vector (admit)
    input.addData((10L, vOne), (11L, vAlt))
    runOnce()
    // batch 2: a NEAR-dup of history v0 (drop) + another novel (admit)
    input.addData((12L, vNear), (13L, vec(i => if (i % 3 == 0) -1f else 1f)))
    runOnce()
    val admitted = spark.read.parquet(s"$dir/admitted")
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == Set(11L, 13L),
      s"expected history near-dups 10/12 dropped, novel 11/13 admitted; got $admitted")
  }

  test("admitNovelTexts: bloom-gated admission across batches and restarts") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val history = Seq((0L, "alpha document text"), (1L, "beta document text"))
      .toDF("doc_id", "text")
    val dir = tempDir("stream-bloom").toString
    val input = MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      // each call is a fresh query ⇒ also exercises the restart path
      // (index re-initialized from history ∪ already-admitted)
      val q = StreamingIngest.admitNovelTexts(
        input.toDF().toDF("doc_id", "text"),
        history, targetPath = s"$dir/admitted", checkpoint = s"$dir/ckpt")
      try q.awaitTermination(60000) finally q.stop()
    }
    // batch 1: a dup of history (drop), a novel doc (admit), and an
    // intra-batch duplicate pair (keep-first)
    input.addData((10L, "alpha document text"), (11L, "gamma novel text"),
      (12L, "delta novel text"), (13L, "delta novel text"))
    runOnce()
    // batch 2 (fresh query = restart): a dup of batch 1's admission
    // (drop — caught by the re-initialized index), a dup of history
    // (drop), and a novel doc (admit)
    input.addData((20L, "gamma novel text"), (21L, "beta document text"),
      (22L, "epsilon novel text"))
    runOnce()
    val admitted = spark.read.parquet(s"$dir/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(11L, 12L, 22L),
      s"expected 10/13/20/21 dropped, 11/12/22 admitted; got $admitted")
    // effectively-once: replaying batch 2's data admits nothing new
    input.addData((30L, "epsilon novel text"))
    runOnce()
    val after = spark.read.parquet(s"$dir/admitted")
      .select("doc_id").as[Long].collect().toSet
    assert(after == Set(11L, 12L, 22L), s"replay re-admitted: $after")
  }

  test("scrubSeenSegments: stream output is bit-identical to batch q130 on ordered batches (incl. restart)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val dir0 = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(dir0 + "/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val history = rows.filter(_._1 < 200).toDF("doc_id", "text")
    val out = tempDir("segscrub").toString
    val input = MemoryStream[(Long, String)]
    def runOnce(): Unit = {
      // fresh query per call ⇒ the second batch also exercises restart
      // (Bloom + store re-initialized from history ∪ prior scrubs)
      val q = StreamingIngest.scrubSeenSegments(
        input.toDF().toDF("doc_id", "text"), history,
        targetPath = s"$out/clean", checkpoint = s"$out/ckpt")
      try q.awaitTermination(120000) finally q.stop()
    }
    input.addData(rows.filter(r => r._1 >= 200 && r._1 < 350): _*); runOnce()
    input.addData(rows.filter(_._1 >= 350): _*); runOnce()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_segs", "n_kept", "clean_hash", "clean_tokens")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), r.getLong(4))).toSeq
    val got = canon(spark.read.parquet(s"$out/clean"))
    // batch q130 over the SAME corpus: its keep-first order (doc_id, k)
    // coincides with history→batch1→batch2 arrival, so the streamed
    // scrub of the tail must equal the batch result restricted to it
    val want = canon(SparkEntry.queries("q130_segment_dedup")(spark, dir0)
      .where(col("doc_id") >= 200))
    assert(got.size == want.size && got == want,
      s"stream/batch divergence: got ${got.size} rows, want ${want.size}")
  }

  test("FailureListener captures failed actions (ST5 alert callback)") {
    val listener = new graft.streaming.FailureListener
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      intercept[Exception] {
        Seq(0L).toDF("id")
          .select(expr("assert_true(id > 0)")).collect()
      }
      // listener delivery is async — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (listener.failures.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(listener.failures.nonEmpty)
      assert(listener.failures.head._1 == "collect")
    } finally spark.listenerManager.unregister(listener)
  }

  test("foreachBatch upsert sink is idempotent across replays") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val base = tempDir("stream-upsert").toString
    val target = s"$base/posts"
    def runBatch(rows: (String, String)*): Unit = {
      val input = MemoryStream[(String, String)]
      val df = input.toDF().toDF("post_id", "title")
      input.addData(rows: _*)
      val q = StreamingIngest.upsertEachBatch(df, target, Seq("post_id"),
        Files.createTempDirectory(java.nio.file.Paths.get(base), "ckpt").toString)
      q.awaitTermination()
    }
    runBatch(("p1", "v1"), ("p2", "v1"))
    runBatch(("p2", "v2"), ("p3", "v1")) // update p2, insert p3
    runBatch(("p2", "v2"), ("p3", "v1")) // exact replay — must be a no-op
    val out = StreamingIngest.readStore(spark, target).get
      .as[(String, String)].collect().toSeq.sorted
    assert(out == Seq(("p1", "v1"), ("p2", "v2"), ("p3", "v1")))
  }

  test("VersionedStore: partial writes are invisible until the pointer flips; committed() gates replays") {
    import graft.streaming.VersionedStore
    import spark.implicits._
    val root = tempDir("vstore").toString + "/store"
    assert(VersionedStore.current(root).isEmpty)
    assert(!VersionedStore.committed(root, 0L))
    // a crashed attempt: version dir written, pointer NEVER flipped
    Seq((1L, "partial")).toDF("k", "v").write
      .parquet(s"$root/v000000000000")
    assert(VersionedStore.read(spark, root).isEmpty,
      "an unflipped version dir must be invisible to readers")
    // real commit at batch 0, then batch 1
    VersionedStore.commit(root, 0L) { dir =>
      Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    }
    assert(VersionedStore.committed(root, 0L) && !VersionedStore.committed(root, 1L))
    VersionedStore.commit(root, 1L) { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(dir)
    }
    assert(VersionedStore.committed(root, 1L))
    assert(VersionedStore.read(spark, root).get.count() == 2)
    // GC keeps the live version and its immediate predecessor only
    val dirs = new java.io.File(root).listFiles.filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 2 && dirs.last == new java.io.File(
      VersionedStore.current(root).get._1).getName)
  }

  test("VersionedStore: crash windows (mid-staging, post-flip pre-checkpoint) lose and double nothing") {
    import graft.streaming.VersionedStore
    import spark.implicits._
    val root = tempDir("vstore-crash").toString + "/store"
    // the model sink: a NON-idempotent re-aggregating merge (store =
    // cumulative per-key counts) — the exact shape the committed()
    // gate exists for
    def applyBatch(id: Long, data: Seq[(Long, Long)],
                   crashInWrite: Boolean): Unit = {
      if (!VersionedStore.committed(root, id)) {
        VersionedStore.commit(root, id) { dir =>
          val prev = VersionedStore.read(spark, root)
            .map(_.as[(Long, Long)].collect().toSeq).getOrElse(Nil)
          val merged = (prev ++ data).groupBy(_._1).view
            .mapValues(_.map(_._2).sum).toSeq
          if (crashInWrite) {
            // stage a PARTIAL store, then die before finishing — the
            // window between staging start and the pointer flip
            merged.take(1).toDF("k", "n").write.mode("overwrite").parquet(dir)
            throw new RuntimeException("simulated crash mid-staging")
          }
          merged.toDF("k", "n").write.mode("overwrite").parquet(dir)
        }
      }
    }
    // 8 batches; every batch adds 1 to keys 0..id. Crash script per
    // batch: 0 = clean, 1 = die mid-staging then retry, 2 = commit
    // succeeds but the checkpoint write is lost → same id replayed.
    val script = Seq(1, 2, 0, 1, 2, 2, 1, 0)
    val truth = scala.collection.mutable.Map.empty[Long, Long]
    script.zipWithIndex.foreach { case (mode, i) =>
      val id = i.toLong
      val data = (0L to id).map((_, 1L))
      data.foreach { case (k, n) => truth(k) = truth.getOrElse(k, 0L) + n }
      mode match {
        case 1 =>
          val before = VersionedStore.read(spark, root).map(_.count())
          intercept[RuntimeException](applyBatch(id, data, crashInWrite = true))
          // the partial staging dir must be invisible: readers still
          // resolve the previous complete store
          assert(VersionedStore.read(spark, root).map(_.count()) == before,
            s"batch $id: partial staging surfaced to readers")
          applyBatch(id, data, crashInWrite = false) // retry
        case 2 =>
          applyBatch(id, data, crashInWrite = false)
          // checkpoint commit lost → the streaming engine re-delivers
          // the SAME batch; the committed() gate must skip the merge
          applyBatch(id, data, crashInWrite = false)
        case _ =>
          applyBatch(id, data, crashInWrite = false)
      }
      // invariant after every batch: the live store is complete and
      // exactly equals the crash-free cumulative truth
      val got = VersionedStore.read(spark, root).get
        .as[(Long, Long)].collect().toMap
      assert(got == truth.toMap,
        s"batch $id (mode $mode): store $got != truth $truth")
    }
  }

  test("mergePrefixBatch: a replayed batchId is skipped — counts never double") {
    import spark.implicits._
    val store = tempDir("pfx-replay").toString + "/pfx"
    val docs = Seq(
      (1L, "shared prefix tokens one two three four five six seven eight alpha"),
      (2L, "shared prefix tokens one two three four five six seven eight beta"))
      .toDF("doc_id", "text")
    StreamingIngest.mergePrefixBatch(docs, 0L, store)
    val once = StreamingIngest.readStore(spark, store).get
      .select("h", "n_docs").as[(String, Long)].collect().toMap
    // at-least-once replay of the SAME batchId: non-idempotent merge
    // must be skipped (crash after pointer flip, before checkpoint)
    StreamingIngest.mergePrefixBatch(docs, 0L, store)
    val twice = StreamingIngest.readStore(spark, store).get
      .select("h", "n_docs").as[(String, Long)].collect().toMap
    assert(once.nonEmpty && twice == once,
      s"replay double-counted: $twice vs $once")
    // the NEXT batchId merges normally, in a pinned number of jobs
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    // the listener bus delivers in order: once the marker job's start
    // arrives, every job of the merge has been counted
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("merge") => jobs.incrementAndGet()
          case Some("marker") => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("merge", "merge")
      StreamingIngest.mergePrefixBatch(docs, 1L, store)
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1)).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // the merge streams into the commit's write: no count before it
    // (7 jobs when the merged frame was persisted and counted first)
    assert(jobs.get == 4, s"${jobs.get} jobs")
    val next = StreamingIngest.readStore(spark, store).get
      .select("h", "n_docs").as[(String, Long)].collect().toMap
    assert(next.values.sum == 2 * once.values.sum)
  }

  test("scrubOneBatch: replays (complete and partial) rewrite, never duplicate") {
    import spark.implicits._
    val base = tempDir("scrub-replay").toString
    val target = s"$base/clean"
    val history = Seq((1L, "h one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "novel a b c d e f g h i j k l m n o p q r s t u v w x"),
      (11L, "h one two three four five six seven eight nine ten tail x1 x2 x3 x4 x5 x6"))
      .toDF("doc_id", "text")
    val bloom = new java.util.concurrent.atomic.AtomicReference(
      StreamingIngest.initSegmentBloom(history, target))
    StreamingIngest.scrubOneBatch(batch, 0L, history, target, bloom)
    def docs() = spark.read.parquet(target)
      .select("doc_id", "clean_hash").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).sortBy(_._1).toSeq
    def segRows() = spark.read.parquet(StreamingIngest.segStorePath(target)).count()
    val (d1, s1) = (docs(), segRows())
    assert(d1.map(_._1) == Seq(10L, 11L))
    // complete replay (marker present): strict no-op
    StreamingIngest.scrubOneBatch(batch, 0L, history, target, bloom)
    assert(docs() == d1 && segRows() == s1)
    // partial-failure replay: docs written but segs + marker lost (the
    // crash window between the two writes) — restart re-inits the
    // Bloom from what's on disk, replay must rewrite identically
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(StreamingIngest.segStorePath(target)))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"$target/batch=0/_COMMITTED"))
    val bloom2 = new java.util.concurrent.atomic.AtomicReference(
      StreamingIngest.initSegmentBloom(history, target))
    StreamingIngest.scrubOneBatch(batch, 0L, history, target, bloom2)
    assert(docs() == d1 && segRows() == s1,
      "partial replay diverged from the original attempt")
  }
}
