package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Incremental, LmScore, Merge, Sink, Transform}

/** Operator-level tests: dedup keeper determinism + idempotence, upsert
  * last-writer-wins + idempotence (SURVEY.md §5.3 properties), and the
  * high-water-mark fallback branches. */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Long)*) =
    rows.toDF("id", "k", "ord")

  test("dedupFirst keeps the row with the minimal order column") {
    val df = ev((1L, "a", 2L), (2L, "a", 1L), (3L, "b", 5L))
    val out = Transform.dedupFirst(df, Seq("k"), Seq("ord", "id"))
      .select("id").as[Long].collect().sorted
    assert(out.toSeq == Seq(2L, 3L))
  }

  test("dedup is idempotent: dd(dd(x)) == dd(x)") {
    val df = ev((1L, "a", 2L), (2L, "a", 1L), (3L, "b", 5L), (4L, "b", 5L))
    val once = Transform.dedupFirst(df, Seq("k"), Seq("ord", "id"))
    val twice = Transform.dedupFirst(once, Seq("k"), Seq("ord", "id"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("upsert: updates replace matching keys wholesale, new keys append") {
    val target = Seq((1L, "old", 10.0), (2L, "keep", 20.0)).toDF("id", "v", "x")
    val updates = Seq((1L, "new", 11.0), (3L, "ins", 30.0)).toDF("id", "v", "x")
    val out = Merge.upsert(target, updates, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, "new", 11.0), (2L, "keep", 20.0), (3L, "ins", 30.0)))
  }

  test("upsert idempotence: merge(merge(t,u),u) == merge(t,u)  (ST4)") {
    val target = Seq((1L, "old", 10.0), (2L, "keep", 20.0)).toDF("id", "v", "x")
    val updates = Seq((1L, "new", 11.0), (3L, "ins", 30.0)).toDF("id", "v", "x")
    val once = Merge.upsert(target, updates, Seq("id"))
    val twice = Merge.upsert(once, updates, Seq("id"))
    assert(once.collect().toSet == twice.collect().toSet)
  }

  test("scd2Upsert: change closes+versions, no-op is zero-churn, insert opens, idempotent") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-09-01 00:00:00")
    // key 1: has a CLOSED history row (must pass through untouched) and
    // a current row that the batch changes; key 2: no-op re-send;
    // key 3: untouched; key 4: brand-new insert
    val dim = Seq(
      (1L, "a0", t0, Some(t1), false),
      (1L, "a1", t1, None, true),
      (2L, "b", t0, None, true),
      (3L, "c", t0, None, true)
    ).toDF("id", "v", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "a2"), (2L, "b"), (4L, "d")).toDF("id", "v")
    val out = Merge.scd2Upsert(dim, upd, Seq("id"), t2)
    val rows = out.orderBy("id", "valid_from")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp], Boolean)]
      .collect().toSeq
    assert(rows == Seq(
      (1L, "a0", t0, Some(t1), false),     // closed history untouched
      (1L, "a1", t1, Some(t2), false),     // changed: closed at t2
      (1L, "a2", t2, None, true),          // changed: new version
      (2L, "b", t0, None, true),           // no-op: zero churn
      (3L, "c", t0, None, true),           // untouched
      (4L, "d", t2, None, true)))          // insert: first version
    // invariant: exactly one current row per key
    val perKey = rows.groupBy(_._1).view.mapValues(_.count(_._5)).toMap
    assert(perKey.values.forall(_ == 1))
    // idempotence: re-applying the same batch changes nothing
    val again = Merge.scd2Upsert(out, upd, Seq("id"), t2)
    assert(again.collect().toSet == out.collect().toSet)
  }

  test("highWaterMark: max within window, cold-start fallback when empty") {
    val now = to_timestamp(lit("2024-02-10 00:00:00"))
    val sink = Seq("2024-02-01 00:00:00", "2023-01-01 00:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    val hwm = Incremental.highWaterMark(sink, "ts", now)
      .head().getTimestamp(0).toInstant.toString
    assert(hwm == "2024-02-01T00:00:00Z")
    val empty = sink.where(lit(false))
    val cold = Incremental.highWaterMark(empty, "ts", now)
      .head().getTimestamp(0).toInstant.toString
    assert(cold == "2024-02-03T00:00:00Z") // now - 7 days
  }

  test("highWaterMark prunes a date-partitioned sink to the window's days, same value") {
    val base = tempDir("hwmsink").toString + "/posts"
    // 40 days, one post a day at 10:00: 2024-01-01 .. 2024-02-09
    Sink.writeTimePartitioned(spark.range(40).select(
        concat(lit("p"), col("id")).as("post_id"),
        expr("timestamp'2024-01-01 10:00:00' + make_interval(0, 0, 0, CAST(id AS INT))")
          .as("ts")), base, "ts")
    def filters(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("PartitionFilters")).get
    // the second `now` puts lower at 12:00 of the last stored day: that
    // day's partition is read and its 10:00 post is cut by the exact
    // timestamp predicate, so the mark falls back to now - 7 days
    for (now <- Seq("2024-02-10 00:00:00", "2024-03-10 12:00:00")) {
      val at = to_timestamp(lit(now))
      val pruned = Incremental.highWaterMark(spark.read.parquet(base), "ts", at)
      val unpruned = Incremental.highWaterMark(
        spark.read.parquet(base).drop(Sink.DateCol), "ts", at)
      assert(filters(pruned).contains(s"${Sink.DateCol}#"), filters(pruned))
      assert(filters(unpruned).contains("PartitionFilters: []"), filters(unpruned))
      assert(pruned.collect().toSeq == unpruned.collect().toSeq, now)
    }
    val hwm = Incremental.highWaterMark(spark.read.parquet(base), "ts",
      to_timestamp(lit("2024-02-10 00:00:00")))
    // collect() runs hwm's own plan, whose scan metrics are read below
    assert(hwm.collect()(0).getTimestamp(0).toInstant.toString == "2024-02-09T10:00:00Z")
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val files = Plans.collect(hwm.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }
    assert(files == Seq(30L), s"files read: $files") // 2024-01-11 .. 2024-02-09
  }

  test("jaccard and shingles basics") {
    val df = Seq(("a b c d", "b c d e")).toDF("t1", "t2")
      .select(
        Dedup.jaccard(
          Dedup.shingles(split(col("t1"), " ")),
          Dedup.shingles(split(col("t2"), " "))).as("j"),
        Dedup.shingles(split(col("t1"), " ")).as("sh"))
    val row = df.head()
    assert(row.getAs[collection.Seq[String]]("sh").toSet == Set("a b c", "b c d"))
    // shingle sets {abc,bcd} vs {bcd,cde}: intersect 1, union 3
    assert(math.abs(row.getAs[Double]("j") - 1.0 / 3.0) < 1e-15)
  }

  test("identical texts share minhash signature; disjoint texts do not") {
    val df = Seq(("x y z w", "x y z w", "p q r s")).toDF("a", "b", "c")
      .select(
        Dedup.minhashSignature(Dedup.shingles(split(col("a"), " "))).as("sa"),
        Dedup.minhashSignature(Dedup.shingles(split(col("b"), " "))).as("sb"),
        Dedup.minhashSignature(Dedup.shingles(split(col("c"), " "))).as("sc"))
    val r = df.head()
    def sig(n: String) = r.getAs[collection.Seq[String]](n).toSeq
    assert(sig("sa") == sig("sb"))
    assert(sig("sa") != sig("sc"))
  }

  test("transform output conforms to the reference posts DDL schema") {
    // the OPERATOR's schema, not q05's dumped projection — the dump
    // stringifies `technologies` for the driver's hasher by design
    val out = graft.operators.Transform(
      graft.queries.PostsProxy.df(spark, "/root/testdata/sf0.001"), "doc_id")
      .select("post_id", "title", "url", "author", "created_datetime",
        "upvotes", "comments_count", "subreddit", "salary_currency",
        "lower_salary", "upper_salary", "job_position", "location",
        "field", "technologies")
    import org.apache.spark.sql.types.{ArrayType, DataType}
    def norm(t: DataType): DataType = t match {
      case ArrayType(e, _) => ArrayType(e) // containsNull is immaterial here
      case other => other
    }
    val expected = graft.sources.Tables.posts.fields
      .map(f => f.name -> norm(f.dataType)).toSeq
    val got = out.schema.fields.map(f => f.name -> norm(f.dataType)).toSeq
    assert(got == expected) // same 15 columns, same order, same types
  }

  test("simhash: identical token multisets agree; range fits 16 bits") {
    val df = Seq(("spark fast table", "spark fast table", "zzz qqq"))
      .toDF("a", "b", "c").select(
        Dedup.simhash(split(col("a"), " ")).as("ha"),
        Dedup.simhash(split(col("b"), " ")).as("hb"),
        Dedup.simhash(split(col("c"), " ")).as("hc"))
    val r = df.head()
    assert(r.getAs[Long]("ha") == r.getAs[Long]("hb"))
    assert(r.getAs[Long]("ha") >= 0L && r.getAs[Long]("ha") < (1L << 16))
    assert(r.getAs[Long]("hc") >= 0L && r.getAs[Long]("hc") < (1L << 16))
  }

  test("snapshotDiff: classification, null semantics, and old+diff reconstructs new") {
    val oldV = Seq((1L, Some("a"), 10), (2L, Some("b"), 20), (3L, Some("c"), 30),
        (4L, None: Option[String], 40), (5L, Some("e"), 50))
      .toDF("id", "v", "x")
    val newV = Seq((1L, Some("a"), 10),            // unchanged → no row
        (2L, Some("B"), 20),                       // changed (value)
        (4L, Some("d"), 40),                       // changed (null → value)
        (5L, Some("e"), 51),                       // changed (second col)
        (6L, Some("f"), 60))                       // added; 3 removed
      .toDF("id", "v", "x")
    val d = Merge.snapshotDiff(oldV, newV, Seq("id"))
    val byId = d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId == Map(2L -> "changed", 3L -> "removed", 4L -> "changed",
      5L -> "changed", 6L -> "added"), s"got $byId")
    // diff(x, x) over a frame with nulls is empty (null <=> null holds)
    assert(Merge.snapshotDiff(oldV, oldV, Seq("id")).isEmpty)
    // replay: old − removed − changed + (their new images) == new
    val rem = d.where(col("change_type").isin("removed", "changed")).select("id")
    val img = d.where(col("change_type").isin("added", "changed"))
      .select(col("id"), col("new_v").as("v"), col("new_x").as("x"))
    val rebuilt = oldV.join(rem, Seq("id"), "left_anti").unionByName(img)
    assert(rebuilt.collect().toSet == newV.collect().toSet)
  }

  test("lm score: reference-like text scores high, OOV gibberish 0, bounds hold") {
    // model slice = doc_id % 10 == 0. Docs 0/10/20 are the "clean"
    // reference ("the cat sat on the mat"); doc 1 repeats that style
    // so every one of its bigrams is in the model (score > 0, and with
    // a deterministic model every bigram has cb = cu's share); doc 2
    // is out-of-vocabulary gibberish → exactly 0; doc 3 has one token
    // → no bigrams → (0, 0). All scores within [0, 1e6].
    val ref = "the cat sat on the mat"
    val docs = Seq(
      (0L, ref), (10L, ref), (20L, ref),
      (1L, ref),
      (2L, "zz qq ww ee rr tt"),
      (3L, "solo")).toDF("doc_id", "text")
    val out = LmScore.bigramLmScore(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "the"→{cat:3, mat:3}: s(the,cat)=500000; others deterministic:
    // cat→sat 1e6, sat→on 1e6, on→the 1e6, the→mat 500000
    // doc 1: (500000+1e6+1e6+1e6+500000)/5 = 800000
    assert(out(1L) == ((5L, 800000L)))
    assert(out(2L) == ((5L, 0L)), "OOV gibberish must score exactly 0")
    assert(out(3L) == ((0L, 0L)))
    out.values.foreach { case (_, sc) => assert(sc >= 0L && sc <= 1000000L) }
  }

  test("q173 expansion: expanded set contains the query terms, coverage bounded, deterministic") {
    val dir = "/root/testdata/sf0.001"
    def run() = graft.queries.TextQueries
      .queries("q173_query_expansion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val rows = run()
    assert(rows.nonEmpty)
    val seed = Map(0L -> Set("spark", "join"), 1L -> Set("data", "table"),
      2L -> Set("slow", "query"))
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val exps = rs.map(_._5).distinct
      assert(exps.length == 1, s"query $q: expansion string not constant")
      val terms = exps.head.split(" ").toSet
      assert(seed(q).subsetOf(terms), s"query $q: lost a seed term")
      assert(terms.size <= 4, s"query $q: more than one partner per seed term")
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rs.length), s"query $q: ranks not dense")
      val ms = byRank.map(_._4)
      assert(ms.zip(ms.tail).forall { case (a, b) => a >= b },
        s"query $q: coverage not monotone in rank")
      assert(ms.forall(m => m >= 1 && m <= terms.size.toLong),
        s"query $q: coverage out of bounds")
    }
    assert(run().toSeq == rows.toSeq)
  }

  test("q170 packing: budget prefix honored, ranks dense, scores monotone, deterministic") {
    val dir = "/root/testdata/sf0.001"
    def run() = graft.queries.TextQueries
      .queries("q170_context_assembly")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val rows = run()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to rs.length),
        s"query $q: packed ranks must be a prefix of the ranking")
      val scores = byRank.map(_._5)
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"query $q: scores not non-increasing")
      assert(scores.forall(_ >= 1), s"query $q: zero-hit chunk packed")
      var cum = 0L
      byRank.foreach { case (_, _, _, _, _, nt, c) =>
        cum += nt
        assert(c == cum && c <= 256, s"query $q: budget accounting broken")
      }
    }
    assert(run().toSeq == rows.toSeq)
  }
}
