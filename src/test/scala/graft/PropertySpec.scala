package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.JobText
import graft.operators.{Merge, Transform}

/** Property tests (SURVEY.md §5.3): generated-input invariants for the
  * extraction semantics and the dedup/merge algebra. Generators are
  * driven with fixed seeds (pureApply) so failures reproduce exactly. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.alphaLowerStr.map(s => if (s.isEmpty) "x" else s.take(8))

  test("q120 transition matrix: row-stochastic within floor loss, pair-count conserving") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q120_event_transitions")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    for ((src, g) <- rows.groupBy(_._1)) {
      val tot = g.head._4
      assert(g.forall(_._4 == tot), s"$src: inconsistent row_total")
      assert(g.map(_._3).sum == tot, s"$src: counts don't sum to row_total")
      val psum = g.map(_._5).sum
      // floors lose < 1 ppm per cell, never exceed 1e6
      assert(psum <= 1000000L && psum > 1000000L - g.length,
        s"$src: p_ppm sums to $psum over ${g.length} cells")
    }
    // total pair count = events - one per user with >= 1 event
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val want = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_._3).sum == want)
  }

  test("salary extraction: lower==g2*1000 and upper==g3*1000 for generated ranges") {
    val cases = samples(Gen.zip(Gen.choose(1, 999), Gen.choose(1, 999), word), 20)
    val df = cases.map { case (lo, hi, w) => (s"$w hiring ${lo}k - ${hi}k", lo, hi) }
      .toDF("title", "lo", "hi")
      .select(col("lo"), col("hi"), JobText.salaryStruct(col("title")).as("s"))
      .select("lo", "hi", "s.*")
    df.collect().foreach { r =>
      assert(r.getAs[Double]("lower_salary") == r.getAs[Int]("lo") * 1000.0)
      assert(r.getAs[Double]("upper_salary") == r.getAs[Int]("hi") * 1000.0)
      assert(r.getAs[String]("salary_currency") != null) // word or 'None', never NULL on match
    }
  }

  test("dedup idempotence and keeper-minimality on generated multisets") {
    samples(Gen.listOfN(30, Gen.zip(Gen.choose(1, 5), Gen.choose(1L, 1000L))), 5)
      .foreach { rows =>
        val df = rows.zipWithIndex
          .map { case ((k, v), i) => (s"k$k", v, i.toLong) }.toDF("k", "v", "ord")
        val once = Transform.dedupFirst(df, Seq("k"), Seq("ord"))
        val twice = Transform.dedupFirst(once, Seq("k"), Seq("ord"))
        val got = once.select("k", "ord").as[(String, Long)].collect().toMap
        val expected = rows.zipWithIndex
          .groupBy { case ((k, _), _) => s"k$k" }
          .view.mapValues(_.map(_._2.toLong).min).toMap
        assert(got == expected) // keeper is the minimal ord per key
        assert(once.collect().toSet == twice.collect().toSet)
      }
  }

  test("asof join equals the naive per-row latest-prior computation") {
    import java.sql.Timestamp
    val gen = Gen.zip(
      Gen.listOfN(25, Gen.zip(Gen.choose(1, 4), Gen.choose(0L, 1000L))),  // left (k, t)
      Gen.listOfN(15, Gen.zip(Gen.choose(1, 4), Gen.choose(0L, 1000L))))  // right (k, t)
    samples(gen, 5).foreach { case (l, r) =>
      val rightRows = r.distinctBy(p => (p._1, p._2)) // unique per (key, ts)
      val left = l.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k.toLong, new Timestamp(t)) }.toDF("id", "k", "ts")
      val right = rightRows.map { case (k, t) =>
        (k.toLong, new Timestamp(t), t.toDouble) }.toDF("k", "ts", "v")
      val got = graft.operators.AsOfJoin
        .leftAsOf(left, right, "k", "ts", "ts", Seq("v"))
        .select("id", "v").as[(Long, Option[Double])].collect().toMap
      l.zipWithIndex.foreach { case ((k, t), i) =>
        val expected = rightRows.filter(p => p._1 == k && p._2 <= t)
          .sortBy(_._2).lastOption.map(_._2.toDouble)
        assert(got(i.toLong) == expected, s"row $i key $k ts $t")
      }
    }
  }

  test("bucketized range join equals the naive containment filter") {
    import java.sql.Timestamp
    val gen = Gen.zip(
      Gen.listOfN(30, Gen.choose(0L, 100000L)),                       // event seconds
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 90000L), Gen.choose(0L, 20000L)))) // (start, len)
    samples(gen, 5).foreach { case (ts, ivs) =>
      val events = ts.zipWithIndex.map { case (t, i) =>
        (i.toLong, new Timestamp(t * 1000)) }.toDF("event_id", "ts")
      val intervals = ivs.zipWithIndex.map { case ((s, len), i) =>
        (i.toLong, new Timestamp(s * 1000), new Timestamp((s + len) * 1000)) }
        .toDF("iid", "start_ts", "end_ts")
      val got = graft.operators.RangeJoin
        .containmentJoin(events, "ts", intervals, "start_ts", "end_ts")
        .select("event_id", "iid").as[(Long, Long)].collect().toSet
      val expected = (for {
        (t, ei) <- ts.zipWithIndex
        ((s, len), ii) <- ivs.zipWithIndex
        if t >= s && t <= s + len
      } yield (ei.toLong, ii.toLong)).toSet
      assert(got == expected)
    }
  }

  test("merge algebra: idempotent, updates win, non-conflicting target survives") {
    val gen = Gen.zip(
      Gen.listOfN(15, Gen.zip(Gen.choose(1, 10), Gen.choose(1L, 100L))),
      Gen.listOfN(8, Gen.zip(Gen.choose(5, 15), Gen.choose(101L, 200L))))
    samples(gen, 5).foreach { case (t, u) =>
      val tPairs = t.map { case (k, v) => (s"k$k", v) }.distinctBy(_._1)
      val uPairs = u.map { case (k, v) => (s"k$k", v) }.distinctBy(_._1)
      val once = Merge.upsert(tPairs.toDF("k", "v"), uPairs.toDF("k", "v"), Seq("k"))
        .as[(String, Long)].collect().toMap
      val twice = Merge.upsert(
        Merge.upsert(tPairs.toDF("k", "v"), uPairs.toDF("k", "v"), Seq("k")),
        uPairs.toDF("k", "v"), Seq("k"))
        .as[(String, Long)].collect().toMap
      assert(once == tPairs.toMap ++ uPairs.toMap)
      assert(once == twice)
    }
  }

  test("connected components equals brute-force union-find on random graphs") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.choose(1L, 25L), Gen.choose(1L, 25L)))
    samples(gen, 5).foreach { edges =>
      // reference: driver-side union-find with path compression
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      // BOTH execution paths must match the reference: the adaptive
      // driver-local union-find (default threshold) and the distributed
      // iterative loop (threshold 0 forces it even on a small graph)
      val gotLocal = graft.operators.Components
        .connectedComponents(edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      val gotLoop = graft.operators.Components
        .connectedComponents(edges.toDF("src", "dst"), localThreshold = 0L)
        .as[(Long, Long)].collect().toMap
      assert(gotLocal == expected)
      assert(gotLoop == expected)
    }
  }

  test("LSH near-dup engines: exact precision and equal-vector recall on random corpora") {
    // the precision/recall contract on ARBITRARY data, not the fixture:
    // (1) precision is exact — every pair either engine emits clears
    //     the threshold under an independent driver-side float64 cosine
    //     (LSH may lose candidates, never invent them);
    // (2) equal vectors below the cap always pair — they share every
    //     table's bucket by construction;
    // (3) the multi-table candidate set contains the single-table one.
    import graft.operators.Similarity
    val dim = Similarity.Dim
    val vecGen = Gen.listOfN(dim, Gen.choose(-5, 5)).map(_.map(_.toFloat).toArray)
    samples(Gen.listOfN(30, vecGen), 3).foreach { vecs =>
      // plant guaranteed duplicates: ids n..n+1 copy ids 0..1
      val all = (vecs ++ vecs.take(2)).zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
        .filter { case (_, v) => v.exists(_ != 0f) } // zero vector has no cosine
      val df = all.toDF("vec_id", "embedding")
      val byId = all.toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        def d(x: Array[Float], y: Array[Float]) =
          x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
        d(a, b) / math.sqrt(d(a, a) * d(b, b))
      }
      val single = Similarity.nearDupPairs(df, 0.4)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val multi = Similarity.nearDupPairs(df, 0.4, numTables = 3)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      (single ++ multi).foreach { case (a, b) =>
        assert(cos(byId(a), byId(b)) >= 0.4 - 1e-9,
          s"emitted pair ($a,$b) fails the exact threshold")
      }
      val copyId = vecs.length.toLong // the planted copy of id 0
      if (byId.contains(0L) && byId.contains(copyId))
        assert(single.contains((0L, copyId)),
          "planted equal-vector pair missed by the single-table engine")
      assert(single.subsetOf(multi), "multi-table lost single-table pairs")
    }
  }

  test("sparse cosine join: inclusive boundary, dup collapse, exact-threshold soundness") {
    import graft.operators.Similarity
    // boundary: ("x y") · ("x z") = 1, norms² = 2·2 → cos = 1/2 exactly
    // → emitted (inclusive); ("x y") · ("x z w") → 4·1 < 2·3 → dropped
    val docs = Seq(
      (1L, "x y"), (2L, "x z"), (3L, "x z w"),
      (10L, "p q r"), (11L, "p q r"), (12L, "p q r") // 3 exact copies
    ).toDF("doc_id", "text")
    val out = Similarity.sparseCosineJoin(docs, dfCap = 50)
      .select("rep_a", "rep_b", "n_pairs").as[(Long, Long, Long)].collect().toSeq
    assert(out.exists(r => r._1 == 1L && r._2 == 2L), "cos = 1/2 boundary pair dropped")
    assert(!out.exists(r => Set(r._1, r._2) == Set(1L, 3L)), "sub-threshold pair emitted")
    // the 3 copies collapse to rep 10 and pair with nothing (disjoint vocab)
    assert(!out.exists(r => r._1 >= 10L), "exact duplicates produced self-pairs")

    // property: every emitted pair clears the exact float64 cosine
    // threshold, and every rare-token-sharing pair above it is found
    val rng = new scala.util.Random(104)
    val vocab = (0 until 40).map(i => s"t$i")
    val corpus = (0L until 60L).map(i =>
      (i, Seq.fill(3 + rng.nextInt(10))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
    val cdf = corpus.toDF("doc_id", "text")
    val got = Similarity.sparseCosineJoin(cdf, dfCap = 50)
      .select("rep_a", "rep_b").as[(Long, Long)].collect().toSet
    def tf(t: String) = t.split(" ").groupBy(identity).view.mapValues(_.length).toMap
    val vecs = corpus.map { case (i, t) => i -> tf(t) }.toMap
    def cos(a: Map[String, Int], b: Map[String, Int]): Double = {
      val dot = a.keySet.intersect(b.keySet).toSeq.map(k => a(k) * b(k)).sum
      dot / math.sqrt(a.values.map(v => v * v).sum.toDouble * b.values.map(v => v * v).sum)
    }
    // reps: min doc_id per distinct text
    val repOf = corpus.groupBy(_._2).values.map(g => g.map(_._1).min -> g.head._2).toMap
    val repIds = repOf.keys.toSeq.sorted
    // df at distinct-text level, mirroring the engine's blocking cut
    val dfOf = repIds.flatMap(r => vecs(r).keySet).groupBy(identity)
      .view.mapValues(_.size).toMap
    for (a <- repIds; b <- repIds if a < b) {
      val (va, vb) = (vecs(a), vecs(b))
      val expected = va.keySet.intersect(vb.keySet).exists(dfOf(_) <= 50) &&
        cos(va, vb) >= 0.5
      if (expected) assert(got.contains((a, b)), s"missed pair ($a,$b) cos=${cos(va, vb)}")
    }
    got.foreach { case (a, b) =>
      assert(cos(vecs(a), vecs(b)) >= 0.5 - 1e-12, s"($a,$b) below threshold")
    }
  }

  test("applyMerges: checkpoint-capped fold equals the uncapped kernel chain " +
      "on generated corpora and merge lists") {
    import graft.operators.Bpe
    val tokGen = Gen.oneOf("a", "b", "c", "d", "ab", "cd")
    val docGen = Gen.chooseNum(1, 24)
      .flatMap(n => Gen.listOfN(n, tokGen).map(_.toSeq))
    for (round <- 0 until 3) {
      val docs = (0 until 30).map(i =>
        (i.toLong, docGen.pureApply(Gen.Parameters.default, Seed(900L + round * 100 + i))))
        .toDF("doc_id", "toks")
      // 40 merges (> 2 × CheckpointEvery → two checkpoint boundaries),
      // drawn from the token alphabet product so many actually fire
      val pairs = samples(Gen.zip(tokGen, tokGen), 40)
      val capped = Bpe.applyMerges(docs, pairs)
        .orderBy("doc_id").as[(Long, Seq[String])].collect()
      // uncapped chain: one stacked kernel per merge, no checkpoints
      val uncapped = pairs.foldLeft(docs) { case (df, (l, r)) =>
          df.withColumn("toks",
            call_function("graft_merge_pair", col("toks"), lit(l), lit(r)))
        }.orderBy("doc_id").as[(Long, Seq[String])].collect()
      assert(capped.toSeq == uncapped.toSeq, s"round $round")
    }
  }

  test("DriftTracker: arbitrary batch splits fold to the same chi2 as one batch") {
    import graft.streaming.StreamingIngest.DriftTracker
    val cellGen = Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0L, 7L),
      Gen.chooseNum(1L, 50L))
    for (round <- 0 until 3) {
      val ref = samples(cellGen, 12)
        .map { case (k, b, n) => ((k, b), n) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val live = samples(cellGen, 20)
        .map { case (k, b, n) => ((k, b), n % 11) } // include zero counts
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq
      val one = new DriftTracker(ref)
      one.update(0L, live)
      // same live grid delivered as 4 batches with distinct ids
      val split = new DriftTracker(ref)
      live.zipWithIndex.groupBy(_._2 % 4).toSeq.sortBy(_._1).foreach {
        case (bid, cells) => split.update(bid.toLong, cells.map(_._1))
      }
      assert(split.chi2Milli == one.chi2Milli, s"round $round")
      assert(split.liveCount == one.liveCount)
      // brute recompute of the statistic per key
      val refM = ref.filter(_._2 > 0).toMap.withDefaultValue(0L)
      val livM = live.filter { case ((k, _), n) =>
        n > 0 && refM.keySet.exists(_._1 == k) }.toMap.withDefaultValue(0L)
      val keys = refM.keySet.map(_._1) ++ livM.keySet.map(_._1)
      val want = keys.map { key =>
        val bins = (refM.keySet ++ livM.keySet).filter(_._1 == key)
          .map(_._2).toSeq.sorted
        val n1 = bins.map(b => refM((key, b))).sum
        val n2 = bins.map(b => livM((key, b))).sum
        key -> (if (n1 == 0 || n2 == 0) -1L
        else bins.map { b =>
          val (c1, c2) = (refM((key, b)), livM((key, b)))
          if (c1 + c2 == 0) 0L
          else {
            val t = (c1 * n2 - c2 * n1).toDouble
            math.floor(1000.0 * ((t * t) / (c1 + c2).toDouble /
              n1.toDouble / n2.toDouble) + 0.5).toLong
          }
        }.sum)
      }.toMap
      assert(one.chi2Milli == want, s"round $round brute mismatch")
    }
  }

  test("VersionedStore: random crash schedules lose and double nothing") {
    import graft.streaming.VersionedStore
    val rng = new scala.util.Random(77)
    for (round <- 0 until 2) {
      val root = tempDir(s"vstore-prop$round").toString + "/s"
      val truth = scala.collection.mutable.Map.empty[Long, Long]
      def applyBatch(id: Long, data: Seq[(Long, Long)], crash: Boolean): Unit =
        if (!VersionedStore.committed(root, id)) {
          VersionedStore.commit(root, id) { dir =>
            val prev = VersionedStore.read(spark, root)
              .map(_.as[(Long, Long)].collect().toSeq).getOrElse(Nil)
            val merged = (prev ++ data).groupBy(_._1).view
              .mapValues(_.map(_._2).sum).toSeq
            if (crash) {
              merged.take(1).toDF("k", "n").write.mode("overwrite").parquet(dir)
              throw new RuntimeException("crash")
            }
            merged.toDF("k", "n").write.mode("overwrite").parquet(dir)
          }
        }
      for (i <- 0 until 10) {
        val id = i.toLong
        val data = (0L to rng.nextInt(4).toLong).map((_, 1L))
        data.foreach { case (k, n) => truth(k) = truth.getOrElse(k, 0L) + n }
        rng.nextInt(3) match {
          case 1 => // die mid-staging (possibly repeatedly), then succeed
            (0 until 1 + rng.nextInt(2)).foreach { _ =>
              intercept[RuntimeException](applyBatch(id, data, crash = true))
            }
            applyBatch(id, data, crash = false)
          case 2 => // commit lands, checkpoint lost → replay delivered
            applyBatch(id, data, crash = false)
            applyBatch(id, data, crash = false)
          case _ =>
            applyBatch(id, data, crash = false)
        }
        val got = VersionedStore.read(spark, root).get
          .as[(Long, Long)].collect().toMap
        assert(got == truth.toMap, s"round $round batch $id: $got != $truth")
      }
    }
  }
}
