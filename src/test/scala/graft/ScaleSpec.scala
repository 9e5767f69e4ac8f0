package graft

import org.apache.spark.sql.functions._
import graft.operators.{Blocking, CsrGraph, Dedup, HyperAnf, Similarity, SkewJoin}

/** Scale-technique specs: salted skew joins and bucketed co-located
  * joins — the explicit 100 TB tools the query inventory leans on. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedInnerJoin equals the plain inner join on skewed data") {
    // 90% of left rows share one hot key
    val left = (1L to 1000L).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("k", "id")
    val right = Seq(("hot", "H"), ("k950", "A"), ("k999", "B"), ("miss", "M"))
      .toDF("k", "v")
    val plain = left.join(right, Seq("k"), "inner")
      .select("k", "id", "v").orderBy("k", "id")
    val salted = SkewJoin.saltedInnerJoin(left, right, "k", saltBy = col("id"))
      .select("k", "id", "v").orderBy("k", "id")
    assert(salted.collect().toSeq == plain.collect().toSeq)
    assert(salted.count() == 902) // 900 hot + k950 + k999
  }

  test("q132's two-level per-source prefix sum equals the naive single window") {
    // the scale pattern under the mixture manifest: local cumsums in
    // (source, leading-hex) ranges + bounded broadcast offsets must be
    // BIT-IDENTICAL to one window per source (which a 100 TB source
    // would funnel through a single reducer) — same invariant q116's
    // ScaleSpec pins globally, here per source.
    import org.apache.spark.sql.expressions.Window
    val rng = new scala.util.Random(13)
    val d = (0L until 500L).map(i => (i, s"s${rng.nextInt(5)}", rng.nextInt(40).toLong))
      .toDF("doc_id", "source", "n_tokens")
      .withColumn("h", md5(concat(lit("mix:"), col("doc_id").cast("string"))))
      .withColumn("r", substring(col("h"), 1, 1))
    val naive = d.withColumn("cum_before",
        sum("n_tokens").over(Window.partitionBy("source").orderBy("h", "doc_id"))
          - col("n_tokens"))
      .select("source", "doc_id", "cum_before")
    val local = d.withColumn("cum_in", sum("n_tokens").over(
      Window.partitionBy("source", "r").orderBy("h", "doc_id")))
    val offsets = d.groupBy("source", "r").agg(sum("n_tokens").as("rtot"))
      .withColumn("off", coalesce(sum("rtot").over(
        Window.partitionBy("source").orderBy("r")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "r", "off")
    val twoLevel = local.join(broadcast(offsets), Seq("source", "r"))
      .select(col("source"), col("doc_id"),
        (col("off") + col("cum_in") - col("n_tokens")).as("cum_before"))
    val a = naive.orderBy("source", "doc_id").collect().toSeq
    val b = twoLevel.orderBy("source", "doc_id").collect().toSeq
    assert(a == b)
  }

  test("q135's two-level dense rank is invariant in the range fan-out (prefixChars 1 vs 2)") {
    // same q116-style knob contract: a longer range prefix only splits
    // each contiguous slice of the global window order, so the fold of
    // offsets over MORE ranges must reproduce the identical ranks.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = graft.queries.TextQueries.suffixRanks(d, prefixChars = 1)
      .collect().map(_.toSeq).toSeq
    val b = graft.queries.TextQueries.suffixRanks(d, prefixChars = 2)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("q137 exact scrub: non-canonical exact duplicates scrub to zero kept tokens") {
    // an exact-duplicate cluster (one canonical + two copies) plus a
    // unique doc: the canonical copy (lowest doc_id) keeps every
    // token, the copies lose ALL tokens (their every full window
    // repeats), the unique doc passes through untouched — the
    // keep-one contract of ExactSubstr dedup at cluster granularity.
    val body = (1 to 40).map(i => s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"uniq$i").mkString(" ")
    val d = Seq((1L, body), (2L, body), (3L, body), (4L, other))
      .toDF("doc_id", "text")
    val out = graft.queries.TextQueries.exactScrub(d)
      .select("doc_id", "n_tokens", "dup_positions", "kept_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    assert(out == Seq((1L, 40L, 0L, 40L), (2L, 40L, 25L, 0L),
      (3L, 40L, 25L, 0L), (4L, 40L, 0L, 40L)))
    // partial overlap: a doc embedding a 20-token verbatim slice of
    // doc 1 (at positions 4..23 of its 45 tokens) loses exactly the
    // slice — the 5 fully-inside windows root at positions 4..8 and
    // their merged island covers [4, 8 + 16) = the slice itself.
    val partial = "intro one two three " + (1 to 20).map(i => s"tok$i").mkString(" ") +
      " " + (1 to 21).map(i => s"tail$i").mkString(" ")
    val d2 = Seq((1L, body), (9L, partial)).toDF("doc_id", "text")
    val row = graft.queries.TextQueries.exactScrub(d2)
      .where(col("doc_id") === 9L)
      .select("n_tokens", "dup_positions", "kept_tokens").head
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((45L, 5L, 25L)))
  }

  test("q138 CDC chunking resynchronizes after an insertion (fixed shingles can't)") {
    // the content-defined contract: prepending ONE token to a doc may
    // change the head chunk(s), but every chunk of the original from
    // its first boundary onward reappears verbatim in the edited doc —
    // boundary decisions depend only on a 4-token local window, so
    // they re-align one position later. Also pins token conservation.
    val rng = new scala.util.Random(7)
    val bodyToks = (1 to 400).map(_ => s"w${rng.nextInt(50)}")
    val d = Seq((1L, bodyToks.mkString(" ")),
      (2L, ("INS " + bodyToks.mkString(" ")))).toDF("doc_id", "text")
    val ch = graft.queries.DedupQueries.cdcChunks(d)
      .select("doc_id", "chunk_idx", "chunk_tokens", "chunk_hash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val a = ch.filter(_._1 == 1L).sortBy(_._2)
    val b = ch.filter(_._1 == 2L).sortBy(_._2)
    // token conservation on both docs
    assert(a.map(_._3).sum == 400L && b.map(_._3).sum == 401L)
    // enough boundaries to make the property meaningful (E[chunk]≈16)
    assert(a.length > 10)
    // every chunk of doc 1 except its head chunk survives the edit
    val bHashes = b.map(_._4).toSet
    assert(a.drop(1).forall(c => bHashes.contains(c._4)))
  }

  test("capBuckets bounds an adversarial LSH bucket to cap members (no quadratic join)") {
    // 10⁴ distinct near-identical titles landing in ONE candidate bucket
    // — the pathological corpus every blocked pair path guards against.
    // Without the cap the candidate self-join emits ~5·10⁷ pairs; with
    // it, at most cap·(cap+1)/2.
    val cap = 100
    val bucket = (1L to 10000L).map(i => ("blk0", s"title variant $i", i))
      .toDF("blk", "title", "rep")
    val capped = Blocking(bucket, Seq("blk"), "rep", cap)
    assert(capped.rows.count() == cap)
    // deterministic: keeps the cap smallest reps
    assert(capped.rows.agg(max("rep")).head.getLong(0) == cap.toLong)
    assert(capped.selfPairs(Blocking.Le, multiKey = false).count() ==
      cap.toLong * (cap + 1) / 2)
    // a bucket below the cap passes through untouched
    val small = (1L to 50L).map(i => ("blk1", s"t$i", i)).toDF("blk", "title", "rep")
    assert(Blocking.cap(small, Seq("blk"), "rep", cap).count() == 50)

    // Capping only the build side equals capping both sides in a
    // same-key self-join: a row capped out of its key has a larger id
    // than every kept row, so it meets no kept row under < or ≤. A
    // random keyed frame (shuffled ids) with one hot key above the cap:
    val rng = new scala.util.Random(11)
    val keyed = rng.shuffle((1L to 1500L).toVector).zipWithIndex
      .map { case (id, i) => (if (i < 600) "hot" else s"k${rng.nextInt(40)}", id) }
      .toDF("blk", "rep")
    val blocks = Blocking(keyed, Seq("blk"), "rep", cap)
    val kept = keyed.groupBy("blk").count().collect().map(r => math.min(r.getLong(1), cap))
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("rep_a", "rep_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((order, selfPairs) <- Seq(Blocking.Lt -> 0L, Blocking.Le -> 1L)) {
      val buildOnly = pairs(blocks.candidates(keyed, order))
      assert(buildOnly == pairs(blocks.candidates(blocks.rows, order)), order)
      assert(buildOnly == pairs(blocks.selfPairs(order, multiKey = false)), order)
      // bounded as above: a key contributes C(kept, 2) pairs, plus one
      // self pair per kept row under ≤ — the hot key C(cap, 2) (+ cap)
      assert(buildOnly.size == kept.map(m => m * (m - 1) / 2 + selfPairs * m).sum, order)
    }
  }

  test("q54's capped LSH build side: identical-vector corpus emits C(cap,2) pairs, invariant in n") {
    // n identical vectors all land in ONE hyperplane bucket — the
    // adversarial corpus that made the uncapped round-4 q54 grow
    // ~quadratically at sf1. With the build-side cap only the `cap`
    // smallest vec_ids can appear as the pair's right element, so the
    // output is exactly C(cap,2) no matter how large n grows (a probe
    // row meets the capped bucket once: probe = own bucket; the 8
    // Hamming-1 probes hit empty buckets).
    val cap = 40
    def pairs(n: Int): Long = {
      val emb = spark.range(n).select(col("id").as("vec_id"),
        array((0 until Similarity.Dim).map(i => lit(0.1f * ((i % 7) + 1))): _*)
          .as("embedding"))
      Similarity.nearDupPairs(emb, 0.4, cap = cap).count()
    }
    val atCap = cap.toLong * (cap - 1) / 2
    assert(pairs(500) == atCap)
    assert(pairs(1200) == atCap) // 2.4× the corpus, same candidate set
    // numPlanes is a real parameter: a wider bucket space still buckets
    // identical vectors together (same single-bucket collapse)
    val emb = spark.range(60).select(col("id").as("vec_id"),
      array((0 until Similarity.Dim).map(i => lit(0.1f * ((i % 7) + 1))): _*)
        .as("embedding"))
    assert(Similarity.nearDupPairs(emb, 0.4, numPlanes = 12).count() == 60L * 59 / 2)
  }

  test("q88's multi-table candidates contain q54's: table 0 is q54's table") {
    // the recall-lever contract: q88 unions Hamming≤1 candidates over
    // NumTables independent plane tables, and table 0 uses q54's exact
    // seed/planes/cap/probes — so every q54 pair must reappear in q88
    // with the identical cosine. A miss here means the tables stopped
    // being a superset (e.g. a per-table cap tighter than q54's) and
    // "multi-table lifts recall" silently became "multi-table differs".
    val dir = "/root/testdata/sf0.001"
    val q54 = SparkEntry.queries("q54_embedding_dup")(spark, dir)
      .collect().toSet
    val q88 = SparkEntry.queries("q88_embedding_dup_multitable")(spark, dir)
      .collect().toSet
    assert(q54.nonEmpty)
    assert(q54.subsetOf(q88),
      s"q54 pairs missing from q88: ${(q54 -- q88).take(5)}")
  }

  test("planesForCorpus sizes the bucket space to hold mean occupancy") {
    // the 100 TB lever as a function: 2^planes buckets must cover
    // n / occupancy, never shrink below the fixture default, and stay
    // within Int bucket-id range. nearDupPairs accepts the result
    // directly (a wider space still buckets equal vectors together —
    // pinned in the capped-LSH test above with numPlanes = 12).
    import Similarity.planesForCorpus
    assert(planesForCorpus(2000) == Similarity.NumPlanes)   // fixture scale
    assert(planesForCorpus(1000000000L) == 24)              // 10^9 @ occ 100
    assert(planesForCorpus(100000000000L) == 30)            // 10^11 caps at Int
    assert(planesForCorpus(0) == Similarity.NumPlanes)
    // contract: bucket count covers n / occupancy (below the cap)
    for (n <- Seq(10L, 5000L, 123456L, 77000000L)) {
      val b = planesForCorpus(n)
      assert(b <= 30 && (b == 30 || (1L << b) >= n / 100),
        s"n=$n got $b planes")
    }
  }

  test("q89 is a valid representative map: idempotent, minimal, q54-consistent") {
    // the production-contract invariants of the semantic-dedup output:
    // (1) linear — exactly one row per vector; (2) representatives are
    // cluster minima, so keep ≤ self and keep(keep) = keep (a broken
    // closure would hand a curation pipeline a survivor that itself
    // points elsewhere); (3) every pair the q54 engine verifies
    // collapses to one representative.
    val dir = "/root/testdata/sf0.001"
    val q89 = SparkEntry.queries("q89_semantic_dedup")(spark, dir)
    val rows = q89.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nVec = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.size.toLong == nVec)
    assert(rows.forall { case (v, k) => k <= v })
    assert(rows.forall { case (_, k) => rows(k) == k },
      "a representative must map to itself")
    val pairs = SparkEntry.queries("q54_embedding_dup")(spark, dir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => rows(r.getLong(0)) == rows(r.getLong(1))),
      "a verified near-dup pair must share a representative")
    assert(pairs.exists(r => r.getLong(0) != r.getLong(1)),
      "fixture must exercise a non-trivial cluster")
  }

  test("q90 matches are real near-dups from history only; NULL means admit") {
    // the incremental-ingest contract: every reported dup_of is a
    // history vector (vec_id < 250) whose EXACT cosine with the batch
    // vector clears the threshold (LSH may miss pairs, never invent
    // them), and n_matches = 0 exactly on the admitted (NULL) rows.
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q90_incremental_embedding_dedup")(spark, dir)
      .collect()
    assert(rows.length == 250)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val matched = rows.filter(!_.isNullAt(1))
    assert(matched.nonEmpty, "fixture must exercise a real match")
    matched.foreach { r =>
      val (bv, hv) = (r.getLong(0), r.getLong(1))
      assert(hv < 250, s"dup_of $hv is not a history vector")
      assert(cos(emb(bv), emb(hv)) >= 0.4 - 1e-9,
        s"reported match ($bv, $hv) fails the exact-cosine threshold")
      assert(r.getLong(2) > 0)
    }
    rows.filter(_.isNullAt(1)).foreach(r => assert(r.getLong(2) == 0))
  }

  test("q92's multi-table decisions contain q90's: table 0 is q90's table") {
    // the recall-lever-on-ingest contract: adding hash tables can only
    // ADD candidates (table 0 is exactly q90's planes/cap/probes), so
    // every q90 drop decision must survive in q92 — with the same or
    // an earlier representative (min over a superset) and at least as
    // many verified matches. The fixture must also exercise the lift:
    // at least one vector q90 admits, q92 drops.
    val dir = "/root/testdata/sf0.001"
    def byVec(q: String): Map[Long, (Option[Long], Long)] =
      SparkEntry.queries(q)(spark, dir).collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getLong(2))).toMap
    val q90 = byVec("q90_incremental_embedding_dedup")
    val q92 = byVec("q92_incremental_embedding_dedup_multitable")
    assert(q90.keySet == q92.keySet)
    q90.foreach { case (v, (dup90, n90)) =>
      val (dup92, n92) = q92(v)
      dup90.foreach { d90 =>
        assert(dup92.isDefined, s"vec $v: q90 dropped, q92 admitted")
        assert(dup92.get <= d90, s"vec $v: q92 rep ${dup92.get} > q90 rep $d90")
      }
      assert(n92 >= n90, s"vec $v: q92 matches $n92 < q90 matches $n90")
    }
    assert(q90.exists { case (v, (d90, _)) => d90.isEmpty && q92(v)._1.isDefined },
      "fixture must exercise the recall lift (a q90-admit that q92 drops)")
  }

  test("q93: exact-duplicate documents score shared_ratio 1.0") {
    // the span-dedup signal's ground-truth anchor: a doc whose full
    // text appears elsewhere (q50's n_copies ≥ 2 clusters, present at
    // sf0.1) shares EVERY 8-token window, so its ratio is exactly 1.0;
    // and no ratio may exceed 1 or pair with n_shared > n_spans.
    val dir = "/root/testdata/sf0.1"
    val dupDocs = SparkEntry.queries("q50_dedup_exact")(spark, dir)
      .where(col("n_copies") >= 2).collect().map(_.getLong(1)).toSet
    assert(dupDocs.nonEmpty, "fixture must contain exact duplicates")
    val rows = SparkEntry.queries("q93_dup_passages")(spark, dir).collect()
    val byDoc = rows.map(r => r.getLong(0) -> r).toMap
    dupDocs.foreach { d =>
      assert(byDoc(d).getDouble(3) == 1.0,
        s"exact-duplicate doc $d scored ${byDoc(d).getDouble(3)}")
    }
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("q107: a planted shared passage's token length is recovered exactly") {
    import spark.implicits._
    // docs 1 and 2 share a 12-token passage embedded in otherwise
    // unique text: the only shared 8-windows are the 5 fully inside
    // the passage, one consecutive island → span = 5 + 7 = 12. A doc
    // with no cross-doc window (incl. one whose windows repeat only
    // WITHIN itself) must score 0.
    val passage = (0 until 12).map(i => s"p$i")
    val d1 = ((0 until 10).map(i => s"a$i") ++ passage ++ (0 until 9).map(i => s"b$i")).mkString(" ")
    val d2 = ((0 until 7).map(i => s"c$i") ++ passage ++ (0 until 11).map(i => s"d$i")).mkString(" ")
    val d3 = (0 until 21).map(i => s"e$i").mkString(" ")
    val selfRep = (Seq.fill(3)((0 until 9).map(i => s"f$i")).flatten).mkString(" ")
    val out = Dedup.maxDupSpan(
        Seq((1L, d1), (2L, d2), (3L, d3), (4L, selfRep)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((31L, 12L)))
    assert(out(2L) == ((30L, 12L)))
    assert(out(3L) == ((21L, 0L)))
    assert(out(4L) == ((27L, 0L)), "within-doc repetition is not cross-doc duplication")
  }

  test("q107: exact-duplicate fixture docs span their whole length") {
    // the ExactSubstr ground-truth anchor on the real corpus: a doc
    // whose full text appears elsewhere (q50's n_copies ≥ 2 at sf0.1)
    // shares every window consecutively, so max_dup_span = n_tokens;
    // and no doc may exceed its own token count.
    val dir = "/root/testdata/sf0.1"
    val dupDocs = SparkEntry.queries("q50_dedup_exact")(spark, dir)
      .where(col("n_copies") >= 2).collect().map(_.getLong(1)).toSet
    assert(dupDocs.nonEmpty, "fixture must contain exact duplicates")
    val rows = SparkEntry.queries("q107_max_dup_span")(spark, dir).collect()
    val byDoc = rows.map(r => r.getLong(0) -> r).toMap
    dupDocs.foreach { d =>
      val r = byDoc(d)
      if (r.getLong(1) >= 8)
        assert(r.getLong(2) == r.getLong(1),
          s"exact-dup doc $d: span ${r.getLong(2)} != n_tokens ${r.getLong(1)}")
    }
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && (r.getLong(2) == 0L || r.getLong(2) >= 8L))
    }
  }

  test("q104's rep-collapse: a k-replicated corpus yields the same pairs, n_pairs scaled k²") {
    // the anti-quadratic claim made executable: exact duplicates
    // collapse BEFORE pair generation, so replicating every doc k
    // times changes NOTHING in the pair space — only the reported
    // multiplicity — and the sf1 fixture (10× replication) costs the
    // same candidate volume as sf0.1
    val rng = new scala.util.Random(204)
    val vocab = (0 until 30).map(i => s"w$i")
    val base = (0L until 40L).map(i =>
      (i, Seq.fill(4 + rng.nextInt(8))(vocab(rng.nextInt(vocab.size))).mkString(" ")))
    val k = 3
    val replicated = (0 until k).flatMap(c =>
      base.map { case (i, t) => (i + c * 1000L, t) })
    val one = Similarity.sparseCosineJoin(base.toDF("doc_id", "text"), dfCap = 50)
      .select("rep_a", "rep_b", "dot", "n_pairs")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    val rep = Similarity.sparseCosineJoin(replicated.toDF("doc_id", "text"), dfCap = 50)
      .select("rep_a", "rep_b", "dot", "n_pairs")
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    // reps are the min doc_ids = the base ids; dot identical; n_pairs ×k²
    assert(rep == one.map { case (a, b, d, n) => (a, b, d, n * k * k) })
  }

  test("shardManifest is prefix-length invariant: fan-out 16 vs 256 is bit-identical") {
    // the 100 TB parallelism knob must not change the answer: ranges
    // are contiguous slices of the global (h, doc_id) order for ANY
    // prefix length, so widening the fan-out only splits slices. A
    // divergence here means the offset fold stopped matching the
    // global order (e.g. a non-lexicographic range key) — exactly the
    // bug class that would silently corrupt every manifest at scale.
    import graft.queries.CorpusQueries
    val d = spark.range(2000).select(
      (col("id") * 7 % 2311).as("doc_id"),       // non-contiguous ids
      (col("id") % 37 + 1).as("n_tokens"))
    def manifest(p: Int): Seq[(Long, Long, Long, Long)] =
      CorpusQueries.shardManifest(d, prefixLen = p)
        .orderBy("doc_id")
        .collect().toSeq.map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val one = manifest(1)
    assert(one == manifest(2))
    // and the result is a true global prefix sum: sorted by start_tok,
    // each start is the previous start + previous n_tokens, from 0
    val byPos = one.sortBy(_._3)
    assert(byPos.head._3 == 0L)
    byPos.sliding(2).foreach { case Seq((_, n0, s0, _), (_, _, s1, _)) =>
      assert(s1 == s0 + n0, s"gap in global order at start_tok $s1")
    case _ => ()
    }
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    val wh = tempDir("warehouse").toString
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
    (1L to 100L).map(i => (i, s"o$i")).toDF("order_id", "o")
      .write.bucketBy(4, "order_id").sortBy("order_id")
      .option("path", s"$wh/b_orders").saveAsTable("b_orders")
    (1L to 300L).map(i => (i % 100 + 1, i)).toDF("order_id", "item")
      .write.bucketBy(4, "order_id").sortBy("order_id")
      .option("path", s"$wh/b_items").saveAsTable("b_items")
    // force the sort-merge path: with broadcast on, tiny tables would
    // broadcast and hide the bucketing effect this test demonstrates
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_items"), "order_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ, got:\n$plan")
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"expected no shuffle over bucketed tables, got:\n$plan")
      assert(joined.count() == 300)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_items")
  }

  test("q229: HyperANF state stays within 64 registers per node on a clique") {
    // the whole point of ANF-by-sketch is CONSTANT per-node state: on
    // the worst case (a clique — every node sees every other within
    // one hop) the kernel's register rounds hold exactly HllM = 64
    // registers per node after every round, however many nodes the
    // ball holds. One round gives every node the clique-wide
    // per-register max, and a second round changes nothing
    // (register-max algebra at the fixpoint).
    val n = 300
    val edges = (0 until n).flatMap(i => (i + 1 until n).map(j => (i.toLong, j.toLong)))
      .toDF("src", "dst")
    // q229's seed rendering: content-addressed 48-bit hash → (reg, rho)
    val seeds = (0L until n).toDF("node")
      .withColumn("h", conv(substring(md5(concat(lit("anf:"),
        col("node").cast("string"))), 1, 12), 16, 10).cast("long"))
      .select(col("node"), (col("h") % 64).as("lane"),
        when(expr("h div 64") === 0, lit(43L))
          .otherwise(lit(43L) - length(bin(expr("h div 64")))).as("value"))
    val g = CsrGraph(edges, 3)
    val regs = try HyperAnf.run(g, seeds, 64, 2).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap
      finally g.release()
    assert(regs.size == 3 * n && regs.values.forall(_.length == 64))
    val top = (0L until n).map(v => regs((v, 0L))).transpose.map(_.max)
    for (v <- 0L until n) {
      assert(regs((v, 1L)) == top, s"node $v after one round")
      assert(regs((v, 2L)) == top, s"node $v changed in the second round")
    }
  }
}
