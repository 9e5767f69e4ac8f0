package graft

import org.apache.spark.sql.functions.expr
import graft.queries.{DedupQueries, SimilarityQueries, TextQueries}

/** Pins for the corpus-audit queries (q214 Zipf curve, q218 prefix
  * fidelity, q219 dedup yield curve): fixed-point identities, bucket
  * partition/monotonicity invariants, and the overlap bounds — the
  * properties the DuckDB differential can't state (it proves equality,
  * not sanity of the shared definition). */
class AuditQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q214: rank-1 fit is exactly 1e6; ranks dense; counts nonincreasing") {
    val rows = TextQueries.queries("q214_zipf_curve")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"$lang: ranks not dense")
      // zipf_fit at rank 1 is 1e6·n·1/f1 with f1 = n(rank 1)
      assert(sorted.head.getLong(4) == 1000000L, s"$lang: rank-1 fit")
      val ns = sorted.map(_.getLong(3))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
        s"$lang: counts must be nonincreasing in rank")
      // f1/fr ppm is nondecreasing in rank (fr nonincreasing)
      val decay = sorted.map(_.getLong(5))
      assert(decay.zip(decay.tail).forall { case (a, b) => a <= b })
    }
  }

  test("q218: overlap bounded by k; one row per (query, depth)") {
    val rows = SimilarityQueries
      .queries("q218_prefix_fidelity")(spark, dir).collect()
    assert(rows.length == 5 * 3, "NumQueries x PrefixDims")
    rows.foreach { r =>
      val (k, ov, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(ov >= 0 && ov <= k)
      assert(ppm == 1000000L * ov / k)
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).distinct.length
      == rows.length)
  }

  test("q222: per-column top keys are ordered, shares exact, at most top-k") {
    val rows = graft.queries.OpsQueries.queries("q222_skew_profile")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (label, rs) =>
      assert(rs.length <= 10, label)
      val fs = rs.sortBy(r => (-r.getLong(2), r.getLong(1))).map(_.getLong(2))
      assert(fs.zip(fs.tail).forall { case (a, b) => a >= b })
      rs.foreach { r =>
        assert(r.getLong(5) == 1000000L * r.getLong(2) / r.getLong(4))
        assert(r.getLong(6) ==
          1000000L * r.getLong(2) * r.getLong(3) / r.getLong(4))
      }
      // the heaviest key of a column is at or above the mean frequency
      val top = rs.maxBy(r => (r.getLong(2), -r.getLong(1)))
      assert(top.getLong(6) >= 1000000L,
        s"$label: max frequency must be >= the mean")
    }
  }

  test("q223: lag-1 correlation is bounded and the pair count matches the grid") {
    val rows = graft.queries.OpsQueries
      .queries("q223_autocorrelation")(spark, dir).collect()
    assert(rows.nonEmpty)
    val n = rows.head.getLong(1)
    rows.foreach { r =>
      assert(r.getLong(1) == n, "all types share the dense grid")
      assert(math.abs(r.getLong(7)) <= 1000000L, r.getString(0))
    }
  }

  test("q224: the feasible budget is the exact min and binding rows mark it") {
    val rows = graft.queries.SamplingQueries
      .queries("q224_mixture_feasibility")(spark, dir).collect()
    assert(rows.nonEmpty)
    val feasible = rows.head.getLong(7)
    assert(rows.forall(_.getLong(7) == feasible))
    assert(rows.map(_.getLong(5)).min == feasible)
    rows.foreach { r =>
      assert(r.getBoolean(6) == (r.getLong(5) == feasible))
      assert(r.getLong(2) ==
        math.floor(math.sqrt(r.getLong(1).toDouble)).toLong)
      // the budget bound really is affordable: B·w/W ≤ tokens (exact
      // cross-multiplication, the decomposition's defining property)
      val (toks, w, wsum, b) =
        (BigInt(r.getLong(1)), BigInt(r.getLong(2)),
          BigInt(r.getLong(3)), BigInt(r.getLong(5)))
      assert(b * w / wsum <= toks)
      assert((b + wsum) * w / wsum >= toks, "bound is tight up to floor slack")
    }
  }

  test("q225: per-band precision is exact and candidates bound the union") {
    val rows = graft.queries.DedupQueries
      .queries("q225_lsh_band_audit")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= graft.operators.Dedup.Bands)
    val distinct = rows.head.getLong(4)
    rows.foreach { r =>
      assert(r.getLong(4) == distinct)
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) == 1000000L * r.getLong(2) / r.getLong(1))
      assert(r.getLong(1) <= distinct,
        "a band cannot generate more distinct pairs than the union")
    }
    assert(rows.map(_.getLong(1)).sum >= distinct,
      "the union is covered by the per-band counts")
  }

  test("q230: contamination is nonincreasing in gram size and q78-consistent at n=5") {
    val rows = graft.queries.CorpusQueries
      .queries("q230_contamination_curve")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(3L, 5L, 8L, 13L))
    // a shared 13-gram implies shared 8/5/3-grams, so doc counts are
    // monotone nonincreasing in n
    val cs = rows.map(_.getLong(2))
    assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    // the n = 5 point must agree with q78's per-doc output
    val q78 = graft.queries.CorpusQueries
      .queries("q78_decontaminate")(spark, dir).collect()
    val n5 = rows.find(_.getLong(0) == 5L).get
    assert(n5.getLong(2) == q78.length)
    assert(n5.getLong(3) == q78.map(_.getLong(1)).sum)
  }

  test("q231: confusion matrix mass equals the corpus; recall shares bounded") {
    val rows = graft.queries.TextQueries
      .queries("q231_lang_confusion")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(rows.map(_.getLong(2)).sum == nDocs)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      assert(rs.map(_.getLong(2)).sum == rs.head.getLong(3), lang)
      rs.foreach { r =>
        assert(r.getLong(4) == 1000000L * r.getLong(2) / r.getLong(3))
        assert(r.getBoolean(5) == (r.getString(0) == r.getString(1)))
      }
    }
  }

  test("q232: dedup never grows a source's tokens and totals reconcile") {
    val rows = graft.queries.SamplingQueries
      .queries("q232_dedup_mixture_shift")(spark, dir).collect()
    assert(rows.nonEmpty)
    val before = rows.map(_.getLong(1)).sum
    val after = rows.map(_.getLong(2)).sum
    assert(after <= before)
    // global token mass: before = all docs, after = distinct-text keepers
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "md5(text) AS fp",
        "CAST(size(filter(split(lower(trim(text)), '\\\\s+'), t -> t <> '')) AS BIGINT) AS ntok")
    assert(before == docs.selectExpr("sum(ntok)").head.getLong(0))
    // shares sum to ~1e6 from below (integer floors)
    val sb = rows.map(_.getLong(3)).sum
    val sa = rows.map(_.getLong(4)).sum
    assert(sb <= 1000000L && sb > 1000000L - rows.length)
    assert(sa <= 1000000L && sa > 1000000L - rows.length)
    rows.foreach(r => assert(r.getLong(5) == r.getLong(4) - r.getLong(3)))
  }

  test("q233: the forecast cardinality equals the actually-run join") {
    val rows = graft.queries.OpsQueries
      .queries("q233_join_size_stats")(spark, dir).collect()
    assert(rows.length == 3)
    val real = Map(
      "lineitem*orders.orderkey" ->
        spark.read.parquet(s"$dir/lineitem.parquet").as("l")
          .join(spark.read.parquet(s"$dir/orders.parquet").as("o"),
            expr("l.l_orderkey = o.o_orderkey")).count(),
      "lineitem*part.partkey" ->
        spark.read.parquet(s"$dir/lineitem.parquet").as("l")
          .join(spark.read.parquet(s"$dir/part.parquet").as("p"),
            expr("l.l_partkey = p.p_partkey")).count(),
      "orders*customer.custkey" ->
        spark.read.parquet(s"$dir/orders.parquet").as("o")
          .join(spark.read.parquet(s"$dir/customer.parquet").as("c"),
            expr("o.o_custkey = c.c_custkey")).count())
    rows.foreach { r =>
      assert(r.getLong(4) == real(r.getString(0)),
        s"${r.getString(0)}: forecast != executed join")
      assert(r.getLong(5) <= r.getLong(4))
      assert(r.getLong(6) == 1000000L * r.getLong(5) / r.getLong(4))
    }
  }

  test("q234: signature terms are genuinely over-represented and capped per source") {
    val rows = graft.queries.TextQueries
      .queries("q234_source_terms")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.length <= 5, src)
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ==
        (1L to sorted.length).toSeq, s"$src: ranks not dense")
      val ratios = sorted.map(_.getLong(7))
      assert(ratios.zip(ratios.tail).forall { case (a, b) => a >= b })
      rs.foreach { r =>
        assert(r.getLong(3) >= 5, "hapax floor")
        // over-represented: the smoothed rate ratio exceeds 1
        assert(r.getLong(7) > 1000000L,
          s"$src/${r.getString(2)}: a signature term must beat its base rate")
      }
    }
  }

  test("q219: buckets partition the corpus; cumulative uniques are consistent") {
    val rows = DedupQueries.queries("q219_yield_curve")(spark, dir)
      .collect().sortBy(_.getLong(0))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows.map(_.getLong(1)).sum == docs.count())
    val nUnique = docs.selectExpr("count(DISTINCT md5(text))").head.getLong(0)
    assert(rows.map(_.getLong(2)).sum == nUnique,
      "per-bucket first occurrences must sum to the distinct-fingerprint count")
    // cum columns are exact prefix sums; uniques never exceed docs
    var (cd, cu) = (0L, 0L)
    rows.foreach { r =>
      cd += r.getLong(1); cu += r.getLong(2)
      assert(r.getLong(3) == cd && r.getLong(4) == cu)
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(5) == 1000000L * r.getLong(2) / r.getLong(1))
    }
  }

  test("q246: vocabulary curve reconciles with a driver-side exact recount") {
    val rows = TextQueries.queries("q246_heaps_curve")(spark, dir)
      .collect().sortBy(_.getLong(0))
    // independent recount: same decile arithmetic, Scala collections
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (d0, d1) = (docs.map(_._1).min, docs.map(_._1).max)
    def dec(id: Long) = (id - d0) * 10 / (d1 - d0 + 1)
    def toks(t: String) =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val byDec = docs.groupBy(d => dec(d._1))
    val firstDec = docs.flatMap { case (id, t) => toks(t).map(_ -> dec(id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    var (cd, ct, cv) = (0L, 0L, 0L)
    rows.foreach { r =>
      val k = r.getLong(0)
      val nDocs = byDec.get(k).map(_.length.toLong).getOrElse(0L)
      val nTok = byDec.get(k).map(_.map(d => toks(d._2).length.toLong).sum)
        .getOrElse(0L)
      val newTypes = firstDec.count(_._2 == k).toLong
      cd += nDocs; ct += nTok; cv += newTypes
      assert(r.getLong(1) == cd && r.getLong(2) == ct && r.getLong(3) == cv,
        s"decile $k cums")
      assert(r.getLong(4) == newTypes)
      assert(r.getLong(5) ==
        (if (nTok == 0) -1L else 1000000L * newTypes / nTok))
    }
    assert(cv == firstDec.size.toLong, "vocab_cum tops out at |types|")
    assert(cd == docs.length.toLong)
    // novelty falls as the corpus grows (weak Heaps sanity: the last
    // decile mints new types at a lower rate than the first)
    assert(rows.last.getLong(5) < rows.head.getLong(5))
  }

  test("q239: multiplicity-counted matrix equals q51's expanded pair list regrouped") {
    // q239 counts doc-level near-dup pairs WITHOUT the member
    // expansion (title-multiplicity products); q51 materializes the
    // expanded pair list. Every doc pair maps to exactly one
    // unordered title pair, so regrouping q51's output by the
    // source-pair key must reproduce q239's n_doc_pairs cell by cell.
    val matrix = graft.queries.DedupQueries
      .queries("q239_contamination_matrix")(spark, dir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    // doc_id → source from the proxy frame itself (NOT a re-derivation
    // of its synthesis formula): if the proxy's subreddit synthesis
    // changes, this test follows it instead of misattributing q51
    // pairs and blaming q239
    val srcMap = graft.queries.PostsProxy.df(spark, dir)
      .select("doc_id", "subreddit").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def src(docId: Long): String = srcMap(docId)
    val want = graft.queries.DedupQueries
      .queries("q51_minhash_lsh")(spark, dir)
      .select("doc_a", "doc_b").collect()
      .map(r => {
        val (a, b) = (src(r.getLong(0)), src(r.getLong(1)))
        (if (a <= b) (a, b) else (b, a), 1L)
      })
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    // a cell whose only mass is singleton self-titles carries
    // n_doc_pairs = 0 and legitimately has no q51 counterpart
    assert(matrix.filter(_._2 > 0L) == want,
      s"matrix $matrix vs q51 regroup $want")
  }

  test("blocked pair queries leave the caller's temp views alone") {
    // a caller's own views under the names the title chain (mh_sh) and
    // q53 (cg_titles) once registered as pair-join scaffolding
    val mine = spark.range(3).toDF("x")
    for (v <- Seq("mh_sh", "cg_titles")) mine.createOrReplaceTempView(v)
    try {
      for (q <- Seq("q51_minhash_lsh", "q53_ngram_jaccard", "q70_dup_clusters",
                    "q87_dedup_representatives", "q225_lsh_band_audit"))
        DedupQueries.queries(q)(spark, dir).collect()
      for (v <- Seq("mh_sh", "cg_titles"))
        assert(spark.table(v).collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L), v)
    } finally Seq("mh_sh", "cg_titles").foreach(spark.catalog.dropTempView)
  }
}
