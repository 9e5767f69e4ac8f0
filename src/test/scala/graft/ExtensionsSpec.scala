package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}

/** Text-analysis + similarity extension tests. */
class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("language ID picks the stopword-dominant language; unknown on none") {
    val df = Seq(
      "the cat and the dog in the house",
      "der hund und die katze ist nicht da",
      "xyzzy plugh").toDF("text")
      .withColumn("toks", TextAnalysis.tokens(col("text")))
      .select(TextAnalysis.predLang(
        TextAnalysis.stopwordHits(col("toks"), "en"),
        TextAnalysis.stopwordHits(col("toks"), "de"),
        TextAnalysis.stopwordHits(col("toks"), "fr"),
        TextAnalysis.stopwordHits(col("toks"), "es")).as("pred"))
    assert(df.as[String].collect().toSeq == Seq("en", "de", "unknown"))
  }

  test("fingerprint is order-sensitive and stable") {
    val df = Seq(("a b c", "a b c", "c b a")).toDF("x", "y", "z").select(
      TextAnalysis.fingerprint(split(col("x"), " ")).as("fx"),
      TextAnalysis.fingerprint(split(col("y"), " ")).as("fy"),
      TextAnalysis.fingerprint(split(col("z"), " ")).as("fz"))
    val r = df.head()
    assert(r.getAs[Long]("fx") == r.getAs[Long]("fy"))
    assert(r.getAs[Long]("fx") != r.getAs[Long]("fz"))
    assert(r.getAs[Long]("fx") >= 0 && r.getAs[Long]("fx") < TextAnalysis.fpMod)
  }

  test("BPE-ish token count segments alpha runs, digit runs, other glyphs") {
    val df = Seq("abc12 de-f!").toDF("t")
      .select(TextAnalysis.bpeTokenCount(col("t")).as("n"))
    // segments: abc, 12, de, -, f, !
    assert(df.head().getAs[Int]("n") == 6)
  }

  test("cosine of a vector with itself is exactly 1 after norm division") {
    val df = Seq(Tuple1(Array(1.0f, 2.0f, 3.0f))).toDF("v")
      .select((Dedup.dotProduct(col("v"), col("v")) /
        (Dedup.norm(col("v")) * Dedup.norm(col("v")))).as("c"))
    assert(math.abs(df.head().getAs[Double]("c") - 1.0) < 1e-12)
  }

  test("LSH bucket is deterministic and within 8 bits") {
    val df = Seq(
      Tuple1(Array.tabulate(Similarity.Dim)(i => (i % 7 - 3).toFloat)),
      Tuple1(Array.tabulate(Similarity.Dim)(i => (i % 7 - 3).toFloat)))
      .toDF("v").select(Similarity.bucket(col("v")).as("b"))
    val bs = df.as[Int].collect()
    assert(bs(0) == bs(1))
    assert(bs(0) >= 0 && bs(0) < 256)
  }

  test("graft_dot native expression: SQL-registered, codegen == interpreted == HOF") {
    val df = Seq((Array(1.5f, -2.0f, 3.25f), Array(0.5f, 4.0f, -1.0f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("dp")
    val native = spark.sql("SELECT graft_dot(a, b) AS d FROM dp").head().getDouble(0)
    val hof = df.select(
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x).as("d")).head().getDouble(0)
    val expected = 1.5 * 0.5 + (-2.0) * 4.0 + 3.25 * (-1.0)
    assert(native == expected) // bit-exact: same fold order
    assert(native == hof)
    // null propagation
    val n = spark.sql("SELECT graft_dot(NULL, a) AS d FROM dp").head()
    assert(n.isNullAt(0))
  }

  test("graft_dot nulls the result on a null array ELEMENT (oracle parity)") {
    // DuckDB's rendering propagates NULL through the fold; the native
    // expression must agree — in both eval and codegen paths.
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b")
      .withColumn("a_null", array(lit(1.0f), lit(null).cast("float")))
    df.createOrReplaceTempView("dpn")
    val r = spark.sql("SELECT graft_dot(a_null, b) AS d, graft_dot(a, b) AS ok FROM dpn").head()
    assert(r.isNullAt(0))
    assert(r.getDouble(1) == 11.0)
  }

  test("graft_approx_distinct: partial-merge associativity — estimate is partitioning-invariant") {
    import graft.functions.HllSketchAgg
    // 40k values, 10k distinct, skewed repeats
    val df = (1L to 40000L).map(i => i % 10000L).toDF("v")
    def est(parts: Int): Long =
      df.repartition(parts).agg(call_function("graft_approx_distinct", col("v")))
        .head.getLong(0)
    // register-max merge is order-free: 1, 7, and 32 partitions (hence
    // different partial-merge trees AND different update orders) must
    // produce the SAME estimate, not just close ones
    val e1 = est(1)
    assert(est(7) == e1 && est(32) == e1)
    // accuracy: p=12 → σ ≈ 1.6%; assert a generous 5% of exact
    assert(math.abs(e1 - 10000L) <= 500, s"estimate $e1 off exact 10000")
    // direct buffer-level associativity: (a⊕b)⊕c == a⊕(b⊕c)
    val agg = HllSketchAgg(org.apache.spark.sql.catalyst.expressions.Literal(0L))
    def bufOf(vs: Seq[Long]): Array[Byte] = {
      val b = agg.createAggregationBuffer()
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      vs.foreach { v =>
        val single = HllSketchAgg(org.apache.spark.sql.catalyst.expressions.Literal(v))
        single.update(b, row)
      }
      b
    }
    val (a, b, c) = (bufOf(1L to 100L), bufOf(50L to 150L), bufOf(140L to 300L))
    def mrg(x: Array[Byte], y: Array[Byte]) = agg.merge(x.clone(), y.clone())
    assert(java.util.Arrays.equals(mrg(mrg(a, b), c), mrg(a, mrg(b, c))))
    // and commutativity
    assert(java.util.Arrays.equals(mrg(a, b), mrg(b, a)))
  }

  test("LSH prefilter retains exact duplicates with recall 1.0 (equal vectors, equal bucket)") {
    // the deterministic half of the q54 contract: an identical payload
    // ALWAYS lands in its twin's bucket (Hamming 0), so exact-duplicate
    // pairs can never be lost to the prefilter, at any corpus size
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.tabulate(Similarity.Dim)(d => ((i * 31 + d * 7) % 13 - 6).toFloat))
    }
    val dups = vecs.map { case (id, v) => (id + 100L, v.clone()) } // exact copies
    val df = (vecs ++ dups).toDF("vec_id", "embedding")
      .withColumn("bucket", Similarity.bucket(col("embedding")))
    val buckets = df.select("vec_id", "bucket").as[(Long, Int)].collect().toMap
    vecs.foreach { case (id, _) =>
      assert(buckets(id) == buckets(id + 100L), s"twin of $id changed bucket")
    }
  }

  test("SQL functions reject a non-literal n, a Long n outside Int range and a wrong arity") {
    Seq((Array("a", "b", "c"), 2)).toDF("toks", "n").createOrReplaceTempView("ext_args")
    // the builders throw during analysis; whatever wraps it, the
    // builder's message is somewhere on the cause chain
    def rejects(sql: String, msg: String): Unit = {
      val e = intercept[Exception](spark.sql(sql).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains(msg)), s"'$msg' not in: ${msgs.mkString(" | ")}")
    }
    rejects("SELECT graft_shingles(toks, n) FROM ext_args",
      "graft_shingles n must be a literal")
    rejects("SELECT graft_shingles(toks, 3000000000) FROM ext_args",
      "graft_shingles n out of Int range: 3000000000")
    rejects("SELECT graft_dot(toks) FROM ext_args",
      "graft_dot(arr1, arr2): wrong number of arguments (1)")
    rejects("SELECT graft_bloom(toks[0], 64) FROM ext_args",
      "graft_bloom(key[, m, k]): wrong number of arguments (2)")
    // an in-range Long literal is accepted as the Int it holds
    assert(spark.sql("SELECT graft_shingles(toks, CAST(2 AS BIGINT)) FROM ext_args")
      .head.getSeq[String](0) == Seq("a b", "b c"))
  }

  test("q85 weighted sample skews toward heavier documents (inclusion ∝ weight)") {
    // sequential Poisson sampling: priority u/w falls with weight, so
    // the sampled mean weight must exceed the corpus mean — a
    // deterministic check here because u is content-addressed, not RNG
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q85_weighted_sample")(spark, dir)
    val sampledMean = out.agg(avg("n_chars")).head.getDouble(0)
    val corpusMean = graft.sources.Tables.load(spark, dir, "documents")
      .where(col("n_chars") > 0).agg(avg("n_chars")).head.getDouble(0)
    assert(sampledMean > corpusMean,
      s"sampled mean $sampledMean should exceed corpus mean $corpusMean")
  }

  test("planes are reproducible across invocations (fixed LCG seed)") {
    assert(Similarity.planes == Similarity.planes)
    assert(Similarity.planes.length == Similarity.NumPlanes)
    assert(Similarity.planes.forall(_.forall(c => c >= -5 && c <= 5)))
  }
}
