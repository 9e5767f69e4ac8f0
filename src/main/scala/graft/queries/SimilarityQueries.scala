package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, KMeans, Similarity}
import graft.sources.Tables

/** Similarity-search extension queries (q55–q56) over `embeddings`:
  * exact brute-force cosine top-k, and the LSH-bucketed ANN variant
  * whose candidate set is a same-bucket equi-join (the 100 TB shape:
  * shuffle on the bucket key instead of a cross join).
  */
object SimilarityQueries {

  private val K = 10
  private val NumQueries = 5 // vec_id 0..4 act as the query set
  /** IVF cell count — a recall/cost parameter, not a structural limit:
    * assignment cost is NumCells·n dots either way, and a production
    * deployment grows it ~sqrt(n) to keep cells small. 8 suits the
    * 2k-vector fixture. */
  private val NumCells = 8

  /** q117: every `vec_id % BenchMod == 0` vector plays benchmark item,
    * capped at the first [[BenchSize]] by vec_id — a benchmark suite
    * is FIXED-SIZE by nature, and the cap is what keeps the scoring
    * scan linear in the corpus (an uncapped %-slice grows with the
    * corpus and was measured super-linear at sf1: corpus × suite =
    * quadratic). */
  private val BenchMod = 20
  private val BenchSize = 100
  /** q117: contamination radius — q111's measured near-dup ball
    * (between the fixture's global 0.1 % and 1 % pair-distance
    * percentiles) reused as the "suspiciously close to a benchmark
    * item" threshold. */
  private val DeconTheta = 1450000000000L
  /** Fixture embedding dimensionality (oracle rendering only). */
  private val Dim = 64

  /** q159: Johnson–Lindenstrauss target dimensionality. */
  private val JlDim = 16

  /** q238: MMR candidate-pool size, picks, and the λ = 0.7 trade-off
    * split into integer weights (score = 3·min-dist-to-selected −
    * 7·dist-to-query, all int64 — with distances standing in for
    * negated similarities, the Carbonell–Goldstein objective keeps
    * its argmax). Pool and k are the model parameters a retrieval
    * deployment fixes; the pool bound is what keeps the greedy loop
    * and its k² pairwise table driver-safe at ANY corpus size. */
  private val MmrPool = 16
  private val MmrK = 8
  private val MmrRelW = 7L
  private val MmrDivW = 3L

  /** q160: binary-sketch retrieval geometry — probe set (vec_id <
    * HamNumQ) and Hamming top-k depth. */
  private val HamNumQ = 4
  private val HamK = 20

  private def md5Hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ±1 with the same 48-bit md5 parity the oracle derives in SQL —
    * content-addressed, so the projection matrix is a pure function of
    * (row, column), never an RNG state. */
  private def jlSign(i: Int, j: Int): Long = {
    val h = java.lang.Long.parseLong(md5Hex(s"jl:$i:$j").substring(0, 12), 16)
    1L - 2L * (h % 2)
  }

  /** q160/q161: one 32-bit half of the sign-bit word (bit i set when
    * quantized component off+i is ≥ 0) — disjoint bits OR-folded. */
  private def signWord(off: Int): org.apache.spark.sql.Column =
    (0 until 32).map(i =>
      when(element_at(col("qv"), off + i + 1) >= 0, lit(1L << i))
        .otherwise(lit(0L))).reduce(_.bitwiseOR(_))

  /** q161: evaluation depth for the binary-sketch recall audit. */
  private val RecallK = 10

  /** q218: prefix depths audited (matryoshka truncation points). */
  private val PrefixDims = Seq(8, 16, 32)

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", Dedup.norm(col("embedding")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // PREFIX-DIMENSION FIDELITY (q218): the matryoshka-truncation
    // audit (Kusupati et al. 2022) — how much of exact top-k retrieval
    // survives when vectors are cut to their first 8/16/32 dimensions
    // (the storage/latency lever of prefix-truncatable embeddings:
    // overlap@k tells you which depth is safe to serve from). Exact
    // ground truth at full dim and exact retrieval at each prefix —
    // the audit's whole value is that BOTH sides are exact, so the
    // number is the truncation's fault alone. Scale shape: the q161
    // recipe — a broadcast query panel (NumQueries rows), per-depth
    // distances through the codegen'd sqdist kernel over array
    // slices (linear corpus scans, no shuffle), top-k via
    // TopKPerKeyExec, overlap by one |panel·k|-row join per depth.
    "q218_prefix_fidelity" -> ((s, dir) => {
      import graft.operators.KMeans
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val pr = broadcast(q.where(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("qv").as("pqv")))
      val pairs = q.crossJoin(pr).where(col("vec_id") =!= col("query_id"))
      val full = graft.operators.TopK.perKey(
          pairs.select(col("query_id"), col("vec_id"),
            KMeans.sqDist(col("qv"), col("pqv")).as("d")),
          Seq("query_id"), Seq("d" -> true, "vec_id" -> true), k = RecallK)
        .select(col("query_id"), col("vec_id"))
      PrefixDims.map { pd =>
        val pk = graft.operators.TopK.perKey(
            pairs.select(col("query_id"), col("vec_id"),
              KMeans.sqDist(slice(col("qv"), 1, pd),
                slice(col("pqv"), 1, pd)).as("d")),
            Seq("query_id"), Seq("d" -> true, "vec_id" -> true),
            k = RecallK)
          .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
        full.join(pk, Seq("query_id", "vec_id"), "left")
          .groupBy("query_id")
          .agg(count(col("hit")).as("n_overlap"))
          .select(col("query_id"), lit(pd.toLong).as("prefix_dim"),
            lit(RecallK.toLong).as("k"), col("n_overlap"),
            expr(s"(CAST(1000000 AS BIGINT) * n_overlap) div $RecallK")
              .as("overlap_ppm"))
      }.reduce(_ unionByName _).orderBy("query_id", "prefix_dim")
    }),

    // Exact top-k: queries × corpus ranked by pinned-fold cosine.
    // Broadcast of the tiny query side keeps the corpus unshuffled.
    "q55_knn_bruteforce" -> ((s, dir) => {
      emb(s, dir).createOrReplaceTempView("emb_knn")
      s.sql(s"""
        |SELECT query_id, vec_id, cosine, rank FROM (
        |  SELECT query_id, vec_id, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |      graft_dot(q.embedding, c.embedding) / (q.nrm * c.nrm) AS cosine
        |    FROM emb_knn q JOIN emb_knn c ON q.vec_id < $NumQueries
        |      AND c.vec_id <> q.vec_id))
        |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    }),

    // LSH-bucketed ANN: same ranking but candidates restricted to the
    // query's hyperplane bucket (approximate — recall < 1 by design).
    "q56_ann_lsh" -> ((s, dir) => {
      emb(s, dir).withColumn("bucket", Similarity.bucket(col("embedding")))
        .createOrReplaceTempView("emb_lsh")
      s.sql(s"""
        |SELECT query_id, vec_id, bucket, cosine, rank FROM (
        |  SELECT query_id, vec_id, bucket, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.bucket AS bucket,
        |      graft_dot(q.embedding, c.embedding) / (q.nrm * c.nrm) AS cosine
        |    FROM emb_lsh q JOIN emb_lsh c ON q.bucket = c.bucket
        |      AND q.vec_id < $NumQueries AND c.vec_id <> q.vec_id))
        |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    }),

    // Multi-probe LSH: same bucket structure as q56, but each query also
    // probes the 8 buckets at Hamming distance 1 (bucket XOR each bit) —
    // the standard recall-vs-cost lever when a neighbor lands across a
    // hyperplane. Probes explode 9× on the tiny query side only; the
    // corpus is still touched through one bucket equi-join.
    "q66_ann_multiprobe" -> ((s, dir) => {
      val mp = emb(s, dir).withColumn("bucket", Similarity.bucket(col("embedding")))
      mp.createOrReplaceTempView("emb_mp")
      mp.where(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("embedding"), col("nrm"),
          explode(Similarity.hammingProbes(col("bucket"))).as("probe"))
        .createOrReplaceTempView("mp_probes")
      s.sql(s"""
        |WITH scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.bucket AS bucket,
        |    graft_dot(q.embedding, c.embedding) / (q.nrm * c.nrm) AS cosine
        |  FROM mp_probes q JOIN emb_mp c ON c.bucket = q.probe
        |    AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, bucket, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, bucket, cosine, rank FROM ranked
        |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    }),

    // IVF-style ANN: "train" 8 centroids (deterministically: the first 8
    // vectors), assign every vector to its nearest centroid cell, search
    // only the query's cell. Assignment is a broadcast cross join against
    // 8 centroids (8·n dots); search is a cell equi-join — at 100 TB
    // both stay shuffle-light, and more cells + multi-probe trade recall
    // for cost.
    "q57_ann_ivf" -> ((s, dir) => {
      emb(s, dir).createOrReplaceTempView("emb_ivf")
      s.sql(s"""
        |WITH cent AS (
        |  SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm
        |  FROM emb_ivf WHERE vec_id < $NumCells),
        |asg AS (
        |  SELECT v.vec_id, cid,
        |    row_number() OVER (PARTITION BY v.vec_id
        |      ORDER BY graft_dot(v.embedding, cemb) / (v.nrm * cnrm) DESC, cid ASC) AS rk
        |  FROM emb_ivf v CROSS JOIN cent),
        |cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rk = 1),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cq.cell AS cell,
        |    graft_dot(q.embedding, c.embedding) / (q.nrm * c.nrm) AS cosine
        |  FROM emb_ivf q
        |  JOIN cells cq ON cq.vec_id = q.vec_id AND q.vec_id < $NumQueries
        |  JOIN cells cc ON cc.cell = cq.cell
        |  JOIN emb_ivf c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cell, cosine,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cell, cosine, rank FROM ranked
        |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin)
    }),

    // Benchmark decontamination in EMBEDDING space — the semantic
    // complement of q78's n-gram decontamination (published eval-
    // hygiene recipe: drop training docs whose embedding sits within a
    // tight ball of any benchmark item, catching paraphrases n-gram
    // overlap misses). The fixture's % $BenchMod slice stands in for
    // the benchmark suite; distances are exact int64 squared-L2 in the
    // quantized (·2^20) space with q111's radius, so the differential
    // oracle is hash-exact. Scale shape — the decisive property: a
    // benchmark suite is FIXED-SIZE (thousands of items, not corpus-
    // proportional), so it rides into the plan as a literal exactly
    // like q98's centroids, and scoring is a SHUFFLE-FREE corpus scan:
    // per row one codegen'd graft_nearest argmin + one bounded HOF
    // count over the suite. No join, no exchange, linear output, any
    // corpus size. (A corpus-proportional "benchmark" would instead
    // use the q54/q89 LSH-bucketed path.)
    //
    // NOTE: this BUILDER is not free — collecting the benchmark slice
    // into plan literals is an EAGER driver-side scan (orderBy/limit
    // over embeddings), so plan-extraction harnesses pay one bounded
    // read per invocation. An empty slice is a hard error rather than
    // a silent empty-literal plan (graft_nearest over a zero-length
    // suite has no meaningful argmin).
    "q117_embedding_decontamination" -> ((s, dir) => {
      import graft.operators.KMeans
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val benchRows = q.where(col("vec_id") % BenchMod === 0)
        .orderBy("vec_id").limit(BenchSize).collect()
      require(benchRows.nonEmpty,
        s"q117: empty benchmark slice (no vec_id % $BenchMod == 0 rows in $dir)")
      val benchIds = benchRows.map(_.getLong(0)).toSeq
      val benchVecs = benchRows.map(_.getSeq[Long](1)).toSeq
      val bLit = typedLit(benchVecs)
      q.where(col("vec_id") % BenchMod =!= 0)
        .select(col("vec_id"),
          size(filter(bLit,
            b => call_function("graft_sqdist", col("qv"), b) <= lit(DeconTheta)))
            .cast("long").as("n_bench_hits"),
          call_function("graft_nearest", col("qv"), bLit).as("nb"))
        .select(col("vec_id"), col("n_bench_hits"),
          element_at(typedLit(benchIds), (col("nb.c") + 1).cast("int"))
            .as("near_bench"),
          col("nb.d").as("near_dist"),
          (col("n_bench_hits") > 0).as("contaminated"))
        .orderBy("vec_id")
    }),

    // JOHNSON–LINDENSTRAUSS PROJECTION (q159): random-projection
    // dimensionality reduction 64 → JlDim with a content-addressed ±1
    // matrix (the Achlioptas database-friendly JL construction: ±1
    // entries preserve pairwise distances within (1±ε) at k =
    // O(log n/ε²) dims — the cheap pre-filter in front of exact
    // rerankers, and 4× fewer bytes per vector here). Matrix entries
    // are md5-parity of "jl:i:j" (reproducible across engines and
    // cluster layouts, never an RNG), applied through the codegen'd
    // graft_matvec kernel. Scale shape: the matrix is a JlDim×Dim plan
    // literal; the projection is a zero-shuffle per-row kernel — the
    // map-only pass that would precede any downstream index build.
    "q159_jl_projection" -> ((s, dir) => {
      import graft.operators.KMeans
      val sgn: Seq[Seq[Long]] =
        (0 until JlDim).map(j => (1 to Dim).map(i => jlSign(i, j)))
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
        .withColumn("jl", call_function("graft_matvec", col("qv"), typedLit(sgn)))
      q.select(col("vec_id") +: (0 until JlDim).map(j =>
          element_at(col("jl"), j + 1).as(f"jl$j%02d")): _*)
        .orderBy("vec_id")
    }),

    // BINARY-SKETCH HAMMING RETRIEVAL (q160): 1-bit quantization of
    // dense embeddings — every vector compresses to its 64 sign bits
    // (two int64 words; bit i = component i ≥ 0) and retrieval ranks
    // by Hamming distance, the binary-embedding recipe behind
    // memory-tier ANN (32× smaller than float32, XOR+popcount scoring).
    // Differs from q52's SimHash (text shingle sketch) and q56's LSH
    // (bucket equality): this ranks the FULL corpus by bit distance
    // for a fixed probe set. Scale shape: sign words are a per-row
    // projection; the probe side is a ≤HamNumQ-row broadcast; scoring
    // is codegen'd xor/popcount; top-k streams through TopKPerKey —
    // no global sort, one bounded shuffle on query_id.
    "q160_binary_hamming" -> ((s, dir) => {
      import graft.operators.KMeans
      val w = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
        .select(col("vec_id"), signWord(0).as("wlo"), signWord(32).as("whi"))
      val pr = broadcast(w.where(col("vec_id") < HamNumQ)
        .select(col("vec_id").as("query_id"),
          col("wlo").as("plo"), col("whi").as("phi")))
      val sc = w.crossJoin(pr).where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (bit_count(col("wlo").bitwiseXOR(col("plo"))) +
            bit_count(col("whi").bitwiseXOR(col("phi"))))
            .cast("long").as("hamming"))
      graft.operators.TopK.perKey(sc, Seq("query_id"),
          Seq("hamming" -> true, "vec_id" -> true), k = HamK)
        .select(col("query_id"), col("vec_id"), col("hamming"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // ANN RECALL EVALUATION (q161): index-quality measurement kept
    // IN-ENGINE — recall@k of the q160 binary-sketch ranking against
    // the exact int64 squared-L2 ground truth, per probe. This is the
    // evaluation loop every ANN deployment runs before trading recall
    // for memory (1-bit sketches here measure 10–50 % @10 on the
    // fixture — exactly the number a tuning decision needs), expressed
    // as a declared differential query: two TopKPerKey chains over the
    // same probe broadcast, an equi-join on (query, candidate), and an
    // exact ppm ratio. Scale shape: both rankings are
    // probe-broadcast × corpus scans with O(k) heaps — no global
    // sorts; the overlap join carries ≤ |probes|·k rows.
    "q161_ann_recall" -> ((s, dir) => {
      import graft.operators.KMeans
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val pr = broadcast(q.where(col("vec_id") < HamNumQ)
        .select(col("vec_id").as("query_id"), col("qv").as("pqv")))
      val ex = q.crossJoin(pr).where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          KMeans.sqDist(col("qv"), col("pqv")).as("d"))
      val exk = graft.operators.TopK.perKey(ex, Seq("query_id"),
          Seq("d" -> true, "vec_id" -> true), k = RecallK)
        .select(col("query_id"), col("vec_id"))
      val w = q.select(col("vec_id"), signWord(0).as("wlo"), signWord(32).as("whi"))
      val pw = broadcast(w.where(col("vec_id") < HamNumQ)
        .select(col("vec_id").as("query_id"),
          col("wlo").as("plo"), col("whi").as("phi")))
      val sc = w.crossJoin(pw).where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (bit_count(col("wlo").bitwiseXOR(col("plo"))) +
            bit_count(col("whi").bitwiseXOR(col("phi"))))
            .cast("long").as("hamming"))
      val hmk = graft.operators.TopK.perKey(sc, Seq("query_id"),
          Seq("hamming" -> true, "vec_id" -> true), k = RecallK)
        .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
      exk.join(hmk, Seq("query_id", "vec_id"), "left")
        .groupBy("query_id")
        .agg(lit(RecallK.toLong).as("k"),
          count(col("hit")).as("n_overlap"),
          expr(s"(CAST(1000000 AS BIGINT) * count(hit)) div $RecallK")
            .as("recall_ppm"))
        .orderBy("query_id")
    }),

    // MMR DIVERSIFIED RE-RANK (q238): Maximal Marginal Relevance
    // (Carbonell & Goldstein 1998) over the probe's brute-force
    // candidate pool — the standard "don't hand the model 8 copies of
    // the same document" re-rank every retrieval-augmented curation
    // loop runs between ANN search and consumption. Greedy argmax of
    // 3·min_{s∈S} d(c,s) − 7·d(q,c) (λ = 0.7 with distances as
    // negated similarities; first pick = plain nearest), ties to the
    // smaller vec_id — a total order, so the greedy trajectory is
    // engine-independent and the DuckDB twin replays it exactly as a
    // recursive CTE (one row per step, argmax via lexicographic
    // struct max). Exact int64 end to end on quantized vectors.
    // Scale shape: the ONLY corpus-scale stage is the candidate pool
    // (one distributed TakeOrdered over the codegen'd sqdist scan —
    // the q55 discipline); the greedy runs driver-side over the
    // MmrPool-bounded pool (k² = 256 pairwise distances — the pool IS
    // the model, the q220 driver-held-literal precedent), and the
    // selection rides back into the plan as literal maps, so the
    // output frame is distributed and re-derives rel_d through the
    // same kernel the oracle folds.
    "q238_mmr_rerank" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val probeRow = e.where(col("vec_id") === 0L).select("qv").head(1)
      require(probeRow.nonEmpty,
        "q238 probe vec_id = 0 missing from the embeddings fixture")
      val probe: Seq[Long] = probeRow(0).getSeq[Long](0)
      val cand = e.where(col("vec_id") =!= 0L)
        .select(col("vec_id"), col("qv"),
          KMeans.sqDist(col("qv"), typedLit(probe)).as("rel_d"))
        .orderBy(col("rel_d"), col("vec_id")).limit(MmrPool)
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
      def sqd(a: Array[Long], b: Array[Long]): Long = {
        var i = 0; var acc = 0L
        while (i < a.length) { val t = a(i) - b(i); acc += t * t; i += 1 }
        acc
      }
      val byId = cand.map(c => c._1 -> c._2).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val chosen = scala.collection.mutable.Set.empty[Long]
      // a pool smaller than MmrK (degenerate corpus) yields that many
      // picks — the oracle's recursion would need the same guard, so
      // the fixture contract (pool ≥ MmrK) is asserted instead
      require(cand.length >= MmrK,
        s"q238 pool ${cand.length} < $MmrK — corpus too small for the fixture contract")
      for (_ <- 1 to MmrK) {
        val best = cand.iterator.filter(c => !chosen(c._1)).map { c =>
          val div =
            if (picked.isEmpty) 0L
            else MmrDivW * picked.iterator.map(p => sqd(c._2, byId(p._1))).min
          (c._1, div - MmrRelW * c._3)
        }.minBy { case (id, sc) => (-sc, id) }
        picked += best
        chosen += best._1
      }
      val rankMap = picked.zipWithIndex
        .map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
      val scoreMap = picked.toMap
      e.where(col("vec_id").isin(picked.map(_._1).toSeq: _*))
        .select(element_at(typedLit(rankMap), col("vec_id")).as("rank"),
          col("vec_id"),
          KMeans.sqDist(col("qv"), typedLit(probe)).as("rel_d"),
          element_at(typedLit(scoreMap), col("vec_id")).as("score"))
        .orderBy("rank")
    }))

  val oracleSql: Map[String, String] = {
    val dot = Dedup.dotProductSql("q.embedding", "c.embedding")
    Map(
      // q218: per depth, the same exact rank construction with the
      // distance fold truncated to the prefix (sqDistSql's dim
      // parameter indexes only the first pd slots); blocks UNION ALL.
      "q218_prefix_fidelity" -> {
        val sqf = graft.operators.KMeans.sqDistSql("a.qv", "p.pqv", Dim)
        val blocks = PrefixDims.map { pd =>
          val sqp = graft.operators.KMeans.sqDistSql("a.qv", "p.pqv", pd)
          s"""SELECT e.query_id, CAST($pd AS BIGINT) AS prefix_dim,
             |  CAST($RecallK AS BIGINT) AS k,
             |  CAST(count(h$pd.vec_id) AS BIGINT) AS n_overlap,
             |  CAST((1000000 * count(h$pd.vec_id)) // $RecallK AS BIGINT)
             |    AS overlap_ppm
             |FROM exk e LEFT JOIN (
             |  SELECT query_id, vec_id FROM (
             |    SELECT p.query_id, a.vec_id, row_number() OVER (
             |      PARTITION BY p.query_id ORDER BY $sqp, a.vec_id) AS rn
             |    FROM q a CROSS JOIN pr p
             |    WHERE a.vec_id <> p.query_id) r$pd
             |  WHERE rn <= $RecallK) h$pd
             |  ON h$pd.query_id = e.query_id AND h$pd.vec_id = e.vec_id
             |GROUP BY e.query_id""".stripMargin
        }
        s"""WITH q AS (SELECT vec_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |pr AS (SELECT vec_id AS query_id, qv AS pqv FROM q
           |  WHERE vec_id < $NumQueries),
           |ex AS (SELECT p.query_id, a.vec_id,
           |    row_number() OVER (PARTITION BY p.query_id
           |      ORDER BY $sqf, a.vec_id) AS rn
           |  FROM q a CROSS JOIN pr p WHERE a.vec_id <> p.query_id),
           |exk AS (SELECT query_id, vec_id FROM ex WHERE rn <= $RecallK)
           |SELECT * FROM (
           |${blocks.mkString("\nUNION ALL\n")}
           |) u ORDER BY query_id, prefix_dim""".stripMargin
      },
      "q117_embedding_decontamination" -> {
        val d = graft.operators.KMeans.sqDistSql("c.qv", "b.bv", Dim)
        s"""WITH q AS (SELECT vec_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |b AS (SELECT vec_id AS bid, qv AS bv FROM q
           |  WHERE vec_id % $BenchMod = 0 ORDER BY vec_id LIMIT $BenchSize),
           |c AS (SELECT vec_id, qv FROM q WHERE vec_id % $BenchMod <> 0),
           |sc AS (SELECT c.vec_id, b.bid, $d AS dd FROM c CROSS JOIN b),
           |h AS (SELECT vec_id,
           |    CAST(sum(CASE WHEN dd <= $DeconTheta THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_bench_hits
           |  FROM sc GROUP BY vec_id),
           |r AS (SELECT vec_id, bid, dd, row_number() OVER (
           |    PARTITION BY vec_id ORDER BY dd, bid) AS rk FROM sc)
           |SELECT h.vec_id, h.n_bench_hits, r.bid AS near_bench,
           |  r.dd AS near_dist, h.n_bench_hits > 0 AS contaminated
           |FROM h JOIN r ON r.vec_id = h.vec_id AND r.rk = 1
           |ORDER BY h.vec_id""".stripMargin
      },
      "q55_knn_bruteforce" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           |    $dot / (q.nrm * c.nrm) AS cosine
           |  FROM e q JOIN e c ON q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, vec_id, cosine, rank FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

      "q56_ann_lsh" ->
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
           |    ${Similarity.bucketSql("embedding")} AS bucket FROM embeddings),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.bucket AS bucket,
           |    $dot / (q.nrm * c.nrm) AS cosine
           |  FROM e q JOIN e c ON q.bucket = c.bucket
           |    AND q.vec_id < $NumQueries AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, bucket, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, vec_id, bucket, cosine, rank FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

      "q66_ann_multiprobe" -> {
        val probesList = (Seq("bucket") ++ (0 until Similarity.NumPlanes)
          .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
           |    ${Similarity.bucketSql("embedding")} AS bucket FROM embeddings),
           |probes AS (
           |  SELECT vec_id, embedding, nrm, unnest($probesList) AS probe
           |  FROM e WHERE vec_id < $NumQueries),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.bucket AS bucket,
           |    $dot / (q.nrm * c.nrm) AS cosine
           |  FROM probes q JOIN e c ON c.bucket = q.probe AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, bucket, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, vec_id, bucket, cosine, rank FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
      },

      "q57_ann_ivf" -> {
        val cdot = Dedup.dotProductSql("v.embedding", "cemb")
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm FROM embeddings),
           |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM e WHERE vec_id < $NumCells),
           |asg AS (
           |  SELECT v.vec_id, cid,
           |    row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY $cdot / (v.nrm * cnrm) DESC, cid ASC) AS rk
           |  FROM e v CROSS JOIN cent),
           |cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rk = 1),
           |scored AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, cq.cell AS cell,
           |    $dot / (q.nrm * c.nrm) AS cosine
           |  FROM e q
           |  JOIN cells cq ON cq.vec_id = q.vec_id AND q.vec_id < $NumQueries
           |  JOIN cells cc ON cc.cell = cq.cell
           |  JOIN e c ON c.vec_id = cc.vec_id AND c.vec_id <> q.vec_id),
           |ranked AS (
           |  SELECT query_id, vec_id, cell, cosine,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
           |  FROM scored)
           |SELECT query_id, vec_id, cell, cosine, rank FROM ranked
           |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
      },

      // q159: the ±1 matrix re-derived in SQL from the same md5
      // parity over the (i, j) grid; per-(vector, j) sums pivot to the
      // JlDim named columns (sum widens to HUGEINT → cast back).
      "q159_jl_projection" -> {
        val cols = (0 until JlDim).map(j =>
          s"min(CASE WHEN j = $j THEN v END) AS jl${"%02d".format(j)}")
          .mkString(",\n|  ")
        s"""WITH q AS (SELECT vec_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |g AS (SELECT i.i AS i, j.j AS j,
           |    1 - 2 * (CAST('0x' || substr(md5('jl:' || CAST(i.i AS VARCHAR)
           |      || ':' || CAST(j.j AS VARCHAR)), 1, 12) AS BIGINT) % 2) AS sgn
           |  FROM (SELECT unnest(range(1, $Dim + 1)) AS i) i
           |  CROSS JOIN (SELECT unnest(range(0, $JlDim)) AS j) j),
           |p AS (SELECT q.vec_id, g.j, CAST(sum(q.qv[g.i] * g.sgn) AS BIGINT) AS v
           |  FROM q CROSS JOIN g GROUP BY 1, 2)
           |SELECT vec_id,
           |  $cols
           |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
      },

      // q160: sign words folded per 32-bit half (avoids the BIGINT
      // 1<<63 overflow), xor+bit_count scoring, dense ranks.
      "q160_binary_hamming" ->
        s"""WITH q AS (SELECT vec_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |w AS (SELECT vec_id,
           |  list_reduce(list_concat([CAST(0 AS BIGINT)],
           |    list_transform(range(1, 33), i -> CASE WHEN qv[i] >= 0
           |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)),
           |    (a, b) -> a | b) AS wlo,
           |  list_reduce(list_concat([CAST(0 AS BIGINT)],
           |    list_transform(range(33, 65), i -> CASE WHEN qv[i] >= 0
           |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)),
           |    (a, b) -> a | b) AS whi
           |  FROM q),
           |pr AS (SELECT vec_id AS query_id, wlo AS plo, whi AS phi
           |  FROM w WHERE vec_id < $HamNumQ),
           |sc AS (SELECT pr.query_id, w.vec_id,
           |    CAST(bit_count(xor(w.wlo, pr.plo))
           |      + bit_count(xor(w.whi, pr.phi)) AS BIGINT) AS hamming,
           |    row_number() OVER (PARTITION BY pr.query_id
           |      ORDER BY bit_count(xor(w.wlo, pr.plo))
           |        + bit_count(xor(w.whi, pr.phi)), w.vec_id) AS rnk
           |  FROM w CROSS JOIN pr WHERE w.vec_id <> pr.query_id)
           |SELECT query_id, vec_id, hamming, CAST(rnk AS INT) AS rank
           |FROM sc WHERE rnk <= $HamK ORDER BY query_id, rank""".stripMargin,

      // q161: both rankings re-derived (exact int64 sqdist vs
      // xor+popcount), overlap by LEFT JOIN + count of hits.
      "q161_ann_recall" -> {
        val sq = graft.operators.KMeans.sqDistSql("a.qv", "p.pqv", Dim)
        s"""WITH q AS (SELECT vec_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |pr AS (SELECT vec_id AS query_id, qv AS pqv FROM q
           |  WHERE vec_id < $HamNumQ),
           |ex AS (SELECT p.query_id, a.vec_id,
           |    row_number() OVER (PARTITION BY p.query_id
           |      ORDER BY $sq, a.vec_id) AS rn
           |  FROM q a CROSS JOIN pr p WHERE a.vec_id <> p.query_id),
           |exk AS (SELECT query_id, vec_id FROM ex WHERE rn <= $RecallK),
           |w AS (SELECT vec_id,
           |  list_reduce(list_concat([CAST(0 AS BIGINT)],
           |    list_transform(range(1, 33), i -> CASE WHEN qv[i] >= 0
           |      THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)),
           |    (a, b) -> a | b) AS wlo,
           |  list_reduce(list_concat([CAST(0 AS BIGINT)],
           |    list_transform(range(33, 65), i -> CASE WHEN qv[i] >= 0
           |      THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)),
           |    (a, b) -> a | b) AS whi
           |  FROM q),
           |pw AS (SELECT vec_id AS query_id, wlo AS plo, whi AS phi
           |  FROM w WHERE vec_id < $HamNumQ),
           |hm AS (SELECT p.query_id, w.vec_id,
           |    row_number() OVER (PARTITION BY p.query_id
           |      ORDER BY bit_count(xor(w.wlo, p.plo))
           |        + bit_count(xor(w.whi, p.phi)), w.vec_id) AS rn
           |  FROM w CROSS JOIN pw p WHERE w.vec_id <> p.query_id),
           |hmk AS (SELECT query_id, vec_id FROM hm WHERE rn <= $RecallK)
           |SELECT e.query_id, CAST($RecallK AS BIGINT) AS k,
           |  CAST(count(h.vec_id) AS BIGINT) AS n_overlap,
           |  CAST((1000000 * count(h.vec_id)) // $RecallK AS BIGINT) AS recall_ppm
           |FROM exk e LEFT JOIN hmk h USING (query_id, vec_id)
           |GROUP BY e.query_id ORDER BY e.query_id""".stripMargin
      },

      // q238: the greedy trajectory replayed relationally — a
      // recursive CTE holding ONE row per step (picked/score lists);
      // per-step argmax via lexicographic struct max over (score,
      // -vec_id), the same total order the engine's driver loop uses.
      "q238_mmr_rerank" -> {
        val qz = graft.operators.KMeans.quantizeSql("embedding")
        val dq = graft.operators.KMeans.sqDistSql("e.qv", "p.pqv", Dim)
        val dab = graft.operators.KMeans.sqDistSql("a.qv", "b.qv", Dim)
        s"""WITH RECURSIVE
           |e AS (SELECT vec_id, $qz AS qv FROM embeddings),
           |p AS (SELECT qv AS pqv FROM e WHERE vec_id = 0),
           |sq AS (SELECT e.vec_id, $dq AS rel_d, e.qv
           |  FROM e CROSS JOIN p WHERE e.vec_id <> 0),
           |cand AS (SELECT * FROM sq ORDER BY rel_d, vec_id LIMIT $MmrPool),
           |sims AS (SELECT a.vec_id AS a, b.vec_id AS b, $dab AS d
           |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
           |sel AS (
           |  SELECT 0 AS step, CAST([] AS BIGINT[]) AS picked,
           |    CAST([] AS BIGINT[]) AS scores
           |  UNION ALL
           |  SELECT step + 1, list_append(picked, -(m).nv),
           |    list_append(scores, (m).score)
           |  FROM (
           |    SELECT step, picked, scores,
           |      max(struct_pack(score := score, nv := -vec_id)) AS m
           |    FROM (
           |      SELECT s.step, s.picked, s.scores, c.vec_id,
           |        CAST(CASE WHEN len(s.picked) = 0 THEN 0
           |             ELSE $MmrDivW * min(sm.d) END
           |          - $MmrRelW * c.rel_d AS BIGINT) AS score
           |      FROM sel s
           |      JOIN cand c ON NOT list_contains(s.picked, c.vec_id)
           |      LEFT JOIN sims sm ON sm.a = c.vec_id
           |        AND list_contains(s.picked, sm.b)
           |      GROUP BY s.step, s.picked, s.scores, c.vec_id, c.rel_d
           |    ) t GROUP BY step, picked, scores
           |  ) g
           |  WHERE step < $MmrK
           |),
           |last AS (SELECT picked, scores FROM sel WHERE step = $MmrK),
           |outp AS (SELECT CAST(generate_subscripts(picked, 1) AS BIGINT)
           |    AS rank,
           |  unnest(picked) AS vec_id, unnest(scores) AS score FROM last)
           |SELECT o.rank, o.vec_id, c.rel_d, o.score
           |FROM outp o JOIN cand c USING (vec_id) ORDER BY o.rank""".stripMargin
      })
  }
}
