package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Blocking, Dedup, KMeans, TopK}
import graft.sources.{Memo, Tables}

/** Embedding-clustering extension queries (q98, q100): deterministic
  * integer k-means over the `embeddings` fixture — the clustering step
  * behind semantic-dedup cluster pruning and data-mixing domain
  * discovery — and the cluster-balanced sampling manifest built on it.
  * See [[graft.operators.KMeans]] for the exact-arithmetic design that
  * makes a two-engine differential oracle possible for an ITERATIVE
  * algorithm: every Lloyd iteration is exact integer arithmetic, so
  * the DuckDB rendering (the same iterations unrolled as CTEs) must
  * agree bit-for-bit or the hash gate fails.
  */
object ClusteringQueries {

  private val K = 8
  private val Iters = 2
  /** Fixture embedding dimensionality — used by the ORACLE renderings
    * and by q154's unrolled dot-product projection (elsewhere the
    * Spark side reads the array length per row). */
  private val Dim = 64
  /** q100: total sample budget spread over clusters ∝ size^0.5. */
  private val SampleTotal = 60
  /** q111: squared-L2 near-dup radius in the quantized (·2^20) space —
    * sits between the fixture's global 0.1 % and 1 % pair-distance
    * percentiles at every SF (measured: min pair ≈ 1.07e12, p1 ≈
    * 1.56e12), so intra-cluster neighborhoods are nontrivial without
    * flooding the output. */
  private val Theta = 1450000000000L

  /** q143 product-quantization geometry: PqM subspaces of PqDSub dims
    * (PqM·PqDSub = Dim), PqKc codes per subspace (4-bit codes — the
    * PQ4 configuration), PqIters Lloyd rounds per codebook, a fixed
    * PqNumQ-query probe slice, ADC top-PqTopK per query. */
  private val PqM = 4
  private val PqDSub = 16
  private val PqKc = 16
  private val PqIters = 2
  private val PqNumQ = 8
  private val PqTopK = 10

  /** q147: coarse lists probed per query (the FAISS nprobe knob —
    * recall/cost lever; candidates are only the probed lists'
    * members). */
  private val NProbe = 2

  /** q240: the nprobe values the query-time sweep measures (1 = the
    * cheapest single-list probe, 4 = half the K = 8 coarse lists —
    * past that the index stops paying for itself). */
  private val NProbeSweep = Seq(1, 2, 4)

  /** q151: the hard negative is the NegRank-th nearest in-cluster
    * neighbor — close enough to be informative, far enough to not be
    * a near-duplicate (the distance-rank heuristic for mining hard
    * negatives without labels). */
  private val NegRank = 10

  /** q154: how many top mean-aligned vectors to surface. */
  private val TopMean = 50

  // Five queries (q98, q100, q111, q147, q151) train the SAME coarse
  // k = 8 / Iters = 2 Lloyd fit over the embeddings fixture — the fit
  // is deterministic (content-addressed seeds, exact integer updates),
  // so the k×dim centroid array is held in Memo. On a production
  // cluster this is the "train once, publish the model" move —
  // consumers load centroids, they don't refit.
  private def coarseCents(s: SparkSession, dir: String): Array[Array[Long]] =
    Memo(s, dir, "coarseCents") {
      KMeans.fitCentroids(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", K, Iters)
    }

  /** The trained IVF-PQ MODEL (coarse centroids + the PqM residual
    * codebooks) — q147 scores with it, q158 audits its distortion.
    * The residual frame feeds 4 codebook trainings, so it is persisted
    * for the fits and released; the model itself is k·dim driver longs,
    * held like [[coarseCents]]. */
  private def ivfPqModel(s: SparkSession, dir: String)
      : (Array[Array[Long]], Seq[Array[Array[Long]]]) =
    Memo(s, dir, "ivfPqModel") {
      val coarse = coarseCents(s, dir)
      val res = pqResiduals(s, dir, coarse)
        .persist() // feeds the 4 codebook trainings
      // independent per-subspace trainings overlapped from driver
      // threads (guide §2.6; see q143) — same results, max() wall
      val cents: Seq[Array[Array[Long]]] =
        graft.operators.Concurrent.parMap((0 until PqM).toSeq) { m =>
          KMeans.fitCentroidsQuantized(
            res.select(col("vec_id"),
              expr(s"slice(rv, ${m * PqDSub + 1}, $PqDSub)").as("qv")),
            "vec_id", PqKc, PqIters)
        }
      res.unpersist()
      (coarse, cents)
    }

  /** (vec_id, coarse, rv): every vector's coarse list id + exact
    * integer residual against its coarse centroid — a zero-shuffle
    * projection (model rides as a literal). */
  private def pqResiduals(s: SparkSession, dir: String,
                          coarse: Array[Array[Long]]): DataFrame = {
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      .withColumn("coarse",
        call_function("graft_nearest", col("qv"), coarseLit).getField("c"))
      .withColumn("rv", zip_with(col("qv"),
        element_at(coarseLit, col("coarse") + 1), (a, b) => a - b))
      .select(col("vec_id"), col("coarse"), col("rv"))
  }

  /** [[pqResiduals]] plus the PqM subspace codes c0..c{PqM−1} — the
    * encoded index rows (rv retained for callers auditing the
    * reconstruction; q147 drops it). */
  private def pqResCodes(s: SparkSession, dir: String,
                         coarse: Array[Array[Long]],
                         cents: Seq[Array[Array[Long]]]): DataFrame =
    (0 until PqM).foldLeft(pqResiduals(s, dir, coarse)) { (d, m) =>
      d.withColumn(s"c$m",
        call_function("graft_nearest",
          expr(s"slice(rv, ${m * PqDSub + 1}, $PqDSub)"),
          typedLit(cents(m).map(_.toSeq).toSeq)).getField("c"))
    }

  /** Driver-side probe selection + residual ADC lookup tables for the
    * IVF-PQ model at a given `nprobe` (shared by q147 and the q240
    * sweep): per probe query, the `nprobe` nearest coarse lists by
    * exact int64 distance, and per (query, probed list) the M×Kc
    * residual-subspace distance table — Q·nprobe·M·Kc int64s riding
    * the plan as a literal (the q143 convention; this is the "LUT
    * broadcast" every ADC scorer ships to executors). Returns the
    * broadcast probes frame (query_id, coarse, probe_rank, pidx) and
    * the ADC Column to apply after the `coarse` equi-join. */
  private def ivfProbeFrame(s: SparkSession, dir: String,
                            coarse: Array[Array[Long]],
                            cents: Seq[Array[Array[Long]]],
                            nprobe: Int)
      : (DataFrame, org.apache.spark.sql.Column) = {
    import s.implicits._
    val qrows = Tables.load(s, dir, "embeddings")
      .where(col("vec_id") < PqNumQ)
      .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      .collect().sortBy(_.getLong(0))
    require(qrows.nonEmpty, s"fixture has no vec_id < $PqNumQ")
    def sq(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => val d = x - y; d * d }.sum
    val probeList: Seq[(Long, Int, Int)] = qrows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val v = r.getSeq[Long](1).toArray
      coarse.zipWithIndex.toSeq
        .map { case (cv, cid) => (sq(v, cv), cid) }
        .sorted.take(nprobe).zipWithIndex
        .map { case ((_, cid), pr) => (qid, cid, pr) }
    }
    val lut: Seq[Seq[Seq[Long]]] = probeList.map { case (qid, cid, _) =>
      val v = qrows.find(_.getLong(0) == qid).get.getSeq[Long](1).toArray
      val rvq = v.zip(coarse(cid)).map { case (a, b) => a - b }
      (0 until PqM).map { m =>
        val sub = rvq.slice(m * PqDSub, (m + 1) * PqDSub)
        cents(m).toSeq.map(cv => sq(sub, cv))
      }
    }
    val probesDf = broadcast(probeList.zipWithIndex
      .map { case ((qid, cid, pr), idx) => (qid, cid, pr, idx) }
      .toDF("query_id", "coarse", "probe_rank", "pidx"))
    val lutLit = typedLit(lut)
    val adc = (0 until PqM).map(m =>
      element_at(element_at(element_at(lutLit, col("pidx") + 1), m + 1),
        col(s"c$m") + 1)).reduce(_ + _)
    (probesDf, adc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // K-means corpus clustering: assignment + exact int64 squared-L2
    // distance under the final centroids, plus final cluster sizes.
    // Scale shape: per-iteration cost is one embarrassingly parallel
    // assignment scan (centroids broadcast as literals — no join, no
    // shuffle) plus a (cluster, dim) partial-aggregated sum whose
    // shuffle is constant-size; the size join back is a broadcast of
    // k rows.
    "q98_kmeans" -> ((s, dir) => {
      val fitted = KMeans.transform(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", coarseCents(s, dir))
      val sizes = fitted.groupBy("cluster")
        .agg(count(lit(1)).as("n_members"))
      fitted.join(broadcast(sizes), "cluster")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("dist"), col("n_members"))
        .orderBy("vec_id")
    }),

    // CLUSTER SEPARATION AUDIT (q207): a Davies–Bouldin-shaped quality
    // report for the shared coarse k-means fit — per cluster, the mean
    // within-cluster squared distance against the squared distance to
    // the NEAREST other centroid, as an exact-integer ratio (ppm). A
    // ratio near or above 10⁶ marks a cluster that bleeds into its
    // neighbor — the signal that k is too high or the space too flat,
    // read BEFORE trusting cluster-blocked dedup (q111) or
    // cluster-balanced sampling (q100). Scale shape: assignment is
    // the shared memoized model's literal-centroid projection; the
    // intra rollup is map-combinable; the centroid-to-centroid
    // nearest-neighbor table is pure driver arithmetic on the k×dim
    // model (k² tiny) shipped back as a literal frame.
    "q207_cluster_separation" -> ((s, dir) => {
      val cents = coarseCents(s, dir)
      def sq(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val nn = cents.indices.map { i =>
        (i.toLong, cents.indices.filter(_ != i)
          .map(j => sq(cents(i), cents(j))).min)
      }
      import s.implicits._
      val nnDf = nn.toDF("cluster", "nn_d2")
      KMeans.transform(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", cents)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n_members"), sum("dist").as("sd"))
        .join(broadcast(nnDf), "cluster")
        .select(col("cluster"), col("n_members"),
          expr("sd div n_members").as("avg_intra_d2"), col("nn_d2"),
          expr("(CAST(1000000 AS BIGINT) * (sd div n_members)) div nn_d2")
            .as("ratio_ppm"))
        .orderBy("cluster")
    }),

    // Cluster-balanced sampling — the data-mixing manifest over the
    // k-means domains (published recipe: cluster embeddings, then
    // sample per cluster with a temperature-rebalanced budget so small
    // clusters aren't drowned out). Composes the repo's determinism
    // techniques end-to-end: q98's exact-integer clusters, q97's
    // correctly-rounded sqrt + explicit-order normalizer fold (never a
    // partition-order float SUM), and q85's content-addressed
    // priorities (never rand()); the budget is floor((T·w)/Z) — two
    // IEEE ops in pinned order, engine-identical. Scale shape: sizes
    // and budgets are k-row aggregates (broadcast), per-cluster
    // selection streams through the custom TopKPerKey operator (k =
    // total budget bound), and the budget filter is a broadcast join.
    "q100_cluster_sample" -> ((s, dir) => {
      val fitted = KMeans.transform(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", coarseCents(s, dir))
      fitted.groupBy("cluster").agg(count(lit(1)).as("n_members"))
        .withColumn("wt", sqrt(col("n_members").cast("double")))
        .createOrReplaceTempView("cs_sizes")
      val budgets = s.sql(s"""
        |WITH z AS (
        |  SELECT aggregate(array_sort(collect_list(struct(cluster, wt))),
        |    CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.wt) AS z
        |  FROM cs_sizes)
        |SELECT /*+ BROADCAST(z) */ cluster, n_members,
        |  CAST(floor(($SampleTotal * wt) / z) AS BIGINT) AS budget
        |FROM cs_sizes CROSS JOIN z""".stripMargin)
      val pri = fitted.withColumn("u",
        conv(substring(md5(concat(lit("cs:"), col("vec_id").cast("string"))), 1, 12),
          16, 10).cast("long"))
      TopK.perKey(pri, Seq("cluster"),
          Seq("u" -> true, "vec_id" -> true), k = SampleTotal)
        .join(broadcast(budgets), "cluster")
        .where(col("rank") <= col("budget"))
        .select(col("cluster").cast("long").as("cluster"), col("vec_id"),
          col("n_members"), col("budget"), col("rank"))
        .orderBy("cluster", "rank")
    }),

    // PRODUCT QUANTIZATION + ADC top-k (q143): the memory-compression
    // path that makes billion-vector ANN feasible (Jégou, Douze &
    // Schmid, "Product Quantization for Nearest Neighbor Search",
    // TPAMI 2011 — public literature). The 64-dim embedding splits
    // into PqM = 4 subspaces; each subspace trains its own PqKc = 16
    // codebook with the SAME exact-integer Lloyd machinery as q98
    // (shared content-addressed seeds), so every vector compresses to
    // 4 codes — 4 bytes against 256 for the raw floats, the 64×
    // footprint cut that lets a 100 TB corpus's index live in cluster
    // RAM. Retrieval is Asymmetric Distance Computation: the query
    // stays exact, per-(query, subspace, code) distances precompute
    // into a Q×M×Kc lookup table (512 int64s — driver-built from the
    // SAME quantized arithmetic, riding as a plan literal), and a
    // corpus vector's approximate distance is M array lookups + 3
    // adds. Scale shape: training cost is q98's (constant-size
    // centroid shuffles); encoding is a zero-shuffle codegen'd
    // graft_nearest projection per subspace; scoring explodes each
    // corpus row to Q narrow (query, dist) rows streamed through
    // TopKPerKey — no join, no global sort, nothing corpus-sized ever
    // shuffles. Everything int64-exact end to end, so the oracle
    // (4 unrolled Lloyd chains + relational LUT joins) must agree
    // bit-for-bit: one hash certifies training, encoding, and ADC.
    "q143_pq_adc" -> ((s, dir) => {
      val embT = Tables.load(s, dir, "embeddings")
      // the PqM subspace trainings are independent deterministic Lloyd
      // chains of small driver-blocking jobs — overlapped from driver
      // threads (guide §2.6) so the executors back-fill instead of
      // idling between one chain's collects; results assemble by index,
      // bit-identical to the sequential loop
      val cents: Seq[Array[Array[Long]]] =
        graft.operators.Concurrent.parMap((0 until PqM).toSeq) { m =>
          KMeans.fitCentroids(
            embT.select(col("vec_id"),
              expr(s"slice(embedding, ${m * PqDSub + 1}, $PqDSub)").as("sub")),
            "vec_id", "sub", PqKc, PqIters)
        }
      val codes = (0 until PqM).foldLeft(
          embT.select(col("vec_id"), col("embedding"))) { (d, m) =>
        d.withColumn(s"c$m",
          call_function("graft_nearest",
            KMeans.quantize(expr(s"slice(embedding, ${m * PqDSub + 1}, $PqDSub)")),
            typedLit(cents(m).map(_.toSeq).toSeq)).getField("c"))
      }.drop("embedding")
      // fixed query slice (the q117 suite convention): quantized rows
      // collect driver-side, the ADC table becomes a plan literal
      val qrows = embT.where(col("vec_id") < PqNumQ)
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
        .collect().sortBy(_.getLong(0))
      require(qrows.nonEmpty, s"fixture has no vec_id < $PqNumQ")
      val qids = qrows.map(_.getLong(0))
      val lut: Seq[Seq[Seq[Long]]] = qrows.toSeq.map { r =>
        val qv = r.getSeq[Long](1).toArray
        (0 until PqM).map { m =>
          val sub = qv.slice(m * PqDSub, (m + 1) * PqDSub)
          cents(m).toSeq.map { cv =>
            sub.zip(cv).map { case (a, b) => val d = a - b; d * d }.sum }
        }
      }
      val lutLit = typedLit(lut)
      val scored = (0 until qids.length).map { j =>
        val adc = (0 until PqM).map(m =>
          element_at(element_at(element_at(lutLit, j + 1), m + 1),
            col(s"c$m") + 1)).reduce(_ + _)
        struct(lit(qids(j)).as("query_id"), adc.as("adc_dist"))
      }
      val exploded = codes.withColumn("s", explode(array(scored: _*)))
        .where(col("vec_id") =!= col("s.query_id"))
        .select(col("s.query_id").as("query_id"), col("vec_id"),
          col("s.adc_dist").as("adc_dist"),
          col("c0"), col("c1"), col("c2"), col("c3"))
      TopK.perKey(exploded, Seq("query_id"),
          Seq("adc_dist" -> true, "vec_id" -> true), k = PqTopK)
        .select(col("query_id"), col("vec_id"), col("adc_dist"),
          col("c0").cast("long").as("code0"), col("c1").cast("long").as("code1"),
          col("c2").cast("long").as("code2"), col("c3").cast("long").as("code3"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF-PQ (q147): the full FAISS-style billion-scale ANN
    // architecture composed from the repo's own parts — a coarse
    // quantizer (q98's k = 8 exact-integer Lloyd) partitions the
    // corpus into inverted lists; every vector stores its coarse list
    // id plus a 4-byte PQ code of its RESIDUAL (vector − coarse
    // centroid, exact int64 after quantization — residual PQ is what
    // makes small codebooks precise, the Jégou IVFADC design); a
    // query probes only its NProbe = 2 nearest lists and scores ONLY
    // their members by ADC against a per-(query, probe) residual
    // lookup table. At 100 TB this is the load-bearing shape: the
    // candidate set is |corpus|·(nprobe/k) rows reached by an
    // EQUI-JOIN on the list id (never a scan of unprobed lists —
    // partition the codes table by `coarse` and the probe join prunes
    // physically), codes are 64× smaller than raw vectors, and every
    // training/encode/score step reuses the q98/q143 machinery with
    // its constant-size shuffles. All arithmetic int64-exact; the
    // oracle re-derives coarse Lloyd + assignment + residuals + four
    // residual-subspace Lloyd chains + probes + LUT joins, so one
    // hash certifies the entire composed index.
    "q147_ivf_pq" -> ((s, dir) => {
      val (coarse, cents) = ivfPqModel(s, dir)
      val codes = pqResCodes(s, dir, coarse, cents).drop("rv")
      val (probesDf, adc) = ivfProbeFrame(s, dir, coarse, cents, NProbe)
      val scored = codes.join(probesDf, Seq("coarse"))
        .where(col("vec_id") =!= col("query_id"))
        .withColumn("adc_dist", adc)
      TopK.perKey(scored, Seq("query_id"),
          Seq("adc_dist" -> true, "vec_id" -> true), k = PqTopK)
        .select(col("query_id"), col("vec_id"),
          col("coarse").cast("long").as("coarse"), col("adc_dist"),
          col("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF NPROBE SWEEP (q240): the query-time tuning loop q147 left
    // open — q147 fixes nprobe = 2 at build; every FAISS-style
    // deployment instead SWEEPS nprobe and reads the recall-vs-cost
    // curve before picking it (the q161 move, applied to the IVF-PQ
    // index instead of the binary sketch). One row per
    // nprobe ∈ [[NProbeSweep]]: candidate rows actually scored
    // (the cost axis — |corpus|·nprobe/k by construction) and
    // recall@PqTopK of the ADC ranking against the exact int64
    // ground-truth top-k, as an exact ppm. Scale shape: per sweep
    // point the candidate set is the SAME bounded probe equi-join as
    // q147 (never a scan of unprobed lists) and the recall join
    // carries ≤ Q·k rows; the exact ground truth is a Q-probe
    // broadcast × corpus scan with an O(k) heap — the audit every ANN
    // deployment budgets for (sampled probes at production scale,
    // exactly as q161). All three sweep points share the memoized
    // model and the same codes projection; at 100 TB the codes table
    // is materialized once (partitioned by `coarse`) and each sweep
    // point prunes to its probed lists physically.
    "q240_ivf_nprobe_sweep" -> ((s, dir) => {
      val (coarse, cents) = ivfPqModel(s, dir)
      // ScopedCache (r15): the scaladoc above already states the
      // production shape — "the codes table is materialized once" —
      // but each sweep point's candidate join AND its n_candidates
      // count were re-running the encode projection (quantize +
      // 5 graft_nearest passes over the corpus; ~6 evaluations per
      // invocation). One within-query persist makes the code match
      // the claim; the frame is corpus-linear and 64× narrower than
      // the raw vectors.
      val codes = graft.operators.ScopedCache.persist("q240.codes",
        pqResCodes(s, dir, coarse, cents).drop("rv"))
      // exact ground truth: per probe, top-PqTopK by exact int64
      // squared L2 over the full corpus (q161's exact chain)
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val pr = broadcast(q.where(col("vec_id") < PqNumQ)
        .select(col("vec_id").as("query_id"), col("qv").as("pqv")))
      val ex = q.crossJoin(pr).where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          KMeans.sqDist(col("qv"), col("pqv")).as("d"))
      val exk = TopK.perKey(ex, Seq("query_id"),
          Seq("d" -> true, "vec_id" -> true), k = PqTopK)
        .select(col("query_id"), col("vec_id"))
      val denom = PqNumQ * PqTopK
      NProbeSweep.map { np =>
        val (probesDf, adc) = ivfProbeFrame(s, dir, coarse, cents, np)
        val scored = codes.join(probesDf, Seq("coarse"))
          .where(col("vec_id") =!= col("query_id"))
          .withColumn("adc_dist", adc)
        val top = TopK.perKey(scored, Seq("query_id"),
            Seq("adc_dist" -> true, "vec_id" -> true), k = PqTopK)
          .select(col("query_id"), col("vec_id"))
        val nCand = scored.agg(count(lit(1)).as("n_candidates"))
        val nOver = top.join(exk, Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("n_overlap"))
        nCand.crossJoin(nOver)
          .select(lit(np.toLong).as("nprobe"), col("n_candidates"),
            col("n_overlap"),
            expr(s"(CAST(1000000 AS BIGINT) * n_overlap) div $denom")
              .as("recall_ppm"))
      }.reduce(_.union(_)).orderBy("nprobe")
    }),

    // STREAMED k-means classification parity (q257, round 14): the
    // train-on-history / classify-the-stream deployment path
    // (StreamingIngest.classifyVectors → the transactional parquet
    // file sink) enters the hash-gated differential surface over a
    // restart-spanning run — the last streamed inference path that had
    // no CORRECTNESS row. Protocol (the q249 pattern): the model is
    // the SHARED frozen coarse fit (memoized coarseCents — trained
    // once on the full embeddings fixture, exactly what the oracle's
    // unrolled Lloyd CTEs recompute); the stream side (vec_id ≥ 250)
    // lands as two parity drops processed by two AvailableNow queries
    // sharing one checkpoint (a genuine stop/restart across the file
    // source's committed offsets). Because classification is a
    // STATELESS per-row projection under a frozen literal model with
    // exact-integer arithmetic, the streamed assignments must be
    // bit-identical to the batch q98 assignment restricted to the
    // stream side no matter how rows split across triggers — one hash
    // certifies offset tracking, the file sink's _spark_metadata
    // commit log (a replayed batch's files must stay invisible), and
    // the kernel's batch/stream parity together.
    "q257_streamed_classify_parity" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val streamSide = emb.where(col("vec_id") >= 250)
      // degenerate-fixture guard (the q251 convention): no stream side
      // → schema-matched empty result, no marker
      if (streamSide.agg(max("vec_id")).head.isNullAt(0)) {
        streamSide.select(col("vec_id"), lit(0L).as("cluster"),
          lit(0L).as("dist")).limit(0)
      } else {
      val path = StreamGuard.ensure("q257_stream_classify", dir, "v1",
          emb.select(col("vec_id"), Dedup.norm(col("embedding")))) { path =>
        val cents = coarseCents(s, dir) // frozen model: full-table fit
        StreamGuard.streamDrops(path, streamSide.where(col("vec_id") % 2 === 0),
            streamSide.where(col("vec_id") % 2 === 1)) { in =>
          graft.streaming.StreamingIngest.classifyToParquet(in, cents,
            targetPath = s"$path/out", checkpoint = s"$path/ckpt")
        }
      }
      s.read.parquet(s"$path/out")
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"),
          col("dist"))
        .orderBy("vec_id")
      }
    }),

    // Cluster-blocked semantic near-dup — the SemDeDup blocking
    // structure (cluster the embedding space, then compare only within
    // clusters), complementing the LSH-bucketed q54/q89 path: LSH
    // blocks by random hyperplanes and pays a recall tail; this blocks
    // by the learned k-means partition, so within-cluster recall is
    // exact. One row per vector: cluster, in-cluster neighbor count
    // within the exact-int64 Theta ball, and the surviving
    // representative min(self ∪ neighbors). Engine + 100 TB analysis
    // in KMeans.nearDup's scaladoc.
    "q111_cluster_semantic_dedup" -> ((s, dir) =>
      KMeans.nearDup(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", k = K, iters = Iters, theta = Theta,
          centsOpt = Some(coarseCents(s, dir)))
        .orderBy("vec_id")),

    // CONTRASTIVE TRIPLET MINING (q151): the training-pair builder for
    // embedding-model fine-tuning — per anchor, the positive is its
    // nearest in-cluster neighbor and the hard negative its
    // NegRank-th nearest (the unsupervised distance-rank recipe:
    // random negatives are too easy, rank-1 "negatives" are really
    // positives; rank ~10 in the same k-means cluster is the
    // informative band). Anchors whose capped cluster has fewer than
    // NegRank non-self members emit nothing (no triplet to mine).
    // Reuses the SemDeDup blocking machinery verbatim: q98's
    // exact-integer Lloyd assignment, the Blocking self-join capping any
    // cluster's pair expansion to cap² (each unordered pair's distance
    // computed once, then mirrored), the codegen'd exact-int64
    // sqdist kernel, and the custom TopKPerKey operator (an O(NegRank)
    // heap per anchor instead of a full per-anchor sort). Scale shape:
    // one shuffle on the cluster key for the capped self-join, one on
    // the anchor for the top-k — both bounded; centroids ride as plan
    // literals; at 100 TB k grows with the corpus so per-cluster work
    // is constant (the SemDeDup regime).
    "q151_contrastive_triplets" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val asg = KMeans.transform(emb, "vec_id", "embedding", coarseCents(s, dir))
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      val q = emb.select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val pairs = Blocking(asg.join(q, Seq("vec_id")), Seq("cluster"), "vec_id")
        .selfPairs(Blocking.Lt, multiKey = false)
        .select(col("vec_id_a").as("anchor"), col("vec_id_b").as("cand"),
          KMeans.sqDist(col("qv_a"), col("qv_b")).as("d"))
      TopK.perKey(Blocking.mirror(pairs, "anchor", "cand"), Seq("anchor"),
          Seq("d" -> true, "cand" -> true), k = NegRank)
        .where(col("rank") === 1 || col("rank") === NegRank)
        .groupBy("anchor")
        .agg(min(when(col("rank") === 1, col("cand"))).as("pos_id"),
          min(when(col("rank") === 1, col("d"))).as("pos_d"),
          min(when(col("rank") === NegRank, col("cand"))).as("neg_id"),
          min(when(col("rank") === NegRank, col("d"))).as("neg_d"))
        .where(col("neg_id").isNotNull)
        .orderBy("anchor")
    }),

    // MEAN-DIRECTION OUTLIERS (q154): embedding spaces are anisotropic
    // — a handful of directions (the "common discourse" component, Mu
    // & Viswanath 2018, "All-but-the-Top") dominate every vector and
    // wash out similarity contrast; the standard post-processing step
    // subtracts the corpus mean direction. This query surfaces the
    // TopMean vectors MOST aligned with that direction (|dot| with the
    // per-dim floor-mean) — the removal/inspection candidates. Exact
    // arithmetic end-to-end: quantized int64 components, floorDiv
    // mean, int64 dot (|qv[i]| ≤ 2^22, |mu[i]| ≤ 2^22 → 64·2^44 ≪
    // 2^63). Scale shape: the mean is ONE Dim-bounded aggregate
    // collected to a plan literal (the centroid convention); the
    // projection is an unrolled 64-term codegen'd per-row expression
    // (no join, no lambda); top-|proj| is a TakeOrdered, never a
    // global sort.
    "q154_mean_direction" -> ((s, dir) => {
      val q = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), KMeans.quantize(col("embedding")).as("qv"))
      val sums = q.select(
        (0 until Dim).map(i => sum(element_at(col("qv"), i + 1)).as(s"s$i")) :+
          count(lit(1)).as("n"): _*).collect()(0)
      val n = sums.getLong(Dim)
      require(n > 0, "embeddings fixture is empty")
      val mu = (0 until Dim).map(i => Math.floorDiv(sums.getLong(i), n))
      val proj = (0 until Dim)
        .map(i => element_at(col("qv"), i + 1) * lit(mu(i)))
        .reduce(_ + _)
      q.select(col("vec_id"), proj.as("proj"))
        .orderBy(abs(col("proj")).desc, col("vec_id"))
        .limit(TopMean)
    }),

    // PQ DISTORTION AUDIT (q158): the recall-budget gauge for the
    // q147 index — per inverted list, the exact reconstruction error
    // ‖rv − codebook(code)‖² a vector suffers when compressed to its
    // 4 subspace codes (quantization distortion is the quantity that
    // trades against memory in the Jégou IVFADC design; a list whose
    // distortion spikes needs more codebook bits or a re-train).
    // Reuses the memoized model: encode is a zero-shuffle literal
    // projection, the error an unrolled exact-int64 kernel sum, and
    // the rollup ONE map-combinable groupBy on the 8-value coarse id.
    // INT64 BOUND (documented, not guarded): sum(err) per list wraps
    // only past ~2^23 vectors·list at the fixture's ~2^40 typical
    // distortion — far beyond any per-list population here; at true
    // 100 TB list sizes, widen the mean to Decimal on both sides.
    "q158_pq_distortion" -> ((s, dir) => {
      val (coarse, cents) = ivfPqModel(s, dir)
      val codes = pqResCodes(s, dir, coarse, cents)
      val err = (0 until PqM).map { m =>
        KMeans.sqDist(expr(s"slice(rv, ${m * PqDSub + 1}, $PqDSub)"),
          element_at(typedLit(cents(m).map(_.toSeq).toSeq), col(s"c$m") + 1))
      }.reduce(_ + _)
      codes.withColumn("err", err)
        .groupBy(col("coarse").cast("long").as("coarse"))
        .agg(count(lit(1)).as("n_vectors"),
          expr("sum(err) div count(1)").as("mean_err"),
          max(col("err")).as("max_err"))
        .orderBy("coarse")
    }),

    // INCREMENTAL IVF DRIFT MONITOR (q163): a deployed ANN index
    // freezes its coarse quantizer and keeps ASSIGNING new vectors to
    // the frozen lists — retraining only when the incoming
    // distribution drifts off the lists the history shaped (the
    // FAISS operational recipe: retrain on imbalance, not on a
    // timer). History = vec_id % 5 ≠ 0 (the 80 % the index was built
    // on), new arrivals the rest; per list: both populations, each
    // side's share in exact ppm, and the |share difference| — the
    // retrain trigger. Scale shape: training reads history once
    // (memo-adjacent cost), assignment of ALL vectors is a frozen-
    // literal projection, the rollup is one k-row groupBy, totals
    // broadcast as a 1-row scalar join.
    "q163_ivf_drift" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val cents = KMeans.fitCentroids(emb.where(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", K, Iters)
      val per = KMeans.transform(emb, "vec_id", "embedding", cents)
        .groupBy(col("cluster").cast("long").as("cluster"))
        .agg(count(when(col("vec_id") % 5 =!= 0, 1)).as("n_hist"),
          count(when(col("vec_id") % 5 === 0, 1)).as("n_new"))
      val tot = per.agg(sum("n_hist").as("th"), sum("n_new").as("tn"))
      per.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_hist"), col("n_new"),
          expr("(CAST(1000000 AS BIGINT) * n_hist) div th").as("hist_share_ppm"),
          expr("(CAST(1000000 AS BIGINT) * n_new) div tn").as("new_share_ppm"),
          abs(expr("(CAST(1000000 AS BIGINT) * n_hist) div th" +
            " - (CAST(1000000 AS BIGINT) * n_new) div tn")).as("drift_ppm"))
        .orderBy("cluster")
    }),

    // DEDUP CASCADE ATTRIBUTION (q162): production dedup runs cheap
    // stages first and charges each removal to the FIRST stage that
    // caught it — the attribution that sizes every stage's budget
    // (if the exact pass catches 90 %, the semantic pass only needs
    // the remainder). Three stages over the same corpus, strictly
    // ordered: `exact` (full-text md5 equals an earlier doc), `span`
    // (shares any verbatim 8-token shingle with an earlier doc — the
    // q93 signal), `semantic` (q111's cluster-blocked near-dup keeps
    // an earlier representative; docs without an embedding row pass
    // through). One row per doc with its stage label. Scale shape:
    // each stage is one map-combinable groupBy on a hash key (text
    // md5 / shingle md5 / the capped cluster pair machinery) plus a
    // linear equi-join back — no pair lists anywhere; the cascade
    // composes three already-certified primitives and the oracle
    // re-derives all three, so one hash certifies the attribution.
    "q162_dedup_cascade" -> ((s, dir) => {
      import graft.functions.TextAnalysis
      val d = Tables.load(s, dir, "documents")
      val ex = d.select(col("doc_id"), md5(col("text")).as("h"))
      val exFlag = ex.join(ex.groupBy("h").agg(min("doc_id").as("ek")), Seq("h"))
        .select(col("doc_id"), (col("ek") < col("doc_id")).as("fe"))
      val sp = graft.operators.FanOut.byKey(d, col("doc_id"))
        .select(col("doc_id"),
          explode(Dedup.shingles(TextAnalysis.tokens(col("text")), 8)).as("span"))
        .select(col("doc_id"), md5(col("span")).as("sh"))
      val spFlag = sp.join(sp.groupBy("sh").agg(min("doc_id").as("sk")), Seq("sh"))
        .groupBy("doc_id").agg(min("sk").as("skm"))
        .select(col("doc_id"), (col("skm") < col("doc_id")).as("fs"))
      val sem = KMeans.nearDup(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", k = K, iters = Iters, theta = Theta,
          centsOpt = Some(coarseCents(s, dir)))
        .select(col("vec_id").as("doc_id"),
          (col("keep_vec_id") < col("vec_id")).as("fm"))
      exFlag.join(spFlag, Seq("doc_id"), "left")
        .join(sem, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("fe"), "exact")
            .when(coalesce(col("fs"), lit(false)), "span")
            .when(coalesce(col("fm"), lit(false)), "semantic")
            .otherwise("unique").as("stage"))
        .orderBy("doc_id")
    }))

  /** The k-means Lloyd chain as DuckDB CTEs, ending in `sf` (vec_id ×
    * centroid scored, rk = 1 is the final assignment). Shared by the
    * q98 and q100 oracles. */
  /** [[kmeansOracleCtes]] with the TRAINING source parameterized —
    * `src` must be a table name or parenthesized subquery over
    * (vec_id, embedding). `src = "embeddings"` reproduces the shared
    * chain byte-for-byte; q163 trains on the history slice only. */
  private def kmeansOracleCtesFrom(src: String): String = {
    val qv = KMeans.quantizeSql("embedding")
    def dist(a: String, b: String) = KMeans.sqDistSql(a, b, Dim)
    // One (score → assign → sum → update) block per Lloyd iteration,
    // unrolled; floor division is (s - ((s%n)+n)%n)/n — exact on the
    // exact multiple, matching Math.floorDiv.
    def step(i: Int, prev: String): String =
      s"""s$i AS (SELECT q.vec_id, $prev.cid, ${dist("q.qv", s"$prev.cv")} AS d,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dist("q.qv", s"$prev.cv")}, $prev.cid) AS rk
         |  FROM q CROSS JOIN $prev),
         |a$i AS (SELECT vec_id, cid FROM s$i WHERE rk = 1),
         |m$i AS (SELECT a$i.cid, t.i AS pos, sum(q.qv[t.i]) AS s, count(*) AS n
         |  FROM a$i JOIN q USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, $Dim + 1)) AS i) t
         |  GROUP BY 1, 2),
         |u$i AS (SELECT cid, list(CAST((s - ((s % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS cv
         |  FROM m$i GROUP BY cid),
         |c$i AS (SELECT $prev.cid, coalesce(u$i.cv, $prev.cv) AS cv
         |  FROM $prev LEFT JOIN u$i USING (cid))""".stripMargin
    val steps = (1 to Iters).map(i => step(i, s"c${i - 1}")).mkString(",\n")
    s"""WITH q AS (SELECT vec_id, $qv AS qv FROM $src),
       |seeds AS (SELECT vec_id,
       |    row_number() OVER (ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
       |  FROM $src),
       |c0 AS (SELECT cid, qv AS cv FROM seeds JOIN q USING (vec_id) WHERE cid < $K),
       |$steps,
       |sf AS (SELECT q.vec_id, c$Iters.cid, ${dist("q.qv", s"c$Iters.cv")} AS d,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${dist("q.qv", s"c$Iters.cv")}, c$Iters.cid) AS rk
       |  FROM q CROSS JOIN c$Iters)""".stripMargin
  }

  private def kmeansOracleCtes: String = kmeansOracleCtesFrom("embeddings")

  /** One subspace's unrolled Lloyd chain + code/LUT CTEs for the q143
    * oracle (CTE prefix `p{m}_`) — the [[kmeansOracleCtes]] structure
    * over the subspace slice, sharing the global `seeds` CTE (same
    * content-addressed seed rows in every subspace, exactly as the
    * engine's per-subspace fitCentroids calls). Leaves `p{m}_code`
    * (vec_id → code) and `p{m}_lut` (query_id × cid → exact int64
    * subdistance). */
  private def pqChainSql(m: Int): String =
    pqChainSqlFrom(m, {
      val lo = m * PqDSub + 1
      val hi = (m + 1) * PqDSub
      s"SELECT vec_id, ${KMeans.quantizeSql(s"(embedding[$lo:$hi])")} AS qv FROM embeddings"
    })

  /** [[pqChainSql]] over an arbitrary (vec_id, qv) source — q147
    * trains its codebooks on coarse-RESIDUAL subspaces, so the chain's
    * input is a derived integer vector, not an embedding slice. */
  private def pqChainSqlFrom(m: Int, qBody: String): String = {
    val p = s"p${m}_"
    val qv = s"($qBody)"
    def dist(a: String, b: String) = KMeans.sqDistSql(a, b, PqDSub)
    val steps = (1 to PqIters).map { i =>
      val prev = s"${p}c${i - 1}"
      s"""${p}s$i AS (SELECT q.vec_id, $prev.cid, ${dist("q.qv", s"$prev.cv")} AS d,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dist("q.qv", s"$prev.cv")}, $prev.cid) AS rk
         |  FROM ${p}q q CROSS JOIN $prev),
         |${p}a$i AS (SELECT vec_id, cid FROM ${p}s$i WHERE rk = 1),
         |${p}m$i AS (SELECT ${p}a$i.cid, t.i AS pos, sum(q.qv[t.i]) AS s, count(*) AS n
         |  FROM ${p}a$i JOIN ${p}q q USING (vec_id)
         |  CROSS JOIN (SELECT unnest(range(1, $PqDSub + 1)) AS i) t
         |  GROUP BY 1, 2),
         |${p}u$i AS (SELECT cid, list(CAST((s - ((s % n) + n) % n) / n AS BIGINT) ORDER BY pos) AS cv
         |  FROM ${p}m$i GROUP BY cid),
         |${p}c$i AS (SELECT $prev.cid, coalesce(${p}u$i.cv, $prev.cv) AS cv
         |  FROM $prev LEFT JOIN ${p}u$i USING (cid))""".stripMargin
    }.mkString(",\n")
    s"""${p}q AS (SELECT vec_id, qv FROM $qv t),
       |${p}c0 AS (SELECT cid, qv AS cv FROM seeds JOIN ${p}q USING (vec_id)
       |  WHERE cid < $PqKc),
       |$steps,
       |${p}code AS (SELECT vec_id, cid AS code FROM (
       |  SELECT q.vec_id, c.cid, row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS rk
       |  FROM ${p}q q CROSS JOIN ${p}c$PqIters c) WHERE rk = 1),
       |${p}lut AS (SELECT q.vec_id AS query_id, c.cid, ${dist("q.qv", "c.cv")} AS d
       |  FROM ${p}q q CROSS JOIN ${p}c$PqIters c WHERE q.vec_id < $PqNumQ)""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q143_pq_adc" ->
      s"""WITH seeds AS (SELECT vec_id,
         |    row_number() OVER (ORDER BY md5('km:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
         |  FROM embeddings),
         |${(0 until PqM).map(pqChainSql).mkString(",\n")},
         |adc AS (
         |  SELECT l0.query_id, c0.vec_id, l0.d + l1.d + l2.d + l3.d AS adc_dist,
         |    CAST(c0.code AS BIGINT) AS code0, CAST(c1.code AS BIGINT) AS code1,
         |    CAST(c2.code AS BIGINT) AS code2, CAST(c3.code AS BIGINT) AS code3
         |  FROM p0_code c0
         |  JOIN p1_code c1 USING (vec_id) JOIN p2_code c2 USING (vec_id)
         |  JOIN p3_code c3 USING (vec_id)
         |  JOIN p0_lut l0 ON l0.cid = c0.code
         |  JOIN p1_lut l1 ON l1.cid = c1.code AND l1.query_id = l0.query_id
         |  JOIN p2_lut l2 ON l2.cid = c2.code AND l2.query_id = l0.query_id
         |  JOIN p3_lut l3 ON l3.cid = c3.code AND l3.query_id = l0.query_id
         |  WHERE c0.vec_id <> l0.query_id),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, vec_id) AS rank FROM adc)
         |SELECT query_id, vec_id, adc_dist, code0, code1, code2, code3, rank
         |FROM rk WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin,

    "q147_ivf_pq" -> {
      val cI = s"c$Iters"
      def dist(a: String, b: String) = KMeans.sqDistSql(a, b, Dim)
      val resChains = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        pqChainSqlFrom(m, s"SELECT vec_id, rv[$lo:$hi] AS qv FROM res")
      }.mkString(",\n")
      val luts = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        s"""lut$m AS (SELECT rq.query_id, rq.probe_rank, cc.cid,
           |    ${KMeans.sqDistSql(s"(rq.rv[$lo:$hi])", "cc.cv", PqDSub)} AS d
           |  FROM rq CROSS JOIN p${m}_$cI cc)""".stripMargin
      }.mkString(",\n")
      val lutJoins = (0 until PqM).map(m =>
        s"""JOIN lut$m l$m ON l$m.query_id = cand.query_id
           |    AND l$m.probe_rank = cand.probe_rank AND l$m.cid = cand.code$m"""
          .stripMargin).mkString("\n|  ")
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid FROM sf WHERE rk = 1),
         |res AS MATERIALIZED (SELECT q.vec_id, a.cid AS coarse,
         |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM q JOIN casg a USING (vec_id) JOIN $cI c ON c.cid = a.cid),
         |$resChains,
         |codes AS MATERIALIZED (SELECT r.vec_id, r.coarse,
         |    c0c.code AS code0, c1c.code AS code1, c2c.code AS code2,
         |    c3c.code AS code3
         |  FROM res r JOIN p0_code c0c USING (vec_id)
         |  JOIN p1_code c1c USING (vec_id) JOIN p2_code c2c USING (vec_id)
         |  JOIN p3_code c3c USING (vec_id)),
         |probes AS (SELECT query_id, cid AS coarse, pr - 1 AS probe_rank FROM (
         |  SELECT q.vec_id AS query_id, c.cid, row_number() OVER (
         |      PARTITION BY q.vec_id ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS pr
         |  FROM q CROSS JOIN $cI c WHERE q.vec_id < $PqNumQ)
         |  WHERE pr <= $NProbe),
         |rq AS (SELECT p.query_id, p.probe_rank, p.coarse,
         |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM probes p JOIN q ON q.vec_id = p.query_id
         |  JOIN $cI c ON c.cid = p.coarse),
         |$luts,
         |cand AS (SELECT p.query_id, cd.vec_id, cd.coarse, p.probe_rank,
         |    cd.code0, cd.code1, cd.code2, cd.code3
         |  FROM codes cd JOIN probes p ON p.coarse = cd.coarse
         |  WHERE cd.vec_id <> p.query_id),
         |adc AS (SELECT cand.query_id, cand.vec_id, cand.coarse,
         |    l0.d + l1.d + l2.d + l3.d AS adc_dist
         |  FROM cand
         |  $lutJoins),
         |rkd AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, vec_id) AS rank FROM adc)
         |SELECT query_id, vec_id, CAST(coarse AS BIGINT) AS coarse,
         |  adc_dist, rank
         |FROM rkd WHERE rank <= $PqTopK ORDER BY query_id, rank""".stripMargin
    },

    // q240: the q147 oracle scaffold (coarse Lloyd → residuals → four
    // residual-subspace Lloyd chains → codes) with probes widened to
    // the sweep's max nprobe, then per sweep point a probe-rank-
    // filtered candidate/ADC/top-k chain joined against the exact
    // int64 ground-truth top-k. One hash certifies the whole
    // recall-vs-cost curve.
    "q240_ivf_nprobe_sweep" -> {
      val cI = s"c$Iters"
      def dist(a: String, b: String) = KMeans.sqDistSql(a, b, Dim)
      val maxP = NProbeSweep.max
      val denom = PqNumQ * PqTopK
      val resChains = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        pqChainSqlFrom(m, s"SELECT vec_id, rv[$lo:$hi] AS qv FROM res")
      }.mkString(",\n")
      val luts = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        s"""lut$m AS (SELECT rq.query_id, rq.probe_rank, cc.cid,
           |    ${KMeans.sqDistSql(s"(rq.rv[$lo:$hi])", "cc.cv", PqDSub)} AS d
           |  FROM rq CROSS JOIN p${m}_$cI cc)""".stripMargin
      }.mkString(",\n")
      val lutJoins = (0 until PqM).map(m =>
        s"""JOIN lut$m l$m ON l$m.query_id = cand.query_id
           |    AND l$m.probe_rank = cand.probe_rank AND l$m.cid = cand.code$m"""
          .stripMargin).mkString("\n|  ")
      val npBlocks = NProbeSweep.map { np =>
        s"""np${np}_cand AS (SELECT p.query_id, cd.vec_id, p.probe_rank,
           |    cd.code0, cd.code1, cd.code2, cd.code3
           |  FROM codes cd JOIN probes p ON p.coarse = cd.coarse
           |  WHERE p.probe_rank < $np AND cd.vec_id <> p.query_id),
           |np${np}_adc AS (SELECT cand.query_id, cand.vec_id,
           |    l0.d + l1.d + l2.d + l3.d AS adc_dist
           |  FROM np${np}_cand cand
           |  $lutJoins),
           |np${np}_top AS (SELECT query_id, vec_id FROM (
           |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY adc_dist, vec_id) AS rank FROM np${np}_adc)
           |  WHERE rank <= $PqTopK),
           |np${np}_row AS (SELECT CAST($np AS BIGINT) AS nprobe,
           |  (SELECT CAST(count(*) AS BIGINT) FROM np${np}_cand) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM np${np}_top t
           |     JOIN exact e ON e.query_id = t.query_id AND e.vec_id = t.vec_id)
           |    AS n_overlap)""".stripMargin
      }.mkString(",\n")
      val unionRows = NProbeSweep
        .map(np => s"SELECT * FROM np${np}_row").mkString(" UNION ALL ")
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid FROM sf WHERE rk = 1),
         |res AS MATERIALIZED (SELECT q.vec_id, a.cid AS coarse,
         |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM q JOIN casg a USING (vec_id) JOIN $cI c ON c.cid = a.cid),
         |$resChains,
         |codes AS MATERIALIZED (SELECT r.vec_id, r.coarse,
         |    c0c.code AS code0, c1c.code AS code1, c2c.code AS code2,
         |    c3c.code AS code3
         |  FROM res r JOIN p0_code c0c USING (vec_id)
         |  JOIN p1_code c1c USING (vec_id) JOIN p2_code c2c USING (vec_id)
         |  JOIN p3_code c3c USING (vec_id)),
         |probes AS (SELECT query_id, cid AS coarse, pr - 1 AS probe_rank FROM (
         |  SELECT q.vec_id AS query_id, c.cid, row_number() OVER (
         |      PARTITION BY q.vec_id ORDER BY ${dist("q.qv", "c.cv")}, c.cid) AS pr
         |  FROM q CROSS JOIN $cI c WHERE q.vec_id < $PqNumQ)
         |  WHERE pr <= $maxP),
         |rq AS (SELECT p.query_id, p.probe_rank, p.coarse,
         |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM probes p JOIN q ON q.vec_id = p.query_id
         |  JOIN $cI c ON c.cid = p.coarse),
         |$luts,
         |exact AS (SELECT query_id, vec_id FROM (
         |  SELECT p.vec_id AS query_id, t.vec_id, row_number() OVER (
         |      PARTITION BY p.vec_id ORDER BY ${dist("t.qv", "p.qv")}, t.vec_id) AS rk
         |  FROM q t CROSS JOIN q p
         |  WHERE p.vec_id < $PqNumQ AND t.vec_id <> p.vec_id)
         |  WHERE rk <= $PqTopK),
         |$npBlocks
         |SELECT nprobe, n_candidates, n_overlap,
         |  CAST((1000000 * n_overlap) // $denom AS BIGINT) AS recall_ppm
         |FROM ($unionRows)
         |ORDER BY nprobe""".stripMargin
    },

    "q98_kmeans" ->
      s"""$kmeansOracleCtes
         |SELECT vec_id, cid AS cluster, d AS dist,
         |  count(*) OVER (PARTITION BY cid) AS n_members
         |FROM sf WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // q257: the q98 Lloyd chain's final assignment restricted to the
    // stream side — batch-order-free, so any lost/duplicated/reordered
    // micro-batch row (or a replayed file surviving the sink manifest)
    // moves a row and mismatches.
    "q257_streamed_classify_parity" ->
      s"""$kmeansOracleCtes
         |SELECT vec_id, cid AS cluster, d AS dist
         |FROM sf WHERE rk = 1 AND vec_id >= 250 ORDER BY vec_id""".stripMargin,

    // q207: the same Lloyd chain; centroid-pair distances from the
    // final centroid CTE; same integer ratio.
    "q207_cluster_separation" ->
      s"""$kmeansOracleCtes,
         |intra AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(sum(d) AS BIGINT) AS sd FROM sf WHERE rk = 1 GROUP BY 1),
         |cc AS (SELECT a.cid,
         |  CAST(min(${KMeans.sqDistSql("a.cv", "b.cv", Dim)}) AS BIGINT)
         |    AS nn_d2
         |  FROM c$Iters a JOIN c$Iters b ON b.cid <> a.cid GROUP BY 1)
         |SELECT CAST(intra.cid AS BIGINT) AS cluster, intra.n_members,
         |  CAST(intra.sd // intra.n_members AS BIGINT) AS avg_intra_d2,
         |  cc.nn_d2,
         |  CAST((1000000 * (intra.sd // intra.n_members)) // cc.nn_d2
         |    AS BIGINT) AS ratio_ppm
         |FROM intra JOIN cc USING (cid) ORDER BY cluster""".stripMargin,

    // q100: the same pinned-order float discipline as the q97 oracle —
    // sqrt is correctly rounded, the normalizer is an explicit
    // cluster-order list fold, the budget is floor((T·w)/Z) with the
    // identical association order as the Spark side.
    "q100_cluster_sample" ->
      s"""$kmeansOracleCtes,
         |asg AS (SELECT vec_id, cid AS cluster FROM sf WHERE rk = 1),
         |sizes AS (SELECT cluster, count(*) AS n_members,
         |    sqrt(CAST(count(*) AS DOUBLE)) AS wt
         |  FROM asg GROUP BY cluster),
         |z AS (SELECT list_reduce(
         |    list_concat([CAST(0 AS DOUBLE)], list(wt ORDER BY cluster)),
         |    (acc, x) -> acc + x) AS z FROM sizes),
         |b AS (SELECT cluster, n_members,
         |    CAST(floor(($SampleTotal * wt) / z.z) AS BIGINT) AS budget
         |  FROM sizes CROSS JOIN z),
         |pri AS (SELECT asg.vec_id, asg.cluster,
         |    CAST('0x' || substr(md5('cs:' || CAST(vec_id AS VARCHAR)), 1, 12) AS BIGINT) AS u
         |  FROM asg),
         |ranked AS (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster ORDER BY u, vec_id) AS rank
         |  FROM pri)
         |SELECT ranked.cluster, vec_id, b.n_members, b.budget, rank
         |FROM ranked JOIN b USING (cluster)
         |WHERE rank <= b.budget
         |ORDER BY cluster, rank""".stripMargin,

    // q111: the Lloyd chain's final assignment, capped per cluster
    // exactly as Blocking.cap does (row_number over vec_id), then
    // the within-cluster pair filter under the identical exact-int64
    // squared-L2 — the cap and the distance are both mirrored, so the
    // contract is two-sided. mcap is AS MATERIALIZED: it feeds both
    // sides of the self-join, and DuckDB's default inlining would
    // re-derive the whole k-means chain per reference.
    "q111_cluster_semantic_dedup" ->
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM sf WHERE rk = 1),
         |mcap AS MATERIALIZED (SELECT vec_id, cluster, qv FROM (
         |  SELECT a.vec_id, a.cluster, q.qv,
         |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS crk
         |  FROM casg a JOIN q USING (vec_id)) WHERE crk <= ${graft.operators.Dedup.MaxBucket}),
         |nbr AS (SELECT a.vec_id, count(*) AS n_near, min(b.vec_id) AS mn
         |  FROM mcap a JOIN mcap b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
         |  WHERE ${KMeans.sqDistSql("a.qv", "b.qv", Dim)} <= $Theta
         |  GROUP BY 1)
         |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
         |  coalesce(n.n_near, CAST(0 AS BIGINT)) AS n_near,
         |  least(coalesce(n.mn, a.vec_id), a.vec_id) AS keep_vec_id
         |FROM casg a LEFT JOIN nbr n ON n.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // q151: q111's casg/mcap cap mirror, then the within-cluster pair
    // ranking as a row_number window (the TopKPerKey twin) pivoted to
    // (pos = rn 1, neg = rn NegRank); HAVING max(rn) = NegRank is the
    // engine's neg_id IS NOT NULL gate.
    "q151_contrastive_triplets" ->
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM sf WHERE rk = 1),
         |mcap AS MATERIALIZED (SELECT vec_id, cluster, qv FROM (
         |  SELECT a.vec_id, a.cluster, q.qv,
         |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS crk
         |  FROM casg a JOIN q USING (vec_id)) WHERE crk <= ${graft.operators.Dedup.MaxBucket}),
         |prs AS (SELECT a.vec_id AS anchor, b.vec_id AS cand,
         |    ${KMeans.sqDistSql("a.qv", "b.qv", Dim)} AS d,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${KMeans.sqDistSql("a.qv", "b.qv", Dim)}, b.vec_id) AS rn
         |  FROM mcap a JOIN mcap b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id)
         |SELECT anchor,
         |  min(CASE WHEN rn = 1 THEN cand END) AS pos_id,
         |  min(CASE WHEN rn = 1 THEN d END) AS pos_d,
         |  min(CASE WHEN rn = $NegRank THEN cand END) AS neg_id,
         |  min(CASE WHEN rn = $NegRank THEN d END) AS neg_d
         |FROM prs WHERE rn <= $NegRank
         |GROUP BY anchor HAVING max(rn) = $NegRank
         |ORDER BY anchor""".stripMargin,

    // q154: per-dim sums via the range-unnest trick (the m{i} CTE
    // shape), floorDiv mean, exact dot re-derived per vector; sum()
    // widens to HUGEINT in DuckDB so both the mean numerator and the
    // projection cast back to BIGINT (values ≪ 2^63 by the engine's
    // documented bound).
    "q154_mean_direction" ->
      s"""WITH q AS (SELECT vec_id, ${KMeans.quantizeSql("embedding")} AS qv
         |  FROM embeddings),
         |ms AS (SELECT t.i AS pos, sum(q.qv[t.i]) AS s, count(*) AS n
         |  FROM q CROSS JOIN (SELECT unnest(range(1, $Dim + 1)) AS i) t
         |  GROUP BY 1),
         |mv AS (SELECT pos, CAST((s - ((s % n) + n) % n) / n AS BIGINT) AS mu
         |  FROM ms),
         |p AS (SELECT q.vec_id, CAST(sum(q.qv[mv.pos] * mv.mu) AS BIGINT) AS proj
         |  FROM q CROSS JOIN mv GROUP BY 1)
         |SELECT vec_id, proj FROM p
         |ORDER BY abs(proj) DESC, vec_id LIMIT $TopMean""".stripMargin,

    // q158: q147's coarse/residual/codebook CTEs, then the per-vector
    // reconstruction error against the assigned codebook rows and the
    // per-list rollup (sum widens to HUGEINT in DuckDB; // floors like
    // the engine's div on the non-negative error).
    "q158_pq_distortion" -> {
      val cI = s"c$Iters"
      val resChains = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        pqChainSqlFrom(m, s"SELECT vec_id, rv[$lo:$hi] AS qv FROM res")
      }.mkString(",\n")
      val errJoins = (0 until PqM).map(m =>
        s"JOIN p${m}_c$PqIters pc$m ON pc$m.cid = cd.code$m").mkString("\n|  ")
      val errSum = (0 until PqM).map { m =>
        val lo = m * PqDSub + 1
        val hi = (m + 1) * PqDSub
        KMeans.sqDistSql(s"(r.rv[$lo:$hi])", s"pc$m.cv", PqDSub)
      }.mkString(" + ")
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid FROM sf WHERE rk = 1),
         |res AS MATERIALIZED (SELECT q.vec_id, a.cid AS coarse,
         |    list_transform(range(1, ${Dim + 1}), i -> q.qv[i] - c.cv[i]) AS rv
         |  FROM q JOIN casg a USING (vec_id) JOIN $cI c ON c.cid = a.cid),
         |$resChains,
         |codes AS MATERIALIZED (SELECT r.vec_id,
         |    c0c.code AS code0, c1c.code AS code1, c2c.code AS code2,
         |    c3c.code AS code3
         |  FROM res r JOIN p0_code c0c USING (vec_id)
         |  JOIN p1_code c1c USING (vec_id) JOIN p2_code c2c USING (vec_id)
         |  JOIN p3_code c3c USING (vec_id)),
         |e AS (SELECT r.coarse, $errSum AS err
         |  FROM codes cd JOIN res r USING (vec_id)
         |  $errJoins)
         |SELECT CAST(coarse AS BIGINT) AS coarse,
         |  CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(sum(err) // count(*) AS BIGINT) AS mean_err,
         |  max(err) AS max_err
         |FROM e GROUP BY 1 ORDER BY coarse""".stripMargin
    },

    // q163: the Lloyd chain trained on the history slice only, then a
    // fresh assignment CTE over ALL vectors against the frozen final
    // centroids; shares and drift as exact integer ppm.
    "q163_ivf_drift" -> {
      val dist = KMeans.sqDistSql("qa.qv", s"c$Iters.cv", Dim)
      s"""${kmeansOracleCtesFrom("(SELECT * FROM embeddings WHERE vec_id % 5 <> 0)")},
         |qall AS (SELECT vec_id, ${KMeans.quantizeSql("embedding")} AS qv
         |  FROM embeddings),
         |asg AS (SELECT vec_id, cid AS cluster FROM (
         |  SELECT qa.vec_id, c$Iters.cid,
         |    row_number() OVER (PARTITION BY qa.vec_id
         |      ORDER BY $dist, c$Iters.cid) AS rk
         |  FROM qall qa CROSS JOIN c$Iters) WHERE rk = 1),
         |per AS (SELECT CAST(cluster AS BIGINT) AS cluster,
         |    CAST(count(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS BIGINT) AS n_hist,
         |    CAST(count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS BIGINT) AS n_new
         |  FROM asg GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_hist) AS BIGINT) AS th,
         |    CAST(sum(n_new) AS BIGINT) AS tn FROM per)
         |SELECT cluster, n_hist, n_new,
         |  CAST((1000000 * n_hist) // th AS BIGINT) AS hist_share_ppm,
         |  CAST((1000000 * n_new) // tn AS BIGINT) AS new_share_ppm,
         |  abs(CAST((1000000 * n_hist) // th AS BIGINT)
         |    - CAST((1000000 * n_new) // tn AS BIGINT)) AS drift_ppm
         |FROM per CROSS JOIN tot ORDER BY cluster""".stripMargin
    },

    // q162: exact/span stages as plain hash-group CTEs; the semantic
    // stage is q111's casg/mcap/nbr chain reduced to the keeper flag.
    "q162_dedup_cascade" ->
      s"""$kmeansOracleCtes,
         |casg AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM sf WHERE rk = 1),
         |mcap AS MATERIALIZED (SELECT vec_id, cluster, qv FROM (
         |  SELECT a.vec_id, a.cluster, q.qv,
         |    row_number() OVER (PARTITION BY a.cluster ORDER BY a.vec_id) AS crk
         |  FROM casg a JOIN q USING (vec_id)) WHERE crk <= ${graft.operators.Dedup.MaxBucket}),
         |nbr AS (SELECT a.vec_id, min(b.vec_id) AS mn
         |  FROM mcap a JOIN mcap b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id
         |  WHERE ${KMeans.sqDistSql("a.qv", "b.qv", Dim)} <= $Theta
         |  GROUP BY 1),
         |sem AS (SELECT a.vec_id,
         |    (least(coalesce(n.mn, a.vec_id), a.vec_id) < a.vec_id) AS fm
         |  FROM casg a LEFT JOIN nbr n ON n.vec_id = a.vec_id),
         |ex AS (SELECT doc_id, md5(text) AS h FROM documents),
         |ek AS (SELECT h, min(doc_id) AS ek FROM ex GROUP BY 1),
         |fe AS (SELECT doc_id, (ek < doc_id) AS fe FROM ex JOIN ek USING (h)),
         |sp AS (SELECT doc_id, md5(span) AS sh FROM (
         |  SELECT doc_id, unnest(${graft.operators.Dedup.shinglesSql(
               graft.functions.TextAnalysis.tokensSql("text"), 8)}) AS span
         |  FROM documents)),
         |spk AS (SELECT sh, min(doc_id) AS sk FROM sp GROUP BY 1),
         |fs AS (SELECT doc_id, (min(sk) < doc_id) AS fs
         |  FROM sp JOIN spk USING (sh) GROUP BY doc_id)
         |SELECT fe.doc_id,
         |  CASE WHEN fe.fe THEN 'exact'
         |       WHEN coalesce(fs.fs, false) THEN 'span'
         |       WHEN coalesce(sem.fm, false) THEN 'semantic'
         |       ELSE 'unique' END AS stage
         |FROM fe LEFT JOIN fs USING (doc_id)
         |LEFT JOIN sem ON sem.vec_id = fe.doc_id
         |ORDER BY fe.doc_id""".stripMargin)
}
