package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor primitives over an embedding column
  * (builder-prompt extension surface): brute-force cosine top-k as the
  * exactness baseline, and random-hyperplane LSH bucketing as the scale
  * path — at 100 TB the bucket key turns the all-pairs cross join into
  * one hash shuffle on the bucket key.
  *
  * The embedding near-dup family runs on two operators that share one
  * bucketing (one row per vector and plane table), one probe list
  * ([[hammingProbes]]) and one capped [[Blocking]] probe join, and
  * verify every candidate by exact cosine: [[nearDupPairs]] within one
  * set (q54, q88, q89), and [[historyMatches]] of a batch against a
  * [[historyIndex]] (q90, q92, the streamed admission behind q249).
  * Their scale levers
  * are parameters, not constants: `numPlanes` grows the bucket space
  * with the corpus (b planes → 2^b buckets), `numTables` independent
  * plane tables (distinct seeds, see [[tableSeed]]) trade cost for
  * recall the standard multi-table way, and `cap` bounds each bucket.
  *
  * Hyperplanes are deterministic (fixed LCG seed) small-integer vectors
  * embedded as literals in BOTH the Spark plan and the DuckDB oracle, so
  * the sign tests agree bit-for-bit (the underlying dot product uses
  * Dedup.dotProduct's pinned fold order).
  */
object Similarity {

  val Dim = 64
  val NumPlanes = 8
  val DefaultSeed = 20240101L

  /** Seed of the t-th independent hash table (t = 0 is the default
    * table). Consecutive seeds are fine for this LCG: the first step
    * multiplies by ~1.1e9 mod 2^31, so nearby seeds diverge
    * immediately. */
  def tableSeed(t: Int): Long = DefaultSeed + t

  /** Plane count sized to the corpus: the smallest b ≥ [[NumPlanes]]
    * with 2^b buckets ≥ n / targetOccupancy, i.e. mean bucket occupancy
    * at most `targetOccupancy`. This is the documented 100 TB lever
    * made executable — candidate volume per probe row is
    * O(probes · occupancy), so holding occupancy constant keeps the
    * bucket join linear in n as the corpus grows (the per-bucket `cap`
    * then only guards adversarial skew, not mean growth). Capped at
    * 30 planes — bucket ids are Int, and 2^30 buckets at occupancy 100
    * already addresses ~10^11 vectors. Fixture scale stays at the
    * 8-plane default; 10⁹ vectors at occupancy 100 → 24 planes. */
  def planesForCorpus(n: Long, targetOccupancy: Int = 100): Int = {
    require(targetOccupancy > 0, "targetOccupancy must be positive")
    val buckets = math.max(1L, (n + targetOccupancy - 1) / targetOccupancy)
    val b = 64 - java.lang.Long.numberOfLeadingZeros(buckets - 1) // ceil log2
    math.min(30, math.max(NumPlanes, b))
  }

  /** Deterministic pseudo-random hyperplanes: components in [-5, 5]
    * from a 31-bit LCG. Same (n, seed) → same planes in every JVM and
    * in the oracle rendering. */
  def planesFor(n: Int, seed: Long = DefaultSeed): Seq[Seq[Int]] = {
    var x = seed
    def next(): Long = { x = (x * 1103515245L + 12345L) % 2147483648L; x }
    Seq.fill(n)(Seq.fill(Dim)((next() % 11).toInt - 5))
  }

  /** The default 8-plane table (seed 20240101) — generation is
    * sequential, so these are the first 8 planes of any larger table
    * with the same seed. */
  val planes: Seq[Seq[Int]] = planesFor(NumPlanes)

  /** Upper bound of the adaptive plane count ([[planesForCorpus]]'s
    * cap): adaptive oracle renderings embed this many plane literals
    * per table and gate each bit on `i < b`. */
  val MaxPlanes = 30

  /** DuckDB scalar mirroring [[planesForCorpus]](count of `tbl`):
    * buckets = ceil(n / occupancy), b = clamp(ceil_log2(buckets),
    * [NumPlanes, MaxPlanes]) — all integer ops (`<<` comparison
    * instead of a float log2, whose rounding near powers of two would
    * be an engine/oracle divergence waiting to happen). */
  def planesForCorpusSql(tbl: String = "embeddings",
                         targetOccupancy: Int = 100): String =
    s"""least($MaxPlanes, greatest($NumPlanes, coalesce(
       |  (SELECT min(i) FROM generate_series(0, $MaxPlanes) t(i)
       |   WHERE (CAST(1 AS BIGINT) << i) >=
       |     (SELECT (count(*) + ${targetOccupancy - 1}) // $targetOccupancy
       |      FROM $tbl)), $MaxPlanes)))""".stripMargin

  // float literals: graft_dot takes array<float>; the small-int
  // components are exact in float, so values match the SQL rendering's
  // CAST(c AS DOUBLE).
  private def planeLit(p: Seq[Int]): Column = array(p.map(c => lit(c.toFloat)): _*)

  private def planeLitSql(p: Seq[Int]): String =
    p.map(c => s"CAST($c AS DOUBLE)").mkString("[", ", ", "]")

  /** LSH bucket over an explicit plane table: bit p set iff
    * dot(v, plane_p) > 0. */
  def bucketFor(v: Column, ps: Seq[Seq[Int]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      when(Dedup.dotProduct(v, planeLit(p)) > 0.0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  def bucketForSql(vE: String, ps: Seq[Seq[Int]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN ${Dedup.dotProductSql(vE, planeLitSql(p))} > 0.0 THEN ${1 << i} ELSE 0 END)"
    }.mkString(" + ")

  /** Adaptive-width bucket rendering: all [[MaxPlanes]] plane literals
    * of `seed`'s table, each bit gated on `i < bE` (a scalar column
    * holding [[planesForCorpusSql]]'s value). The outer CASE evaluates
    * its THEN branch lazily, so planes past `b` cost no dot products.
    * Bit-identical to [[bucketForSql]] over planesFor(b, seed) for any
    * b ≤ MaxPlanes — the LCG generates planes sequentially, so a wider
    * table's prefix IS the narrower table. */
  def bucketForSqlAdaptive(vE: String, bE: String, seed: Long = DefaultSeed): String =
    planesFor(MaxPlanes, seed).zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN $i < $bE THEN (CASE WHEN ${Dedup.dotProductSql(vE, planeLitSql(p))} > 0.0 THEN ${1 << i} ELSE 0 END) ELSE 0 END)"
    }.mkString(" + ")

  /** Default-table 8-bit bucket (the q56/q66 surface). */
  def bucket(v: Column): Column = bucketFor(v, planes)

  def bucketSql(vE: String): String = bucketForSql(vE, planes)

  /** cosine(a, b) given precomputed norms — one IEEE division of
    * identical operands in both engines. */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    Dedup.dotProduct(a, b) / (normA * normB)

  /** Hamming-≤1 probe keys of a `numPlanes`-bit bucket: the bucket
    * itself, then one key per plane with that bit flipped. Exploding
    * them and equi-joining probe = bucket finds every pair whose
    * buckets differ in at most one bit with one hash join on the key,
    * never a cross join. */
  def hammingProbes(bucket: Column, numPlanes: Int = NumPlanes): Column =
    array(bucket +: (0 until numPlanes).map(i => bucket.bitwiseXOR(lit(1 << i))): _*)

  /** One (vec_id, embedding, nrm, t, bucket) row per vector and table;
    * table t buckets over planesFor(numPlanes, tableSeed(t)), so table 0
    * is the default-seed table. The vector and its norm ride the row,
    * so the verify after the probe join fetches nothing. */
  private def tableBuckets(emb: DataFrame, numTables: Int,
                           numPlanes: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        Dedup.norm(col("embedding")).as("nrm"),
        explode(array((0 until numTables).map(t => struct(lit(t).as("t"),
          bucketFor(col("embedding"), planesFor(numPlanes, tableSeed(t))).as("bucket"))): _*))
          .as("tb"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("tb.t").as("t"),
        col("tb.bucket").as("bucket"))

  /** Every bucket row once per [[hammingProbes]] key, the key in
    * `bucket`: the probe side of the join against capped buckets. */
  private def probes(buckets: DataFrame, numPlanes: Int): DataFrame =
    buckets.withColumn("bucket", explode(hammingProbes(col("bucket"), numPlanes)))

  /** Bucket rows capped per (t, bucket): the build side of the probe
    * join. */
  private def blocks(buckets: DataFrame, cap: Int): Blocking.Blocks =
    Blocking(buckets, Seq("t", "bucket"), "vec_id", cap)

  /** `probe` joined to the capped `blocks` under `order`, verified by
    * exact cosine (a's vector first, as in the oracle renderings):
    * (vec_id_a, vec_id_b, cosine). A pair meets once per table at most,
    * so only a multi-table join needs the DISTINCT. */
  private def matches(blocks: Blocking.Blocks, probe: DataFrame, order: Blocking.Order,
                      numTables: Int, minCosine: Double): DataFrame =
    blocks.pairs(probe, order, multiKey = numTables > 1)
      .select(col("vec_id_a"), col("vec_id_b"), cosine(col("embedding_a"),
        col("embedding_b"), col("nrm_a"), col("nrm_b")).as("cosine"))
      .where(col("cosine") >= minCosine)

  /** Embedding near-dup pairs within one set (q54, q88, q89):
    * candidates are pairs whose `numPlanes`-bit buckets differ in at
    * most ONE bit in ANY of `numTables` independent plane tables
    * ([[tableSeed]]); survivors get an EXACT cosine verify ≥
    * `minCosine` with the codegen'd graft_dot kernel (the DuckDB
    * oracle's left-to-right fold). Output (vec_a, vec_b, cosine) with
    * vec_a < vec_b, unordered — callers sort.
    *
    * Scale shape: a [[Blocking]] probe join keyed on (t, bucket), the
    * build side capped per key by `cap` (smallest vec_ids kept; a
    * probe-side cap would also bound it but loses pairs the build cap
    * keeps), so candidate volume is ≤ numTables · (numPlanes+1) · cap · n
    * — LINEAR in corpus size even when every vector collides in one
    * bucket (ScaleSpec pins C(cap,2) output on an identical-vector
    * corpus, invariant in n).
    *
    * Recall < 1 by design — the contract (and the oracle) is "pairs
    * whose buckets collide within Hamming 1 in some table, capped".
    * Equal vectors share a bucket by construction, so TRUE duplicates
    * below the cap are kept with recall 1.0 (ExtensionsSpec). The
    * three levers are parameters: `numTables` trades cost for recall
    * on the weak tail (per-table retention r lifts to
    * 1-(1-r)^numTables: 0.154 → 0.423 at cos 0.4 over 3×8 planes on
    * the sf0.1 fixture, zero false positives), `numPlanes` grows the
    * bucket space with the corpus ([[planesForCorpus]]), `cap` bounds
    * adversarial buckets. */
  def nearDupPairs(emb: DataFrame, minCosine: Double, numTables: Int = 1,
                   numPlanes: Int = NumPlanes,
                   cap: Int = Dedup.MaxBucket): DataFrame = {
    val buckets = tableBuckets(emb, numTables, numPlanes)
    matches(blocks(buckets, cap), probes(buckets, numPlanes), Blocking.Lt, numTables,
        minCosine)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cosine"))
  }

  /** The persistent side of [[historyMatches]]: the history's
    * (vec_id, embedding, nrm, t, bucket) rows capped per (t, bucket),
    * vectors riding the rows. [[cache]] pins them for a caller that
    * probes many batches. */
  final case class HistoryIndex(blocks: Blocking.Blocks, numTables: Int,
                                numPlanes: Int) {
    def cache(): HistoryIndex = { blocks.rows.cache(); this }
  }

  /** Buckets `history` (vec_id, embedding) once per table and caps each
    * (t, bucket) at `cap` smallest vec_ids. */
  def historyIndex(history: DataFrame, numTables: Int = 1,
                   numPlanes: Int = NumPlanes,
                   cap: Int = Dedup.MaxBucket): HistoryIndex =
    HistoryIndex(blocks(tableBuckets(history, numTables, numPlanes), cap),
      numTables, numPlanes)

  /** Incremental embedding dedup (q90, q92, and every trigger of
    * StreamingIngest.admitNovelEmbeddings, q249): a new `batch`
    * (vec_id, embedding) probed against a capped [[historyIndex]].
    * Only the batch explodes its numTables·(numPlanes+1) probe keys, so
    * per-batch cost is O(|batch| · probes · occupancy), independent of
    * history size. Output: one row per batch vector with at least one
    * verified history near-dup — (vec_id, dup_of = the earliest such
    * vec_id, n_matches = how many); a batch vector without a row is new
    * content. A multi-table index only adds candidates over table 0's,
    * so its decisions only get stricter (ScaleSpec pins q92 ⊇ q90); the
    * single-table weak-tail decision recall measured 0.152 at sf0.1
    * (scripts/recall_check.py). Intra-batch duplicates are q89's job,
    * by design — admitting then clustering is the standard two-phase
    * ingest. */
  def historyMatches(index: HistoryIndex, batch: DataFrame,
                     minCosine: Double): DataFrame =
    matches(index.blocks,
        probes(tableBuckets(batch, index.numTables, index.numPlanes), index.numPlanes),
        Blocking.Unordered, index.numTables, minCosine)
      .groupBy(col("vec_id_a").as("vec_id"))
      .agg(min("vec_id_b").as("dup_of"), count(lit(1)).as("n_matches"))

  /** DuckDB rendering of q92's [[historyMatches]] over a
    * [[historyIndex]] of the vectors below `splitId`, one row per batch
    * vector — identical per-table plane literals, identical (t, bucket)
    * cap on the history side only, identical probe list and fold
    * order. */
  def multiTableIncrementalDedupDuckSql(minCosine: Double, numTables: Int,
                                        splitId: Long,
                                        numPlanes: Int = NumPlanes,
                                        cap: Int = Dedup.MaxBucket): String = {
    val arms = (0 until numTables).map { t =>
      val ps = planesFor(numPlanes, tableSeed(t))
      s"SELECT vec_id, $t AS t, ${bucketForSql("embedding", ps)} AS bucket FROM e"
    }.mkString("\nUNION ALL\n")
    val probesList = (Seq("bucket") ++ (0 until numPlanes)
      .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm FROM embeddings),
       |mt AS ($arms),
       |hist AS (SELECT vec_id, t, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) AS rk
       |  FROM mt WHERE vec_id < $splitId) WHERE rk <= $cap),
       |probes AS (SELECT vec_id, t, unnest($probesList) AS probe
       |  FROM mt WHERE vec_id >= $splitId),
       |cand AS (SELECT DISTINCT a.vec_id AS bv, h.vec_id AS hv
       |  FROM probes a JOIN hist h ON h.t = a.t AND h.bucket = a.probe),
       |m AS (
       |  SELECT bv, min(hv) AS dup_of, count(*) AS n_matches FROM (
       |    SELECT bv, hv,
       |      ${Dedup.dotProductSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cosine
       |    FROM cand JOIN e ea ON ea.vec_id = bv JOIN e eb ON eb.vec_id = hv)
       |  WHERE cosine >= $minCosine GROUP BY bv)
       |SELECT b.vec_id, m.dup_of, coalesce(m.n_matches, 0) AS n_matches
       |FROM (SELECT vec_id FROM e WHERE vec_id >= $splitId) b
       |LEFT JOIN m ON m.bv = b.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  /** DuckDB rendering of [[nearDupPairs]] at `numTables` — identical plane
    * literals per table seed, identical cap and probe list, identical
    * fold order. No ORDER BY — callers append their own. */
  def multiTableNearDupPairsDuckSql(minCosine: Double, numTables: Int,
                                    numPlanes: Int = NumPlanes,
                                    cap: Int = Dedup.MaxBucket): String = {
    val arms = (0 until numTables).map { t =>
      val ps = planesFor(numPlanes, tableSeed(t))
      s"SELECT vec_id, $t AS t, ${bucketForSql("embedding", ps)} AS bucket FROM e"
    }.mkString("\nUNION ALL\n")
    val probesList = (Seq("bucket") ++ (0 until numPlanes)
      .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm FROM embeddings),
       |mt AS ($arms),
       |capped AS (SELECT vec_id, t, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) AS rk FROM mt)
       |  WHERE rk <= $cap),
       |probes AS (SELECT vec_id, t, unnest($probesList) AS probe FROM mt),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN capped b
       |    ON b.t = a.t AND b.bucket = a.probe AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT vec_a, vec_b,
       |    ${Dedup.dotProductSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cosine
       |  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
       |WHERE cosine >= $minCosine""".stripMargin
  }

  /** DuckDB rendering of single-table [[nearDupPairs]] — identical plane literals,
    * identical cap (row_number by vec_id within bucket), identical fold
    * order, so the capped contract matches at ANY corpus size. No
    * ORDER BY — callers append their own. */
  def nearDupPairsDuckSql(minCosine: Double, numPlanes: Int = NumPlanes,
                          cap: Int = Dedup.MaxBucket,
                          seed: Long = DefaultSeed): String = {
    val ps = planesFor(numPlanes, seed)
    val probesList = (Seq("bucket") ++ (0 until numPlanes)
      .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
       |    ${bucketForSql("embedding", ps)} AS bucket FROM embeddings),
       |cand AS (SELECT vec_id, embedding, nrm, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk FROM e)
       |  WHERE rk <= $cap),
       |probes AS (SELECT vec_id, embedding, nrm, unnest($probesList) AS probe FROM e)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${Dedup.dotProductSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM probes a JOIN cand b ON b.bucket = a.probe AND a.vec_id < b.vec_id)
       |WHERE cosine >= $minCosine""".stripMargin
  }

  /** [[nearDupPairsDuckSql]]'s corpus-adaptive twin: the plane count is
    * not a baked literal but the SQL-computed
    * [[planesForCorpusSql]] scalar — the rendering that stays correct
    * when the engine binds numPlanes = planesForCorpus(count). The
    * probe list is built dynamically (own bucket + one xor per plane
    * below b) so candidate semantics track the bucket width exactly. */
  def nearDupPairsAdaptiveDuckSql(minCosine: Double,
                                  cap: Int = Dedup.MaxBucket,
                                  seed: Long = DefaultSeed): String =
    s"""WITH nb AS (SELECT ${planesForCorpusSql()} AS b),
       |e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
       |    ${bucketForSqlAdaptive("embedding", "nb.b", seed)} AS bucket, nb.b AS b
       |  FROM embeddings CROSS JOIN nb),
       |cand AS (SELECT vec_id, embedding, nrm, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk FROM e)
       |  WHERE rk <= $cap),
       |probes AS (SELECT vec_id, embedding, nrm,
       |    unnest(list_concat([CAST(bucket AS BIGINT)],
       |      list_transform(range(0, b),
       |        i -> xor(CAST(bucket AS BIGINT), CAST(1 AS BIGINT) << i)))) AS probe
       |  FROM e)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${Dedup.dotProductSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine
       |  FROM probes a JOIN cand b ON CAST(b.bucket AS BIGINT) = a.probe AND a.vec_id < b.vec_id)
       |WHERE cosine >= $minCosine""".stripMargin

  /** [[multiTableNearDupPairsDuckSql]]'s corpus-adaptive twin — same
    * dynamic plane count applied to every independent table. */
  def multiTableNearDupPairsAdaptiveDuckSql(minCosine: Double, numTables: Int,
                                            cap: Int = Dedup.MaxBucket): String = {
    val arms = (0 until numTables).map { t =>
      s"""SELECT vec_id, $t AS t,
         |  ${bucketForSqlAdaptive("embedding", "nb.b", tableSeed(t))} AS bucket, nb.b AS b
         |FROM e CROSS JOIN nb""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH nb AS (SELECT ${planesForCorpusSql()} AS b),
       |e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm FROM embeddings),
       |mt AS ($arms),
       |capped AS (SELECT vec_id, t, bucket FROM (
       |  SELECT *, row_number() OVER (PARTITION BY t, bucket ORDER BY vec_id) AS rk FROM mt)
       |  WHERE rk <= $cap),
       |probes AS (SELECT vec_id, t,
       |    unnest(list_concat([CAST(bucket AS BIGINT)],
       |      list_transform(range(0, b),
       |        i -> xor(CAST(bucket AS BIGINT), CAST(1 AS BIGINT) << i)))) AS probe
       |  FROM mt),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM probes a JOIN capped b
       |    ON b.t = a.t AND CAST(b.bucket AS BIGINT) = a.probe AND a.vec_id < b.vec_id)
       |SELECT vec_a, vec_b, cosine FROM (
       |  SELECT vec_a, vec_b,
       |    ${Dedup.dotProductSql("ea.embedding", "eb.embedding")} / (ea.nrm * eb.nrm) AS cosine
       |  FROM cand JOIN e ea ON ea.vec_id = vec_a JOIN e eb ON eb.vec_id = vec_b)
       |WHERE cosine >= $minCosine""".stripMargin
  }

  /** Sparse cosine similarity join over integer term-frequency vectors
    * (q104) — the AllPairs blocking shape made exactly verifiable.
    *
    * Candidates must share a RARE token (distinct-text df ≤ `dfCap`,
    * the prefix-filter analog: a frequent token contributes df²
    * candidates and almost no cosine signal), then the TRUE cosine
    * over ALL shared tokens is verified in pure int64 arithmetic —
    * cos ≥ 1/2 ⟺ 4·dot² ≥ ‖a‖²·‖b‖² (cross-multiplied: no sqrt, no
    * float, bit-identical across engines). Runs at the DISTINCT-text
    * representative level (md5 groupBy, min-doc_id rep): exact
    * duplicates collapse BEFORE pair generation, so a replicated
    * corpus costs nothing quadratic, and `n_pairs` reports the implied
    * doc-pair multiplicity without materializing it. Every join is
    * token- or rep-equi; candidate volume is bounded by dfCap²/2 per
    * token at any corpus size.
    *
    * `docs` needs (doc_id, text). Boundary is INCLUSIVE: a pair at
    * exactly cos = 1/2 is emitted (pinned in spec). */
  def sparseCosineJoin(docs: org.apache.spark.sql.DataFrame,
                       dfCap: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val s = docs.sparkSession
    val reps = docs.groupBy(md5(col("text")).as("th"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
    docs.select(col("doc_id").as("rep"), col("text"))
      .join(reps.select("rep", "n_docs"), Seq("rep"))
      .select(col("rep"), col("n_docs"),
        explode(graft.functions.TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("rep", "n_docs", "token").agg(count(lit(1)).as("tf"))
      .createOrReplaceTempView("sc_tf")
    s.sql(s"""
      |WITH df AS (SELECT token, count(*) AS df FROM sc_tf GROUP BY token),
      |rp AS (SELECT sc_tf.rep, sc_tf.token FROM sc_tf
      |  JOIN df ON df.token = sc_tf.token WHERE df.df <= $dfCap),
      |cand AS (SELECT DISTINCT a.rep AS ra, b.rep AS rb
      |  FROM rp a JOIN rp b ON a.token = b.token AND a.rep < b.rep),
      |dp AS (SELECT ra, rb, sum(ta.tf * tb.tf) AS dot
      |  FROM cand JOIN sc_tf ta ON ta.rep = cand.ra
      |  JOIN sc_tf tb ON tb.rep = cand.rb AND tb.token = ta.token
      |  GROUP BY ra, rb),
      |n AS (SELECT rep, sum(tf * tf) AS n2, max(n_docs) AS n_docs
      |  FROM sc_tf GROUP BY rep)
      |SELECT ra AS rep_a, rb AS rep_b, dot, na.n2 AS na2, nb.n2 AS nb2,
      |  na.n_docs * nb.n_docs AS n_pairs
      |FROM dp JOIN n na ON na.rep = dp.ra JOIN n nb ON nb.rep = dp.rb
      |WHERE 4 * dot * dot >= na.n2 * nb.n2
      |ORDER BY rep_a, rep_b""".stripMargin)
  }
}
