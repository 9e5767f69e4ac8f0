package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Deduplication primitives for a training-data pipeline (builder-prompt
  * extension surface): word-shingling, MinHash signatures + LSH banding,
  * SimHash, character n-grams, and exact-Jaccard verification. Pure
  * Column expressions with DuckDB renderings from the same constants.
  *
  * Scale shape (the point of MinHash+LSH): candidate generation is
  * explode(bands) → a key equi-join on (band, key), never an all-pairs
  * cross join. Only rows sharing a band bucket meet; the exact-Jaccard
  * verify runs on candidates only. At 100 TB the hot buckets
  * (boilerplate docs) are the skew risk — bounded by [[MaxBucket]] on
  * every capped pair path, all of which run on [[Blocking]]: the
  * MinHash title chain (q51, q70, q87, q225, q239), q53's char-gram
  * blocks, q213's dHash bands, the k-means cluster blocks (q111, q151,
  * q162) and the embedding buckets ([[Similarity]]); q75's ER blocks
  * take the same cap through [[Blocking.cap]].
  *
  * Portability: minhash = lexicographic MIN over hex md5 strings (same
  * byte-wise ordering in both engines); all set sizes are exact ints;
  * Jaccard is one IEEE division.
  */
object Dedup {

  val NumHashes = 12
  val Bands = 4
  val RowsPerBand = 3 // NumHashes / Bands

  /** Per-bucket membership cap for LSH candidate generation (band
    * buckets in the MinHash path, block keys in the n-gram path). A
    * bucket of B members emits O(B²) candidate pairs, so one
    * pathological bucket — a boilerplate title pattern shared by 10⁶
    * near-identical variants — turns the candidate join quadratic. The
    * guard ([[Blocking.cap]]) keeps the first MaxBucket members per
    * bucket (deterministic:
    * ordered by the unique representative id), bounding any bucket's
    * contribution to MaxBucket² regardless of corpus size — the
    * standard recall-for-boundedness trade in production LSH dedup.
    * Sized well above every bucket the fixture corpus can produce
    * (≤400 distinct titles), so results are unchanged below the cap;
    * the SAME cap is rendered into the DuckDB oracles, so the contract
    * is capped on both sides, not just where the fixture happens not to
    * notice. */
  val MaxBucket = 1000

  // ---- word shingles (3-grams over the token sequence) ----

  /** Distinct word-n-gram set (default 3); a document shorter than n
    * tokens contributes its whole token string as the single shingle.
    *
    * Resolves to the native codegen'd
    * [[graft.functions.ShinglesExpr]] — one JIT'd window pass instead
    * of the interpreted `transform(sequence → slice → concat_ws)` HOF
    * chain (~0.7 ms/doc interpreted at 50 tokens; the kernel is the
    * per-document hot path of the gram queries q78/q79). */
  def shingles(toks: Column, n: Int = 3): Column =
    call_function("graft_shingles", toks, lit(n))

  def shinglesSql(toksE: String, n: Int = 3): String =
    // the len = 0 arm pins the empty-token-list case to [''] — Spark's
    // concat_ws gives '' where older DuckDB array_to_string gives NULL
    s"""CASE WHEN len($toksE) = 0 THEN ['']
       | WHEN len($toksE) < $n THEN [array_to_string($toksE, ' ')]
       | ELSE list_distinct(list_transform(range(0, len($toksE) - ${n - 1}),
       |   i -> array_to_string(list_slice($toksE, i + 1, i + $n), ' '))) END"""
      .stripMargin.replace("\n", "")

  // ---- MinHash ----

  /** NumHashes-element signature: element i = min md5("i:"+shingle).
    *
    * Resolves to the native codegen'd
    * [[graft.functions.MinHashSignatureExpr]] — one JIT'd pass over the
    * shingle set instead of NumHashes interpreted
    * `array_min(transform(...))` HOF evaluations (bit-identical contract
    * in that kernel's scaladoc). */
  def minhashSignature(sh: Column): Column =
    call_function("graft_minhash", sh)

  def minhashSignatureSql(shE: String): String =
    (0 until NumHashes).map(i =>
      s"list_min(list_transform($shE, x -> md5('$i:' || x)))")
      .mkString("[", ", ", "]")

  /** Band key b (0-based): RowsPerBand signature slots joined by '|'. */
  def bandKey(sig: Column, b: Int): Column =
    concat_ws("|", (0 until RowsPerBand).map(r =>
      element_at(sig, b * RowsPerBand + r + 1)): _*)

  def bandKeySql(sigE: String, b: Int): String =
    (0 until RowsPerBand).map(r => s"$sigE[${b * RowsPerBand + r + 1}]")
      .mkString(" || '|' || ")

  // ---- exact Jaccard over distinct element sets ----

  /** |a ∩ b| / |a ∪ b| — inputs must be distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  def jaccardSql(aE: String, bE: String): String =
    s"CAST(len(list_intersect($aE, $bE)) AS DOUBLE) / (len($aE) + len($bE) - len(list_intersect($aE, $bE)))"

  // ---- character n-grams ----

  /** Distinct character-3-gram set (whole string for length < 3).
    *
    * Resolves to the native codegen'd
    * [[graft.functions.CharGramsExpr]] — one JIT'd substring pass
    * instead of the interpreted `transform(sequence → substr)` HOF. */
  def charGrams(text: Column): Column =
    call_function("graft_chargrams", text, lit(3))

  def charGramsSql(e: String): String =
    s"list_distinct(list_transform(range(1, greatest(len($e) - 2, 1) + 1), i -> substr($e, i, 3)))"

  // ---- SimHash (16-bit, over the token multiset) ----

  val SimHashBits = 16

  /** Per-bit balance vote: +1 when the token hash has bit i set, else -1;
    * simhash bit i = 1 iff the balance is positive. Exact int folds, so
    * fully order-free and engine-portable.
    *
    * Resolves to the native codegen'd [[graft.functions.SimHashExpr]] —
    * one JIT'd pass with one md5 per token instead of SimHashBits
    * interpreted `aggregate` folds. */
  def simhash(toks: Column): Column =
    call_function("graft_simhash", toks)

  def simhashSql(toksE: String): String = {
    val hsE = s"list_transform($toksE, t -> ${TextAnalysis.tokenHashSql("t")})"
    (0 until SimHashBits).map { i =>
      val bit = 1L << i
      s"(CASE WHEN list_reduce(list_concat([0], list_transform($hsE, h -> CASE WHEN (h & $bit) <> 0 THEN 1 ELSE -1 END)), (acc, x) -> acc + x) > 0 THEN $bit ELSE 0 END)"
    }.mkString(" + ")
  }

  // ---- embedding dot/cosine with pinned fold order ----

  /** Sequential left-fold dot product — bit-identical to the DuckDB
    * rendering because both evaluate the same IEEE ops in the same
    * order (per-slot double multiply → left-to-right sum).
    *
    * Resolves to the native codegen'd [[graft.functions.DotProduct]]
    * expression — the session must load `graft.GraftExtensions` (all
    * engine entry points do). The interpreted-HOF equivalent
    * (`aggregate(zip_with(...))`) computes the same bits ~10× slower. */
  def dotProduct(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  def dotProductSql(aE: String, bE: String): String =
    s"list_reduce(list_concat([CAST(0 AS DOUBLE)], list_transform(range(1, len($aE) + 1), i -> CAST($aE[i] AS DOUBLE) * CAST($bE[i] AS DOUBLE))), (acc, x) -> acc + x)"

  def norm(a: Column): Column = sqrt(dotProduct(a, a))

  def normSql(aE: String): String = s"sqrt(${dotProductSql(aE, aE)})"

  // ---- maximal duplicated span (ExactSubstr signal) ----

  /** Per-document longest verbatim cross-document passage, in tokens
    * (the span-granularity ExactSubstr dedup signal of Lee et al.
    * 2022, over q93's window fingerprints): positional `w`-token
    * windows; a window is shared iff its md5 occurs in ≥2 DISTINCT
    * docs (min ≠ max of doc_id over the hash partition — expressible
    * as plain window aggregates in any engine, and correctly blind to
    * a window repeating only WITHIN one doc); the longest run of
    * consecutive shared positions (pos − row_number islands) plus
    * w − 1 is the span length. 0 when nothing is shared.
    *
    * Scale shape: one shuffle keyed by the 16-byte window md5 with a
    * (doc_id, pos) payload — never the window text — one shuffle by
    * doc_id for the island rollup, one final linear doc_id-equi
    * attach of token counts. Output is one row per document; a
    * passage duplicated a million times costs its hash-partition
    * size, not its square. */
  def maxDupSpan(docs: DataFrame, w: Int = 8): DataFrame = {
    val toksDf = FanOut.byKey(docs, col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val nTok = toksDf.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
    val spans = toksDf
      .where(size(col("toks")) >= w)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("toks")) - w),
        i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(w))))))
      .select(col("doc_id"), col("pos"), md5(col("col")).as("sh"))
    val byHash = Window.partitionBy("sh")
    val shared = spans
      .withColumn("mn", min("doc_id").over(byHash))
      .withColumn("mx", max("doc_id").over(byHash))
      .where(col("mn") =!= col("mx"))
      .select("doc_id", "pos")
    val runs = shared
      .withColumn("grp",
        col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("max_run"))
    nTok.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("max_run") + lit(w - 1L), lit(0L)).cast("long").as("max_dup_span"))
      .orderBy("doc_id")
  }
}
