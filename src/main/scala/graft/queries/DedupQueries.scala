package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bloom, TextAnalysis}
import graft.operators.{Blocking, Components, Dedup, Similarity}
import graft.sources.{Memo, Tables}

/** Deduplication extension queries (q50–q54, q67, q70, q87–q90): exact
  * hash dedup, MinHash + LSH banding, SimHash, blocked char-n-gram
  * Jaccard, LSH-prefiltered embedding-cosine near-dup (single- and
  * multi-table), the cluster-representative production outputs
  * (q87 over the text graph, q89 over the embedding graph), and
  * incremental dedup against an indexed corpus (q67 by text hash,
  * q90 by embedding LSH probe).
  * q51–q53 run over the PostsProxy corpus,
  * which contains exact and near duplicates by construction (same title
  * templates with varying parameters); q50 runs over raw `documents`
  * (real duplicate texts at sf0.1); q54 over `embeddings`. Every
  * blocked pair join runs on [[Blocking]].
  */
object DedupQueries {

  /** Independent hash tables in q88 — 3 tables at 8 planes each triples
    * bucket-generation cost for a geometric recall lift on the tail. */
  val NumTables = 3

  /** q219: ingest-order slices of the yield curve (doc_id range
    * buckets — the spine every cumulative window runs over). */
  val YieldBuckets = 10L

  /** q104's rare-token blocking cut: only tokens with distinct-text
    * df ≤ this generate candidate pairs (the AllPairs prefix-filter
    * analog — a frequent token contributes df² candidates and almost
    * no cosine signal). Bounds candidate volume at DfCap²/2 per
    * token at ANY corpus size. */
  val SparseDfCap = 50

  private def proxyTitles(s: SparkSession, dir: String): DataFrame =
    PostsProxy.df(s, dir).where(col("title") =!= "")
      .select(col("doc_id"), col("title"))

  /** Corpus-sized plane count for the declared q54/q88 bindings:
    * planesForCorpus over the embeddings row count. The count is an
    * EAGER driver-side aggregate (one column-pruned parquet scan),
    * held in [[Memo]] so repeat builder invocations (bench's two runs,
    * plan extraction) pay it once. At the fixture SFs this resolves to
    * the 8-plane default; at sf1's 10× corpus it widens to keep mean
    * occupancy ≤ 100, and the oracle computes the SAME width in SQL
    * (Similarity.planesForCorpusSql). */
  private def adaptivePlanes(s: SparkSession, dir: String): Int =
    Memo(s, dir, "planes") {
      Similarity.planesForCorpus(Tables.load(s, dir, "embeddings").count())
    }

  /** q90/q92: every batch vector (vec_id ≥ 250) with its earliest
    * verified near-dup in the history (vec_id < 250) — NULL admits it —
    * and its match count, over a `numTables`-table index. */
  private def incrementalDedup(emb: DataFrame, numTables: Int): DataFrame = {
    val batch = emb.where(col("vec_id") >= 250)
    val matches = Similarity.historyMatches(
      Similarity.historyIndex(emb.where(col("vec_id") < 250), numTables),
      batch, 0.4)
    batch.select("vec_id").join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"))
      .orderBy("vec_id")
  }

  /** The MinHash+LSH title chain up to the member expansion, held in
    * [[Memo]] for q51, q70, q87, q225 and q239: `members` (doc_id,
    * title); `sh` (title, rep = min doc_id, n_docs, sh) per distinct
    * title; `bands`, the (title, rep, band, bkey) rows blocked on
    * (band, bkey) and checkpointed; and `pairs` (title_a, rep_a, title_b, rep_b,
    * jaccard), every title pair sharing a band bucket (rep_a ≤ rep_b,
    * so a title that kept a bucket pairs with itself at Jaccard 1) with
    * verified Jaccard ≥ 0.5. Signatures and pairs are title-bounded and
    * lazily localCheckpoint-backed, so consumers never re-run the
    * minhash. */
  private case class TitleChain(members: DataFrame, sh: DataFrame,
                                bands: Blocking.Blocks, pairs: DataFrame)

  private def titleChain(s: SparkSession, dir: String): TitleChain =
    Memo(s, dir, "titleChain") {
      val members = proxyTitles(s, dir)
      val sig = members.groupBy("title")
        .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
        .withColumn("sh", Dedup.shingles(TextAnalysis.tokens(col("title"))))
        .withColumn("sig", Dedup.minhashSignature(col("sh")))
        .localCheckpoint(false)
      val sh = sig.select("title", "rep", "n_docs", "sh")
      val bands = Blocking(sig.select(col("title"), col("rep"),
          explode(array((0 until Dedup.Bands).map(b => struct(lit(b).as("band"),
            Dedup.bandKey(col("sig"), b).as("bkey"))): _*)).as("bk"))
        .select(col("title"), col("rep"), col("bk.band").as("band"),
          col("bk.bkey").as("bkey")), Seq("band", "bkey"), "rep").checkpointed
      val pairs = withJaccard(bands.pairs(bands.rows, Blocking.Le, multiKey = true), sh)
        .where(col("jaccard") >= 0.5)
        .localCheckpoint(false)
      TitleChain(members, sh, bands, pairs)
    }

  /** `cand` with the exact shingle Jaccard of its (title_a, title_b). */
  private def withJaccard(cand: DataFrame, sh: DataFrame): DataFrame =
    cand.join(sh.as("sa"), col("title_a") === col("sa.title"))
      .join(sh.as("sb"), col("title_b") === col("sb.title"))
      .select(cand.columns.toSeq.map(col) :+
        Dedup.jaccard(col("sa.sh"), col("sb.sh")).as("jaccard"): _*)

  /** The title-level duplicate graph q70/q87 run components over:
    * cross edges between distinct-title near-dup pairs, plus self-edges
    * for multi-doc titles that kept a band bucket (docs sharing a title
    * are exact duplicates — always pairwise connected — so doc-level
    * components are exactly title-level components expanded to
    * members, and the iterative loop sees |titles| nodes instead of the
    * O(cluster²) doc-pair expansion). Singleton titles with no cross
    * edge contribute no doc pairs — excluded, matching the pair-list
    * oracle; a title capped out of every bucket has no self pair in the
    * oracle either, so every self edge comes from the pair list. */
  private def titleEdges(c: TitleChain): DataFrame = {
    val cross = c.pairs.where(col("rep_a") =!= col("rep_b"))
      .select(col("rep_a").as("src"), col("rep_b").as("dst"))
    val selfEdges = c.pairs.where(col("rep_a") === col("rep_b"))
      .join(c.sh.where(col("n_docs") >= 2), col("rep_a") === col("rep"))
      .select(col("rep").as("src"), col("rep").as("dst"))
    cross.unionByName(selfEdges)
  }

  /** q51/q53's doc pairs: verified (title_a, title_b, jaccard) title
    * pairs expanded to their member docs by [[Blocking.expand]]. */
  private def memberPairs(sel: DataFrame, members: DataFrame): DataFrame =
    Blocking.expand(sel, members.select("doc_id", "title"), "title", "doc_id")
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DEDUP YIELD CURVE (q219): how much NEW unique content each
    // successive slice of the ingest adds — the saturation curve that
    // tells a crawl when another increment stops paying (the "data
    // scaling" audit run before buying more of a source). The doc_id
    // axis cuts into YieldBuckets equal-width ranges (ingest order);
    // a fingerprint (md5 of text) is NEW in the bucket holding its
    // FIRST occurrence (min doc_id). Scale shape: one hash-groupBy on
    // the 128-bit fingerprint (the q50 shuffle — never the payload),
    // one map-combinable per-bucket rollup, and the cumulative window
    // runs over the YieldBuckets-row spine. yield_ppm = new uniques
    // per doc in the bucket; saturation shows as the ppm falling
    // toward the duplicate rate.
    "q219_yield_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val mx = d.agg(max("doc_id").as("mid"))
      val bucketed = d.crossJoin(broadcast(mx))
        .select(col("doc_id"), col("fp"),
          expr(s"least($YieldBuckets - 1, " +
            s"(doc_id * $YieldBuckets) div (mid + 1))").as("bucket"))
      val perB = bucketed.groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      val firsts = bucketed.groupBy("fp").agg(min("bucket").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      perB.join(firsts, Seq("bucket"), "left")
        .na.fill(0L, Seq("n_new"))
        .withColumn("cum_docs", sum("n_docs").over(Window.orderBy("bucket")))
        .withColumn("cum_unique", sum("n_new").over(Window.orderBy("bucket")))
        .select(col("bucket"), col("n_docs"), col("n_new"),
          col("cum_docs"), col("cum_unique"),
          expr("(CAST(1000000 AS BIGINT) * n_new) div n_docs")
            .as("yield_ppm"),
          expr("(CAST(1000000 AS BIGINT) * cum_unique) div cum_docs")
            .as("cum_unique_ppm"))
        .orderBy("bucket")
    }),

    // LSH BAND-EFFICIENCY AUDIT (q225): per MinHash band, how many
    // candidate pairs the band's buckets generate and how many survive
    // the exact-Jaccard verify — candidate PRECISION per band, the
    // number that prices the verify stage (a band at 2 % precision
    // burns 50 exact-Jaccard evaluations per true duplicate; tuning
    // bands/rows trades that against recall). Also reports the
    // distinct-pair union so the cross-band duplication factor (Σ per
    // band ÷ distinct) is visible — redundant candidates are re-verify
    // waste a dedup pipeline pays at every band count. Scale shape:
    // identical to q51's candidate stage (capped band buckets — the
    // MaxBucket skew guard bounds every bucket's pair count), one
    // rollup per band, |Bands| output rows.
    "q225_lsh_band_audit" -> ((s, dir) => {
      val c = titleChain(s, dir)
      val cand = c.bands.candidates(c.bands.rows, Blocking.Lt)
      withJaccard(cand, c.sh).groupBy("band")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= 0.5, 1).otherwise(0)).cast("long").as("n_verified"))
        .select(col("band").cast("long").as("band"), col("n_candidates"),
          col("n_verified"),
          expr("(CAST(1000000 AS BIGINT) * n_verified) div n_candidates")
            .as("precision_ppm"),
          // a global count is one row, so the subquery is never NULL
          coalesce(cand.select("title_a", "title_b").distinct().agg(count(lit(1)))
            .scalar(), lit(0L)).as("distinct_pairs"))
        .orderBy("band")
    }),

    // CROSS-SOURCE CONTAMINATION MATRIX (q239): which sources host
    // near-duplicate content of which — the provenance question
    // (who scrapes whom / where does boilerplate breed) a curation
    // pipeline answers before deciding per-source mixture weights.
    // Rides q51's verified title-pair machinery, then counts
    // DOC-level near-dup pairs per unordered (source_a, source_b)
    // cell from (title, source) MULTIPLICITIES — a title's doc set
    // spans sources (the same title string recurs under many bases),
    // so attribution works on the (title, src, n) grain: cross-title
    // cells add n_a·n_b (doc sets of distinct titles are disjoint by
    // construction); a self title pair adds C(n,2) on the diagonal
    // and n_a·n_b once per unordered source combo. That is q51's
    // quadratic pair-list OUTPUT collapsed to a |sources|² matrix
    // computed corpus-LINEARLY — the member-expansion join never
    // runs (the per-title source fan-out is ≤ |sources|); the
    // multiplicity products do the counting (the linear
    // production-twin discipline, applied to attribution).
    // AuditQueriesSpec pins the matrix against q51's expanded pair
    // list regrouped by source pair. Exact int64 throughout; div on
    // non-negative operands only.
    "q239_contamination_matrix" -> ((s, dir) => {
      val ts = PostsProxy.df(s, dir).where(col("title") =!= "")
        .groupBy("title", "subreddit").agg(count(lit(1)).as("n"))
      def side(x: String): DataFrame = ts.select(col("title").as(s"title_$x"),
        col("subreddit").as(s"src_$x"), col("n").as(s"n_$x"))
      val sameTitle = col("title_a") === col("title_b")
      titleChain(s, dir).pairs
        .join(side("a"), "title_a").join(side("b"), "title_b")
        .where(!sameTitle || col("src_a") <= col("src_b"))
        .select(least(col("src_a"), col("src_b")).as("src_a"),
          greatest(col("src_a"), col("src_b")).as("src_b"),
          when(sameTitle && col("src_a") === col("src_b"),
            expr("(n_a * (n_a - 1)) div 2")).otherwise(col("n_a") * col("n_b"))
            .as("n_doc_pairs"),
          when(sameTitle, 0).otherwise(1).as("cross_title"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_groups"),
          sum("cross_title").cast("long").as("n_cross_groups"),
          sum("n_doc_pairs").cast("long").as("n_doc_pairs"))
        .orderBy("src_a", "src_b")
    }),

    // Exact dedup: hash-groupBy — ONE shuffle on the 128-bit text hash,
    // never on the full text payload. Keeper = min(doc_id).
    "q50_dedup_exact" -> ((s, dir) =>
      Tables.load(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_doc_id")),

    // MinHash + LSH: shingle → 12-slot signature → 4 band keys →
    // band-bucket self-join for candidates → exact-Jaccard verify ≥ 0.5.
    // Signatures are computed per DISTINCT title and candidate pairs
    // expanded back to doc pairs afterwards (the q53 trick: 400 distinct
    // titles vs 5000 docs at sf0.1 — 12× fewer md5 folds and a far
    // smaller band join). Blocking.expand emits each doc pair once,
    // with no aggregation over the quadratic doc-pair output (the
    // oracle keeps its GROUP BY form and certifies the shape by the
    // row hash).
    "q51_minhash_lsh" -> ((s, dir) => {
      val c = titleChain(s, dir)
      memberPairs(c.pairs.select("title_a", "title_b", "jaccard"), c.members)
    }),

    // SimHash: 16-bit signature per doc + bucket size (identical
    // signatures = duplicate cluster).
    "q52_simhash" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      proxyTitles(s, dir)
        .withColumn("simhash", Dedup.simhash(TextAnalysis.tokens(col("title"))))
        .withColumn("n_same", count(lit(1)).over(Window.partitionBy("simhash")))
        .select("doc_id", "simhash", "n_same")
        .orderBy("doc_id")
    }),

    // Blocked char-3-gram Jaccard: block key = (first token, #tokens) —
    // pairs only meet inside a block, the classic scalable alternative
    // to an all-pairs cross join. Two scale moves on top of blocking:
    //  (1) Jaccard is computed between DISTINCT titles (the corpus
    //      repeats titles heavily — 400 distinct vs 5000 docs at sf0.1),
    //      then expanded back to doc pairs through an equi-join, turning
    //      O(docs²) n-gram intersections into O(titles²).
    //  (2) the intersection size is materialized once per pair, not
    //      re-evaluated inside the Jaccard formula.
    // A title has one block, so each unordered title pair is verified
    // once and Blocking.expand emits each doc pair once, as in q51:
    // no GROUP BY over the 1.23 M-row doc-pair expansion at sf0.1 (the
    // oracle keeps its GROUP BY form and certifies the shape by the
    // row hash). The verified title pairs (~250 KB at sf0.1) pass one
    // shuffle before the expansion: without it the verify fuses into
    // the stage under the final sort, and the sort's range sampler
    // runs the whole array_intersect stage a second time.
    "q53_ngram_jaccard" -> ((s, dir) => {
      val titles = proxyTitles(s, dir).where(size(TextAnalysis.tokens(col("title"))) > 0)
      val blocks = Blocking(titles.groupBy("title").agg(min(col("doc_id")).as("rep"))
        .select(col("title"), col("rep"),
          concat_ws("#", element_at(TextAnalysis.tokens(col("title")), 1),
            size(TextAnalysis.tokens(col("title"))).cast("string")).as("blk"),
          Dedup.charGrams(lower(trim(col("title")))).as("cg")), Seq("blk"), "rep")
      val sel = blocks.selfPairs(Blocking.Le, multiKey = false)
        .select(col("title_a"), col("title_b"),
          size(array_intersect(col("cg_a"), col("cg_b"))).as("inter"),
          size(col("cg_a")).as("sza"), size(col("cg_b")).as("szb"))
        .select(col("title_a"), col("title_b"), (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter"))).as("jaccard"))
        .where(col("jaccard") >= 0.6)
      memberPairs(sel.repartition(s.sparkContext.defaultParallelism), titles)
    }),

    // Duplicate-cluster assignment: connected components over the q51
    // near-dup pair graph — every doc in a cluster maps to the minimal
    // doc id, i.e. the row that survives dedup. Oracle: DuckDB recursive
    // CTE transitive closure over the SAME (doc-level) pair list.
    //
    // Runs on the TITLE graph, not the doc-pair graph: docs sharing a
    // title are exact duplicates (Jaccard 1, always pairwise connected),
    // so doc-level components are exactly title-level components
    // expanded to members — and the iterative loop sees |titles| nodes
    // instead of the O(cluster²) doc-pair expansion (447k pairs at
    // sf0.1, ~1k title edges). Cluster label = min member doc id =
    // min(rep) over the component, since each title's rep IS its
    // minimal member (see titleEdges). Scale shape: the expansion joins
    // run AFTER the loop, once, keyed on title.
    "q70_dup_clusters" -> ((s, dir) => {
      val c = titleChain(s, dir)
      Components.connectedComponents(titleEdges(c))
        .join(c.sh.select(col("title"), col("rep").as("node")), Seq("node"))
        .join(c.members, Seq("title"))
        .select(col("doc_id"), col("component").as("cluster"))
        .orderBy("doc_id")
    }),

    // Cluster-representative dedup output — the PRODUCTION contract a
    // curation pipeline consumes: every (non-empty-title) doc mapped to
    // the doc that survives dedup, i.e. the minimal doc id of its
    // near-dup cluster, falling back to its title's minimal member
    // (exact duplicates always collapse) and finally to itself. Output
    // is LINEAR in corpus size — q51/q53's all-pairs output is
    // inherently quadratic in per-title duplicate count (44.9 M /
    // 78.9 M rows at sf1, pure output volume) while this emits one row
    // per doc and skips the pair-expansion join entirely: components
    // run on the title graph, then ONE join keyed on title fans the
    // cluster label out to members.
    "q87_dedup_representatives" -> ((s, dir) => {
      val c = titleChain(s, dir)
      val comps = Components.connectedComponents(titleEdges(c))
      c.sh.select(col("title"), col("rep"))
        .join(comps.withColumnRenamed("node", "rep"), Seq("rep"), "left")
        .join(c.members, Seq("title"))
        .select(col("doc_id"),
          coalesce(col("component"), col("rep")).as("keep_doc_id"))
        .orderBy("doc_id")
    }),

    // Incremental dedup: a new batch (doc_id >= 250) checked against the
    // already-ingested corpus (doc_id < 250) by content hash — the D2
    // pattern a continuously-fed training pipeline runs every batch. The
    // anti-join broadcasts the batch's hashes; the historical corpus is
    // scanned once, never shuffled.
    "q67_incremental_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val history = d.where(col("doc_id") < 250)
        .select(md5(col("text")).as("h"))
      val batch = d.where(col("doc_id") >= 250)
        .withColumn("h", md5(col("text")))
      batch.join(history, Seq("h"), "left_anti")
        .select(col("doc_id"), col("h").as("text_hash"))
        .orderBy("doc_id")
    }),

    // Embedding-cosine near-dup pairs, LSH-prefiltered — the full
    // engine (Hamming-1 multiprobe + per-bucket cap + parameterized
    // plane count) lives in Similarity.nearDupPairs; this query is the
    // single-table instance at the deliberately-low 0.4 threshold; its
    // capped Blocking probe join keeps candidate volume linear in n.
    //
    // Measured recall on the fixture (numpy cross-check, sf0.1): TRUE
    // duplicates (identical vectors) are retained with recall 1.0 —
    // equal vectors share a bucket by construction (ExtensionsSpec pins
    // this) — while the weak-similarity tail the 0.4 threshold admits
    // (≈66° apart; expected bucket Hamming ≈ 2.9 over 8 planes) is kept
    // at ~15 % for a ~27× candidate reduction. q88's multi-table union
    // is the recall lever when the tail matters. The plane count is
    // corpus-sized (planesForCorpus(count)), so the bucket space grows
    // with the corpus and the cap only guards adversarial skew; the
    // oracle computes the same width in SQL.
    "q54_embedding_dup" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"), 0.4,
          numPlanes = adaptivePlanes(s, dir))
        .orderBy("vec_a", "vec_b")),

    // Multi-table LSH near-dup — the parameterized recall lever
    // (engine and scale analysis in Similarity.nearDupPairs): q54's
    // operator at NumTables independent tables, table 0 = q54's planes
    // (ScaleSpec pins q88 ⊇ q54 structurally).
    "q88_embedding_dup_multitable" -> ((s, dir) =>
      Similarity.nearDupPairs(Tables.load(s, dir, "embeddings"), 0.4,
        numTables = NumTables, numPlanes = adaptivePlanes(s, dir))
        .orderBy("vec_a", "vec_b")),

    // Semantic dedup — q87's production contract transplanted to the
    // EMBEDDING space (the SemDeDup pattern): connected components over
    // q54's verified near-dup graph (same engine, same 0.4 threshold —
    // the fixture's random embeddings top out below cos 0.6, so a
    // "strong band" cutoff would make this an identity map at every
    // local SF), every vector mapped to its cluster's minimal vec_id
    // (itself when it has no near-dup). Output is LINEAR in corpus
    // size — one row per vector — and the component loop runs on the
    // verified pair graph (LSH-capped, so edge volume is linear too),
    // never on an all-pairs expansion. Unlike q70's title clusters,
    // cluster sizes here are bounded by actual near-duplicate
    // multiplicity, so even the recursive-CTE oracle stays feasible
    // at sf1.
    "q89_semantic_dedup" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
      val pairs = Similarity.nearDupPairs(emb, 0.4)
      val comps = Components.connectedComponents(
        pairs.select(col("vec_a").as("src"), col("vec_b").as("dst")))
      emb.select(col("vec_id"))
        .join(comps.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("keep_vec_id"))
        .orderBy("vec_id")
    }),

    // Incremental embedding dedup — q67's continuous-ingestion contract
    // in the embedding space: a new batch (vec_id ≥ 250) probed against
    // the already-indexed corpus (vec_id < 250) through the single-table
    // Similarity.historyMatches (engine and scale analysis there). A
    // batch vector reports its earliest near-dup in history (NULL = new
    // content, admit) and the match count.
    "q90_incremental_embedding_dedup" -> ((s, dir) =>
      incrementalDedup(Tables.load(s, dir, "embeddings"), numTables = 1)),

    // Bloom-prefiltered incremental dedup — q67's contract behind the
    // broadcast-index scale path: at 100 TB the history side can
    // neither be broadcast nor re-shuffled per batch, but a Bloom
    // filter of its hashes (constant-size TypedImperativeAggregate
    // buffer, bytewise-OR merge) is a few MB that IS broadcast — every
    // batch row is classified locally by the codegen'd
    // graft_bloom_contains (k md5s, no join, no shuffle), bloom-negative
    // rows are admitted outright (no false negatives BY CONSTRUCTION),
    // and only the bloom-positive sliver reaches the exact verify join.
    // Both output columns are differentially verified: bloom_positive
    // is recomputed in DuckDB as a positions-set semi-join (the bit
    // array re-expressed relationally — see Bloom's scaladoc), and
    // is_dup on the Spark side is lit(false) for bloom-negatives while
    // the oracle computes the exact EXISTS for every row — so a single
    // false negative would hash-mismatch the round's correctness gate.
    "q91_bloom_incremental_dedup" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      d.where(col("doc_id") < 250).select(md5(col("text")).as("h"))
        .createOrReplaceTempView("bl_hist")
      d.where(col("doc_id") >= 250)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .createOrReplaceTempView("bl_batch")
      s.sql("""
        |WITH bloom AS (SELECT graft_bloom(h) AS bf FROM bl_hist),
        |flagged AS (
        |  SELECT /*+ BROADCAST(bloom) */ b.doc_id, b.h,
        |    graft_bloom_contains(bf, b.h) AS bloom_positive
        |  FROM bl_batch b CROSS JOIN bloom),
        |pos AS (
        |  SELECT f.doc_id, f.bloom_positive, (hh.h IS NOT NULL) AS is_dup
        |  FROM flagged f LEFT JOIN (SELECT DISTINCT h FROM bl_hist) hh
        |    ON hh.h = f.h
        |  WHERE f.bloom_positive)
        |SELECT doc_id, bloom_positive, is_dup FROM pos
        |UNION ALL
        |SELECT doc_id, bloom_positive, FALSE AS is_dup
        |FROM flagged WHERE NOT bloom_positive
        |ORDER BY doc_id""".stripMargin)
    }),

    // Multi-table incremental embedding dedup — q90's admit/drop
    // contract with the q88 recall lever: the same operator at
    // NumTables tables; table 0 = q90's table, so decisions only get
    // stricter — ScaleSpec pins q92 ⊇ q90.
    "q92_incremental_embedding_dedup_multitable" -> ((s, dir) =>
      incrementalDedup(Tables.load(s, dir, "embeddings"), NumTables)),

    // STREAMED admission parity (q249, round 12): the ANN admission
    // decisions of StreamingIngest.admitNovelEmbeddings — the
    // production streamed twin of q90 — enter the differential
    // surface over a RESTART-SPANNING run. The batch side (vec_id ≥
    // 250) lands as two file drops processed by two separate
    // AvailableNow queries sharing one checkpoint (a genuine
    // stop/restart: the second query resumes from the file-source
    // offsets the first committed and must process only the new
    // files). Because the admission index is the FIXED capped history
    // (vec_id < 250) and each decision is per-row, the streamed
    // decision set must equal the batch-side q90 decision
    // (admitted ⟺ dup_of IS NULL) no matter how rows split across
    // triggers — the oracle IS that batch computation, so one hash
    // certifies checkpointing, offset tracking, and append-sink
    // idempotence together. recall_check.py additionally measures the
    // streamed decisions against the exact numpy ground truth (floor
    // gated, scripts/gate.sh). The physical run is guarded by
    // StreamGuard on the embeddings table's content.
    "q249_streamed_admission_parity" -> ((s, dir) => {
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val hist = emb.where(col("vec_id") < 250)
      val batchSide = emb.where(col("vec_id") >= 250)
      // norm is a deterministic double digest of the vector content
      val path = StreamGuard.ensure("q249_stream_admit", dir, "v1",
          emb.select(col("vec_id"), Dedup.norm(col("embedding")))) { path =>
        StreamGuard.streamDrops(path, batchSide.where(col("vec_id") % 2 === 0),
            batchSide.where(col("vec_id") % 2 === 1)) { in =>
          graft.streaming.StreamingIngest.admitNovelEmbeddings(in, hist,
            targetPath = s"$path/admitted", checkpoint = s"$path/ckpt")
        }
      }
      val admitted = s.read.schema(batchSide.schema)
        .parquet(s"$path/admitted")
        .select(col("vec_id")).withColumn("admitted", lit(true))
      batchSide.select("vec_id").join(admitted, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("admitted"), lit(false)).as("admitted"))
        .orderBy("vec_id")
    }),

    // STREAMED TEXT admission parity (q250, round 12): q249's exact-
    // dedup twin — StreamingIngest.admitNovelTexts (Bloom-gated,
    // index = history ∪ prior admissions, maintained across triggers
    // AND restarts) over the same restart-spanning 2-drop protocol.
    // Unlike q249, decisions here are ORDER-DEPENDENT (the first
    // arrival of a duplicated text wins), so each drop is written as
    // ONE file — one micro-batch per drop — making processing order
    // the deterministic (drop, doc_id) ramp the oracle replays as a
    // single row_number: admitted ⟺ hash ∉ history AND first among
    // same-hash stream docs by (doc_id % 2, doc_id). One hash thus
    // certifies the Bloom gate (no false negative may drop a novel
    // text), the exact-verify of bloom-positives, the cross-trigger
    // index fold, and the restart re-init from the admitted store —
    // any of which failing moves at least one decision.
    //
    // The stream corpus INJECTS duplication deterministically (the
    // q129 injection discipline — sf0.01 documents carry no exact
    // dups in the ≥250 split, which would make every decision a
    // trivial admit): each run of 7 consecutive doc_ids shares the
    // text of its run base (runs straddle both parities ⇒ cross-drop
    // dups), and every 11th doc instead carries a HISTORY doc's text
    // (⇒ history dups, caught by the initial index). The oracle
    // derives the identical corpus.
    "q250_streamed_text_admission_parity" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
      val hist = d.where(col("doc_id") < 250)
      val base = d.select(col("doc_id").as("b_id"), col("text").as("b_text"))
      val streamSide = d.where(col("doc_id") >= 250).select(col("doc_id"))
        .withColumn("g_id", col("doc_id") - col("doc_id") % 7)
        .withColumn("h_id", col("doc_id") % 250)
        .join(base, col("g_id") === col("b_id"))
        .withColumnRenamed("b_text", "g_text").drop("b_id")
        .join(base, col("h_id") === col("b_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, col("b_text"))
            .otherwise(col("g_text")).as("text"))
      // fingerprint the DERIVED stream corpus plus the history split
      // (not the raw table): a change to the injection protocol must
      // invalidate the marker exactly like a fixture regeneration
      val path = StreamGuard.ensure("q250_stream_admit_text", dir, "inject-v2",
          streamSide.unionByName(hist)) { path =>
        // coalesce(1): one file per drop ⇒ one micro-batch per drop ⇒
        // deterministic arrival order (harness protocol, not a
        // production pattern — production feeds arrive pre-ordered by
        // the source's own log)
        StreamGuard.streamDrops(path,
            streamSide.where(col("doc_id") % 2 === 0).coalesce(1),
            streamSide.where(col("doc_id") % 2 === 1).coalesce(1)) { in =>
          graft.streaming.StreamingIngest.admitNovelTexts(in, hist,
            targetPath = s"$path/admitted", checkpoint = s"$path/ckpt")
        }
      }
      val admitted = s.read.schema(streamSide.schema)
        .parquet(s"$path/admitted")
        .select(col("doc_id")).withColumn("admitted", lit(true))
      streamSide.select("doc_id").join(admitted, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("admitted"), lit(false)).as("admitted"))
        .orderBy("doc_id")
    }),

    // Duplicate-passage mining — the exact-substring cross-document
    // dedup signal (the published n-gram span-dedup construction:
    // Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better", re-expressed relationally): a doc's distinct
    // 8-token windows (codegen'd shingle kernel) against the corpus,
    // shared_ratio = fraction also present in ≥1 OTHER document.
    // Output is LINEAR (one row per doc). Scale shape: spans shuffle
    // by their md5 (32 bytes, never the window text) for the
    // count-over-window, then once by doc_id for the per-doc rollup —
    // two shuffles, no join, no pair expansion. Exact duplicate texts
    // (q50's clusters) must score 1.0 — pinned in ScaleSpec.
    "q93_dup_passages" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          explode(Dedup.shingles(TextAnalysis.tokens(col("text")), 8)).as("span"))
        .select(col("doc_id"), md5(col("span")).as("sh"))
        .createOrReplaceTempView("dp_spans")
      s.sql("""
        |WITH w AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY sh) AS n_docs
        |  FROM dp_spans)
        |SELECT doc_id, count(*) AS n_spans,
        |  count(CASE WHEN n_docs >= 2 THEN 1 END) AS n_shared,
        |  CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE) / count(*)
        |    AS shared_ratio
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // Maximal duplicated span — q93's window fingerprints taken from
    // set-membership to SPAN granularity (the ExactSubstr signal of
    // Lee et al. 2022: "what is the longest passage this document
    // shares verbatim with any other document?"). Positional (non-
    // distinct) 8-token windows; a window is cross-doc shared iff its
    // md5 occurs in ≥2 DISTINCT docs — detected as min(doc_id) ≠
    // max(doc_id) over the hash partition, which both engines express
    // with plain window aggregates (COUNT(DISTINCT) OVER is not
    // available in Spark), and which correctly ignores a window
    // repeating only WITHIN one doc. The longest run of consecutive
    // shared positions (islands via pos − row_number) is the span;
    // its token length is run + 7. Scale shape: spans shuffle once by
    // their 16-byte md5 (payload = (doc_id, pos), never the text),
    // once by doc_id for the island rollup; the only join is the
    // final linear doc_id-equi attach of per-doc token counts. Output
    // is one row per document — no pair expansion at any stage, so a
    // corpus where one passage occurs a million times costs the hash
    // partition size, not its square. Exact-duplicate docs must score
    // max_dup_span = n_tokens (pinned in ScaleSpec).
    "q107_max_dup_span" -> ((s, dir) =>
      Dedup.maxDupSpan(Tables.load(s, dir, "documents"))),

    // Sparse cosine similarity join over integer term-frequency
    // vectors — the AllPairs blocking shape made exactly verifiable:
    // candidates must share a RARE token (df ≤ DfCap, the prefix-
    // filter analog; frequent tokens generate quadratic candidates
    // and almost no signal), then the TRUE cosine over ALL shared
    // tokens is verified with pure int64 arithmetic — cos ≥ 1/2 ⟺
    // 4·dot² ≥ ‖a‖²·‖b‖² (cross-multiplied, no sqrt, no float, so
    // the DuckDB twin must agree bit-for-bit). Runs at the DISTINCT-
    // text representative level (md5 groupBy, min doc_id rep — the
    // q51 trick): exact duplicates collapse BEFORE pair generation,
    // so replicated corpora cost nothing quadratic, and `n_pairs`
    // reports the implied doc-pair multiplicity without materializing
    // it. Scale: tf/df/candidate joins are all token- or rep-equi
    // (no cartesian); candidate volume is bounded by df-cap² per
    // token; the verify join is linear in candidates × overlap.
    "q104_sparse_cosine_join" -> ((s, dir) =>
      Similarity.sparseCosineJoin(
        Tables.load(s, dir, "documents"), SparseDfCap)),

    // CONTENT-DEFINED CHUNKING (q138): Rabin-style rolling-hash chunk
    // boundaries (LBFS, Muthitacharoen et al. SOSP'01; FastCDC, Xia
    // et al. ATC'16 — public) — the dedup-friendly chunking that fixed
    // shingles can't give: an insertion shifts every fixed-stride
    // fingerprint after it, but content-defined boundaries resynchronize
    // because the cut decision depends only on a 4-token local window
    // (boundary after position i iff md5 of tokens[i-3..i] starts with
    // '0' — expected chunk ≈ 16 tokens, doc end always cuts). Output is
    // one row per chunk with its corpus-wide occurrence count: reps ≥ 2
    // chunks are the shareable content units a chunk-store would
    // single-instance. Scale: boundary detection + chunk assembly are
    // pure per-doc array algebra inside one codegen'd projection — NO
    // shuffle until the single hash-partition on chunk_hash that counts
    // reps; output linear in corpus tokens / expected-chunk-size.
    // FanOut (r15): the per-doc rolling-hash boundary scan + chunk
    // assembly is the per-row cost (measured 650 ms on 2 tasks at
    // sf0.1); the chunk-hash window and final orderBy re-key downstream
    "q138_cdc_chunks" -> ((s, dir) => cdcChunks(
      graft.operators.FanOut.byKey(Tables.load(s, dir, "documents"),
        col("doc_id")))))

  /** q138's body over any (doc_id, text, …) frame — ScaleSpec pins the
    * boundary-resynchronization property (an inserted token perturbs
    * only the head chunks) on synthetic pairs. */
  private[graft] def cdcChunks(d: DataFrame): DataFrame = {
    {
      import org.apache.spark.sql.expressions.Window
      val ch = d
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
        .where(size(col("toks")) > 0)
        .withColumn("n", size(col("toks")))
        // starts = 0 plus (boundary position + 1) for every in-range
        // boundary; a boundary at the last position cuts nothing, so
        // the candidate range stops at n - 2 (ANSI guard: sequence()
        // DESCENDS when start > stop, hence the if, not a filter).
        .withColumn("starts", expr(
          """concat(array(0), transform(
            |  filter(if(n >= 5, sequence(3, n - 2), array()),
            |    i -> startswith(md5(concat_ws(' ', slice(toks, int(i) - 2, 4))), '0')),
            |  i -> i + 1))""".stripMargin))
        // assemble the chunk structs INSIDE the per-doc projection and
        // explode only the narrow struct array — exploding `starts`
        // first would copy the full token array once per chunk.
        .select(col("doc_id"), explode(expr(
          """transform(starts, (st, j) -> named_struct(
            |  'chunk_idx', cast(j as bigint),
            |  'start',     cast(st as bigint),
            |  'chunk_tokens',
            |    cast(coalesce(try_element_at(starts, j + 2), n) - st as bigint),
            |  'chunk_hash', md5(concat_ws(' ', slice(toks, int(st) + 1,
            |    int(coalesce(try_element_at(starts, j + 2), n) - st))))))"""
            .stripMargin)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.start").as("start"), col("c.chunk_tokens").as("chunk_tokens"),
          col("c.chunk_hash").as("chunk_hash"))
      ch.withColumn("reps",
          count(lit(1)).over(Window.partitionBy("chunk_hash")))
        .orderBy("doc_id", "chunk_idx")
    }
  }

  /** q51's DuckDB rendering, reused by q70's recursive-CTE oracle.
    *
    * Mirrors the Spark pipeline structurally (per-DISTINCT-title
    * signatures, band buckets capped at [[Dedup.MaxBucket]] members by
    * rep order, candidate pairs expanded back to doc pairs) so the
    * capped contract is identical on both sides at ANY corpus size —
    * a doc-level rendering would diverge from the title-level cap the
    * moment a bucket crossed the cap. */
  /** q51/q225 shared oracle prefix: posts CTE → title reps → shingles
    * → minhash signatures → band rows → capped buckets. */
  private lazy val mhCandidateCtes: String = {
    val cte = PostsProxy.duckCte
    val toksE = TextAnalysis.tokensSql("title")
    val docsCte = s"docs AS (SELECT doc_id, title FROM posts_proxy WHERE title <> '')"
    val bandRows = (0 until Dedup.Bands).map(b =>
      s"SELECT title, rep, $b AS band, ${Dedup.bandKeySql("sig", b)} AS bkey FROM sigs")
      .mkString(" UNION ALL ")
    s"""$cte, $docsCte,
       |tit AS (SELECT title, min(doc_id) AS rep FROM docs GROUP BY title),
       |sh AS (SELECT title, rep, ${Dedup.shinglesSql(toksE)} AS sh FROM tit),
       |sigs AS (SELECT title, rep, sh, ${Dedup.minhashSignatureSql("sh")} AS sig FROM sh),
       |bands AS ($bandRows),
       |capped AS (SELECT title, rep, band, bkey FROM (
       |  SELECT *, row_number() OVER (PARTITION BY band, bkey ORDER BY rep) AS rk FROM bands)
       |  WHERE rk <= ${Dedup.MaxBucket})""".stripMargin
  }

  private lazy val q51OracleSql: String = {
    s"""$mhCandidateCtes,
       |cand AS (
       |  SELECT DISTINCT a.title AS title_a, b.title AS title_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.rep <= b.rep),
       |tj AS (
       |  SELECT title_a, title_b, ${Dedup.jaccardSql("sa.sh", "sb.sh")} AS jaccard
       |  FROM cand JOIN sh sa ON sa.title = title_a JOIN sh sb ON sb.title = title_b),
       |sel AS (SELECT * FROM tj WHERE jaccard >= 0.5)
       |SELECT doc_a, doc_b, max(jaccard) AS jaccard FROM (
       |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       |         greatest(ma.doc_id, mb.doc_id) AS doc_b, jaccard
       |  FROM sel JOIN docs ma ON ma.title = title_a
       |           JOIN docs mb ON mb.title = title_b
       |  WHERE ma.doc_id <> mb.doc_id)
       |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin
  }

  val oracleSql: Map[String, String] = {
    val cte = PostsProxy.duckCte
    val toksE = TextAnalysis.tokensSql("title")
    val docsCte = s"docs AS (SELECT doc_id, title FROM posts_proxy WHERE title <> '')"
    Map(
      // q219: identical bucket/first-occurrence arithmetic (all
      // operands non-negative, // = div; the two unpartitioned windows
      // run over the YieldBuckets-row spine in both engines).
      "q219_yield_curve" ->
        s"""WITH d AS (SELECT doc_id, md5(text) AS fp FROM documents),
           |mx AS (SELECT max(doc_id) AS mid FROM d),
           |bk AS (SELECT doc_id, fp,
           |    least($YieldBuckets - 1,
           |      (doc_id * $YieldBuckets) // (mx.mid + 1)) AS bucket
           |  FROM d CROSS JOIN mx),
           |per_b AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM bk GROUP BY 1),
           |fo AS (SELECT fp, min(bucket) AS bucket FROM bk GROUP BY 1),
           |fb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_new
           |  FROM fo GROUP BY 1),
           |j AS (SELECT p.bucket, p.n_docs, coalesce(f.n_new, 0) AS n_new,
           |    CAST(sum(p.n_docs) OVER (ORDER BY p.bucket) AS BIGINT)
           |      AS cum_docs,
           |    CAST(sum(coalesce(f.n_new, 0)) OVER (ORDER BY p.bucket)
           |      AS BIGINT) AS cum_unique
           |  FROM per_b p LEFT JOIN fb f ON f.bucket = p.bucket)
           |SELECT bucket, n_docs, n_new, cum_docs, cum_unique,
           |  (CAST(1000000 AS BIGINT) * n_new) // n_docs AS yield_ppm,
           |  (CAST(1000000 AS BIGINT) * cum_unique) // cum_docs
           |    AS cum_unique_ppm
           |FROM j ORDER BY bucket""".stripMargin,

      "q50_dedup_exact" ->
        """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,

      "q51_minhash_lsh" -> q51OracleSql,

      // q239: the q51 candidate chain (shared CTEs), doc pairs
      // counted from (title, source) multiplicities — diagonal self
      // pairs C(n,2), everything else n_a·n_b once per unordered
      // source combo.
      "q239_contamination_matrix" ->
        s"""$mhCandidateCtes,
           |cand AS (
           |  SELECT DISTINCT a.title AS title_a, b.title AS title_b
           |  FROM capped a JOIN capped b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.rep <= b.rep),
           |tj AS (
           |  SELECT title_a, title_b,
           |    ${Dedup.jaccardSql("sa.sh", "sb.sh")} AS jaccard
           |  FROM cand JOIN sh sa ON sa.title = title_a
           |            JOIN sh sb ON sb.title = title_b),
           |sel AS (SELECT * FROM tj WHERE jaccard >= 0.5),
           |ts AS (SELECT title, subreddit AS src,
           |    CAST(count(*) AS BIGINT) AS n
           |  FROM posts_proxy WHERE title <> '' GROUP BY title, subreddit),
           |px AS (SELECT least(ta.src, tb.src) AS src_a,
           |    greatest(ta.src, tb.src) AS src_b,
           |    CASE WHEN s.title_a = s.title_b AND ta.src = tb.src
           |         THEN (ta.n * (ta.n - 1)) // 2
           |         ELSE ta.n * tb.n END AS n_doc_pairs,
           |    CASE WHEN s.title_a = s.title_b THEN 0 ELSE 1 END
           |      AS cross_title
           |  FROM sel s JOIN ts ta ON ta.title = s.title_a
           |             JOIN ts tb ON tb.title = s.title_b
           |  WHERE s.title_a <> s.title_b OR ta.src <= tb.src)
           |SELECT src_a, src_b,
           |  CAST(count(*) AS BIGINT) AS n_groups,
           |  CAST(sum(cross_title) AS BIGINT) AS n_cross_groups,
           |  CAST(sum(n_doc_pairs) AS BIGINT) AS n_doc_pairs
           |FROM px GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin,

      // q225: the q51 candidate chain (shared CTEs) with the band kept
      // through the pair join; same strict-< pair order, same Jaccard
      // rendering (q51's hash-compare already pins its equality).
      "q225_lsh_band_audit" ->
        s"""$mhCandidateCtes,
           |cand AS (
           |  SELECT a.band, a.title AS ta, b.title AS tb
           |  FROM capped a JOIN capped b
           |    ON a.band = b.band AND a.bkey = b.bkey AND a.rep < b.rep),
           |ver AS (SELECT c.band, ${Dedup.jaccardSql("sa.sh", "sb.sh")} AS j
           |  FROM cand c
           |  JOIN sh sa ON sa.title = c.ta
           |  JOIN sh sb ON sb.title = c.tb),
           |per_band AS (SELECT band, CAST(count(*) AS BIGINT) AS n_candidates,
           |    CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_verified
           |  FROM ver GROUP BY band),
           |uniq AS (SELECT CAST(count(*) AS BIGINT) AS distinct_pairs
           |  FROM (SELECT DISTINCT ta, tb FROM cand) dp)
           |SELECT CAST(band AS BIGINT) AS band, n_candidates, n_verified,
           |  (CAST(1000000 AS BIGINT) * n_verified) // n_candidates
           |    AS precision_ppm,
           |  distinct_pairs
           |FROM per_band CROSS JOIN uniq ORDER BY band""".stripMargin,

      "q70_dup_clusters" ->
        s"""WITH RECURSIVE pairs AS (
           |$q51OracleSql
           |),
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION
           |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
           |reach(node, r) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node)
           |SELECT node AS doc_id, min(r) AS cluster
           |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

      "q52_simhash" ->
        s"""$cte, $docsCte,
           |t AS (SELECT doc_id, $toksE AS toks FROM docs),
           |sh AS (SELECT doc_id, ${Dedup.simhashSql("toks")} AS simhash FROM t)
           |SELECT doc_id, simhash, count(*) OVER (PARTITION BY simhash) AS n_same
           |FROM sh ORDER BY doc_id""".stripMargin,

      "q53_ngram_jaccard" ->
        s"""$cte, $docsCte,
           |tit AS (SELECT title, min(doc_id) AS rep FROM docs GROUP BY title),
           |t AS (SELECT title, rep, $toksE AS toks FROM tit),
           |cg AS (SELECT title, rep,
           |    toks[1] || '#' || CAST(len(toks) AS VARCHAR) AS blk,
           |    ${Dedup.charGramsSql("lower(trim(title))")} AS cg
           |  FROM t WHERE len(toks) > 0),
           |capped AS (SELECT title, rep, blk, cg FROM (
           |  SELECT *, row_number() OVER (PARTITION BY blk ORDER BY rep) AS rk FROM cg)
           |  WHERE rk <= ${Dedup.MaxBucket}),
           |tp AS (
           |  SELECT a.title AS title_a, b.title AS title_b,
           |    ${Dedup.jaccardSql("a.cg", "b.cg")} AS jaccard
           |  FROM capped a JOIN capped b ON a.blk = b.blk AND a.rep <= b.rep),
           |sel AS (SELECT * FROM tp WHERE jaccard >= 0.6)
           |SELECT doc_a, doc_b, max(jaccard) AS jaccard FROM (
           |  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
           |         greatest(ma.doc_id, mb.doc_id) AS doc_b, jaccard
           |  FROM sel JOIN docs ma ON ma.title = title_a
           |           JOIN docs mb ON mb.title = title_b
           |  WHERE ma.doc_id <> mb.doc_id)
           |GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin,

      "q67_incremental_dedup" ->
        """SELECT doc_id, md5(text) AS text_hash FROM documents b
          |WHERE doc_id >= 250 AND NOT EXISTS (
          |  SELECT 1 FROM documents h WHERE h.doc_id < 250 AND md5(h.text) = md5(b.text))
          |ORDER BY doc_id""".stripMargin,

      "q54_embedding_dup" ->
        (Similarity.nearDupPairsAdaptiveDuckSql(0.4) + "\nORDER BY vec_a, vec_b"),

      "q88_embedding_dup_multitable" ->
        (Similarity.multiTableNearDupPairsAdaptiveDuckSql(0.4, NumTables) +
          "\nORDER BY vec_a, vec_b"),

      // q87: q70's recursive-closure clusters (doc-level, pair-list
      // coverage) projected to the production doc→representative map
      // over the FULL non-empty-title universe — docs outside the pair
      // list fall back to their title's minimal member (exact-duplicate
      // collapse), mirroring the Spark side's coalesce(component, rep).
      // The `univ AS (` marker is load-bearing: scripts/cc_check.py
      // splits this statement there to swap the quadratic recursive CTE
      // for an iterative pointer-jumping loop at sf1.
      // q89: same closure shape as q70/q87 but over the q54-engine pair
      // graph; pair multiplicity (not title fan-out) bounds the
      // clusters, so this recursive CTE is feasible at every local SF.
      "q89_semantic_dedup" ->
        s"""WITH RECURSIVE pairs AS (
           |${Similarity.nearDupPairsDuckSql(0.4)}
           |),
           |edges AS (
           |  SELECT vec_a AS src, vec_b AS dst FROM pairs
           |  UNION
           |  SELECT vec_b AS src, vec_a AS dst FROM pairs),
           |reach(node, r) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
           |clusters AS (SELECT node AS vec_id, min(r) AS keep FROM reach GROUP BY node)
           |SELECT e.vec_id, coalesce(c.keep, e.vec_id) AS keep_vec_id
           |FROM embeddings e LEFT JOIN clusters c USING (vec_id)
           |ORDER BY e.vec_id""".stripMargin,

      // q90: asymmetric rendering of the incremental probe — history
      // bucketed + capped exactly like the Spark index view, batch
      // explodes the same probe list; one min/count aggregate.
      "q90_incremental_embedding_dedup" -> {
        val probesList = (Seq("bucket") ++ (0 until Similarity.NumPlanes)
          .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
           |    ${Similarity.bucketSql("embedding")} AS bucket FROM embeddings),
           |hist AS (SELECT vec_id, embedding, nrm, bucket FROM (
           |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
           |  FROM e WHERE vec_id < 250) WHERE rk <= ${Dedup.MaxBucket}),
           |batch AS (SELECT vec_id, embedding, nrm, bucket FROM e WHERE vec_id >= 250),
           |probes AS (SELECT vec_id, embedding, nrm, unnest($probesList) AS probe FROM batch),
           |m AS (
           |  SELECT bv, min(hv) AS dup_of, count(*) AS n_matches FROM (
           |    SELECT a.vec_id AS bv, h.vec_id AS hv,
           |      ${Dedup.dotProductSql("a.embedding", "h.embedding")} / (a.nrm * h.nrm) AS cosine
           |    FROM probes a JOIN hist h ON h.bucket = a.probe)
           |  WHERE cosine >= 0.4 GROUP BY bv)
           |SELECT b.vec_id, m.dup_of, coalesce(m.n_matches, 0) AS n_matches
           |FROM batch b LEFT JOIN m ON m.bv = b.vec_id
           |ORDER BY b.vec_id""".stripMargin
      },

      // q91: the Bloom bit array re-expressed relationally — `setbits`
      // IS the filter (distinct positions set by history keys), and
      // bloom_positive(s) ⇔ all K of s's positions land in it. Spark's
      // is_dup short-circuit for bloom-negatives is only correct
      // because a Bloom filter has no false negatives; the oracle
      // computes the exact membership for EVERY row, so hash-equality
      // proves the property each round.
      "q91_bloom_incremental_dedup" -> {
        val (m, k) = (Bloom.DefaultBits, Bloom.DefaultHashes)
        s"""WITH hist AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 250),
           |js AS (SELECT unnest(range(0, $k)) AS j),
           |setbits AS (SELECT DISTINCT ${Bloom.positionSql("j", "h", m)} AS p
           |  FROM hist CROSS JOIN js),
           |batch AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250),
           |bpos AS (SELECT doc_id, h, ${Bloom.positionSql("j", "h", m)} AS p
           |  FROM batch CROSS JOIN js),
           |bp AS (
           |  SELECT b.doc_id, b.h, (count(s.p) = $k) AS bloom_positive
           |  FROM bpos b LEFT JOIN setbits s ON s.p = b.p
           |  GROUP BY b.doc_id, b.h),
           |hd AS (SELECT DISTINCT h FROM hist)
           |SELECT bp.doc_id, bp.bloom_positive, (hd.h IS NOT NULL) AS is_dup
           |FROM bp LEFT JOIN hd ON hd.h = bp.h
           |ORDER BY bp.doc_id""".stripMargin
      },

      "q92_incremental_embedding_dedup_multitable" ->
        Similarity.multiTableIncrementalDedupDuckSql(0.4, NumTables, 250),

      // q249: the streamed admission decision ≡ q90's batch decision
      // (admitted ⟺ no capped-history probe match at cos ≥ 0.4) — the
      // oracle recomputes it batch-side from scratch, so the hash
      // certifies the streaming run end-to-end.
      "q249_streamed_admission_parity" -> {
        val probesList = (Seq("bucket") ++ (0 until Similarity.NumPlanes)
          .map(i => s"xor(bucket, ${1 << i})")).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, embedding, ${Dedup.normSql("embedding")} AS nrm,
           |    ${Similarity.bucketSql("embedding")} AS bucket FROM embeddings),
           |hist AS (SELECT vec_id, embedding, nrm, bucket FROM (
           |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY vec_id) AS rk
           |  FROM e WHERE vec_id < 250) WHERE rk <= ${Dedup.MaxBucket}),
           |batch AS (SELECT vec_id, embedding, nrm, bucket FROM e WHERE vec_id >= 250),
           |probes AS (SELECT vec_id, embedding, nrm, unnest($probesList) AS probe FROM batch),
           |m AS (
           |  SELECT DISTINCT bv FROM (
           |    SELECT a.vec_id AS bv,
           |      ${Dedup.dotProductSql("a.embedding", "h.embedding")} / (a.nrm * h.nrm) AS cosine
           |    FROM probes a JOIN hist h ON h.bucket = a.probe)
           |  WHERE cosine >= 0.4)
           |SELECT b.vec_id, (m.bv IS NULL) AS admitted
           |FROM batch b LEFT JOIN m ON m.bv = b.vec_id
           |ORDER BY b.vec_id""".stripMargin
      },

      // q250: the streamed text admission replayed as one ranked pass
      // over the SAME injected-duplication corpus — admitted ⟺ hash ∉
      // history AND first among same-hash stream docs in
      // (drop = doc_id % 2, doc_id) arrival order.
      "q250_streamed_text_admission_parity" ->
        """WITH hist AS (SELECT DISTINCT md5(text) AS h
          |  FROM documents WHERE doc_id < 250),
          |strm AS (SELECT s.doc_id,
          |    CASE WHEN s.doc_id % 11 = 0 THEN hd.text ELSE g.text END AS text
          |  FROM documents s
          |  JOIN documents g ON g.doc_id = s.doc_id - (s.doc_id % 7)
          |  JOIN documents hd ON hd.doc_id = s.doc_id % 250
          |  WHERE s.doc_id >= 250),
          |rk AS (SELECT doc_id, md5(text) AS h, row_number() OVER (
          |    PARTITION BY md5(text) ORDER BY doc_id % 2, doc_id) AS rn
          |  FROM strm)
          |SELECT r.doc_id, (r.rn = 1 AND hi.h IS NULL) AS admitted
          |FROM rk r LEFT JOIN hist hi ON hi.h = r.h
          |ORDER BY r.doc_id""".stripMargin,

      // q104: same rep-level chain; BIGINT casts keep DuckDB's integer
      // sums out of HUGEINT (the driver hashes it differently)
      "q104_sparse_cosine_join" ->
        s"""WITH reps AS (SELECT min(doc_id) AS rep, count(*) AS n_docs
           |  FROM documents GROUP BY md5(text)),
           |rd AS (SELECT r.rep, r.n_docs, d.text FROM reps r
           |  JOIN documents d ON d.doc_id = r.rep),
           |tok AS (SELECT rep, n_docs, unnest(${TextAnalysis.tokensSql("text")}) AS token FROM rd),
           |tf AS (SELECT rep, n_docs, token, count(*) AS tf FROM tok GROUP BY 1, 2, 3),
           |dfc AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
           |rp AS (SELECT tf.rep, tf.token FROM tf
           |  JOIN dfc ON dfc.token = tf.token WHERE dfc.df <= $SparseDfCap),
           |cand AS (SELECT DISTINCT a.rep AS ra, b.rep AS rb
           |  FROM rp a JOIN rp b ON a.token = b.token AND a.rep < b.rep),
           |dp AS (SELECT ra, rb, CAST(sum(ta.tf * tb.tf) AS BIGINT) AS dot
           |  FROM cand JOIN tf ta ON ta.rep = cand.ra
           |  JOIN tf tb ON tb.rep = cand.rb AND tb.token = ta.token
           |  GROUP BY ra, rb),
           |n AS (SELECT rep, CAST(sum(tf * tf) AS BIGINT) AS n2,
           |  max(n_docs) AS n_docs FROM tf GROUP BY rep)
           |SELECT ra AS rep_a, rb AS rep_b, dot, na.n2 AS na2, nb.n2 AS nb2,
           |  na.n_docs * nb.n_docs AS n_pairs
           |FROM dp JOIN n na ON na.rep = dp.ra JOIN n nb ON nb.rep = dp.rb
           |WHERE 4 * dot * dot >= na.n2 * nb.n2
           |ORDER BY rep_a, rep_b""".stripMargin,

      // q138: the same boundary/assembly algebra over DuckDB lists;
      // range(3, n) is empty when n <= 3 (no ANSI descending-sequence
      // trap to guard), starts[j + 2] is 1-based and NULL out of range.
      "q138_cdc_chunks" ->
        s"""WITH t AS (SELECT doc_id, ${TextAnalysis.tokensSql("text")} AS toks FROM documents),
           |t1 AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
           |b AS (SELECT doc_id, toks, n,
           |    list_filter(range(3, n), i ->
           |      md5(array_to_string(list_slice(toks, i - 2, i + 1), ' '))[1] = '0') AS bnds
           |  FROM t1),
           |st AS (SELECT doc_id, toks, n,
           |    list_concat([0], list_transform(list_filter(bnds, i -> i + 1 < n),
           |      i -> i + 1)) AS starts
           |  FROM b),
           |ch0 AS (SELECT doc_id, toks, n, starts,
           |    unnest(range(0, len(starts))) AS j FROM st),
           |ch AS (SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
           |    CAST(starts[j + 1] AS BIGINT) AS start,
           |    CAST(coalesce(starts[j + 2], n) - starts[j + 1] AS BIGINT) AS chunk_tokens,
           |    md5(array_to_string(list_slice(toks, starts[j + 1] + 1,
           |      coalesce(starts[j + 2], n)), ' ')) AS chunk_hash
           |  FROM ch0)
           |SELECT doc_id, chunk_idx, start, chunk_tokens, chunk_hash,
           |  count(*) OVER (PARTITION BY chunk_hash) AS reps
           |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,

      "q93_dup_passages" ->
        s"""WITH t AS (SELECT doc_id,
           |    ${Dedup.shinglesSql(TextAnalysis.tokensSql("text"), 8)} AS sh
           |  FROM documents),
           |sp0 AS (SELECT doc_id, unnest(sh) AS span FROM t),
           |sp AS (SELECT doc_id, md5(span) AS sh FROM sp0),
           |w AS (SELECT doc_id, count(*) OVER (PARTITION BY sh) AS n_docs FROM sp)
           |SELECT doc_id, count(*) AS n_spans,
           |  count(CASE WHEN n_docs >= 2 THEN 1 END) AS n_shared,
           |  CAST(count(CASE WHEN n_docs >= 2 THEN 1 END) AS DOUBLE) / count(*)
           |    AS shared_ratio
           |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      // q107: positional windows via a list-of-structs unnest (pos is
      // the range index, so both engines number windows identically);
      // the shared/island/run algebra is the same SQL as the engine's.
      "q107_max_dup_span" ->
        s"""WITH t AS (SELECT doc_id, ${TextAnalysis.tokensSql("text")} AS toks
           |  FROM documents),
           |d AS (SELECT doc_id, len(toks) AS n_tokens FROM t),
           |sp0 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 7),
           |    i -> {'p': i, 's': md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))})) AS u
           |  FROM t WHERE len(toks) >= 8),
           |sp AS (SELECT doc_id, u.p AS pos, u.s AS sh FROM sp0),
           |m AS (
           |  SELECT doc_id, pos,
           |    min(doc_id) OVER (PARTITION BY sh) AS mn,
           |    max(doc_id) OVER (PARTITION BY sh) AS mx
           |  FROM sp),
           |shr AS (SELECT doc_id, pos FROM m WHERE mn <> mx),
           |isl AS (SELECT doc_id,
           |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |  FROM shr),
           |runs AS (SELECT doc_id, grp, count(*) AS run FROM isl GROUP BY doc_id, grp),
           |mr AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id)
           |SELECT d.doc_id, d.n_tokens,
           |  CAST(coalesce(mr.max_run + 7, 0) AS BIGINT) AS max_dup_span
           |FROM d LEFT JOIN mr ON mr.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin,

      "q87_dedup_representatives" ->
        s"""WITH RECURSIVE pairs AS (
           |$q51OracleSql
           |),
           |edges AS (
           |  SELECT doc_a AS src, doc_b AS dst FROM pairs
           |  UNION
           |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
           |reach(node, r) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node),
           |clusters AS (SELECT node AS doc_id, min(r) AS cluster FROM reach GROUP BY node),
           |univ AS (
           |  $cte, $docsCte,
           |  tit AS (SELECT title, min(doc_id) AS rep FROM docs GROUP BY title)
           |  SELECT d.doc_id, t.rep FROM docs d JOIN tit t USING (title))
           |SELECT u.doc_id, coalesce(c.cluster, u.rep) AS keep_doc_id
           |FROM univ u LEFT JOIN clusters c ON c.doc_id = u.doc_id
           |ORDER BY u.doc_id""".stripMargin)
  }
}
