package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Bloom, Cms}
import graft.functions.TextAnalysis._
import graft.sources.Tables

/** Text-analysis extension queries over the `documents` fixture
  * (q40–q45, q86, q94). Each is a single narrow projection — no
  * shuffle at all except the final presentation ORDER BY (and
  * q45/q94's token counts), so the shape is embarrassingly parallel
  * at 100 TB: scan → codegen'd expressions → write.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** q214: spectrum depth — ranks of the frequency curve reported per
    * language. Vocab-bounded (the q45 discipline), never corpus-sized. */
  private val ZipfRanks = 50

  /** q234: signature terms per source and the hapax-noise floor. */
  private val SigTermsK = 5
  private val MinTermCount = 5

  /** q101's oracle: [[graft.operators.Bpe.Steps]] unrolled training
    * rounds. Round i reads seq`i`, counts pairs (c`i`), picks the
    * winner (m`i`), and — except after the last round — rebuilds
    * seq`i+1` by exploding to positions (pos`i`), locating matches
    * (mt`i`), keeping the odd row-number of each consecutive-match
    * island (tk`i` — the greedy-scan equivalence), and re-assembling
    * with merged tokens in place and right-halves dropped. Every CTE
    * is `AS MATERIALIZED`: the chain references each seq`i` from
    * multiple downstream CTEs, and DuckDB's default inlining
    * re-derives the whole prefix per reference — exponential in
    * `steps` (measured 197 s → 0.6 s at sf0.001 for the encode
    * variant from this one hint). */
  private def bpeBlocks(steps: Int, mergeAll: Boolean): Seq[String] =
    (0 until steps).map { i =>
      val count =
        s"""c$i AS MATERIALIZED (SELECT pr.l AS l, pr.r AS r, count(*) AS cnt FROM (
           |  SELECT unnest(list_transform(range(1, len(toks)),
           |    j -> {'l': toks[j], 'r': toks[j + 1]})) AS pr FROM seq$i)
           |  GROUP BY 1, 2),
           |m$i AS MATERIALIZED (SELECT l, r, cnt FROM c$i ORDER BY cnt DESC, l, r LIMIT 1)"""
          .stripMargin
      val merge = if (!mergeAll && i == steps - 1) "" else
        s""",
           |pos$i AS MATERIALIZED (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p,
           |  unnest(toks) AS t FROM seq$i),
           |mt$i AS MATERIALIZED (SELECT a.doc_id, a.p FROM pos$i a
           |  JOIN pos$i b ON b.doc_id = a.doc_id AND b.p = a.p + 1
           |  JOIN m$i m ON a.t = m.l AND b.t = m.r),
           |tk$i AS MATERIALIZED (SELECT doc_id, p FROM (
           |  SELECT doc_id, p, row_number() OVER (PARTITION BY doc_id, g ORDER BY p) AS rn
           |  FROM (SELECT doc_id, p,
           |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g FROM mt$i))
           |  WHERE rn % 2 = 1),
           |seq${i + 1} AS MATERIALIZED (SELECT doc_id, list(tok ORDER BY p) AS toks FROM (
           |  SELECT pos.doc_id, pos.p,
           |    CASE WHEN tk.p IS NOT NULL THEN (SELECT l || r FROM m$i)
           |         WHEN tp.p IS NOT NULL THEN NULL
           |         ELSE pos.t END AS tok
           |  FROM pos$i pos
           |  LEFT JOIN tk$i tk ON tk.doc_id = pos.doc_id AND tk.p = pos.p
           |  LEFT JOIN tk$i tp ON tp.doc_id = pos.doc_id AND tp.p = pos.p - 1)
           |  WHERE tok IS NOT NULL GROUP BY doc_id)""".stripMargin
      count + merge
    }

  private def bpeTrainSql(toksE: String): String = {
    val steps = graft.operators.Bpe.Steps
    val union = (0 until steps).map(i =>
      s"SELECT ${i + 1} AS step, l AS tok_left, r AS tok_right, cnt FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH seq0 AS MATERIALIZED (SELECT doc_id, $toksE AS toks FROM documents),
       |${bpeBlocks(steps, mergeAll = false).mkString(",\n")}
       |SELECT step, tok_left, tok_right, cnt FROM (
       |$union
       |) ORDER BY step""".stripMargin
  }

  /** q110's oracle: the q101 unrolled-training blocks with the final
    * merge ALSO applied (seq`steps` materializes), then the encoded
    * corpus read off seq`steps`. seq`i+1` is built from an explode →
    * GROUP BY doc_id, so zero-token docs vanish from it — the LEFT
    * JOIN + coalesce restores them as ('' , 0), matching Spark's
    * kernel-on-empty-array behavior. */
  private def bpeEncodeSql(toksE: String): String = {
    val steps = graft.operators.Bpe.Steps
    s"""WITH seq0 AS MATERIALIZED (SELECT doc_id, $toksE AS toks FROM documents),
       |${bpeBlocks(steps, mergeAll = true).mkString(",\n")}
       |SELECT r.doc_id, len(r.toks) AS n_raw,
       |  CAST(coalesce(len(e.toks), 0) AS BIGINT) AS n_bpe,
       |  coalesce(array_to_string(e.toks, '|'), '') AS encoded
       |FROM seq0 r LEFT JOIN seq$steps e ON e.doc_id = r.doc_id
       |ORDER BY r.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ZIPF RANK–FREQUENCY CURVE (q214): the token frequency spectrum
    // audit that catches template/boilerplate corruption in a crawl —
    // natural text follows f(r) ≈ f(1)/r, machine-generated or
    // deduplication-damaged corpora bend the curve. Per language: the
    // top ZipfRanks tokens with `zipf_fit_ppm` = 1e6·n·r/f(1) (flat at
    // ~1e6 under ideal Zipf, the deviation IS the diagnostic) and the
    // observed f(1)/f(r) decay. Scale shape: the count rollup is
    // map-combinable on (lang, token); the rank window partitions by
    // lang over the VOCAB-bounded count table (the q45 discipline),
    // never the corpus. The ×1e6 products stay under 2^63 while the
    // per-language token count stays under ~9e12 per top term — at a
    // bigger corpus drop the fixed-point scale to 1e3.
    "q214_zipf_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("token").asc)
      docs(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= ZipfRanks)
        .withColumn("f1",
          max(when(col("rank") === 1, col("n")))
            .over(Window.partitionBy("lang")))
        .select(col("lang"), col("rank"), col("token"), col("n"),
          expr("(CAST(1000000 AS BIGINT) * n * rank) div f1")
            .as("zipf_fit_ppm"),
          expr("(CAST(1000000 AS BIGINT) * f1) div n").as("f1_over_fr_ppm"))
        .orderBy("lang", "rank")
    }),

    // HEAPS VOCABULARY-GROWTH CURVE (q246): how fast does the corpus
    // still produce NEW token types as it grows — the companion to
    // q214's static Zipf spectrum and the collection-size planner's
    // curve (Heaps' law V(n) ≈ K·n^β: a crawl whose vocab curve has
    // flattened is re-crawling itself; one whose per-decile novelty
    // is NOT falling is template-exploding ids/hashes). Docs are cut
    // into ten id-range deciles (pure value arithmetic off the
    // broadcast min/max — identical in both engines, no rank);
    // per decile: cumulative docs, cumulative token occurrences,
    // cumulative vocabulary (a token counts where its FIRST decile
    // falls — min(decile) per type, exact), fresh types, and the
    // novelty rate 10⁶·new_types div n_tok. Scale shape: one explode
    // + two map-combinable rollups (per-decile occurrence counts and
    // a min-combinable first-decile per type → ≤10-row recount); the
    // only windows are cumulative sums over the 10-row decile frame
    // (aggregate-bounded, the q118/q122 contract); nothing
    // corpus-sized past the (token) shuffle.
    "q246_heaps_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val b = d.agg(min("doc_id").as("d0"), max("doc_id").as("d1"))
      val dd = d.crossJoin(broadcast(b))
        .select(expr("((doc_id - d0) * 10) div (d1 - d0 + 1)").as("decile"),
          tokens(col("text")).as("toks"))
      val tok = dd.select(col("decile"), explode(col("toks")).as("tok"))
      val nDocs = dd.groupBy("decile").agg(count(lit(1)).as("n_docs"))
      val occ = tok.groupBy("decile").agg(count(lit(1)).as("n_tok"))
      val nt = tok.groupBy("tok").agg(min("decile").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy("decile")
      nDocs.join(occ, Seq("decile"), "left").join(nt, Seq("decile"), "left")
        .na.fill(0L, Seq("n_tok", "new_types"))
        .select(col("decile"),
          sum("n_docs").over(w).as("n_docs_cum"),
          sum("n_tok").over(w).as("n_tok_cum"),
          sum("new_types").over(w).as("vocab_cum"),
          col("new_types"),
          when(col("n_tok") === 0, -1L)
            .otherwise(expr("(CAST(1000000 AS BIGINT) * new_types) div n_tok"))
            .as("novelty_ppm"))
        .orderBy("decile")
    }),

    // FanOut (r15): tokenize + 4 stopword scans are the per-row cost;
    // on the single-row-group fixtures this stage ran serially AND
    // twice (the orderBy's range sampling re-evaluates the map chain
    // when no exchange sits between scan and sort). The fan-out
    // parallelizes the map and materializes it once into shuffle files
    // that both the sampling and sort passes read.
    "q40_lang_id" -> ((s, dir) =>
      graft.operators.FanOut.byKey(docs(s, dir), col("doc_id"))
        .withColumn("toks", tokens(col("text")))
        .select(
          col("doc_id"), col("lang"),
          stopwordHits(col("toks"), "en").as("s_en"),
          stopwordHits(col("toks"), "de").as("s_de"),
          stopwordHits(col("toks"), "fr").as("s_fr"),
          stopwordHits(col("toks"), "es").as("s_es"))
        .withColumn("pred_lang",
          predLang(col("s_en"), col("s_de"), col("s_fr"), col("s_es")))
        .orderBy("doc_id")),

    // SOURCE SIGNATURE TERMS (q234): each source's most
    // over-represented tokens vs the rest of the corpus — the
    // "what IS this feed" fingerprint a data card ships next to the
    // q172 rollup, and the fastest template-flood tell (a source whose
    // top signature term is 100× its base rate is a boilerplate
    // factory). Distinctiveness is the exact cross-multiplied rate
    // ratio (f_s·n_other)/((f_other+1)·n_s) in ppm — add-one on the
    // complement count so source-exclusive terms stay finite and
    // ordered (documented smoothing, identical in both engines);
    // f ≥ MinTermCount kills hapax noise. Scale shape: one explode +
    // map-combinable (source, token) rollup; every later frame is
    // VOCAB-bounded (the q45 discipline), the ranking window
    // partitions by source, output ≤ SigTermsK·|sources| rows. The
    // ×1e6 product stays in int64 while f·n_other < 9·10¹².
    "q234_source_terms" -> ((s, dir) => {
      docs(s, dir)
        .select(col("source"), explode(tokens(col("text"))).as("token"))
        .createOrReplaceTempView("q234_tok")
      s.sql(s"""
        |WITH per AS (SELECT source, token, count(*) AS f
        |  FROM q234_tok GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(sum(f) AS BIGINT) AS ftot
        |  FROM per GROUP BY 1),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
        |  FROM q234_tok GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM q234_tok),
        |sc AS (SELECT p.source, p.token, CAST(p.f AS BIGINT) AS f,
        |    v.ftot - p.f AS f_other, ns.n_s,
        |    tot.n_tot - ns.n_s AS n_other,
        |    (CAST(1000000 AS BIGINT) * p.f * (tot.n_tot - ns.n_s))
        |      div ((v.ftot - p.f + 1) * ns.n_s) AS ratio_ppm
        |  FROM per p JOIN vocab v USING (token) JOIN ns USING (source)
        |  CROSS JOIN tot
        |  WHERE p.f >= $MinTermCount),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY ratio_ppm DESC, token) AS rank FROM sc)
        |SELECT source, CAST(rank AS BIGINT) AS rank, token, f, f_other,
        |  n_s, n_other, ratio_ppm
        |FROM rk WHERE rank <= $SigTermsK ORDER BY source, rank""".stripMargin)
    }),

    // LANGUAGE-ID CONFUSION MATRIX (q231): q40's stopword classifier
    // scored against the labeled lang column — the (label, prediction)
    // matrix with per-label recall in exact ppm, plus each cell's
    // share of its label row. The eval a heuristic gate needs before
    // it routes documents (q165 trusts pred_lang; this is the audit
    // of that trust, and the per-label recall shows WHICH languages
    // the stopword lists under-serve). Scale shape: one per-row
    // projection (the q40 scan), one map-combinable (label, pred)
    // rollup — |langs|² cells — and a broadcast of the |langs|-row
    // label totals.
    "q231_lang_confusion" -> ((s, dir) => {
      val scored = docs(s, dir)
        .withColumn("toks", tokens(col("text")))
        .select(col("lang"),
          predLang(stopwordHits(col("toks"), "en"),
            stopwordHits(col("toks"), "de"),
            stopwordHits(col("toks"), "fr"),
            stopwordHits(col("toks"), "es")).as("pred"))
      val cells = scored.groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      val totals = scored.groupBy("lang").agg(count(lit(1)).as("n_label"))
      cells.join(broadcast(totals), "lang")
        .select(col("lang"), col("pred"), col("n"), col("n_label"),
          expr("(CAST(1000000 AS BIGINT) * n) div n_label").as("cell_ppm"),
          (col("lang") === col("pred")).as("correct"))
        .orderBy("lang", "pred")
    }),

    "q41_quality_score" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("sum_tok_len", sumTokenLen(col("toks")))
        .withColumn("digit_ratio",
          digitCount(col("text")).cast("double") / greatest(length(col("text")), lit(1)))
        .withColumn("stop_ratio",
          stopwordHits(col("toks"), "en").cast("double") / greatest(col("n_tokens"), lit(1)))
        .select(
          col("doc_id"), col("n_tokens"), col("sum_tok_len"),
          col("digit_ratio"), col("stop_ratio"),
          qualityScore(col("n_tokens"), col("digit_ratio"), col("stop_ratio"))
            .as("quality_score"))
        .orderBy("doc_id")),

    "q42_token_counts" -> ((s, dir) =>
      docs(s, dir).select(
          col("doc_id"),
          size(tokens(col("text"))).as("ws_tokens"),
          bpeTokenCount(col("text")).as("bpe_tokens"),
          length(col("text")).as("text_len"),
          col("n_chars"))
        .orderBy("doc_id")),

    "q43_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
          col("doc_id"),
          fingerprint(tokens(col("text"))).as("fp"))
        .orderBy("doc_id")),

    // PII scrubbing: fixture docs carry no PII, so deterministic PII is
    // injected per row, then redacted — the query checks the full
    // pattern chain end-to-end.
    "q44_scrub_pii" -> ((s, dir) =>
      docs(s, dir).select(
          col("doc_id"),
          scrub(concat(
            col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or http://site"), col("doc_id"),
            lit(".io/page at 10.0.0."), (col("doc_id") % 255).cast("string")))
            .as("clean_text"))
        .orderBy("doc_id")),

    // Corpus stats: top-5 tokens per language by frequency (explode →
    // two-level aggregation → windowed top-k; at 100 TB the token count
    // is a classic map-side-combine shape).
    "q45_top_tokens" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("token").asc)
      docs(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 5)
        .orderBy("lang", "rank")
    }),

    // Intra-document repetition ratio — the published Gopher-rules
    // quality signal (Rae et al. 2021, "repetitive documents"): the
    // fraction of a document's 3-gram windows that duplicate an
    // earlier window. Reuses the codegen'd graft_shingles kernel
    // (distinct windows) against the total window count; exact ints +
    // one IEEE division keep it oracle-identical. Embarrassingly
    // parallel: scan → per-row expressions → write.
    // Count-Min heavy hitters — point-frequency estimates from the
    // constant-memory graft_cms sketch (Cormode & Muthukrishnan 2005)
    // for the corpus's top tokens, side by side with the exact counts.
    // The sketch is ITSELF differentially verified: the oracle
    // recomputes every probed cell as a GROUP BY over (row, position)
    // and the estimate as min over the key's cells, so a single
    // divergent counter hash-mismatches; no_undercount pins the
    // one-sided CMS guarantee (estimate ≥ exact, deterministic) as a
    // literal-true column. Scale shape: the sketch build is one
    // map-side-combined constant-size aggregate over the token stream
    // (no shuffle of tokens at all — partials merge element-wise);
    // the exact companion exists to GRADE the sketch at fixture scale
    // and is the thing the sketch replaces at 100 TB.
    "q94_heavy_hitters" -> ((s, dir) => {
      docs(s, dir).select(explode(tokens(col("text"))).as("t"))
        .createOrReplaceTempView("cms_toks")
      s.sql("""
        |WITH cms AS (SELECT graft_cms(t) AS sk FROM cms_toks),
        |cnt AS (SELECT t, count(*) AS exact_n FROM cms_toks GROUP BY t),
        |top AS (SELECT t, exact_n FROM cnt ORDER BY exact_n DESC, t LIMIT 20)
        |SELECT /*+ BROADCAST(cms) */ t AS token, exact_n,
        |  graft_cms_est(sk, t) AS cms_est,
        |  graft_cms_est(sk, t) >= exact_n AS no_undercount
        |FROM top CROSS JOIN cms
        |ORDER BY exact_n DESC, token""".stripMargin)
    }),

    // STREAMED heavy-hitter parity (q252, round 13): q94's Count-Min
    // sketch maintained ACROSS micro-batches AND a restart
    // (StreamingIngest.HeavyHitterTracker) enters the hash-gated
    // differential surface — the first of the three spec-only
    // streaming sketches the r12 verdict asked to promote via the
    // q249 pattern. The stream side (doc_id ≥ 250) lands as two file
    // drops processed by two AvailableNow queries sharing one
    // checkpoint and ONE driver-held tracker (the production shape:
    // the sketch outlives the query; the checkpoint must make the
    // second query fold ONLY the new drop). The probe set is the
    // exact global top-20 (batch-computed, deterministic), so the
    // heap/pool candidate policy — pinned separately in StreamingSpec
    // — never gates the hash; what the hash certifies is the GRID:
    // the streamed element-wise sum-fold over any batch split must
    // equal one CMS over the whole stream side, which the oracle
    // re-derives cell-by-cell relationally (q94's grid SQL restricted
    // to the stream side). A double-processed drop inflates cells, a
    // lost drop deflates them — both mismatch; drop order is
    // immaterial by commutativity, so no coalesce(1) protocol is
    // needed (contrast q250).
    "q252_streamed_heavy_hitters_parity" -> ((s, dir) => {
      val streamSide = docs(s, dir).select(col("doc_id"), col("text"))
        .where(col("doc_id") >= 250)
      val path = StreamGuard.ensure("q252_stream_hh", dir, "v1", streamSide) { path =>
        import s.implicits._
        val tracker =
          new graft.streaming.StreamingIngest.HeavyHitterTracker(k = 20)
        StreamGuard.streamDrops(path, streamSide.where(col("doc_id") % 2 === 0),
            streamSide.where(col("doc_id") % 2 === 1)) { in =>
          graft.streaming.StreamingIngest.trackHeavyHitters(in,
            "text", 20, s"$path/ckpt", tracker)
        }
        // probe the restart-spanning grid at the exact global top-20
        // (k/limit-bounded collect — 20 rows)
        val top = streamSide
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("t").asc).limit(20)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        top.map { case (t, n) => (t, n, tracker.estimateOf(t)) }
          .toDF("token", "exact_n", "streamed_est")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/result")
      }
      s.read.parquet(s"$path/result")
        .select(col("token"), col("exact_n"), col("streamed_est"),
          (col("streamed_est") >= col("exact_n")).as("no_undercount"))
        .orderBy(col("exact_n").desc, col("token"))
    }),

    // Vocabulary coverage — the tokenizer-sizing question a training
    // pipeline asks before fixing a vocab: per language, the smallest
    // frequency-ranked vocabulary covering ≥ 90 % of token
    // OCCURRENCES. Pure integer arithmetic (cum·10 ≥ total·9 instead
    // of a float ratio) so the cut index is bit-identical in both
    // engines. Scale shape: one (lang, token) count (map-side
    // combinable), one window pass over the per-lang vocab (|vocab|
    // rows, not |corpus|), one per-lang rollup.
    "q96_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ord = Window.partitionBy("lang")
        .orderBy(col("n").desc, col("t").asc)
      val cumW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val langW = Window.partitionBy("lang")
      docs(s, dir)
        .select(col("lang"), explode(tokens(col("text"))).as("t"))
        .groupBy("lang", "t").agg(count(lit(1)).as("n"))
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum", sum(col("n")).over(cumW))
        .withColumn("total", sum(col("n")).over(langW))
        .withColumn("n_distinct", count(lit(1)).over(langW))
        .groupBy("lang").agg(
          max(col("total")).as("total_tokens"),
          max(col("n_distinct")).as("n_distinct_tokens"),
          min(when(col("cum") * 10 >= col("total") * 9, col("rank")))
            .as("vocab90"))
        .orderBy("lang")
    }),

    "q86_repetition" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("toks", tokens(col("text")))
        .withColumn("n_windows", greatest(size(col("toks")) - lit(2), lit(1)))
        .withColumn("n_distinct", size(graft.operators.Dedup.shingles(col("toks"))))
        .withColumn("rep_ratio",
          lit(1.0) - col("n_distinct").cast("double") / col("n_windows"))
        .select(col("doc_id"), col("n_windows"), col("n_distinct"),
          col("rep_ratio"), (col("rep_ratio") > 0.2).as("is_repetitive"))
        .orderBy("doc_id")),

    // BPE-style merge statistics: top-10 adjacent token pairs per
    // language by frequency — the signal a BPE/WordPiece tokenizer
    // trainer consumes at each merge step (most-frequent adjacent
    // pair), and the companion to q96's vocab-coverage sizing. Pure
    // integer counts. Scale shape: pairs come from two in-row slices
    // (no self-join on position), the count is a classic map-side-
    // combinable two-level aggregation over the (lang, pair) vocab,
    // and the rank window sees only the aggregated vocab rows.
    "q99_bpe_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(col("cnt").desc, col("tok_left").asc, col("tok_right").asc)
      val n = greatest(size(col("toks")) - 1, lit(0))
      docs(s, dir)
        .withColumn("toks", tokens(col("text")))
        .select(col("lang"), explode(zip_with(
            slice(col("toks"), lit(1), n), slice(col("toks"), lit(2), n),
            (a, b) => struct(a.as("l"), b.as("r")))).as("pr"))
        .groupBy(col("lang"), col("pr.l").as("tok_left"),
          col("pr.r").as("tok_right"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .orderBy("lang", "rank")
    }),

    // Distributed BPE merge TRAINING — the iterative continuation of
    // q99: Steps rounds of (count pairs → take the global top pair →
    // greedily re-tokenize every document through the codegen'd
    // graft_merge_pair kernel). Differentially verifiable despite
    // being iterative because every quantity is an exact integer or
    // exact string and the winner order (cnt DESC, l, r) is total —
    // the oracle unrolls the same rounds as CTEs (q98-style) with the
    // greedy scan expressed relationally via run-parity. Scale shape
    // in graft.operators.Bpe's scaladoc: corpus cached once, one
    // vocabulary-bounded pair-count shuffle per round, merge
    // application a stateless narrow map.
    "q101_bpe_train" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Bpe.learnMemoized(dir, docs(s, dir))
        .map(m => (m.step, m.tokLeft, m.tokRight, m.cnt))
        .toDF("step", "tok_left", "tok_right", "cnt")
        .orderBy("step")
    }),

    // Capped inverted index — token → the 8 highest-tf postings
    // (tf DESC, doc_id ASC), the lookup structure behind
    // decontamination / retrieval probes over a training corpus. One
    // map-side-combinable (token, doc_id) count, then the custom
    // TopKPerKey operator (partial per-partition heaps, only ≤k rows
    // per key reach the shuffle) caps every posting list — at 100 TB
    // the cap is what keeps stopword postings from materializing a
    // corpus-sized list under one key.
    "q103_inverted_index" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))
      graft.operators.TopK.perKey(tf, Seq("token"),
          Seq("tf" -> false, "doc_id" -> true), k = 8)
        .select("token", "doc_id", "tf", "rank")
        .orderBy("token", "rank")
    }),

    // Bigram LM quality scoring — the CCNet perplexity-filter shape
    // (reference-slice-trained model, exact-integer fixed-point
    // scores; full design + scale shape in graft.operators.LmScore's
    // scaladoc). Reference-like docs score high, out-of-vocabulary
    // gibberish scores 0, and every score is an int64 both engines
    // compute identically.
    "q108_lm_quality" -> ((s, dir) =>
      graft.operators.LmScore.bigramLmScore(docs(s, dir))),

    // BPE ENCODE — the inference side of q101: the corpus re-encoded
    // under the learned merge table, emitting the exact '|'-joined
    // token sequence per document (so the oracle certifies every
    // token, not just counts). Application is Steps stacked codegen'd
    // graft_merge_pair kernels in one WholeStageCodegen span — no
    // join, no shuffle; the model rides as plan literals. Scale +
    // lossless-ness in graft.operators.Bpe.encode's scaladoc.
    "q110_bpe_encode" -> ((s, dir) =>
      graft.operators.Bpe.encode(docs(s, dir), memoKey = Some(dir))),

    // BM25-shaped top-k retrieval — the ranked-lookup contract behind
    // "find the training docs most relevant to this probe" (targeted
    // decontamination, quality auditing, retrieval-augmented
    // curation). The query is a fixed literal term set, so the whole
    // plan is corpus-linear: the posting stream is FILTERED to query
    // terms before its one shuffle (tf per (doc, term)), df/N/T ride
    // back as broadcast scalars (df is ≤ |query| rows by
    // construction), and the final top-k is a TakeOrdered, never a
    // global sort. Scoring is the BM25 SHAPE made differentially
    // exact, the q77/q115 log-free pattern: idf' = ⌊1e6·(N−df+1)/
    // (df+1)⌋ replaces the ulp-unstable log-idf (same df-monotone
    // ranking), and the tf-saturation term tf·(k1+1)/(tf + k1·(1−b+
    // b·dl/avgdl)) with k1 = 1.2, b = 0.75 is cross-multiplied into
    // one integral division st = (44000·tf·avg) div (20·avg·tf +
    // 6·avg + 18·dl) over avg = max(1, T div N) — int64-safe at any
    // corpus scale (st ≤ 2200; the per-term product idf'·st stays
    // inside int64 for N up to ~10^9 docs; beyond that, drop the
    // 1e6 contrast scale a decade).
    "q127_bm25_topk" -> ((s, dir) =>
      bm25TopK(s, dir, Bm25K)
        .select(col("doc_id"), col("dl"), col("n_terms"), col("score"))
        .orderBy("doc_id")),

    // HYBRID RETRIEVAL RERANK (q148): the two-stage
    // lexical-recall → dense-precision pipeline every production RAG /
    // curation-retrieval stack runs — BM25 proposes a HybridPool-sized
    // candidate pool (cheap, posting-pruned, q127's machinery with a
    // wider k), then the pool ALONE is reranked by exact-integer
    // squared-L2 in the quantized embedding space against a fixed
    // probe vector (the q117/q143 suite convention: vec_id =
    // HybridQueryVec, with embeddings keyed to documents by id).
    // Scale shape: stage 1 is q127's corpus-linear term-filtered
    // chain; stage 2 touches exactly HybridPool rows — the candidate
    // pool broadcasts INTO the embedding scan (never the reverse), the
    // probe rides the 1-row broadcast scalar idiom, and the final
    // top-k sorts a bounded pool. The reranker's cost is independent
    // of corpus size by construction — that is the whole point of the
    // two-stage design.
    // CO-OCCURRENCE QUERY EXPANSION (q173): classic lexical retrieval
    // misses documents that say "slow" when the query says "query" —
    // thesaurus-free expansion adds, per query term, its strongest
    // corpus co-occurrence partner (argmax windowed-pair count, ties
    // → lexicographic; q141's ±2-token skip-gram pair machinery) and
    // reranks by DISTINCT expanded-term coverage. Three fixed literal
    // queries (the fixed-suite rule); per query the expanded term set
    // travels in the output as a sorted joined string, so the hash
    // certifies the expansion itself, not just the ranking. Scale
    // shape: pair counts are the q141 vocabulary-bounded rollup; the
    // term lookup joins against a 6-row broadcast; coverage is one
    // map-combinable (query, doc) count; top-10 streams through
    // TopKPerKey.
    "q173_query_expansion" -> ((s, dir) => {
      val t = graft.operators.FanOut.byKey(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val pc = t.select(explode(expr(
        """flatten(array(
          |  zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |           slice(toks, 2, greatest(size(toks) - 1, 0)),
          |    (a, b) -> named_struct('w1', least(a, b), 'w2', greatest(a, b))),
          |  zip_with(slice(toks, 1, greatest(size(toks) - 2, 0)),
          |           slice(toks, 3, greatest(size(toks) - 2, 0)),
          |    (a, b) -> named_struct('w1', least(a, b), 'w2', greatest(a, b)))))"""
          .stripMargin)).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n_ab"))
      val lk = pc.select(col("w1").as("t"), col("w2").as("p"), col("n_ab"))
        .unionByName(pc.select(col("w2").as("t"), col("w1").as("p"), col("n_ab")))
      val qt = s.createDataFrame(Seq(
          (0L, "spark"), (0L, "join"), (1L, "data"), (1L, "table"),
          (2L, "slow"), (2L, "query")))
        .toDF("query_id", "term")
      val best = graft.operators.TopK.perKey(
          lk.join(broadcast(qt), col("t") === col("term")),
          Seq("query_id", "term"), Seq("n_ab" -> false, "p" -> true), k = 1)
        .select(col("query_id"), col("p").as("term"))
      val exp = qt.unionByName(best).distinct()
      val et = exp.groupBy("query_id")
        .agg(array_join(array_sort(collect_set("term")), " ").as("exp_terms"))
      val dt = t.select(col("doc_id"), explode(array_distinct(col("toks"))).as("term"))
      val ms = dt.join(broadcast(exp), Seq("term"))
        .groupBy("query_id", "doc_id").agg(count(lit(1)).as("n_matched"))
      graft.operators.TopK.perKey(ms, Seq("query_id"),
          Seq("n_matched" -> false, "doc_id" -> true), k = 10)
        .join(broadcast(et), Seq("query_id"))
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("n_matched"), col("exp_terms"))
        .orderBy("query_id", "rank")
    }),

    // CONTEXT ASSEMBLY UNDER A TOKEN BUDGET (q170): the last step of
    // a RAG pipeline — rank the matching chunks per query and pack
    // them GREEDILY into the prompt until the context budget (256
    // tokens) is spent; a chunk that would overflow the budget is
    // dropped along with everything ranked after it (prefix-of-ranking
    // packing, the deterministic contract). Chunks are q156's
    // 128/96 sliding windows; scoring is the exact query-term hit
    // count; three fixed literal term-set queries (the q117
    // fixed-suite rule). Scale shape: chunk structs build inside the
    // per-doc projection; the query set broadcasts (3 rows); zero-hit
    // chunks drop BEFORE ranking; candidates cap at 64 through
    // TopKPerKey so the packing cumsum window is bounded per query —
    // never a corpus-sized window.
    "q170_context_assembly" -> ((s, dir) => {
      val chunks = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .where(col("n") >= 1)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(CAST(0 AS BIGINT), (n - 1) div 96),
            |  i -> struct(i AS chunk_idx,
            |    slice(toks, CAST(i * 96 + 1 AS INT),
            |      CAST(least(i * 96 + 128, n) - i * 96 AS INT)) AS ctoks))"""
            .stripMargin)).as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.ctoks").as("ctoks"))
      val qsDf = broadcast(s.createDataFrame(Seq(
          (0L, Seq("spark", "join")), (1L, Seq("data", "table")),
          (2L, Seq("slow", "query"))))
        .toDF("query_id", "terms"))
      val sc = chunks.crossJoin(qsDf)
        .select(col("query_id"), col("doc_id"), col("chunk_idx"),
          size(col("ctoks")).cast("long").as("n_tok"),
          size(filter(col("ctoks"),
            x => array_contains(col("terms"), x))).cast("long").as("score"))
        .where(col("score") > 0)
      import org.apache.spark.sql.expressions.Window
      graft.operators.TopK.perKey(sc, Seq("query_id"),
          Seq("score" -> false, "doc_id" -> true, "chunk_idx" -> true), k = 64)
        .withColumn("cum_tokens",
          sum("n_tok").over(Window.partitionBy("query_id").orderBy("rank")))
        .where(col("cum_tokens") <= 256)
        .select(col("query_id"), col("rank"), col("doc_id"), col("chunk_idx"),
          col("score"), col("n_tok"), col("cum_tokens"))
        .orderBy("query_id", "rank")
    }),

    "q148_hybrid_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pool = bm25TopK(s, dir, HybridPool)
        .select(col("doc_id"), col("score").as("bm25_score"))
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          graft.operators.KMeans.quantize(col("embedding")).as("qv"))
      val qvec = emb.where(col("doc_id") === HybridQueryVec)
        .select(col("qv").as("qq"))
      emb.join(broadcast(pool), Seq("doc_id"))
        .crossJoin(broadcast(qvec))
        .withColumn("dense_dist",
          graft.operators.KMeans.sqDist(col("qv"), col("qq")))
        .orderBy(col("dense_dist"), col("doc_id")).limit(HybridK)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("dense_dist"), col("doc_id"))))
        .select("doc_id", "bm25_score", "dense_dist", "rank")
        .orderBy("rank")
    }),

    // RANKING OVERLAP@K (q200): how much the lexical channel (the
    // q127 BM25 chain) and the dense channel (quantized-L2 to the
    // q148 probe vector) AGREE — |top-k ∩ top-k| and the Jaccard of
    // the two prefixes at k ∈ {1, 5, 10, 20}, the rank-agreement
    // audit run before trusting a hybrid fusion (if overlap ≈ k the
    // second channel adds nothing; if ≈ 0 the channels disagree and
    // fusion weights matter). Both rankings are deterministic total
    // orders (score desc / dist asc, doc_id tiebreak). Scale shape:
    // the BM25 chain is the proven q127 plan; the dense ranking is
    // one TakeOrdered over a per-row kernel projection; everything
    // after is two ≤20-row lists full-outer-joined and a literal
    // 4-way explode.
    "q200_ranking_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = bm25TopK(s, dir, OverlapMaxK)
        .withColumn("bm_rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "bm_rank")
      val emb = Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          graft.operators.KMeans.quantize(col("embedding")).as("qv"))
      val qvec = emb.where(col("doc_id") === HybridQueryVec)
        .select(col("qv").as("qq"))
      val dn = emb.crossJoin(broadcast(qvec))
        .withColumn("dist", graft.operators.KMeans.sqDist(col("qv"), col("qq")))
        .orderBy(col("dist"), col("doc_id")).limit(OverlapMaxK)
        .withColumn("emb_rank", row_number().over(
          Window.orderBy(col("dist"), col("doc_id"))).cast("long"))
        .select("doc_id", "emb_rank")
      bm.join(dn, Seq("doc_id"), "full_outer")
        .select(col("bm_rank"), col("emb_rank"),
          explode(typedLit(OverlapKs)).as("k"))
        .groupBy("k")
        .agg(sum(when(col("bm_rank") <= col("k") &&
          col("emb_rank") <= col("k"), 1L).otherwise(0L)).as("n_overlap"))
        .select(col("k"), col("n_overlap"),
          expr("(CAST(1000000 AS BIGINT) * n_overlap) div (2 * k - n_overlap)")
            .as("jaccard_ppm"))
        .orderBy("k")
    }),

    // TOPIC-BOUNDARY DETECTION (q208): the TextTiling idea (Hearst
    // 1997) made exact-integer — cut each document into TileW-token
    // blocks, score every adjacent-block boundary by the Jaccard of
    // the blocks' distinct-token sets, and report the WEAKEST
    // boundary per document (the natural chunk split a RAG pipeline
    // should cut at, instead of a blind fixed stride like q156's).
    // Scale shape: blocks come from one per-row transform/explode
    // (linear); the common-token count is an equi-join on
    // (doc, boundary, token) — never a set-compare UDF; zero-overlap
    // boundaries survive via the sizes frame with a left join; the
    // per-doc argmin streams through TopKPerKeyExec.
    "q208_text_tiling" -> ((s, dir) => {
      val blocks = graft.operators.FanOut.byKey(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("nb", expr(s"size(toks) div $TileW").cast("long"))
        .where(col("nb") >= 2)
        .select(col("doc_id"), col("nb"), posexplode(expr(
          s"""transform(sequence(0, CAST(nb - 1 AS INT)),
             |  b -> array_distinct(slice(toks, b * $TileW + 1, $TileW)))"""
            .stripMargin)).as(Seq("b", "set")))
      val toksB = blocks.select(col("doc_id"), col("b"),
        explode(col("set")).as("tok"))
      val sizes = blocks.select(col("doc_id"), col("nb"),
        col("b").cast("long").as("b"), size(col("set")).cast("long").as("sz"))
      val common = toksB.select(col("doc_id"), col("b").cast("long").as("b"),
          col("tok"))
        .join(toksB.select(col("doc_id"),
          (col("b") - 1).cast("long").as("b"), col("tok")),
          Seq("doc_id", "b", "tok"))
        .groupBy("doc_id", "b").agg(count(lit(1)).as("common"))
      val bounds = sizes.where(col("b") < col("nb") - 1)
        .join(sizes.select(col("doc_id"), (col("b") - 1).as("b"),
          col("sz").as("sz2")), Seq("doc_id", "b"))
        .join(common, Seq("doc_id", "b"), "left")
        .na.fill(0L, Seq("common"))
        .select(col("doc_id"), col("nb").as("n_blocks"),
          col("b").as("boundary"),
          expr("(CAST(1000000 AS BIGINT) * common) div (sz + sz2 - common)")
            .as("sim_ppm"))
      graft.operators.TopK.perKey(bounds, Seq("doc_id"),
          Seq("sim_ppm" -> true, "boundary" -> true), k = 1)
        .select("doc_id", "n_blocks", "boundary", "sim_ppm")
        .orderBy("doc_id")
    }),

    // Truncated SUFFIX-ARRAY index build (q135): the index behind
    // suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — public) — every
    // corpus position ranked by the lexicographic order of its suffix,
    // TRUNCATED at depth 16 tokens (a truncated-suffix index is the
    // practical production form: dedup spans are window-bounded, and
    // depth-d rank needs only d tokens of context; positions with
    // reps ≥ 2 root a duplicated ≥min(16, remaining)-token span, the
    // q93/q107 families' exact-index complement). The GLOBAL rank is
    // never one sort: ranges = the window string's leading characters
    // — contiguous slices of the global order because ' ' sorts below
    // every token character, so cross-range comparisons always resolve
    // at the range prefix — carry local dense_ranks, and per-range
    // DISTINCT-window counts fold into ≤|charset|^prefixChars
    // broadcast offsets (the q116 two-level pattern applied to
    // dense_rank; prefixChars is the same 100 TB parallelism knob,
    // ScaleSpec pins 1 vs 2 bit-identity). Output is position-linear;
    // the ~16× window-byte blowup vs raw text is the known cost of a
    // truncated-suffix index, paid per partition and never collected.
    "q135_suffix_ranks" -> ((s, dir) => suffixRanks(docs(s, dir))),

    // LCP ARRAY over the truncated suffix order (q136): the structure
    // that turns q135's ranks into exact duplicated-SPAN lengths —
    // lcp_prev = the token-level longest common prefix between each
    // distinct depth-16 window and its lexicographic predecessor (the
    // suffix array's companion LCP array). reps ≥ 2 marks a
    // full-window repeat; lcp_prev < 16 bounds the longest repeated
    // substring THROUGH this boundary. The predecessor is NEVER a
    // rank self-join (that computes the chain twice and at corpus
    // scale would shuffle — or worse, broadcast — a second copy of
    // every window): within a range it is one lag over the SAME
    // (r, w) sort the local dense_rank already needs, and the only
    // cross-range adjacency — each range's first window vs the
    // previous range's LAST window — is a |ranges|-sized broadcast
    // fix-up, valid precisely because ranges are contiguous slices of
    // the global order. The prefix length is one codegen'd zip_with
    // fold per pair, 16-bounded. Output is distinct-window-linear.
    "q136_lcp_array" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // persisted: dw feeds BOTH the local-rank windows and the range
      // offsets — without it the whole scan+window-expansion+groupBy
      // runs twice (measured: two ~11 MB partial-agg stages per run,
      // ~0.5 s; exchange reuse cannot fire because the two consumers
      // aggregate differently). ScopedCache bounds the lifetime to one
      // live copy per session (re-builds release the previous frame);
      // the harness's per-query clearCache still releases the last one.
      val dw = graft.operators.ScopedCache.persist("q136.dw",
        suffixWindows(docs(s, dir))
          .groupBy("w").agg(count(lit(1)).as("reps"))
          .withColumn("r", substring(col("w"), 1, 1)))
      val inRange = Window.partitionBy("r").orderBy("w")
      // (r15: a REPARTITION_BY_NUM(r) width pin on this window pass was
      // tried and REVERTED — min-of-3 wash, the pass is sort-bound)
      val local = dw
        .withColumn("lr", dense_rank().over(inRange).cast("long"))
        .withColumn("w_prev_local", lag("w", 1).over(inRange))
      val ranges = dw.groupBy("r")
        .agg(count(lit(1)).as("nw"), max("w").as("w_last"))
        .withColumn("off", coalesce(sum("nw").over(Window.partitionBy()
          .orderBy("r").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn("prev_r_last",
          lag("w_last", 1).over(Window.partitionBy().orderBy("r")))
        .select("r", "off", "prev_r_last")
      local.join(broadcast(ranges), Seq("r"))
        .withColumn("w_prev", coalesce(col("w_prev_local"), col("prev_r_last")))
        .select((col("off") + col("lr")).as("rank16"),
          md5(col("w")).as("w_hash"), col("reps"),
          when(col("w_prev").isNull, lit(0L)).otherwise(expr(
            """array_position(zip_with(split(w, ' '), split(w_prev, ' '),
              |  (x, y) -> coalesce(x = y, false)), false) - 1""".stripMargin))
            .as("lcp_prev"))
        .orderBy("rank16")
    }),

    // EXACT-SUBSTRING SCRUB (q137): the application the q135/q136
    // suffix index exists for — Lee et al. 2022's ExactSubstr dedup
    // as a corpus rewrite. Every FULL depth-16 window that repeats
    // anywhere in the corpus keeps exactly ONE canonical occurrence
    // (the corpus-global (doc_id, pos) minimum — row_number() == 1
    // over the window's occurrence list); every other occurrence
    // marks its 16 tokens for removal. Per doc, marked positions
    // merge into maximal spans (gaps-and-islands on the fixed-width
    // intervals: a new island iff the gap exceeds the window width —
    // ends are monotone with starts, so one lag suffices, no cummax),
    // and the scrubbed document is rebuilt by an index-aware filter
    // over the token array against the ≤len/16 merged intervals.
    // Scale: ONE shuffle on the window string (hash partition, no
    // global sort — AQE handles a boilerplate-hot window), one
    // doc-partitioned window pass, output one row per document.
    // Docs under 16 tokens have no full window and pass through
    // unscrubbed (the threshold semantics, not an edge case).
    "q137_exact_scrub" -> ((s, dir) => exactScrub(docs(s, dir))),

    // POSITIONAL PHRASE SEARCH (q139): exact consecutive-phrase match
    // through a positional inverted index — the retrieval primitive
    // q103's postings and q127's BM25 both lack (bag-of-words can rank
    // "scan order big" identically; only positions prove adjacency).
    // The postings stream is filtered to the phrase's terms BEFORE any
    // exchange (the filter fuses into the explode projection, so the
    // shuffled relation is term-bounded — at 100 TB the three terms'
    // postings, not the corpus), then k-1 equi-joins on
    // (doc_id, pos ± i) assert adjacency slot by slot. SQL-over-view
    // self-joins (the file-local idiom): DataFrame-API self joins on
    // shared lineage trip the ambiguous-self-join check.
    "q139_phrase_search" -> ((s, dir) => {
      val Seq(t1, t2, t3) = PhraseTerms
      docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .where(size(col("toks")) > 0)
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .where(col("tok").isin(PhraseTerms: _*))
        .createOrReplaceTempView("q139_postings")
      s.sql(
        s"""SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           |  CAST(min(a.pos) AS BIGINT) AS first_pos
           |FROM q139_postings a
           |JOIN q139_postings b
           |  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = '$t2'
           |JOIN q139_postings c
           |  ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.tok = '$t3'
           |WHERE a.tok = '$t1'
           |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin)
    }),

    // WORD-ASSOCIATION MINING (q141): windowed co-occurrence lift —
    // the word2vec/GloVe preprocessing step (skip-gram pair counts
    // within a ±2 window, scored observed/expected). The association
    // score is conditional-probability lift n_ab·N/(n_a·n_b) in exact
    // fixed-point, evaluated in the DECLARED truncation order
    // ((n_ab·10^6) div n_a)·N div n_b — each intermediate ≤ 10^6·N, so
    // int64-safe to N < 9.2×10^12 tokens (documented bound, the q115
    // convention). Scale shape: pair generation happens INSIDE the
    // per-doc projection (two zip_with's against offset slices — the
    // q138 lesson: never explode-then-join the corpus against itself),
    // the pair aggregation is map-side-combinable on a
    // vocabulary²-bounded key space already cut by the n_ab ≥
    // PmiMinPair filter, the unigram attach joins are vocab-bounded
    // (AQE broadcasts them at fixture scale), N rides the 1-row
    // broadcast scalar idiom, and the final top-100 is a TakeOrdered,
    // never a global sort.
    "q141_pmi_pairs" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = docs(s, dir).select(tokens(col("text")).as("toks"))
      val pairs = t.select(explode(expr(
        """flatten(array(
          |  zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
          |           slice(toks, 2, greatest(size(toks) - 1, 0)),
          |    (a, b) -> named_struct('w1', least(a, b), 'w2', greatest(a, b))),
          |  zip_with(slice(toks, 1, greatest(size(toks) - 2, 0)),
          |           slice(toks, 3, greatest(size(toks) - 2, 0)),
          |    (a, b) -> named_struct('w1', least(a, b), 'w2', greatest(a, b)))))"""
          .stripMargin)).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val uni = t.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
      val tot = uni.agg(sum(col("n")).as("big_n"))
      val sc = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
        .where(col("n_ab") >= PmiMinPair)
        .join(uni.select(col("tok").as("w1"), col("n").as("n_a")), Seq("w1"))
        .join(uni.select(col("tok").as("w2"), col("n").as("n_b")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("lift_ppm",
          expr("((n_ab * 1000000) div n_a) * big_n div n_b"))
      sc.orderBy(col("lift_ppm").desc, col("w1"), col("w2")).limit(PmiTopK)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("lift_ppm").desc, col("w1"), col("w2"))))
        .select("w1", "w2", "n_ab", "n_a", "n_b", "lift_ppm", "rank")
        .orderBy("rank")
    }),

    // TOKENIZER FERTILITY AUDIT (q145): BPE tokens per whitespace
    // token, aggregated per language — the tokenizer-equity metric
    // multilingual pipelines track (a language with high fertility
    // pays more compute per word and effectively shrinks its context
    // window; tokenizer papers report exactly this ratio). Reuses the
    // q101/q110 machinery end to end: merges learned corpus-wide by
    // the same vocabulary-bounded trainer, applied as stacked
    // codegen'd graft_merge_pair kernels (zero-shuffle encode), then
    // one lang-keyed map-combinable aggregate; fertility is exact
    // fixed-point (bpe·10^6 div ws). Output is |languages| rows — the
    // whole query is corpus-linear with constant-size shuffles.
    "q145_bpe_fertility" -> ((s, dir) => {
      val enc = graft.operators.Bpe.encode(docs(s, dir), memoKey = Some(dir))
        .select(col("doc_id"), col("n_raw"), col("n_bpe"))
      enc.join(docs(s, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_raw")).as("ws_tokens"),
          sum(col("n_bpe")).as("bpe_tokens"))
        .withColumn("fertility_ppm",
          expr("(bpe_tokens * 1000000) div greatest(ws_tokens, 1)"))
        .orderBy("lang")
    }))

  /** q137's body over any (doc_id, text, …) frame — also exercised by
    * ScaleSpec on adversarial duplicate corpora. */
  private[graft] def exactScrub(d: DataFrame): DataFrame = {
    {
      import org.apache.spark.sql.expressions.Window
      val t = graft.operators.FanOut.byKey(d, col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val fw = t.where(size(col("toks")) >= 16)
        .select(col("doc_id"), expr(
          """explode(transform(sequence(0, size(toks) - 16),
            |  i -> named_struct('p', i,
            |    'w', concat_ws(' ', slice(toks, i+1, 16)))))""".stripMargin).as("u"))
        .select(col("doc_id"), col("u.p").as("pos"), col("u.w").as("w"))
      val dup = fw.withColumn("rn",
          row_number().over(Window.partitionBy("w").orderBy("doc_id", "pos")))
        .where(col("rn") >= 2).select("doc_id", "pos")
      val byDoc = Window.partitionBy("doc_id").orderBy("pos")
      val spans = dup
        .withColumn("brk", when(lag("pos", 1).over(byDoc).isNull
            || col("pos") - lag("pos", 1).over(byDoc) > 16, 1).otherwise(0))
        .withColumn("island", sum("brk").over(byDoc))
        .groupBy("doc_id", "island")
        .agg(min("pos").as("s"), (max("pos") + 16).as("e"),
          count(lit(1)).as("np"))
      val cov = spans.groupBy("doc_id")
        .agg(collect_list(struct(col("s"), col("e"))).as("iv"),
          sum(col("e") - col("s")).as("covered"),
          sum("np").as("dup_positions"))
      t.join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
          coalesce(col("dup_positions"), lit(0L)).as("dup_positions"),
          (size(col("toks")).cast("long") - coalesce(col("covered"), lit(0L)))
            .as("kept_tokens"),
          md5(concat_ws(" ", when(col("iv").isNull, col("toks")).otherwise(expr(
            "filter(toks, (tok, i) -> size(filter(iv, s -> i >= s.s AND i < s.e)) = 0)"))))
            .as("scrub_text_hash"))
        .orderBy("doc_id")
    }
  }

  /** Every corpus position's depth-16 token window: (doc_id, pos, w).
    * Shared by q135 (per-position ranks) and q136 (distinct-window
    * LCP array). */
  private def suffixWindows(d: DataFrame): DataFrame =
    graft.operators.FanOut.byKey(d, col("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), expr(
        """explode(transform(sequence(0, size(toks) - 1),
          |  i -> named_struct('p', i,
          |    'w', concat_ws(' ', slice(toks, i+1, 16)))))""".stripMargin).as("u"))
      .select(col("doc_id"), col("u.p").as("pos"), col("u.w").as("w"))

  /** q135's body over any (doc_id, text, …) frame; `prefixChars` is
    * the range-fan-out knob (output invariant in it). */
  private[graft] def suffixRanks(d: DataFrame, prefixChars: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted for the same two-consumer reason as q136's dw (the
    // rank windows and the distinct-count offsets both re-expand the
    // corpus otherwise); ScopedCache bounds it to one live copy
    val w1 = graft.operators.ScopedCache.persist(s"suffixRanks.w1.$prefixChars",
      suffixWindows(d)
        .withColumn("r", substring(col("w"), 1, prefixChars)))
    val local = w1
      .withColumn("lr",
        dense_rank().over(Window.partitionBy("r").orderBy("w")).cast("long"))
      .withColumn("reps", count(lit(1)).over(Window.partitionBy("r", "w")))
    val offsets = w1.groupBy("r").agg(countDistinct("w").as("nw"))
      .withColumn("off", coalesce(sum("nw").over(Window.partitionBy()
        .orderBy("r").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("r", "off")
    local.join(broadcast(offsets), Seq("r"))
      .select(col("doc_id"), col("pos"),
        (col("off") + col("lr")).as("rank16"), col("reps"))
      .orderBy("doc_id", "pos")
  }

  /** q127's fixed probe terms (present in the fixture vocabulary) and
    * result size. A production binding parameterizes both; the
    * declared query pins them so the oracle is one static statement.
    * (defs, not vals: `oracleSql` above initializes eagerly before
    * later vals would be assigned.) */
  private def Bm25Query = Seq("spark", "vector", "stream")
  private def Bm25K = 10

  /** q139's fixed probe phrase (occurs at every fixture SF); a
    * production binding parameterizes it. */
  private def PhraseTerms = Seq("big", "order", "scan")

  /** q141: minimum co-occurrence count for a pair to score (the
    * standard PMI small-count guard) and the result cap. */
  private def PmiMinPair = 3
  private def PmiTopK = 100

  /** q148: BM25 candidate-pool size, rerank depth, and the fixed
    * probe vector id (embeddings keyed to documents by id). */
  private def HybridPool = 50
  private def HybridK = 10
  private def HybridQueryVec = 0L

  /** q200: prefix depths compared and the ranking length that bounds
    * them. */
  private val OverlapKs: Seq[Long] = Seq(1L, 5L, 10L, 20L)
  private def OverlapMaxK = 20

  /** q208: tokens per tiling block. */
  private def TileW = 10

  /** The oracle twin of [[bm25TopK]]: CTE chain ending in
    * `top(doc_id, dl, n_terms, score)`. */
  private def bm25ChainSql(toksE: String, k: Int): String = {
    val terms = Bm25Query.map(t => s"'$t'").mkString(", ")
    s"""dd AS (SELECT doc_id,
       |    CAST(len($toksE) AS BIGINT) AS dl, $toksE AS toks
       |  FROM documents),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(coalesce(sum(dl), 0) AS BIGINT) AS t_tokens FROM dd),
       |av AS (SELECT n_docs, greatest(1, t_tokens // n_docs) AS avg FROM st),
       |tfq AS (SELECT doc_id, dl, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, dl, unnest(toks) AS token FROM dd)
       |  WHERE token IN ($terms) GROUP BY 1, 2, 3),
       |dfq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tfq GROUP BY 1),
       |sc AS (SELECT tfq.doc_id, tfq.dl,
       |    CAST(count(*) AS BIGINT) AS n_terms,
       |    CAST(sum(
       |      ((1000000 * (av.n_docs - dfq.df + 1)) // (dfq.df + 1)) *
       |      ((44000 * tfq.tf * av.avg) //
       |        (20 * av.avg * tfq.tf + 6 * av.avg + 18 * tfq.dl))) AS BIGINT)
       |      AS score
       |  FROM tfq JOIN dfq ON dfq.token = tfq.token CROSS JOIN av
       |  GROUP BY 1, 2),
       |top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT $k)"""
      .stripMargin
  }

  /** q127/q148's shared BM25 scorer: the log-free exact-fixed-point
    * scoring chain over the [[Bm25Query]] probe terms, returning the
    * top `k` as (doc_id, dl, n_terms, score) — see the q127 binding
    * comment for the arithmetic and its int64 bounds. */
  private def bm25TopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      coalesce(sum("dl"), lit(0L)).as("t_tokens"))
    val tf = d.select(col("doc_id"), col("dl"),
        explode(col("toks")).as("token"))
      .where(col("token").isInCollection(Bm25Query))
      .groupBy("doc_id", "dl", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("avg", expr("greatest(1L, t_tokens div n_docs)"))
      .withColumn("idf", expr("(1000000L * (n_docs - df + 1)) div (df + 1)"))
      .withColumn("st", expr(
        "(44000L * tf * avg) div (20L * avg * tf + 6L * avg + 18L * dl)"))
      .groupBy("doc_id", "dl")
      .agg(sum(expr("idf * st")).as("score"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  val oracleSql: Map[String, String] = {
    val toksE = tokensSql("text")
    val (en, de, fr, es) = (stopwordHitsSql("toks", "en"), stopwordHitsSql("toks", "de"),
      stopwordHitsSql("toks", "fr"), stopwordHitsSql("toks", "es"))
    Map(
      "q214_zipf_curve" ->
        s"""WITH tok AS (SELECT lang, unnest($toksE) AS token FROM documents),
           |cnt AS (SELECT lang, token, count(*) AS n FROM tok
           |  GROUP BY lang, token),
           |rnk AS (SELECT lang, token, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC)
           |    AS rank
           |  FROM cnt),
           |top AS (SELECT * FROM rnk WHERE rank <= $ZipfRanks),
           |f AS (SELECT lang, n AS f1 FROM top WHERE rank = 1)
           |SELECT t.lang, t.rank, t.token, t.n,
           |  (CAST(1000000 AS BIGINT) * t.n * t.rank) // f.f1 AS zipf_fit_ppm,
           |  (CAST(1000000 AS BIGINT) * f.f1) // t.n AS f1_over_fr_ppm
           |FROM top t JOIN f ON f.lang = t.lang
           |ORDER BY t.lang, t.rank""".stripMargin,

      "q108_lm_quality" -> graft.operators.LmScore.bigramLmScoreSql(toksE),

      // q246: identical id-range decile arithmetic, min-decile-per-type
      // vocabulary attribution, 10-row cumulative windows.
      "q246_heaps_curve" ->
        s"""WITH b AS (SELECT min(doc_id) AS d0, max(doc_id) AS d1
           |  FROM documents),
           |dd AS (SELECT ((doc_id - b.d0) * 10) // (b.d1 - b.d0 + 1)
           |    AS decile, $toksE AS toks
           |  FROM documents CROSS JOIN b),
           |nd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
           |  FROM dd GROUP BY 1),
           |tok AS (SELECT decile, unnest(toks) AS tok FROM dd),
           |occ AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_tok
           |  FROM tok GROUP BY 1),
           |nt AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_types
           |  FROM (SELECT tok, min(decile) AS decile FROM tok GROUP BY tok)
           |  GROUP BY 1),
           |j AS (SELECT nd.decile, nd.n_docs,
           |  coalesce(occ.n_tok, 0) AS n_tok,
           |  coalesce(nt.new_types, 0) AS new_types
           |  FROM nd LEFT JOIN occ ON occ.decile = nd.decile
           |  LEFT JOIN nt ON nt.decile = nd.decile)
           |SELECT decile,
           |  CAST(sum(n_docs) OVER (ORDER BY decile) AS BIGINT)
           |    AS n_docs_cum,
           |  CAST(sum(n_tok) OVER (ORDER BY decile) AS BIGINT) AS n_tok_cum,
           |  CAST(sum(new_types) OVER (ORDER BY decile) AS BIGINT)
           |    AS vocab_cum,
           |  new_types,
           |  CAST(CASE WHEN n_tok = 0 THEN -1
           |    ELSE (1000000 * new_types) // n_tok END AS BIGINT)
           |    AS novelty_ppm
           |FROM j ORDER BY decile""".stripMargin,

      // q234: identical rate-ratio arithmetic over the unnested token
      // stream (same smoothing, same vocab-bounded rank window).
      "q234_source_terms" ->
        s"""WITH tok AS (SELECT source, unnest($toksE) AS token
           |  FROM documents),
           |per AS (SELECT source, token, count(*) AS f
           |  FROM tok GROUP BY 1, 2),
           |vocab AS (SELECT token, CAST(sum(f) AS BIGINT) AS ftot
           |  FROM per GROUP BY 1),
           |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s
           |  FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tot FROM tok),
           |sc AS (SELECT p.source, p.token, CAST(p.f AS BIGINT) AS f,
           |    v.ftot - p.f AS f_other, ns.n_s,
           |    tot.n_tot - ns.n_s AS n_other,
           |    (CAST(1000000 AS BIGINT) * p.f * (tot.n_tot - ns.n_s))
           |      // ((v.ftot - p.f + 1) * ns.n_s) AS ratio_ppm
           |  FROM per p JOIN vocab v USING (token) JOIN ns USING (source)
           |  CROSS JOIN tot
           |  WHERE p.f >= $MinTermCount),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY source
           |    ORDER BY ratio_ppm DESC, token) AS rank FROM sc)
           |SELECT source, CAST(rank AS BIGINT) AS rank, token, f, f_other,
           |  n_s, n_other, ratio_ppm
           |FROM rk WHERE rank <= $SigTermsK ORDER BY source, rank""".stripMargin,

      // q231: q40's scoring CTE with the same argmax tie order, rolled
      // into the (label, prediction) matrix.
      "q231_lang_confusion" ->
        s"""WITH t AS (SELECT lang, $toksE AS toks FROM documents),
           |sc AS (SELECT lang, ${graft.functions.TextAnalysis.predLangSql(en, de, fr, es)}
           |    AS pred FROM t),
           |cells AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS n
           |  FROM sc GROUP BY 1, 2),
           |tt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_label
           |  FROM sc GROUP BY 1)
           |SELECT c.lang, c.pred, c.n, tt.n_label,
           |  (CAST(1000000 AS BIGINT) * c.n) // tt.n_label AS cell_ppm,
           |  c.lang = c.pred AS correct
           |FROM cells c JOIN tt USING (lang)
           |ORDER BY c.lang, c.pred""".stripMargin,

      // q135: the oracle is the NAIVE single global dense_rank window —
      // hash-equality proves the two-level range/offset decomposition
      // reproduces it exactly (both engines compare strings bytewise).
      "q135_suffix_ranks" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |w0 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks)),
           |    i -> {'p': i, 'w': array_to_string(list_slice(toks, i+1, i+16), ' ')})) AS u
           |  FROM t WHERE len(toks) > 0),
           |w1 AS (SELECT doc_id, u.p AS pos, u.w AS w FROM w0)
           |SELECT doc_id, pos,
           |  CAST(dense_rank() OVER (ORDER BY w) AS BIGINT) AS rank16,
           |  count(*) OVER (PARTITION BY w) AS reps
           |FROM w1 ORDER BY doc_id, pos""".stripMargin,

      // q136: the naive lag window over the globally-sorted distinct
      // windows; the prefix-length fold mirrors the engine's zip_with
      // (out-of-range index → NULL → coalesce false, so a strict-
      // prefix pair stops at the shorter length; distinct windows
      // guarantee a mismatch exists, so list_position always finds
      // one).
      "q136_lcp_array" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |w0 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks)),
           |    i -> {'p': i, 'w': array_to_string(list_slice(toks, i+1, i+16), ' ')})) AS u
           |  FROM t WHERE len(toks) > 0),
           |w1 AS (SELECT u.w AS w FROM w0),
           |dw AS (SELECT w, CAST(count(*) AS BIGINT) AS reps FROM w1 GROUP BY w),
           |rk AS (SELECT w, reps,
           |    CAST(dense_rank() OVER (ORDER BY w) AS BIGINT) AS rank16,
           |    lag(w) OVER (ORDER BY w) AS w_prev
           |  FROM dw)
           |SELECT rank16, md5(w) AS w_hash, reps,
           |  CAST(CASE WHEN w_prev IS NULL THEN 0 ELSE
           |    list_position(list_transform(
           |      range(1, greatest(len(string_split(w, ' ')),
           |                        len(string_split(w_prev, ' '))) + 1),
           |      i -> coalesce(string_split(w, ' ')[i] = string_split(w_prev, ' ')[i],
           |        false)), false) - 1 END AS BIGINT) AS lcp_prev
           |FROM rk ORDER BY rank16""".stripMargin,

      // q137: the same rank/island/filter algebra in DuckDB. Two
      // dialect bridges: DuckDB lambda indices are 1-based (engine's
      // are 0-based, hence i - 1), and array_to_string([]) is NULL
      // where Spark's concat_ws gives '' (hence the coalesce before
      // md5 — a fully-scrubbed doc hashes the empty string on both
      // sides).
      "q137_exact_scrub" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |fw0 AS (SELECT doc_id, unnest(list_transform(range(0, len(toks) - 15),
           |    i -> {'p': i, 'w': array_to_string(list_slice(toks, i+1, i+16), ' ')})) AS u
           |  FROM t WHERE len(toks) >= 16),
           |fw AS (SELECT doc_id, u.p AS pos, u.w AS w FROM fw0),
           |rk AS (SELECT doc_id, pos,
           |    row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
           |  FROM fw),
           |dup AS (SELECT doc_id, pos FROM rk WHERE rn >= 2),
           |isl0 AS (SELECT doc_id, pos,
           |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
           |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 16
           |    THEN 1 ELSE 0 END AS brk
           |  FROM dup),
           |isl1 AS (SELECT doc_id, pos,
           |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM isl0),
           |spans AS (SELECT doc_id, island, min(pos) AS s, max(pos) + 16 AS e,
           |    count(*) AS np FROM isl1 GROUP BY doc_id, island),
           |cov AS (SELECT doc_id, list({'s': s, 'e': e}) AS iv,
           |    sum(e - s) AS covered, sum(np) AS dup_positions
           |  FROM spans GROUP BY doc_id)
           |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(coalesce(cov.dup_positions, 0) AS BIGINT) AS dup_positions,
           |  CAST(len(toks) - coalesce(cov.covered, 0) AS BIGINT) AS kept_tokens,
           |  md5(coalesce(array_to_string(
           |    CASE WHEN cov.doc_id IS NULL THEN toks ELSE
           |      list_filter(toks, (tok, i) ->
           |        len(list_filter(iv, s -> i - 1 >= s.s AND i - 1 < s.e)) = 0) END,
           |    ' '), '')) AS scrub_text_hash
           |FROM t LEFT JOIN cov ON t.doc_id = cov.doc_id
           |ORDER BY t.doc_id""".stripMargin,

      // q139: parallel unnests zip in DuckDB, so (pos, tok) postings
      // number identically to the engine's posexplode; the adjacency
      // joins are verbatim the engine's SQL.
      "q139_phrase_search" -> {
        val Seq(t1, t2, t3) = PhraseTerms
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |p0 AS (SELECT doc_id, unnest(range(0, len(toks))) AS pos,
           |    unnest(toks) AS tok FROM t WHERE len(toks) > 0),
           |p AS (SELECT doc_id, pos, tok FROM p0
           |  WHERE tok IN ('$t1', '$t2', '$t3')),
           |m AS (SELECT a.doc_id, a.pos FROM p a
           |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.tok = '$t2'
           |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.tok = '$t3'
           |  WHERE a.tok = '$t1')
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           |  CAST(min(pos) AS BIGINT) AS first_pos
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
      },

      // q145: the q110 encode chain aggregated per language; sums cast
      // out of DuckDB's HUGEINT, fertility spelled with the same
      // truncating // and greatest guard as the engine.
      "q145_bpe_fertility" -> {
        val steps = graft.operators.Bpe.Steps
        s"""WITH seq0 AS MATERIALIZED (SELECT doc_id, $toksE AS toks FROM documents),
           |${bpeBlocks(steps, mergeAll = true).mkString(",\n")},
           |enc AS (SELECT r.doc_id, CAST(len(r.toks) AS BIGINT) AS n_raw,
           |    CAST(coalesce(len(e.toks), 0) AS BIGINT) AS n_bpe
           |  FROM seq0 r LEFT JOIN seq$steps e ON e.doc_id = r.doc_id),
           |g AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(enc.n_raw) AS BIGINT) AS ws_tokens,
           |    CAST(sum(enc.n_bpe) AS BIGINT) AS bpe_tokens
           |  FROM enc JOIN documents d ON d.doc_id = enc.doc_id
           |  GROUP BY d.lang)
           |SELECT lang, n_docs, ws_tokens, bpe_tokens,
           |  (bpe_tokens * 1000000) // greatest(ws_tokens, 1) AS fertility_ppm
           |FROM g ORDER BY lang""".stripMargin
      },

      // q141: the positional-join rendering generates the identical
      // pair multiset as the engine's offset-slice zip_with's
      // ((i, i+1) and (i, i+2) for every in-range i); the two-step
      // truncated lift is spelled with the same `//` order.
      "q141_pmi_pairs" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |tok AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok,
           |    generate_subscripts(toks, 1) AS i FROM t),
           |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY tok),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS big_n FROM tok),
           |pr AS (
           |  SELECT least(a.tok, b.tok) AS w1, greatest(a.tok, b.tok) AS w2,
           |    CAST(count(*) AS BIGINT) AS n_ab
           |  FROM tok a JOIN tok b
           |    ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
           |  GROUP BY 1, 2),
           |sc AS (
           |  SELECT w1, w2, n_ab, ua.n AS n_a, ub.n AS n_b,
           |    ((n_ab * 1000000) // ua.n) * big_n // ub.n AS lift_ppm
           |  FROM pr JOIN uni ua ON ua.tok = pr.w1
           |  JOIN uni ub ON ub.tok = pr.w2
           |  CROSS JOIN tot
           |  WHERE n_ab >= $PmiMinPair),
           |rk AS (SELECT *, row_number() OVER (
           |    ORDER BY lift_ppm DESC, w1, w2) AS rank FROM sc)
           |SELECT w1, w2, n_ab, n_a, n_b, lift_ppm, rank FROM rk
           |WHERE rank <= $PmiTopK ORDER BY rank""".stripMargin,

      "q110_bpe_encode" -> bpeEncodeSql(toksE),

      "q127_bm25_topk" ->
        s"""WITH ${bm25ChainSql(toksE, Bm25K)}
           |SELECT doc_id, dl, n_terms, score FROM top
           |ORDER BY doc_id""".stripMargin,

      // q148: the q127 chain at pool width, reranked by the same
      // quantized exact-int64 squared-L2 the embedding family uses.
      // q173: the same symmetric windowed pair counts, argmax partner,
      // expansion string, and coverage ranking.
      "q173_query_expansion" ->
        s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
           |prs AS (SELECT unnest(flatten([
           |    list_transform(range(1, greatest(len(toks) - 1, 0) + 1),
           |      i -> {'w1': least(toks[i], toks[i+1]), 'w2': greatest(toks[i], toks[i+1])}),
           |    list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
           |      i -> {'w1': least(toks[i], toks[i+2]), 'w2': greatest(toks[i], toks[i+2])})])) AS p
           |  FROM t),
           |pc AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS n_ab
           |  FROM prs GROUP BY 1, 2),
           |lk AS (SELECT w1 AS t, w2 AS p, n_ab FROM pc
           |  UNION ALL SELECT w2, w1, n_ab FROM pc),
           |qt AS (SELECT * FROM (VALUES (0, 'spark'), (0, 'join'), (1, 'data'),
           |    (1, 'table'), (2, 'slow'), (2, 'query')) AS v(query_id, term)),
           |best AS (SELECT query_id, term, p FROM (
           |  SELECT qt.query_id, qt.term, lk.p,
           |    row_number() OVER (PARTITION BY qt.query_id, qt.term
           |      ORDER BY lk.n_ab DESC, lk.p) AS rn
           |  FROM qt JOIN lk ON lk.t = qt.term) WHERE rn = 1),
           |exp AS (SELECT DISTINCT query_id, term FROM (
           |  SELECT query_id, term FROM qt UNION ALL SELECT query_id, p FROM best)),
           |et AS (SELECT query_id,
           |    array_to_string(list_sort(list(DISTINCT term)), ' ') AS exp_terms
           |  FROM exp GROUP BY 1),
           |dt AS (SELECT doc_id, unnest(list_distinct(toks)) AS term FROM t),
           |ms AS (SELECT e.query_id, d.doc_id, CAST(count(*) AS BIGINT) AS n_matched
           |  FROM exp e JOIN dt d USING (term) GROUP BY 1, 2),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |    ORDER BY n_matched DESC, doc_id) AS rank FROM ms)
           |SELECT CAST(rk.query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
           |  doc_id, n_matched, et.exp_terms
           |FROM rk JOIN et ON et.query_id = rk.query_id
           |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

      // q170: the same chunk grid, literal query set, hit-count
      // scoring, 64-candidate cap, and budget-prefix packing.
      "q170_context_assembly" ->
        s"""WITH t AS (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents),
           |d AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
           |  FROM t WHERE len(toks) >= 1),
           |c AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           |    list_slice(toks, i * 96 + 1, least(i * 96 + 128, n)) AS ctoks
           |  FROM d CROSS JOIN unnest(range(0, (n - 1) // 96 + 1)) AS u(i)),
           |qs AS (SELECT * FROM (VALUES (0, ['spark', 'join']),
           |    (1, ['data', 'table']), (2, ['slow', 'query'])) AS v(query_id, terms)),
           |sc AS (SELECT qs.query_id, c.doc_id, c.chunk_idx,
           |    CAST(len(c.ctoks) AS BIGINT) AS n_tok,
           |    CAST(len(list_filter(c.ctoks, x -> list_contains(qs.terms, x)))
           |      AS BIGINT) AS score
           |  FROM c CROSS JOIN qs),
           |top AS (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id, chunk_idx) AS rank
           |  FROM sc WHERE score > 0),
           |capped AS (SELECT * FROM top WHERE rank <= 64),
           |packed AS (SELECT *, sum(n_tok) OVER (PARTITION BY query_id
           |    ORDER BY rank) AS cum_tokens FROM capped)
           |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
           |  doc_id, chunk_idx, score, n_tok, CAST(cum_tokens AS BIGINT) AS cum_tokens
           |FROM packed WHERE cum_tokens <= 256
           |ORDER BY query_id, rank""".stripMargin,

      "q148_hybrid_rerank" ->
        s"""WITH ${bm25ChainSql(toksE, HybridPool)},
           |e AS (SELECT vec_id AS doc_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |qq AS (SELECT qv FROM e WHERE doc_id = $HybridQueryVec),
           |scored AS (SELECT t.doc_id, t.score AS bm25_score,
           |    ${graft.operators.KMeans.sqDistSql("e.qv", "qq.qv", 64)} AS dense_dist
           |  FROM top t JOIN e ON e.doc_id = t.doc_id CROSS JOIN qq),
           |rkd AS (SELECT *, row_number() OVER (
           |    ORDER BY dense_dist, doc_id) AS rank FROM scored)
           |SELECT doc_id, bm25_score, dense_dist, rank FROM rkd
           |WHERE rank <= $HybridK ORDER BY rank""".stripMargin,

      // q208: same blocks (range + list_distinct slices), same token
      // equi-join for the overlap, same argmin tie order.
      "q208_text_tiling" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |d AS (SELECT doc_id, toks,
           |  CAST(len(toks) // $TileW AS BIGINT) AS nb FROM t
           |  WHERE len(toks) // $TileW >= 2),
           |blocks AS (SELECT doc_id, nb, CAST(u.b AS BIGINT) AS b,
           |  list_distinct(list_slice(toks, CAST(u.b * $TileW + 1 AS INT),
           |    CAST((u.b + 1) * $TileW AS INT))) AS s
           |  FROM d, LATERAL (SELECT unnest(range(0, nb)) AS b) u),
           |sizes AS (SELECT doc_id, nb, b, CAST(len(s) AS BIGINT) AS sz
           |  FROM blocks),
           |tk AS (SELECT doc_id, b, unnest(s) AS tok FROM blocks),
           |common AS (SELECT a.doc_id, a.b, CAST(count(*) AS BIGINT) AS cm
           |  FROM tk a JOIN tk b2 ON b2.doc_id = a.doc_id
           |    AND b2.b = a.b + 1 AND b2.tok = a.tok
           |  GROUP BY 1, 2),
           |bounds AS (SELECT s1.doc_id, s1.nb AS n_blocks, s1.b AS boundary,
           |  (CAST(1000000 AS BIGINT) * coalesce(c.cm, 0))
           |    // (s1.sz + s2.sz - coalesce(c.cm, 0)) AS sim_ppm
           |  FROM sizes s1
           |  JOIN sizes s2 ON s2.doc_id = s1.doc_id AND s2.b = s1.b + 1
           |  LEFT JOIN common c ON c.doc_id = s1.doc_id AND c.b = s1.b
           |  WHERE s1.b < s1.nb - 1)
           |SELECT doc_id, n_blocks, boundary, CAST(sim_ppm AS BIGINT)
           |  AS sim_ppm
           |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
           |    ORDER BY sim_ppm, boundary) AS rn FROM bounds)
           |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      // q200: same two rankings (the BM25 chain CTE + the dense
      // TakeOrdered), same prefix-intersection arithmetic.
      "q200_ranking_overlap" ->
        s"""WITH ${bm25ChainSql(toksE, OverlapMaxK)},
           |bm AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY score DESC, doc_id) AS BIGINT) AS bm_rank FROM top),
           |e AS (SELECT vec_id AS doc_id,
           |    ${graft.operators.KMeans.quantizeSql("embedding")} AS qv
           |  FROM embeddings),
           |qq AS (SELECT qv FROM e WHERE doc_id = $HybridQueryVec),
           |dd2 AS (SELECT e.doc_id,
           |    ${graft.operators.KMeans.sqDistSql("e.qv", "qq.qv", 64)}
           |      AS dist
           |  FROM e CROSS JOIN qq),
           |dn AS (SELECT doc_id, CAST(row_number() OVER (
           |    ORDER BY dist, doc_id) AS BIGINT) AS emb_rank
           |  FROM (SELECT * FROM dd2 ORDER BY dist, doc_id
           |    LIMIT $OverlapMaxK)),
           |j AS (SELECT coalesce(bm.doc_id, dn.doc_id) AS doc_id,
           |    bm.bm_rank, dn.emb_rank
           |  FROM bm FULL OUTER JOIN dn ON dn.doc_id = bm.doc_id),
           |ks AS (SELECT unnest([${OverlapKs.mkString(", ")}]) AS k)
           |SELECT CAST(ks.k AS BIGINT) AS k,
           |  CAST(count(*) FILTER (j.bm_rank <= ks.k AND j.emb_rank <= ks.k)
           |    AS BIGINT) AS n_overlap,
           |  CAST((1000000 * count(*) FILTER (j.bm_rank <= ks.k
           |      AND j.emb_rank <= ks.k))
           |    // (2 * ks.k - count(*) FILTER (j.bm_rank <= ks.k
           |      AND j.emb_rank <= ks.k)) AS BIGINT) AS jaccard_ppm
           |FROM j CROSS JOIN ks GROUP BY ks.k ORDER BY k""".stripMargin,

      "q40_lang_id" ->
        s"""WITH t AS (SELECT doc_id, lang, $toksE AS toks FROM documents),
           |s AS (SELECT doc_id, lang, $en AS s_en, $de AS s_de, $fr AS s_fr, $es AS s_es FROM t)
           |SELECT doc_id, lang, s_en, s_de, s_fr, s_es,
           |  ${predLangSql("s_en", "s_de", "s_fr", "s_es")} AS pred_lang
           |FROM s ORDER BY doc_id""".stripMargin,

      "q41_quality_score" ->
        s"""WITH t AS (SELECT doc_id, text, $toksE AS toks FROM documents),
           |m AS (SELECT doc_id, len(toks) AS n_tokens, ${sumTokenLenSql("toks")} AS sum_tok_len,
           |  CAST(${digitCountSql("text")} AS DOUBLE) / greatest(len(text), 1) AS digit_ratio,
           |  CAST($en AS DOUBLE) / greatest(len(toks), 1) AS stop_ratio FROM t)
           |SELECT doc_id, n_tokens, sum_tok_len, digit_ratio, stop_ratio,
           |  ${qualityScoreSql("n_tokens", "digit_ratio", "stop_ratio")} AS quality_score
           |FROM m ORDER BY doc_id""".stripMargin,

      "q42_token_counts" ->
        s"""SELECT doc_id, len($toksE) AS ws_tokens,
           |  ${bpeTokenCountSql("text")} AS bpe_tokens,
           |  len(text) AS text_len, n_chars
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q43_fingerprint" ->
        s"""SELECT doc_id, ${fingerprintSql(toksE)} AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,

      "q44_scrub_pii" -> {
        val injected = "text || ' contact user' || doc_id || '@example.com or http://site' || doc_id || '.io/page at 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)"
        s"""SELECT doc_id, ${scrubSql(s"($injected)")} AS clean_text
           |FROM documents ORDER BY doc_id""".stripMargin
      },

      "q45_top_tokens" ->
        s"""WITH tok AS (SELECT lang, unnest($toksE) AS token FROM documents),
           |cnt AS (SELECT lang, token, count(*) AS n FROM tok GROUP BY lang, token),
           |rnk AS (SELECT lang, token, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
           |  FROM cnt)
           |SELECT lang, token, n, rank FROM rnk WHERE rank <= 5
           |ORDER BY lang, rank""".stripMargin,

      // q94: the CMS grid re-expressed relationally — a cell's counter
      // is the summed count of every token hashing there, the estimate
      // is the min over the key's d cells (casts keep DuckDB's
      // sum-of-bigint out of HUGEINT, which the driver hashes
      // differently).
      "q94_heavy_hitters" -> {
        val (d, w) = (Cms.DefaultDepth, Cms.DefaultWidth)
        s"""WITH tok AS (SELECT unnest($toksE) AS t FROM documents),
           |cnt AS (SELECT t, count(*) AS exact_n FROM tok GROUP BY t),
           |js AS (SELECT unnest(range(0, $d)) AS j),
           |pos AS (SELECT t, exact_n, j, ${Bloom.positionSql("j", "t", w)} AS p
           |  FROM cnt CROSS JOIN js),
           |cells AS (SELECT j, p, CAST(sum(exact_n) AS BIGINT) AS cell_n
           |  FROM pos GROUP BY j, p),
           |est AS (SELECT pos.t, min(cells.cell_n) AS cms_est
           |  FROM pos JOIN cells ON cells.j = pos.j AND cells.p = pos.p
           |  GROUP BY pos.t),
           |top AS (SELECT t, exact_n FROM cnt ORDER BY exact_n DESC, t LIMIT 20)
           |SELECT top.t AS token, top.exact_n, est.cms_est,
           |  est.cms_est >= top.exact_n AS no_undercount
           |FROM top JOIN est ON est.t = top.t
           |ORDER BY exact_n DESC, token""".stripMargin
      },

      // q252: q94's relational CMS grid restricted to the stream side
      // — the oracle recomputes every probed cell from exact counts,
      // so a single grid counter diverging from the streamed
      // restart-spanning fold (double-processed or lost drop, broken
      // element-wise sum) hash-mismatches.
      "q252_streamed_heavy_hitters_parity" -> {
        val (d, w) = (Cms.DefaultDepth, Cms.DefaultWidth)
        s"""WITH tok AS (SELECT unnest($toksE) AS t FROM documents WHERE doc_id >= 250),
           |cnt AS (SELECT t, count(*) AS exact_n FROM tok GROUP BY t),
           |js AS (SELECT unnest(range(0, $d)) AS j),
           |pos AS (SELECT t, exact_n, j, ${Bloom.positionSql("j", "t", w)} AS p
           |  FROM cnt CROSS JOIN js),
           |cells AS (SELECT j, p, CAST(sum(exact_n) AS BIGINT) AS cell_n
           |  FROM pos GROUP BY j, p),
           |est AS (SELECT pos.t, min(cells.cell_n) AS streamed_est
           |  FROM pos JOIN cells ON cells.j = pos.j AND cells.p = pos.p
           |  GROUP BY pos.t),
           |top AS (SELECT t, exact_n FROM cnt ORDER BY exact_n DESC, t LIMIT 20)
           |SELECT top.t AS token, top.exact_n, est.streamed_est,
           |  est.streamed_est >= top.exact_n AS no_undercount
           |FROM top JOIN est ON est.t = top.t
           |ORDER BY exact_n DESC, token""".stripMargin
      },

      // q96: BIGINT casts on the window sums (DuckDB widens to
      // HUGEINT); the 90 % cut compares exact ints on both sides.
      "q96_vocab_coverage" ->
        s"""WITH tok AS (SELECT lang, unnest($toksE) AS t FROM documents),
           |cnt AS (SELECT lang, t, count(*) AS n FROM tok GROUP BY lang, t),
           |r AS (SELECT lang, t, n,
           |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, t ASC) AS rank,
           |  CAST(sum(n) OVER (PARTITION BY lang ORDER BY n DESC, t ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           |  CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS total,
           |  count(*) OVER (PARTITION BY lang) AS n_distinct
           |  FROM cnt)
           |SELECT lang, max(total) AS total_tokens,
           |  max(n_distinct) AS n_distinct_tokens,
           |  min(CASE WHEN cum * 10 >= total * 9 THEN rank END) AS vocab90
           |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

      "q86_repetition" ->
        s"""WITH t AS (SELECT doc_id, $toksE AS toks FROM documents),
           |w AS (SELECT doc_id, greatest(len(toks) - 2, 1) AS n_windows,
           |  len(${graft.operators.Dedup.shinglesSql("toks")}) AS n_distinct FROM t)
           |SELECT doc_id, n_windows, n_distinct,
           |  CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_windows AS rep_ratio,
           |  (CAST(1 AS DOUBLE) - CAST(n_distinct AS DOUBLE) / n_windows) > 0.2 AS is_repetitive
           |FROM w ORDER BY doc_id""".stripMargin,

      // q101: the BPE training loop unrolled, one CTE block per round
      // (the q98 technique for iterative algorithms). The greedy
      // left-to-right merge is expressed WITHOUT a recursive CTE via
      // the run-parity equivalence proven in BpeKernels' scaladoc:
      // matches overlap only in runs of a self-pair (l = r), and the
      // greedy scan takes exactly the odd row-numbers of each maximal
      // consecutive-match island.
      "q101_bpe_train" -> bpeTrainSql(toksE),

      "q103_inverted_index" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksE) AS token FROM documents),
           |tf AS (SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
           |r AS (SELECT token, doc_id, tf,
           |  row_number() OVER (PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS rank
           |  FROM tf)
           |SELECT token, doc_id, tf, rank FROM r WHERE rank <= 8
           |ORDER BY token, rank""".stripMargin,

      "q99_bpe_pairs" ->
        s"""WITH t AS (SELECT lang, $toksE AS toks FROM documents),
           |p AS (SELECT lang, unnest(list_transform(range(1, len(toks)),
           |    i -> {'l': toks[i], 'r': toks[i + 1]})) AS pr FROM t),
           |c AS (SELECT lang, pr.l AS tok_left, pr.r AS tok_right, count(*) AS cnt
           |  FROM p GROUP BY 1, 2, 3),
           |r AS (SELECT *, row_number() OVER (PARTITION BY lang
           |    ORDER BY cnt DESC, tok_left, tok_right) AS rank FROM c)
           |SELECT lang, tok_left, tok_right, cnt, rank FROM r WHERE rank <= 10
           |ORDER BY lang, rank""".stripMargin)
  }
}
