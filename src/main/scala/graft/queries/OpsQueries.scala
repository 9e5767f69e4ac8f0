package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.TopK
import graft.sources.Tables

/** Operational-analytics queries (q184+): market-basket association
  * rules, integer z-score burst detection over a dense time grid,
  * time-decayed reputation scoring, order-to-ship latency percentiles
  * from value-space histograms, and windowed last-touch attribution —
  * the monitoring/insight layer that runs NEXT TO a corpus pipeline
  * (which sources spike, which pairings predict each other, how stale
  * is a contributor's standing, where the fulfilment tail sits, what
  * converted).
  *
  * House rules: exact integers only (cents, ppm, epoch-millis, integer
  * cross-multiplied variance tests); every division is `div` on
  * non-negative operands or has its sign handled explicitly; no
  * rand(); every ORDER BY is a total order.
  */
object OpsQueries {

  /** q184: minimum basket co-occurrence count for a pair to form rules,
    * and rules kept per antecedent (by lift). */
  private val MinSup = 5L
  private val RulesPerAnt = 10

  /** q185: flag buckets with z > 2.5 — rendered as the integer test
    * 4·(x·n − S)² > 25·(n·Q − S²) on the positive side. */
  private val BurstNum = 25L
  private val BurstDen = 4L

  /** q186: decay halves a contribution per day of age, shift capped at
    * 40 (2⁻⁴⁰ of a cent rounds to zero long before the cap). */
  private val DecayCapDays = 40L

  /** q188: attribution window — a purchase converts the user's latest
    * click at most 7 days old. */
  private val AttribWindowMs = 604800000L

  /** q261–q263 streamed-parity constants, mirrored in the oracles:
    * 6 h tumbling windows / 5 min watermark slack (q261, q263's join
    * slack), a 12 h session gap / 10 s slack (q262 — the fixture's
    * ~150 users × 30 days ≈ 10.7 h mean per-user inter-arrival, so a
    * 12 h gap yields real multi-event sessions), a 2 h join horizon
    * (q263). */
  private val WindowMs = 21600000L
  private val WindowSlackMs = 300000L
  private val StreamGapMs = 43200000L
  private val StreamGapSlackMs = 10000L
  private val JoinHorizonMs = 7200000L

  /** q189: cumulative-revenue-share class boundaries (percent). */
  private val AbcA = 80L
  private val AbcB = 95L

  /** q193: session inactivity gap and the path prefix length kept. */
  private val SessionGapMs = 1800000L
  private val PathLen = 5

  /** q191: the categorical columns profiled — (label, table, column
    * expression). One map-combinable rollup each; the int key profile
    * casts to string (Spark STRING / DuckDB VARCHAR spelled per
    * engine in the bindings). */
  private val GiniCols: Seq[(String, String, String)] = Seq(
    ("customer.c_mktsegment", "customer", "c_mktsegment"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("documents.lang", "documents", "lang"),
    ("documents.source", "documents", "source"),
    ("events.event_type", "events", "event_type"),
    ("lineitem.l_linestatus", "lineitem", "l_linestatus"),
    ("lineitem.l_returnflag", "lineitem", "l_returnflag"),
    ("orders.o_orderpriority", "orders", "o_orderpriority"),
    ("orders.o_orderstatus", "orders", "o_orderstatus"))

  /** q222: the join keys profiled — (label, table, column) — and the
    * heavy keys reported per column. */
  private val SkewCols: Seq[(String, String, String)] = Seq(
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"))
  private val SkewTopK = 10

  /** q233: the fact joins forecast — (label, tableA, keyA, tableB,
    * keyB). */
  private val JoinPairs: Seq[(String, String, String, String, String)] = Seq(
    ("lineitem*orders.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem*part.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders*customer.custkey", "orders", "o_custkey", "customer", "c_custkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JOIN-SIZE FORECAST (q233): the exact output cardinality of the
    // schema's three fact joins computed WITHOUT running them —
    // |A ⋈ B| = Σ_k f_A(k)·f_B(k) over the key histograms — plus the
    // max single-key contribution (the skew share that decides
    // salting) and the amplification vs the bigger input. This is the
    // optimizer's join-size statistic surfaced as a query: at 100 TB
    // you price a join from two key rollups (dimension-sized) before
    // committing the shuffle, and the q222 profile tells you HOW the
    // hot keys distribute. Exact integers throughout; the f_A·f_B
    // products stay in int64 while per-key frequencies stay under
    // ~3·10⁹ per side. Scale shape: two map-combinable rollups + one
    // key-equi join on the key DOMAIN per audited pair, 3 output rows.
    "q233_join_size_stats" -> ((s, dir) => {
      JoinPairs.map { case (label, ta, ka, tb, kb) =>
        val fa = Tables.load(s, dir, ta)
          .groupBy(col(ka).cast("long").as("key"))
          .agg(count(lit(1)).as("fa"))
        val fb = Tables.load(s, dir, tb)
          .groupBy(col(kb).cast("long").as("key"))
          .agg(count(lit(1)).as("fb"))
        val na = Tables.load(s, dir, ta).agg(count(lit(1)).as("n_a"))
        val nb = Tables.load(s, dir, tb).agg(count(lit(1)).as("n_b"))
        fa.join(fb, "key")
          .agg(count(lit(1)).as("n_shared_keys"),
            sum(col("fa") * col("fb")).as("join_rows"),
            max(col("fa") * col("fb")).as("max_key_rows"))
          .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
          .select(lit(label).as("join_label"), col("n_a"), col("n_b"),
            col("n_shared_keys"), col("join_rows"), col("max_key_rows"),
            expr("(CAST(1000000 AS BIGINT) * max_key_rows) div join_rows")
              .as("max_key_share_ppm"),
            expr("(CAST(1000 AS BIGINT) * join_rows)" +
              " div greatest(n_a, n_b)").as("amplification_milli"))
      }.reduce(_ unionByName _).orderBy("join_label")
    }),

    // OVERDISPERSION INDEX (q236): per event type, the Fano factor of
    // the dense daily count grid — sample variance over mean,
    // rendered exactly as vmr_ppm = 1e6·(n·Q − S²) div (S·(n−1)) with
    // (n, S, Q) the exact integer count/sum/sum-of-squares. VMR ≈ 1 is
    // Poisson arrivals (q185's z-test assumptions hold); VMR ≫ 1 is
    // burst-clustered traffic (alerts need q190's CUSUM or wider
    // bands); VMR < 1 is upstream rate-limiting. Completes the
    // traffic-diagnosis trio with q223 (persistence) and q192
    // (seasonality). Scale shape: the q185 dense-grid discipline —
    // one map-combinable rollup, one |types|-row aggregate, zero
    // windows.
    "q236_overdispersion" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("d"))
      val b = e.agg(min("d").as("d0"), max("d").as("d1"))
      val obs = e.groupBy("event_type", "d").agg(count(lit(1)).as("x"))
      e.select("event_type").distinct()
        .crossJoin(broadcast(b))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(obs, Seq("event_type", "d"), "left")
        .na.fill(0L, Seq("x"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("s"),
          sum(col("x") * col("x")).as("q"))
        .select(col("event_type"), col("n"), col("s"), col("q"),
          expr("(CAST(1000000 AS BIGINT) * (n * q - s * s))" +
            " div (s * (n - 1))").as("vmr_ppm"),
          expr("(n * q - s * s) > (s * (n - 1))").as("overdispersed"))
        .orderBy("event_type")
    }),

    // LAG-1 AUTOCORRELATION (q223): per event type, Pearson's r
    // between consecutive days of the dense daily count grid — the
    // persistence diagnostic that picks the anomaly detector (q192's
    // seasonal baseline needs r₁ high; white-noise traffic with r₁≈0
    // wants the pointwise q185 z-test; negative r₁ means oscillation,
    // usually a batching artifact upstream). Exact integer moments
    // over the (xₜ, xₜ₊₁) pairs; only the final r divides, in
    // fixed-association doubles + floor (the q215 rendering). Scale
    // shape: the q185 dense-grid discipline — one map-combinable
    // (type, day) rollup, the grid and every window bounded by
    // |types|·|days|, moments one rollup, |types| output rows.
    "q223_autocorrelation" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("d"))
      val b = e.agg(min("d").as("d0"), max("d").as("d1"))
      val obs = e.groupBy("event_type", "d").agg(count(lit(1)).as("x"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(b))
        .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(obs, Seq("event_type", "d"), "left")
        .na.fill(0L, Seq("x"))
      val pairs = grid
        .withColumn("y", lead("x", 1)
          .over(Window.partitionBy("event_type").orderBy("d")))
        .where(col("y").isNotNull)
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n"), col("sx"), col("sy"),
          col("sxy"), col("sxx"), col("syy"),
          expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                 |THEN CAST(floor(CAST(1000000 AS DOUBLE) *
                 |  CAST(n * sxy - sx * sy AS DOUBLE) /
                 |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
                 |    CAST(n * syy - sy * sy AS DOUBLE)) +
                 |  CAST(0.5 AS DOUBLE)) AS BIGINT)
                 |ELSE 0 END""".stripMargin).as("r1_ppm"))
        .orderBy("event_type")
    }),

    // JOIN-KEY SKEW PROFILE (q222): for the three hottest join keys
    // in the schema, the heaviest SkewTopK key values with their
    // exact corpus share and their multiple of the mean key frequency
    // — the report that decides salting factors and AQE skew-join
    // thresholds BEFORE a 100 TB shuffle discovers them the hard way
    // (a key at 40× mean needs ~40-way salting; a flat profile needs
    // none). Exact integers: share and ×-mean are cross-multiplied
    // ppm (the ×1e6·f·n_keys product stays in int64 while f·n_keys <
    // 9·10¹² — at a bigger corpus drop the fixed point). Scale shape:
    // one map-combinable frequency rollup per column (the key DOMAIN,
    // never the fact table, reaches the driver), one broadcast scalar,
    // top keys via TakeOrdered — no global sort, no windows.
    "q222_skew_profile" -> ((s, dir) => {
      SkewCols.map { case (label, tbl, c) =>
        val f = Tables.load(s, dir, tbl)
          .groupBy(col(c).cast("long").as("key"))
          .agg(count(lit(1)).as("f"))
        val g = f.agg(count(lit(1)).as("n_keys"), sum("f").as("total"))
        f.crossJoin(broadcast(g))
          .select(lit(label).as("col_label"), col("key"), col("f"),
            col("n_keys"), col("total"),
            expr("(CAST(1000000 AS BIGINT) * f) div total").as("share_ppm"),
            expr("(CAST(1000000 AS BIGINT) * f * n_keys) div total")
              .as("x_mean_ppm"))
          .orderBy(col("f").desc, col("key").asc).limit(SkewTopK)
      }.reduce(_ unionByName _)
        .orderBy(col("col_label"), col("f").desc, col("key").asc)
    }),

    // χ² DISTRIBUTION-DRIFT MONITOR (q217): for each event type, the
    // two-sample χ² homogeneity statistic between the value
    // distribution of the stream's EARLY half and its LATE half (time
    // split at the exact integer midpoint of the observed range) —
    // the drift gate that catches a feed whose amounts changed shape
    // between snapshots. Values quantize to $10 cents-bins (bounded
    // by the value domain, the q212 histogram discipline); per bin
    // the engine-exact integer t = c1·n2 − c2·n1 is formed in int64,
    // and the per-bin contribution t²/((c1+c2)·n1·n2) is evaluated in
    // doubles with a FIXED association order (each IEEE op is
    // correctly rounded, so identical inputs give identical bits in
    // both engines), rendered as a floor(x·1000 + 0.5) integer. The
    // reported chi2_milli is the exact integer sum of those per-bin
    // integers — order-independent, hash-stable. Scale shape: two
    // map-combinable rollups on (type, bin) / (type), a broadcast
    // totals join, windows only over the bounded bin spine.
    "q217_chisq_drift" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val b = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1"))
      // Spark `div` and the oracle's DuckDB `//` BOTH truncate toward
      // zero (measured: -7 // 2 = -3 in this duckdb build), so the bin
      // is engine/oracle-stable even for negative values.
      val halves = ev.crossJoin(broadcast(b))
        .select(col("event_type"),
          expr("CAST(round(value * 100, 0) AS BIGINT) div 1000").as("bin"),
          when(expr("unix_millis(ts) * 2 < t0 + t1"), 0L).otherwise(1L)
            .as("half"))
      val cells = halves.groupBy("event_type", "bin")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("c1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("c2"))
      val totals = halves.groupBy("event_type")
        .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("half") === 1, 1L).otherwise(0L)).as("n2"))
      cells.join(broadcast(totals), "event_type")
        .withColumn("t", col("c1") * col("n2") - col("c2") * col("n1"))
        .withColumn("contrib_milli", expr(
          "CAST(floor(CAST(1000 AS DOUBLE) * ((CAST(t AS DOUBLE) * " +
            "CAST(t AS DOUBLE)) / CAST(c1 + c2 AS DOUBLE) / " +
            "CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)) + " +
            "CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .withColumn("chi2_milli",
          sum("contrib_milli").over(Window.partitionBy("event_type")))
        .select(col("event_type"), col("bin"), col("c1"), col("c2"),
          col("n1"), col("n2"), col("contrib_milli"), col("chi2_milli"))
        .orderBy("event_type", "bin")
    }),

    // STREAMED drift-gauge parity (q256, round 13): q217's two-sample
    // χ² maintained as the standing production gauge
    // (StreamingIngest.DriftTracker — reference = the distribution the
    // model was fit on, live = everything since) enters the hash-gated
    // differential surface over a restart-spanning run, completing the
    // streaming sketch promotions (q252 CMS / q253 HLL / q254
    // histogram / q256 drift). Protocol: the reference is the fixture's
    // FIRST time half (q217's own split), the second half streams as
    // two event_id-parity drops through two AvailableNow queries
    // sharing one checkpoint and one tracker. The oracle recomputes
    // per-key χ² with q217's exact arithmetic (int64 cross products,
    // the same fixed IEEE association order, milli-floor) over
    // (half 0, half 1) — batch-order-free, so any fold error,
    // double-processed drop (the tracker's per-stream batch-id
    // high-water marks), or lost drop moves an int64 statistic and
    // mismatches. The novel/null gauges ride as differentially pinned
    // columns (zero on this fixture, recomputed as such by the
    // oracle).
    "q256_streamed_drift_parity" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      // degenerate-fixture guard (round-13 advisor, the q251
      // convention): an empty events table has no midpoint and nothing
      // to stream — degrade to the schema-matched empty result instead
      // of NPE-ing on the null min/max, and never write a marker
      val bRow = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1")).head
      if (bRow.isNullAt(0)) {
        ev.select(col("event_type").cast("string").as("event_type"),
          lit(0L).as("chi2_milli"), lit(0L).as("novel_rows"),
          lit(0L).as("null_key_rows")).limit(0)
      } else {
      val path = StreamGuard.ensure("q256_stream_drift", dir, "v1", ev) { path =>
        import s.implicits._
        val halfPred = expr("unix_millis(ts)") * 2 <
          lit(bRow.getLong(0) + bRow.getLong(1))
        // reference grid: (event_type, $10-bin) counts of half 0 —
        // value-space-bounded (|event_type| × |bins|), the q237-style
        // grid collect. NULL handling mirrors q217's oracle CASE
        // (round-13 advisor): a null ts fails halfPred and lands in
        // half 1 on BOTH sides; a null value has no bin and is
        // excluded from the cells on BOTH sides (the oracle filters
        // identically).
        val refCells = ev.where(halfPred && col("event_type").isNotNull &&
            col("value").isNotNull)
          .groupBy(col("event_type").cast("string").as("k"),
            expr("CAST(round(value * 100, 0) AS BIGINT) div 1000").as("bin"))
          .agg(count(lit(1)).as("n"))
          .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toSeq
        val tracker = new graft.streaming.StreamingIngest.DriftTracker(refCells)
        // when(halfPred, 0).otherwise(1): null ts → half 1 (live), the
        // q217/oracle convention — a bare !halfPred would drop null-ts
        // rows from both halves
        val live = ev.where(when(halfPred, lit(0)).otherwise(lit(1)) === 1)
        StreamGuard.streamDrops(path, live.where(col("event_id") % 2 === 0),
            live.where(col("event_id") % 2 === 1)) { in =>
          graft.streaming.StreamingIngest.trackValueDrift(in, "event_type",
            "value", s"$path/ckpt", tracker)
        }
        tracker.chi2Milli.toSeq
          .map { case (k, chi) =>
            (k, chi, tracker.novelCount, tracker.nullKeyCount) }
          .toDF("event_type", "chi2_milli", "novel_rows", "null_key_rows")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/result")
      }
      s.read.parquet(s"$path/result")
        .select(col("event_type"), col("chi2_milli"),
          col("novel_rows"), col("null_key_rows"))
        .orderBy("event_type")
      }
    }),

    // STREAMED windowed-counts parity (q261, round 14): the
    // watermarked tumbling-window aggregation — the first streaming
    // operator any production monitor deploys — enters the hash-gated
    // differential surface over a restart-spanning run. Protocol: the
    // event stream lands as two TIME-CONTIGUOUS drops split at the
    // range midpoint (one file = one micro-batch each — a parity split
    // would make half the data late against the first drop's
    // watermark, which is a different experiment: q255's adversarial
    // axis), processed by two AvailableNow queries sharing one
    // checkpoint. Append mode emits a window only once the watermark
    // passes its end, and the watermark ratchets at BATCH boundaries,
    // so the emitted set is exactly the windows with
    // window_end <= max(ts) − slack (the final watermark — AvailableNow
    // runs the no-data flush batch that applies it); the oracle
    // recomputes that set relationally, so one hash certifies window
    // assignment, the cross-batch state fold, watermark-gated emission,
    // and the file sink's manifest together. The decimal sum rides as
    // cents (exact int64) — the oracle's SUM is order-free.
    "q261_streamed_window_counts_parity" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"), col("ts"))
      val bRow = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1")).head
      if (bRow.isNullAt(0)) {
        ev.select(col("ts").as("window_start"),
          col("event_type").cast("string").as("event_type"),
          lit(0L).as("n"), lit(0L).as("total_e4")).limit(0)
      } else {
      val path = StreamGuard.ensure("q261_stream_window", dir, "v1", ev) { path =>
        val halfPred = expr("unix_millis(ts)") * 2 <
          lit(bRow.getLong(0) + bRow.getLong(1))
        StreamGuard.streamDrops(path, ev.where(halfPred).coalesce(1),
            ev.where(!halfPred).coalesce(1)) { in =>
          graft.streaming.StreamingIngest.windowedEventCounts(in,
              windowLen = "6 hours", slack = "5 minutes")
            .writeStream.format("parquet")
            .option("path", s"$path/out")
            .option("checkpointLocation", s"$path/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
      }
      s.read.parquet(s"$path/out")
        // ×10000 lifts the full scale-4 decimal into an exact int64 —
        // ×100 would truncate live half-cents divergently per engine
        .select(col("window_start"), col("event_type"), col("n"),
          (col("total") * 10000).cast("long").as("total_e4"))
        .orderBy("window_start", "event_type")
      }
    }),

    // STREAMED sessionization parity (q262, round 14): the
    // flatMapGroupsWithState event-time-timeout sessionizer — the
    // custom-state path the built-in windows can't express — enters
    // the differential surface over the q261 protocol (two
    // time-contiguous drops, restart between). Sessions close two
    // ways, both deterministic under the protocol: EAGERLY when a
    // later event of the same user exceeds the gap (cross-batch —
    // state persists through the checkpoint), and by EVENT-TIME
    // TIMEOUT once the watermark passes session_end + gap. The oracle
    // is classic island detection (lag/cumsum) over the same events
    // with the same emission rule: every non-final island of a user
    // emits (its successor event closed it), and a user's final
    // island emits iff session_end + gap is STRICTLY below
    // max(ts) − slack (Spark fires an event-time timeout only once the
    // watermark advances beyond the set timestamp; gap arithmetic runs
    // in micros on both sides, the timeout comparison in the watermark's
    // floored millis). One hash certifies the per-batch sort, the
    // cross-batch state carry, the timeout arithmetic, and the
    // append-mode emission discipline.
    "q262_streamed_sessionize_parity" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val bRow = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1")).head
      if (bRow.isNullAt(0)) {
        ev.select(col("user_id"), col("ts").as("session_start"),
          col("ts").as("session_end"), lit(0L).as("n_events")).limit(0)
      } else {
      val path = StreamGuard.ensure("q262_stream_session", dir, "v1", ev) { path =>
        val halfPred = expr("unix_millis(ts)") * 2 <
          lit(bRow.getLong(0) + bRow.getLong(1))
        StreamGuard.streamDrops(path, ev.where(halfPred).coalesce(1),
            ev.where(!halfPred).coalesce(1)) { in =>
          graft.streaming.StreamingIngest.sessionize(
              in.as[graft.streaming.StreamingIngest.Event],
              gapMs = StreamGapMs, slack = "10 seconds")
            .toDF()
            .writeStream.format("parquet")
            .option("path", s"$path/out")
            .option("checkpointLocation", s"$path/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
      }
      s.read.parquet(s"$path/out")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_start")
      }
    }),

    // STREAMED interval-join parity (q263, round 14): the
    // stream-stream attribution join (click → purchase within the
    // horizon, both sides watermarked so state is bounded on BOTH
    // streams) enters the differential surface over the q261 protocol.
    // An inner stream-stream join emits a match in the batch where the
    // later side arrives, and Spark's watermark contract guarantees a
    // row is evicted only once no future match is possible — under the
    // time-contiguous split no cross-batch match can be lost (a drop-2
    // row within the horizon of an evicted drop-1 row would contradict
    // the eviction bound), so the streamed output must equal the batch
    // inequality join EXACTLY, with no emission-horizon filter at all
    // — the one streamed operator whose parity needs no watermark
    // arithmetic in the oracle. One hash certifies the dual-sided
    // state management, eviction correctness, and replay safety.
    "q263_streamed_interval_join_parity" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val bRow = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1")).head
      if (bRow.isNullAt(0)) {
        ev.select(col("user_id"), col("ts").as("l_ts"),
          col("ts").as("r_ts")).limit(0)
      } else {
      val sideSchema = ev.select(col("user_id"), col("ts")).schema
      val path = StreamGuard.ensure("q263_stream_ijoin", dir, "v1", ev) { path =>
        val halfPred = expr("unix_millis(ts)") * 2 <
          lit(bRow.getLong(0) + bRow.getLong(1))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        // two inputs, so not StreamGuard.streamDrops: each half lands
        // on both sides before the join's next restart
        for (half <- Seq(halfPred, !halfPred)) {
          clicks.where(half).coalesce(1).write.mode("append").parquet(s"$path/in_l")
          purchases.where(half).coalesce(1).write.mode("append").parquet(s"$path/in_r")
          StreamGuard.await(graft.streaming.StreamingIngest.intervalJoin(
              s.readStream.schema(sideSchema).parquet(s"$path/in_l"),
              s.readStream.schema(sideSchema).parquet(s"$path/in_r"),
              key = "user_id", horizon = "2 hours", slack = "5 minutes")
            .writeStream.format("parquet")
            .option("path", s"$path/out")
            .option("checkpointLocation", s"$path/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start())
        }
      }
      s.read.parquet(s"$path/out")
        .select(col("user_id"), col("l_ts"), col("r_ts"))
        .orderBy("user_id", "l_ts", "r_ts")
      }
    }),

    // STREAMED keyed-dedup parity (q264, round 14): the LAST spec-only
    // streaming operator — dropDuplicatesWithinWatermark — enters the
    // hash-gated differential surface, completing the streaming table.
    // Regime choice matters for determinism: with a BOUNDED horizon,
    // which duplicate of a within-batch group is kept is partition-order
    // dependent, and the kept row's event time steers state expiry, so
    // the episode structure itself is nondeterministic (that regime
    // stays spec-certified). The differential therefore pins the
    // GLOBAL-window regime: the horizon is computed from the fixture's
    // own span (span + 2 days — sf1/sf3 stretch time 10×/30×, so a
    // fixed constant would silently re-admit keys at scale), the
    // watermark never passes any key's expiry, and the operator must
    // emit each key EXACTLY once across both drops and the restart —
    // n_emitted > 1 is a lost-state smoking gun (checkpoint carry
    // broken), a missing key is a lost-emission one (sink manifest
    // broken). Key = (user_id, event_type, day) so the dedup runs on a
    // derived bucket column, not just raw columns, and the state is
    // ~50× richer than user×type alone.
    "q264_streamed_dedup_parity" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          date_trunc("day", col("ts")).as("day"))
      val bRow = ev.agg(min(expr("unix_millis(ts)")).as("t0"),
        max(expr("unix_millis(ts)")).as("t1")).head
      if (bRow.isNullAt(0)) {
        ev.select(col("user_id"),
          col("event_type").cast("string").as("event_type"),
          col("day"), lit(0L).as("n_emitted")).limit(0)
      } else {
      val path = StreamGuard.ensure("q264_stream_dedup", dir, "v1",
          ev.select("user_id", "event_type", "ts")) { path =>
        val spanDays = (bRow.getLong(1) - bRow.getLong(0)) / 86400000L + 2L
        val halfPred = expr("unix_millis(ts)") * 2 <
          lit(bRow.getLong(0) + bRow.getLong(1))
        StreamGuard.streamDrops(path, ev.where(halfPred).coalesce(1),
            ev.where(!halfPred).coalesce(1)) { in =>
          graft.streaming.StreamingIngest.dedupStream(in,
              tsCol = "ts", keys = Seq("user_id", "event_type", "day"),
              slack = s"$spanDays days")
            .select(col("user_id"), col("event_type"), col("day"))
            .writeStream.format("parquet")
            .option("path", s"$path/out")
            .option("checkpointLocation", s"$path/ckpt")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
      }
      s.read.parquet(s"$path/out")
        .groupBy(col("user_id"), col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_emitted"))
        .orderBy("user_id", "event_type", "day")
      }
    }),

    // ASSOCIATION RULES (q184): the market-basket classic (Agrawal &
    // Srikant 1994) over order baskets — for supplier pairs
    // co-occurring in ≥ MinSup orders, both directional rules A⇒C
    // with confidence (n_ab/n_a) and lift (n_ab·N/(n_a·n_c)) in ppm,
    // keeping each antecedent's top RulesPerAnt rules by lift. Scale
    // shape: the pair table comes from a per-order sorted-set explode
    // (one map-combinable shuffle on the order key — NEVER a fact
    // self-join, the same discipline as the kNN graph build); item
    // supports are a second map-combinable rollup; the basket count
    // is a broadcast scalar; and the per-antecedent cap runs through
    // TopKPerKeyExec, so the output is ≤ RulesPerAnt·|suppliers| at
    // any corpus size.
    "q184_association_rules" -> ((s, dir) => {
      val os = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
        .distinct()
      // r15: a REPARTITION_BY_NUM(ok) width pin before this groupBy was
      // tried and REVERTED — it widened the explode stage to 32 tasks
      // but quadrupled total task time (13.6 → 68.5 s at sf0.1; the
      // repartition displaced the map-side partial collect_set, so raw
      // rows crossed the exchange). The AQE-chosen 4-task final stage
      // stands.
      val pair = os.groupBy("ok")
        .agg(sort_array(collect_set(col("sk"))).as("sks"))
        .select(explode(expr(
          """flatten(transform(sks, (a, i) ->
            |  transform(slice(sks, i + 2, size(sks)),
            |    b -> named_struct('sa', a, 'sb', b))))""".stripMargin))
          .as("p"))
        .groupBy(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .agg(count(lit(1)).as("n_pair"))
        .where(col("n_pair") >= MinSup)
      val item = os.groupBy(col("sk")).agg(count(lit(1)).as("n_item"))
      val nb = os.agg(countDistinct("ok").as("n_baskets"))
      val rules = pair.select(col("sa").as("antecedent"),
          col("sb").as("consequent"), col("n_pair"))
        .unionAll(pair.select(col("sb").as("antecedent"),
          col("sa").as("consequent"), col("n_pair")))
      val scored = rules
        .join(item.select(col("sk").as("antecedent"),
          col("n_item").as("n_a")), "antecedent")
        .join(item.select(col("sk").as("consequent"),
          col("n_item").as("n_c")), "consequent")
        .crossJoin(broadcast(nb))
        .select(col("antecedent"), col("consequent"), col("n_a"),
          col("n_c"), col("n_pair"),
          expr("(CAST(1000000 AS BIGINT) * n_pair) div n_a")
            .as("confidence_ppm"),
          expr("(CAST(1000000 AS BIGINT) * n_pair * n_baskets)" +
            " div (n_a * n_c)").as("lift_ppm"))
      TopK.perKey(scored, Seq("antecedent"),
          Seq("lift_ppm" -> false, "consequent" -> true), k = RulesPerAnt)
        .select(col("antecedent"), col("consequent"), col("n_a"),
          col("n_c"), col("n_pair"), col("confidence_ppm"),
          col("lift_ppm"), col("rank"))
        .orderBy("antecedent", "rank")
    }),

    // BURST DETECTION (q185): per event type, the hourly buckets whose
    // count sits more than 2.5 standard deviations ABOVE the type's
    // mean — the traffic-spike / incident-detection primitive. The
    // grid is DENSE (every hour between the corpus min and max,
    // zero-filled), so quiet hours pull the mean down exactly as they
    // should; mean and variance never materialize as fractions — the
    // z-test cross-multiplies to 4·(x·n − S)² > 25·(n·Q − S²) over
    // int64 (bounded: hours per decade ≈ 87k, counts per bucket
    // bounded by the data). Scale shape: one map-combinable
    // (type, hour) rollup, a |types|·|hours| zero-filled grid off two
    // broadcast scalars, per-type window stats over that grid —
    // nothing corpus-sized past the first rollup, no global sort.
    "q185_burst_detection" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_millis(ts) div 3600000").as("h"))
      val b = e.agg(min("h").as("h0"), max("h").as("h1"))
      val obs = e.groupBy("event_type", "h").agg(count(lit(1)).as("x"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(b))
        .select(col("event_type"),
          explode(sequence(col("h0"), col("h1"))).as("h"))
        .join(obs, Seq("event_type", "h"), "left")
        .na.fill(0L, Seq("x"))
      val byType = Window.partitionBy("event_type")
      grid
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("s", sum("x").over(byType))
        .withColumn("q", sum(col("x") * col("x")).over(byType))
        .where(col("x") * col("n") > col("s") &&
          lit(BurstDen) * (col("x") * col("n") - col("s")) *
            (col("x") * col("n") - col("s")) >
            lit(BurstNum) * (col("n") * col("q") - col("s") * col("s")))
        .select(col("event_type"), col("h").as("hour_bucket"),
          col("x").as("cnt"), col("n"), col("s"))
        .orderBy("event_type", "hour_bucket")
    }),

    // TIME-DECAYED REPUTATION (q186): per-user standing where each
    // event contributes its value halved per day of age (relative to
    // the corpus's latest timestamp) — the freshness-weighted
    // reputation/priority score crawl scheduling and contributor
    // ranking use. Exponential decay stays exact-integer by using
    // base 2: cents div 2^age_days, shift capped at DecayCapDays.
    // Scale shape: one scalar max broadcast, one linear projection,
    // one map-combinable per-user rollup.
    "q186_decayed_reputation" -> ((s, dir) => {
      val mx = Tables.load(s, dir, "events")
        .agg(max(expr("unix_millis(ts)")).as("tmax"))
      Tables.load(s, dir, "events")
        .crossJoin(broadcast(mx))
        .select(col("user_id"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("cents"),
          least(expr("(tmax - unix_millis(ts)) div 86400000"),
            lit(DecayCapDays)).as("age"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum("cents").as("total_cents"),
          sum(expr("cents div shiftleft(CAST(1 AS BIGINT), CAST(age AS INT))"))
            .as("decayed_cents"))
        .orderBy("user_id")
    }),

    // LATENCY PERCENTILES (q187): order-to-ship latency p50/p90/p99
    // per order month — the fulfilment-SLA report, computed the only
    // way that scales: the latency value space is bounded (days), so
    // the percentiles come from a value-space histogram's cumulative
    // window (pXX = smallest latency whose running count reaches
    // XX % of the month), NEVER a global sort of the fact table.
    // Same single-lineage discipline as q182: the histogram is built
    // once and every statistic derives from it via same-partitioning
    // windows.
    "q187_latency_percentiles" -> ((s, dir) => {
      def pct(p: Int) = min(when(
        col("cc") * 100 >= col("ntot") * p, col("lat")))
      val lat = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("l_orderkey") === col("o_orderkey"))
        .select(
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("mon"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("lat"))
      val h = lat.groupBy("mon", "lat").agg(count(lit(1)).as("c"))
      val byMon = Window.partitionBy("mon")
      h.withColumn("ntot", sum("c").over(byMon))
        .withColumn("cc", sum("c").over(
          Window.partitionBy("mon").orderBy("lat")))
        .groupBy("mon")
        .agg(max("ntot").as("n"), pct(50).as("p50"), pct(90).as("p90"),
          pct(99).as("p99"))
        .orderBy("mon")
    }),

    // LAST-TOUCH ATTRIBUTION (q188): every purchase attributed to the
    // user's LATEST prior click if it happened within the 7-day
    // window, else unattributed (-1) — the conversion-credit join
    // marketing analytics runs hourly. Rides the engine's AsOfJoin
    // operator (one hash shuffle + one sort — never an inequality
    // join), with the window bound applied AFTER the as-of match:
    // last-touch semantics credit only the latest click, so a latest
    // click older than the window means NO credit, not credit to an
    // earlier one. Output is one row per purchase — linear.
    "q188_attribution" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("CAST(round(value * 100, 0) AS BIGINT)").as("value_cents"))
      graft.operators.AsOfJoin
        .leftAsOf(purchases, clicks, "user_id", "ts", "ts", Seq("click_id"))
        .withColumn("gap",
          expr("unix_millis(ts) - unix_millis(matched_ts)"))
        .select(col("event_id"), col("user_id"), col("value_cents"),
          when(col("gap").isNotNull && col("gap") <= AttribWindowMs,
            col("click_id")).otherwise(-1L).as("click_id"),
          when(col("gap").isNotNull && col("gap") <= AttribWindowMs,
            col("gap")).otherwise(-1L).as("gap_ms"))
        .orderBy("event_id")
    }),

    // ABC / PARETO CLASSIFICATION (q189): every part classified by its
    // cumulative share of total discounted revenue — A while the
    // running share before the part is under 80 %, B under 95 %, C
    // after (the inventory-curation classic, and the exact shape of
    // "which sources contribute 80 % of my corpus tokens"). Money
    // stays exact: price × (1−discount) in decimal (q20's recipe),
    // rounded to cents, then LONG cents everywhere — the rank and the
    // class are integer-exact, never a float cumsum. Scale shape
    // (round-9 rewrite — |parts| is LINEAR in SF, so the old global
    // rank/cumsum window weakened at 100×): the q212 two-level split —
    // the $1000-revenue-bin histogram is DRIVER-HELD (bounded by the
    // per-part revenue domain: ~constant lineitems/part in this
    // schema), rank = rows-before(bin) + row_number within the bin
    // (PARTITIONED window), cum_before = revenue-before(bin) + the
    // within-bin running sum; bins are total in the (revenue DESC,
    // partkey) order because equal revenues share a bin. The grand
    // total rides as a literal. No global-sort window (PlanSpec).
    "q189_abc_pareto" -> ((s, dir) => {
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val oneMinusD = (lit(1.0) - col("l_discount")).cast("decimal(3,2)")
      // persisted: the rollup feeds BOTH the driver-held histogram
      // (eager collect — fills the cache) and the lazy ranking pass;
      // without it the fact scan runs twice. Freed by the harness's
      // per-query clearCache (the iterative-operator cache contract).
      val r = Tables.load(s, dir, "lineitem")
        .select(col("l_partkey").as("partkey"),
          (round(price * oneMinusD, 2) * 100).cast("long").as("cents"))
        .groupBy("partkey").agg(sum("cents").as("revenue_cents"))
        .withColumn("bin", expr("revenue_cents div 100000"))
        .persist()
      val hist = r.groupBy("bin")
        .agg(count(lit(1)).as("c"), sum("revenue_cents").as("s"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
        .sortBy(-_._1)
      val total = hist.map(_._3).sum
      val rowsBefore = hist.map(_._1)
        .zip(hist.scanLeft(0L)(_ + _._2).init).toMap
      val revBefore = hist.map(_._1)
        .zip(hist.scanLeft(0L)(_ + _._3).init).toMap
      val byRevInBin = Window.partitionBy("bin")
        .orderBy(col("revenue_cents").desc, col("partkey"))
      r.withColumn("rank", (element_at(typedLit(rowsBefore), col("bin")) +
          row_number().over(byRevInBin)).cast("long"))
        .withColumn("cum_before",
          element_at(typedLit(revBefore), col("bin")) +
            sum("revenue_cents").over(byRevInBin) - col("revenue_cents"))
        .select(col("partkey"), col("revenue_cents"), col("rank"),
          when(col("cum_before") * 100 < lit(AbcA) * lit(total), "A")
            .when(col("cum_before") * 100 < lit(AbcB) * lit(total), "B")
            .otherwise("C").as("abc"))
        .orderBy("rank")
    }),

    // CUSUM CHANGEPOINT (q190): per event type, the day where the
    // cumulative deviation from the overall daily mean peaks — the
    // classic level-shift detector (Page 1954) that catches "traffic
    // permanently moved" where q185's pointwise z-test only catches
    // single-bucket spikes. The statistic stays integer by scaling:
    // CUSUM_k = Σ_{i≤k} x_i·n − k·S (n times the usual mean-deviation
    // sum). Scale shape: the same dense-grid discipline as q185
    // (map-combinable rollup + broadcast scalars), all windows over
    // the |types|·|days| grid, output one row per type.
    "q190_cusum_changepoint" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("d"))
      val b = e.agg(min("d").as("d0"), max("d").as("d1"))
      val obs = e.groupBy("event_type", "d").agg(count(lit(1)).as("x"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(b))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(obs, Seq("event_type", "d"), "left")
        .na.fill(0L, Seq("x"))
      val byType = Window.partitionBy("event_type")
      val inOrder = Window.partitionBy("event_type").orderBy("d")
      grid
        .withColumn("n", count(lit(1)).over(byType))
        .withColumn("s", sum("x").over(byType))
        .withColumn("cx", sum("x").over(inOrder))
        .withColumn("k", row_number().over(inOrder).cast("long"))
        .withColumn("cusum", col("cx") * col("n") - col("k") * col("s"))
        .withColumn("m", max(abs(col("cusum"))).over(byType))
        .groupBy("event_type")
        .agg(max("n").as("n_days"), max(abs(col("cusum"))).as("max_abs_cusum"),
          min(when(abs(col("cusum")) === col("m"), col("d"))).as("argmax_day"))
        .orderBy("event_type")
    }),

    // CATEGORICAL PROFILE (q191): Gini impurity, distinct count, and
    // top-value share for every low-cardinality column across five
    // tables — the data-profiling sweep a catalog runs to spot
    // near-constant columns (top_share → 1) and unbalanced labels.
    // Gini (1 − Σ(c/n)²) stays exact-integer via two-step long
    // division by n²: ppm = q·10⁶ div n² computed as
    // t·1000 + (r·1000) div n² with t = q·1000 div n², r its
    // remainder — the naive q·10⁶ wraps int64 at sf1 fact sizes.
    // Scale shape: one map-combinable value rollup per column
    // (value-space bounded), a scalar reduction each, union of nine
    // 1-row frames.
    "q191_gini_profile" -> ((s, dir) => {
      val parts = GiniCols.map { case (label, table, colExpr) =>
        Tables.load(s, dir, table)
          .groupBy(expr(colExpr).cast("string").as("v"))
          .agg(count(lit(1)).as("c"))
          .agg(sum("c").as("n_rows"), count(lit(1)).as("n_distinct"),
            max("c").as("mc"), sum(col("c") * col("c")).as("qq"))
          .select(lit(label).as("col_name"), col("n_rows"),
            col("n_distinct"),
            expr("(CAST(1000000 AS BIGINT) * mc) div n_rows")
              .as("top_share_ppm"),
            expr("""1000000 - (((qq * 1000) div (n_rows * n_rows)) * 1000
                   | + (((qq * 1000) % (n_rows * n_rows)) * 1000)
                   |   div (n_rows * n_rows))""".stripMargin)
              .as("gini_ppm"))
      }
      parts.reduce(_ unionAll _).orderBy("col_name")
    }),

    // SEASONAL BASELINE ANOMALIES (q192): q185's z-test re-grouped by
    // (type, hour-of-day) — each cell competes against ITS OWN hour's
    // cross-day baseline, so a 9 am spike is judged against 9 am
    // traffic, not the 24-hour mean (the seasonality correction
    // without which daily-rhythm data flags every peak hour). Same
    // dense grid (every day × 24 hours, zero-filled), same integer
    // cross-multiplied test, windows partitioned by (type, hod).
    "q192_seasonal_baseline" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_millis(ts) div 86400000").as("d"),
          expr("(unix_millis(ts) % 86400000) div 3600000").as("hod"))
      val b = e.agg(min("d").as("d0"), max("d").as("d1"))
      val obs = e.groupBy("event_type", "d", "hod")
        .agg(count(lit(1)).as("x"))
      val grid = e.select("event_type").distinct()
        .crossJoin(broadcast(b))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("d"))
        .select(col("event_type"), col("d"),
          explode(sequence(lit(0L), lit(23L))).as("hod"))
        .join(obs, Seq("event_type", "d", "hod"), "left")
        .na.fill(0L, Seq("x"))
      val bySeason = Window.partitionBy("event_type", "hod")
      grid
        .withColumn("n", count(lit(1)).over(bySeason))
        .withColumn("s", sum("x").over(bySeason))
        .withColumn("q", sum(col("x") * col("x")).over(bySeason))
        .where(col("x") * col("n") > col("s") &&
          lit(BurstDen) * (col("x") * col("n") - col("s")) *
            (col("x") * col("n") - col("s")) >
            lit(BurstNum) * (col("n") * col("q") - col("s") * col("s")))
        .select(col("event_type"), col("d").as("day_bucket"), col("hod"),
          col("x").as("cnt"), col("n"), col("s"))
        .orderBy("event_type", "day_bucket", "hod")
    }),

    // TRANSITION DWELL TIMES (q209): the q120 transition matrix with
    // TIME attached — per (from, to) event pair, the median and p90
    // of the gap between the two events in minutes, from a
    // value-space gap histogram (the q187/q205 percentile
    // discipline). Separates fast reflk-path transitions from slow
    // deliberation ones — the dwell profile session-timeout tuning
    // and bot detection both read. Scale shape: one lead() window
    // per user partition, a map-combinable (from, to, gap) rollup
    // bounded by |types|²·|gap values|, same-partition windows.
    "q209_transition_dwell" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val tr = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("unix_millis(ts)").as("t"))
        .withColumn("next_type", lead("event_type", 1).over(w))
        .withColumn("next_t", lead("t", 1).over(w))
        .where(col("next_type").isNotNull)
        .withColumn("gap_min", expr("(next_t - t) div 60000"))
      val h = tr.groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"), col("gap_min"))
        .agg(count(lit(1)).as("c"))
      val byPair = Window.partitionBy("from_type", "to_type")
      h.withColumn("nt", sum("c").over(byPair))
        .withColumn("cc", sum("c").over(Window
          .partitionBy("from_type", "to_type").orderBy("gap_min")))
        .groupBy("from_type", "to_type")
        .agg(max("nt").as("n"),
          min(when(col("cc") * 2 >= col("nt"), col("gap_min")))
            .as("med_gap_min"),
          min(when(col("cc") * 10 >= col("nt") * 9, col("gap_min")))
            .as("p90_gap_min"))
        .orderBy("from_type", "to_type")
    }),

    // FUNNEL TIME-TO-CONVERT (q205): per signup-day cohort, how long
    // the first purchase takes — conversion counts plus the p50/p90
    // of the signup→purchase gap in hours, computed from the same
    // value-space histogram discipline as q187 (gap hours are
    // bounded; never a global sort of users). The activation-latency
    // report every growth dashboard carries, exact to the hour.
    // Scale shape: two map-combinable per-user min() rollups, one
    // |users|-row join, histogram + same-partition windows per
    // cohort.
    "q205_funnel_latency" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("unix_millis(ts)").as("t"))
      val su = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("t0"))
      val pu = e.where(col("event_type") === "purchase")
        .join(su, "user_id").where(col("t") >= col("t0"))
        .groupBy("user_id").agg(min("t").as("t1"))
      val g = su.join(pu, Seq("user_id"), "left")
        .select(expr("t0 div 86400000").as("cohort_day"),
          when(col("t1").isNull, -1L)
            .otherwise(expr("(t1 - t0) div 3600000")).as("gap_h"))
      val h = g.where(col("gap_h") >= 0)
        .groupBy("cohort_day", "gap_h").agg(count(lit(1)).as("c"))
      val byC = Window.partitionBy("cohort_day")
      val cum = h
        .withColumn("nt", sum("c").over(byC))
        .withColumn("cc", sum("c").over(
          Window.partitionBy("cohort_day").orderBy("gap_h")))
        .groupBy("cohort_day")
        .agg(max("nt").as("n_converted"),
          min(when(col("cc") * 2 >= col("nt"), col("gap_h")))
            .as("p50_gap_h"),
          min(when(col("cc") * 10 >= col("nt") * 9, col("gap_h")))
            .as("p90_gap_h"))
      g.groupBy("cohort_day").agg(count(lit(1)).as("n_signups"))
        .join(cum, Seq("cohort_day"), "left")
        .na.fill(0L, Seq("n_converted"))
        .na.fill(-1L, Seq("p50_gap_h", "p90_gap_h"))
        .select(col("cohort_day"), col("n_signups"), col("n_converted"),
          col("p50_gap_h"), col("p90_gap_h"))
        .orderBy("cohort_day")
    }),

    // SESSION EXIT PATHS (q193): sessionize each user's events on a
    // 30-minute inactivity gap, render every session's first PathLen
    // event types as a path string, and roll up how many sessions
    // follow each path — the funnel-abandonment mining that answers
    // "where do sessions die". The path universe is VALUE-SPACE
    // bounded (≤ Σ|types|^k, k ≤ PathLen), so the rollup is tiny at
    // any scale; the per-session collect is bounded by session length
    // (a 30-minute activity window), the same per-group bound q153's
    // sequence packing rides. Deterministic: ties inside a session
    // break on event_id, sessions cut by epoch-millis arithmetic.
    "q193_session_paths" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val sessions = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("unix_millis(ts)").as("t"),
          col("event_id"), col("event_type"))
        .withColumn("brk",
          when(lag("t", 1).over(w).isNull ||
            col("t") - lag("t", 1).over(w) > SessionGapMs, 1L)
            .otherwise(0L))
        .withColumn("sess", sum("brk").over(w))
      sessions
        .groupBy("user_id", "sess")
        .agg(collect_list(struct(col("t"), col("event_id"),
          col("event_type"))).as("evs"),
          count(lit(1)).as("n_events"))
        .select(expr(s"""concat_ws('>',
          |  slice(transform(array_sort(evs), x -> x.event_type),
          |    1, $PathLen))""".stripMargin).as("path"),
          col("n_events"))
        .groupBy("path")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("total_events"))
        .orderBy("path")
    }))

  val oracleSql: Map[String, String] = Map(

    // q233: identical histogram-product arithmetic per audited join.
    "q233_join_size_stats" -> {
      val blocks = JoinPairs.map { case (label, ta, ka, tb, kb) =>
        s"""SELECT * FROM (
           |  WITH fa AS (SELECT CAST($ka AS BIGINT) AS key,
           |      CAST(count(*) AS BIGINT) AS fa FROM $ta GROUP BY 1),
           |  fb AS (SELECT CAST($kb AS BIGINT) AS key,
           |      CAST(count(*) AS BIGINT) AS fb FROM $tb GROUP BY 1),
           |  na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM $ta),
           |  nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM $tb),
           |  j AS (SELECT CAST(count(*) AS BIGINT) AS n_shared_keys,
           |      CAST(sum(fa.fa * fb.fb) AS BIGINT) AS join_rows,
           |      CAST(max(fa.fa * fb.fb) AS BIGINT) AS max_key_rows
           |    FROM fa JOIN fb USING (key))
           |  SELECT '$label' AS join_label, na.n_a, nb.n_b,
           |    j.n_shared_keys, j.join_rows, j.max_key_rows,
           |    (CAST(1000000 AS BIGINT) * j.max_key_rows) // j.join_rows
           |      AS max_key_share_ppm,
           |    (CAST(1000 AS BIGINT) * j.join_rows) // greatest(na.n_a, nb.n_b)
           |      AS amplification_milli
           |  FROM j CROSS JOIN na CROSS JOIN nb) jb""".stripMargin
      }
      s"""SELECT * FROM (
         |${blocks.mkString("\nUNION ALL\n")}
         |) u ORDER BY join_label""".stripMargin
    },

    // q236: identical grid and moment arithmetic (n·Q − S² ≥ 0 and
    // S ≥ 1 on the fixture, so // = div).
    "q236_overdispersion" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) // 86400000 AS d0,
        |  max(epoch_ms(ts)) // 86400000 AS d1 FROM events),
        |obs AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, g.d, coalesce(obs.x, 0) AS x
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(range(b.d0, b.d1 + 1)) AS d FROM b) g
        |  LEFT JOIN obs ON obs.event_type = t.event_type AND obs.d = g.d),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
        |  FROM grid GROUP BY 1)
        |SELECT event_type, n, s, q,
        |  (CAST(1000000 AS BIGINT) * (n * q - s * s)) // (s * (n - 1))
        |    AS vmr_ppm,
        |  (n * q - s * s) > (s * (n - 1)) AS overdispersed
        |FROM m ORDER BY event_type""".stripMargin,

    // q223: identical dense grid, lead-pairing as a self-join on
    // d+1, the same moment arithmetic and double rendering.
    "q223_autocorrelation" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) // 86400000 AS d0,
        |  max(epoch_ms(ts)) // 86400000 AS d1 FROM events),
        |obs AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d,
        |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
        |grid AS (SELECT t.event_type, g.d, coalesce(obs.x, 0) AS x
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(range(b.d0, b.d1 + 1)) AS d FROM b) g
        |  LEFT JOIN obs ON obs.event_type = t.event_type AND obs.d = g.d),
        |pairs AS (SELECT a.event_type, a.x, bb.x AS y
        |  FROM grid a JOIN grid bb
        |    ON bb.event_type = a.event_type AND bb.d = a.d + 1),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pairs GROUP BY 1)
        |SELECT event_type, n, sx, sy, sxy, sxx, syy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |  THEN CAST(floor(CAST(1000000 AS DOUBLE) *
        |    CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |      CAST(n * syy - sy * sy AS DOUBLE)) +
        |    CAST(0.5 AS DOUBLE)) AS BIGINT)
        |  ELSE 0 END AS r1_ppm
        |FROM m ORDER BY event_type""".stripMargin,

    // q222: identical per-column frequency/share arithmetic; the
    // per-column top-k as ORDER BY ... LIMIT with the same tie order.
    "q222_skew_profile" -> {
      val blocks = SkewCols.map { case (label, tbl, c) =>
        s"""SELECT * FROM (
           |  WITH f AS (SELECT CAST($c AS BIGINT) AS key,
           |      CAST(count(*) AS BIGINT) AS f FROM $tbl GROUP BY 1),
           |  g AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |      CAST(sum(f) AS BIGINT) AS total FROM f)
           |  SELECT '$label' AS col_label, f.key, f.f, g.n_keys, g.total,
           |    (CAST(1000000 AS BIGINT) * f.f) // g.total AS share_ppm,
           |    (CAST(1000000 AS BIGINT) * f.f * g.n_keys) // g.total
           |      AS x_mean_ppm
           |  FROM f CROSS JOIN g
           |  ORDER BY f.f DESC, f.key ASC LIMIT $SkewTopK) b_$c""".stripMargin
      }
      s"""SELECT * FROM (
         |${blocks.mkString("\nUNION ALL\n")}
         |) u ORDER BY col_label, f DESC, key ASC""".stripMargin
    },

    // q217: identical integer split/bin/count arithmetic; the per-bin
    // double expression is rendered with the SAME association order so
    // every IEEE step is bit-identical.
    "q217_chisq_drift" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) AS t0, max(epoch_ms(ts)) AS t1
        |  FROM events),
        |h AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) // 1000 AS bin,
        |    CASE WHEN epoch_ms(ts) * 2 < b.t0 + b.t1 THEN 0 ELSE 1 END
        |      AS half
        |  FROM events CROSS JOIN b),
        |cells AS (SELECT event_type, bin,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM h GROUP BY 1, 2),
        |tt AS (SELECT event_type,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM h GROUP BY 1),
        |j AS (SELECT c.event_type, c.bin, c.c1, c.c2, t.n1, t.n2,
        |    c.c1 * t.n2 - c.c2 * t.n1 AS t
        |  FROM cells c JOIN tt t ON t.event_type = c.event_type),
        |k AS (SELECT event_type, bin, c1, c2, n1, n2,
        |    CAST(floor(CAST(1000 AS DOUBLE) * ((CAST(t AS DOUBLE) *
        |      CAST(t AS DOUBLE)) / CAST(c1 + c2 AS DOUBLE) /
        |      CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)) +
        |      CAST(0.5 AS DOUBLE)) AS BIGINT) AS contrib_milli
        |  FROM j)
        |SELECT event_type, bin, c1, c2, n1, n2, contrib_milli,
        |  CAST(sum(contrib_milli) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS chi2_milli
        |FROM k ORDER BY event_type, bin""".stripMargin,

    // q256: q217's arithmetic rolled up to one χ² row per reference
    // key, plus the tracker's two overflow gauges recomputed exactly
    // (novel = half-1 rows under a non-null key absent from half 0;
    // null = half-1 rows with a NULL key — both 0 on this fixture).
    // A reference key with an empty live side reports -1 (the
    // tracker's "no drift signal yet" contract). NULL conventions
    // match the engine exactly (round-13 advisor): null ts → half 1
    // (the CASE's ELSE), null value → no bin → excluded from cells and
    // from the reference key universe, but still gauged by key status.
    "q256_streamed_drift_parity" ->
      """WITH b AS (SELECT min(epoch_ms(ts)) AS t0, max(epoch_ms(ts)) AS t1
        |  FROM events),
        |h AS (SELECT event_type,
        |    CAST(round(value * 100, 0) AS BIGINT) // 1000 AS bin,
        |    CASE WHEN epoch_ms(ts) * 2 < b.t0 + b.t1 THEN 0 ELSE 1 END
        |      AS half
        |  FROM events CROSS JOIN b),
        |refk AS (SELECT DISTINCT event_type FROM h
        |  WHERE half = 0 AND event_type IS NOT NULL AND bin IS NOT NULL),
        |cells AS (SELECT event_type, bin,
        |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM h WHERE event_type IN (SELECT event_type FROM refk)
        |    AND bin IS NOT NULL
        |  GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2
        |  FROM cells GROUP BY 1),
        |j AS (SELECT c.event_type, c.c1, c.c2, t.n1, t.n2,
        |    c.c1 * t.n2 - c.c2 * t.n1 AS t
        |  FROM cells c JOIN tt t ON t.event_type = c.event_type),
        |chi AS (SELECT event_type,
        |    CAST(sum(CAST(floor(CAST(1000 AS DOUBLE) * ((CAST(t AS DOUBLE) *
        |      CAST(t AS DOUBLE)) / CAST(c1 + c2 AS DOUBLE) /
        |      CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)) +
        |      CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS chi2_raw,
        |    max(n2) AS n2
        |  FROM j GROUP BY event_type),
        |gauges AS (SELECT
        |    CAST(coalesce(sum(CASE WHEN half = 1 AND event_type IS NOT NULL
        |      AND event_type NOT IN (SELECT event_type FROM refk)
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS novel_rows,
        |    CAST(coalesce(sum(CASE WHEN half = 1 AND event_type IS NULL
        |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_key_rows
        |  FROM h)
        |SELECT event_type,
        |  CASE WHEN n2 = 0 THEN -1 ELSE chi2_raw END AS chi2_milli,
        |  novel_rows, null_key_rows
        |FROM chi CROSS JOIN gauges
        |ORDER BY event_type""".stripMargin,

    // q261: the same epoch-aligned tumbling windows and the exact
    // decimal sum (scaled to an integer so no engine renders a
    // decimal), filtered to the windows the final watermark
    // (max ts − slack) has sealed — append mode's emission rule,
    // derived relationally with no knowledge of batches.
    "q261_streamed_window_counts_parity" ->
      s"""WITH b AS (SELECT max(epoch_ms(ts)) AS t1 FROM events),
         |w AS (SELECT epoch_ms(ts) // $WindowMs AS wk, event_type,
         |    CAST(value AS DECIMAL(18,4)) AS v
         |  FROM events),
         |agg AS (SELECT wk, event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) * 10000 AS BIGINT) AS total_e4
         |  FROM w GROUP BY 1, 2)
         |SELECT epoch_ms(wk * $WindowMs) AS window_start, event_type, n,
         |  total_e4
         |FROM agg CROSS JOIN b
         |WHERE (wk + 1) * $WindowMs <= b.t1 - $WindowSlackMs
         |ORDER BY window_start, event_type""".stripMargin,

    // q262: classic island detection (lag + cumulative break sum) with
    // the operator's emission rule: non-final islands emit (their
    // successor event closed them eagerly), a user's final island
    // emits iff the final watermark passed session_end + gap.
    "q262_streamed_sessionize_parity" ->
      s"""WITH b AS (SELECT max(epoch_ms(ts)) AS t1 FROM events),
         |o AS (SELECT user_id, ts,
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
         |  FROM events),
         |m AS (SELECT user_id, ts, CASE WHEN prev IS NULL OR
         |    epoch_us(ts) - epoch_us(prev) > ${StreamGapMs}000
         |    THEN 1 ELSE 0 END AS brk FROM o),
         |g AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m),
         |isl AS (SELECT user_id, sid, min(ts) AS session_start,
         |    max(ts) AS session_end, CAST(count(*) AS BIGINT) AS n_events,
         |    max(sid) OVER (PARTITION BY user_id) AS last_sid
         |  FROM g GROUP BY user_id, sid)
         |SELECT user_id, session_start, session_end, n_events
         |FROM isl CROSS JOIN b
         |WHERE sid < last_sid
         |  OR epoch_ms(session_end) + $StreamGapMs < b.t1 - $StreamGapSlackMs
         |ORDER BY user_id, session_start""".stripMargin,

    // q263: the plain inequality join — the streamed inner join must
    // equal it exactly (no emission filter: eviction correctness means
    // no match can be lost, and inner-join matches emit as the later
    // side arrives).
    "q263_streamed_interval_join_parity" ->
      s"""WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
         |SELECT c.user_id, c.ts AS l_ts, p.ts AS r_ts
         |FROM c JOIN p ON p.user_id = c.user_id
         |  AND p.ts >= c.ts
         |  AND epoch_us(p.ts) <= epoch_us(c.ts) + ${JoinHorizonMs}000
         |ORDER BY c.user_id, l_ts, r_ts""".stripMargin,

    // q264: under the global-window horizon every (user, type, day)
    // key emits exactly once across both drops and the restart — the
    // oracle is the distinct-key set with the emission count pinned
    // at 1 (any state loss re-emits and breaks the count, any sink
    // replay breaks it upward, any lost emission drops the row).
    "q264_streamed_dedup_parity" ->
      """SELECT user_id, event_type, date_trunc('day', ts) AS day,
        |  CAST(1 AS BIGINT) AS n_emitted
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY user_id, event_type, day""".stripMargin,

    // q184: the same pair/item/basket arithmetic; the per-antecedent
    // cap as a row_number window with the same tie order.
    "q184_association_rules" ->
      s"""WITH os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
         |  FROM lineitem),
         |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM os),
         |item AS (SELECT sk, CAST(count(*) AS BIGINT) AS n_item
         |  FROM os GROUP BY 1),
         |pair AS (SELECT a.sk AS sa, b.sk AS sb,
         |    CAST(count(*) AS BIGINT) AS n_pair
         |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk GROUP BY 1, 2
         |  HAVING count(*) >= $MinSup),
         |rules AS (
         |  SELECT sa AS antecedent, sb AS consequent, n_pair FROM pair
         |  UNION ALL SELECT sb, sa, n_pair FROM pair),
         |scored AS (SELECT r.antecedent, r.consequent,
         |  ia.n_item AS n_a, ic.n_item AS n_c, r.n_pair,
         |  (CAST(1000000 AS BIGINT) * r.n_pair) // ia.n_item
         |    AS confidence_ppm,
         |  (CAST(1000000 AS BIGINT) * r.n_pair * nb.n)
         |    // (ia.n_item * ic.n_item) AS lift_ppm
         |  FROM rules r
         |  JOIN item ia ON ia.sk = r.antecedent
         |  JOIN item ic ON ic.sk = r.consequent
         |  CROSS JOIN nb),
         |ranked AS (SELECT *, CAST(row_number() OVER (
         |    PARTITION BY antecedent
         |    ORDER BY lift_ppm DESC, consequent) AS BIGINT) AS rank
         |  FROM scored)
         |SELECT antecedent, consequent, n_a, n_c, n_pair, confidence_ppm,
         |  lift_ppm, rank
         |FROM ranked WHERE rank <= $RulesPerAnt
         |ORDER BY antecedent, rank""".stripMargin,

    // q185: the same dense grid and the same cross-multiplied z-test.
    "q185_burst_detection" ->
      s"""WITH b AS (SELECT min(epoch_ms(ts)) // 3600000 AS h0,
         |  max(epoch_ms(ts)) // 3600000 AS h1 FROM events),
         |obs AS (SELECT event_type, epoch_ms(ts) // 3600000 AS h,
         |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, g.h, coalesce(obs.x, 0) AS x
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN (SELECT unnest(range(b.h0, b.h1 + 1)) AS h FROM b) g
         |  LEFT JOIN obs ON obs.event_type = t.event_type AND obs.h = g.h),
         |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(x) AS BIGINT) AS s, CAST(sum(x * x) AS BIGINT) AS q
         |  FROM grid GROUP BY 1)
         |SELECT g.event_type, g.h AS hour_bucket, g.x AS cnt, st.n, st.s
         |FROM grid g JOIN st USING (event_type)
         |WHERE g.x * st.n > st.s
         |  AND $BurstDen * (g.x * st.n - st.s) * (g.x * st.n - st.s) >
         |    $BurstNum * (st.n * st.q - st.s * st.s)
         |ORDER BY g.event_type, g.h""".stripMargin,

    // q186: same cents rounding, same capped base-2 decay.
    "q186_decayed_reputation" ->
      s"""WITH mx AS (SELECT max(epoch_ms(ts)) AS tmax FROM events),
         |e AS (SELECT user_id, CAST(round(value * 100, 0) AS BIGINT)
         |    AS cents,
         |  least((mx.tmax - epoch_ms(ts)) // 86400000, $DecayCapDays)
         |    AS age
         |  FROM events CROSS JOIN mx)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(cents) AS BIGINT) AS total_cents,
         |  CAST(sum(cents // (CAST(1 AS BIGINT) << CAST(age AS INT)))
         |    AS BIGINT) AS decayed_cents
         |FROM e GROUP BY 1 ORDER BY user_id""".stripMargin,

    // q187: the same histogram-cumsum percentile definition.
    "q187_latency_percentiles" ->
      s"""WITH l AS (SELECT
         |  CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS BIGINT)
         |    AS mon,
         |  CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
         |    CAST(li.l_shipdate AS DATE)) AS BIGINT) AS lat
         |  FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey),
         |h AS (SELECT mon, lat, CAST(count(*) AS BIGINT) AS c
         |  FROM l GROUP BY 1, 2),
         |cum AS (SELECT mon, lat,
         |  sum(c) OVER (PARTITION BY mon ORDER BY lat) AS cc,
         |  sum(c) OVER (PARTITION BY mon) AS ntot FROM h)
         |SELECT mon, CAST(max(ntot) AS BIGINT) AS n,
         |  CAST(min(CASE WHEN 100 * cc >= 50 * ntot THEN lat END)
         |    AS BIGINT) AS p50,
         |  CAST(min(CASE WHEN 100 * cc >= 90 * ntot THEN lat END)
         |    AS BIGINT) AS p90,
         |  CAST(min(CASE WHEN 100 * cc >= 99 * ntot THEN lat END)
         |    AS BIGINT) AS p99
         |FROM cum GROUP BY mon ORDER BY mon""".stripMargin,

    // q188: DuckDB's native ASOF LEFT JOIN with the same post-window.
    "q188_attribution" ->
      s"""WITH clicks AS (SELECT user_id, ts, max(event_id) AS click_id
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |p AS (SELECT event_id, user_id, ts,
         |  CAST(round(value * 100, 0) AS BIGINT) AS value_cents
         |  FROM events WHERE event_type = 'purchase')
         |SELECT p.event_id, p.user_id, p.value_cents,
         |  CASE WHEN c.ts IS NOT NULL
         |      AND epoch_ms(p.ts) - epoch_ms(c.ts) <= $AttribWindowMs
         |    THEN c.click_id ELSE -1 END AS click_id,
         |  CASE WHEN c.ts IS NOT NULL
         |      AND epoch_ms(p.ts) - epoch_ms(c.ts) <= $AttribWindowMs
         |    THEN epoch_ms(p.ts) - epoch_ms(c.ts) ELSE -1 END AS gap_ms
         |FROM p ASOF LEFT JOIN clicks c
         |  ON c.user_id = p.user_id AND c.ts <= p.ts
         |ORDER BY p.event_id""".stripMargin,

    // q189: same decimal→cents arithmetic, same rank/cumsum class cuts.
    "q189_abc_pareto" ->
      s"""WITH r AS (SELECT l_partkey AS partkey,
         |  CAST(sum(CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) *
         |    CAST(1.0 - l_discount AS DECIMAL(3,2)), 2) * 100 AS BIGINT))
         |    AS BIGINT) AS revenue_cents
         |  FROM lineitem GROUP BY 1),
         |tot AS (SELECT sum(revenue_cents) AS t FROM r),
         |rk AS (SELECT partkey, revenue_cents,
         |  CAST(row_number() OVER w AS BIGINT) AS rank,
         |  CAST(sum(revenue_cents) OVER w AS BIGINT) - revenue_cents
         |    AS cum_before
         |  FROM r WINDOW w AS (ORDER BY revenue_cents DESC, partkey))
         |SELECT rk.partkey, rk.revenue_cents, rk.rank,
         |  CASE WHEN 100 * rk.cum_before < $AbcA * tot.t THEN 'A'
         |       WHEN 100 * rk.cum_before < $AbcB * tot.t THEN 'B'
         |       ELSE 'C' END AS abc
         |FROM rk CROSS JOIN tot ORDER BY rk.rank""".stripMargin,

    // q190: same dense day grid and n-scaled CUSUM; argmax via the
    // per-type max window.
    "q190_cusum_changepoint" ->
      s"""WITH b AS (SELECT min(epoch_ms(ts)) // 86400000 AS d0,
         |  max(epoch_ms(ts)) // 86400000 AS d1 FROM events),
         |obs AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d,
         |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2),
         |grid AS (SELECT t.event_type, g.d, coalesce(obs.x, 0) AS x
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN (SELECT unnest(range(b.d0, b.d1 + 1)) AS d FROM b) g
         |  LEFT JOIN obs ON obs.event_type = t.event_type AND obs.d = g.d),
         |st AS (SELECT event_type, d,
         |  CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         |  CAST(sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
         |  CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d)
         |    AS BIGINT) AS cx,
         |  CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
         |    AS BIGINT) AS k
         |  FROM grid),
         |cs AS (SELECT event_type, d, n, cx * n - k * s AS cusum,
         |  max(abs(cx * n - k * s)) OVER (PARTITION BY event_type) AS m
         |  FROM st)
         |SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
         |  CAST(max(abs(cusum)) AS BIGINT) AS max_abs_cusum,
         |  CAST(min(CASE WHEN abs(cusum) = m THEN d END) AS BIGINT)
         |    AS argmax_day
         |FROM cs GROUP BY event_type ORDER BY event_type""".stripMargin,

    // q191: same per-column rollups and the same two-step long
    // division (labels embedded from the same Scala constant).
    "q191_gini_profile" -> (GiniCols.map { case (label, table, colExpr) =>
      s"""SELECT '$label' AS col_name, CAST(sum(c) AS BIGINT) AS n_rows,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST((CAST(1000000 AS BIGINT) * max(c)) // sum(c) AS BIGINT)
         |    AS top_share_ppm,
         |  CAST(1000000 - (((sum(c * c) * 1000) // (sum(c) * sum(c))) * 1000
         |    + (((sum(c * c) * 1000) % (sum(c) * sum(c))) * 1000)
         |      // (sum(c) * sum(c))) AS BIGINT) AS gini_ppm
         |FROM (SELECT CAST($colExpr AS VARCHAR) AS v,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM $table GROUP BY 1)""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),

    // q192: the q185 z-test per (type, hour-of-day) over the dense
    // day × hour grid.
    "q192_seasonal_baseline" ->
      s"""WITH b AS (SELECT min(epoch_ms(ts)) // 86400000 AS d0,
         |  max(epoch_ms(ts)) // 86400000 AS d1 FROM events),
         |obs AS (SELECT event_type, epoch_ms(ts) // 86400000 AS d,
         |  (epoch_ms(ts) % 86400000) // 3600000 AS hod,
         |  CAST(count(*) AS BIGINT) AS x FROM events GROUP BY 1, 2, 3),
         |grid AS (SELECT t.event_type, g.d, h.hod, coalesce(obs.x, 0) AS x
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN (SELECT unnest(range(b.d0, b.d1 + 1)) AS d FROM b) g
         |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hod) h
         |  LEFT JOIN obs ON obs.event_type = t.event_type
         |    AND obs.d = g.d AND obs.hod = h.hod),
         |st AS (SELECT event_type, d, hod, x,
         |  CAST(count(*) OVER w AS BIGINT) AS n,
         |  CAST(sum(x) OVER w AS BIGINT) AS s,
         |  CAST(sum(x * x) OVER w AS BIGINT) AS q
         |  FROM grid WINDOW w AS (PARTITION BY event_type, hod))
         |SELECT event_type, d AS day_bucket, hod, x AS cnt, n, s
         |FROM st
         |WHERE x * n > s
         |  AND $BurstDen * (x * n - s) * (x * n - s) >
         |    $BurstNum * (n * q - s * s)
         |ORDER BY event_type, d, hod""".stripMargin,

    // q209: same lead() transitions, same histogram percentiles.
    "q209_transition_dwell" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type,
         |  epoch_ms(ts) AS t FROM events),
         |seq AS (SELECT *, lead(event_type) OVER w AS next_type,
         |  lead(t) OVER w AS next_t
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         |tr AS (SELECT event_type AS from_type, next_type AS to_type,
         |  (next_t - t) // 60000 AS gap_min FROM seq
         |  WHERE next_type IS NOT NULL),
         |h AS (SELECT from_type, to_type, gap_min,
         |  CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2, 3),
         |cum AS (SELECT from_type, to_type, gap_min,
         |  sum(c) OVER (PARTITION BY from_type, to_type ORDER BY gap_min)
         |    AS cc,
         |  sum(c) OVER (PARTITION BY from_type, to_type) AS nt FROM h)
         |SELECT from_type, to_type, CAST(max(nt) AS BIGINT) AS n,
         |  CAST(min(CASE WHEN 2 * cc >= nt THEN gap_min END) AS BIGINT)
         |    AS med_gap_min,
         |  CAST(min(CASE WHEN 10 * cc >= 9 * nt THEN gap_min END)
         |    AS BIGINT) AS p90_gap_min
         |FROM cum GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin,

    // q205: same first-event rollups and histogram percentiles; the
    // unconverted render as -1/-null-filled on both sides.
    "q205_funnel_latency" ->
      s"""WITH su AS (SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
         |  WHERE event_type = 'signup' GROUP BY 1),
         |pu AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS t1 FROM events e
         |  JOIN su ON su.user_id = e.user_id
         |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= su.t0
         |  GROUP BY 1),
         |g AS (SELECT su.t0 // 86400000 AS cohort_day,
         |  CASE WHEN pu.t1 IS NULL THEN -1
         |    ELSE (pu.t1 - su.t0) // 3600000 END AS gap_h
         |  FROM su LEFT JOIN pu ON pu.user_id = su.user_id),
         |h AS (SELECT cohort_day, gap_h, CAST(count(*) AS BIGINT) AS c
         |  FROM g WHERE gap_h >= 0 GROUP BY 1, 2),
         |cum AS (SELECT cohort_day, gap_h,
         |  sum(c) OVER (PARTITION BY cohort_day ORDER BY gap_h) AS cc,
         |  sum(c) OVER (PARTITION BY cohort_day) AS nt FROM h),
         |st AS (SELECT cohort_day, CAST(max(nt) AS BIGINT) AS n_converted,
         |  CAST(min(CASE WHEN 2 * cc >= nt THEN gap_h END) AS BIGINT)
         |    AS p50_gap_h,
         |  CAST(min(CASE WHEN 10 * cc >= 9 * nt THEN gap_h END) AS BIGINT)
         |    AS p90_gap_h
         |  FROM cum GROUP BY 1),
         |ns AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS n_signups
         |  FROM g GROUP BY 1)
         |SELECT ns.cohort_day, ns.n_signups,
         |  coalesce(st.n_converted, 0) AS n_converted,
         |  coalesce(st.p50_gap_h, -1) AS p50_gap_h,
         |  coalesce(st.p90_gap_h, -1) AS p90_gap_h
         |FROM ns LEFT JOIN st USING (cohort_day)
         |ORDER BY ns.cohort_day""".stripMargin,

    // q193: same gap sessionization (lag + running sum), same ordered
    // path rendering.
    "q193_session_paths" ->
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS t
         |  FROM events),
         |g AS (SELECT *, CASE WHEN lag(t) OVER w IS NULL
         |    OR t - lag(t) OVER w > $SessionGapMs THEN 1 ELSE 0 END AS brk
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         |s AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
         |    ORDER BY t, event_id) AS BIGINT) AS sess FROM g),
         |p AS (SELECT user_id, sess,
         |  array_to_string(list_slice(
         |    list(event_type ORDER BY t, event_id), 1, $PathLen), '>')
         |    AS path,
         |  CAST(count(*) AS BIGINT) AS n_events FROM s GROUP BY 1, 2)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(n_events) AS BIGINT) AS total_events
         |FROM p GROUP BY 1 ORDER BY path""".stripMargin)
}
