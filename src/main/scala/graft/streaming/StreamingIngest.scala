package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.operators.{Incremental, Merge, Transform}

/** Structured-Streaming restatement of the reference's hidden streaming
  * model (SURVEY.md §1.4 / §2.6): the Airflow DAG is a daily
  * one-batch-at-a-time incremental ingest with a self-managed watermark
  * (sink MAX(created_datetime), reference `dags/dag.py:144-170`), bounded
  * out-of-order tolerance (`extra_check=6`, `dags/dag.py:186,253-268`),
  * and an idempotent keyed upsert sink (`dags/dag.py:389-403`).
  *
  * Two equivalent shapes are provided:
  *  - `incrementalBatch`: the reference's actual semantics — a driver-
  *    scheduled batch loop with a stored high-water mark. This is the
  *    100 TB-friendly default (each run reads only the new range; a
  *    date-partitioned sink prunes the HWM read to ~31 partitions).
  *  - `readStream`-based helpers: watermarked windowed aggregation,
  *    streaming dedup, stateful sessionization, and a foreachBatch
  *    upsert sink whose per-batch work is exactly `Merge.upsert` —
  *    at-least-once delivery + idempotent merge ⇒ effectively-once (ST4).
  */
object StreamingIngest {

  /** One reference "DAG run": resume from the sink's high-water mark,
    * range-filter the source, run the full transform, upsert. `now` is a
    * pinned batch boundary for reproducibility (SURVEY.md §7.5.4). */
  def incrementalBatch(source: DataFrame, sink: DataFrame, now: Column,
                       tsCol: String = "created_datetime",
                       orderCol: String = "post_id"): DataFrame = {
    val hwm = Incremental.highWaterMark(sink, tsCol, now).head().getTimestamp(0)
    val fresh = Incremental.rangeFilter(source, tsCol, lit(hwm), now)
    Merge.upsert(sink, Transform(fresh, orderCol)
      .select(sink.columns.map(col).toSeq: _*), Seq("post_id"))
  }

  /** Watermarked tumbling-window counts per event type (ST2/ST3: the
    * watermark slack generalizes the reference's 6-record lookahead). */
  def windowedEventCounts(events: DataFrame, tsCol: String = "ts",
                          windowLen: String = "10 minutes",
                          slack: String = "5 minutes"): DataFrame =
    events.withWatermark(tsCol, slack)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total"))

  /** Streaming keyed dedup (D2): drop repeats of a key within the
    * watermark horizon — state is bounded by the watermark, which is
    * what makes it safe on an unbounded stream. */
  def dedupStream(df: DataFrame, tsCol: String, keys: Seq[String],
                  slack: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, slack)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  case class Event(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  /** Session bounds are held as epoch MICROSECONDS — `Timestamp.getTime`
    * is millis and would silently truncate the micro-precision event
    * times Spark's TimestampType carries (caught by the q262 hash gate). */
  case class SessionState(start: Long, end: Long, n: Int)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n_events: Int)

  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Stateful sessionization with an EVENT-time gap timeout — the
    * `flatMapGroupsWithState` path for custom state the built-in windows
    * can't express. Event-time (not processing-time) timeouts keep the
    * stream batch-driven and deterministic: quiescent sessions close when
    * the watermark passes session_end + gap, and a session also closes
    * eagerly when a later event for the same key exceeds the gap. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
                 slack: String = "10 seconds"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", slack)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, microsTs(s.start), microsTs(s.end), s.n))
          } else {
            val sorted = rows.toSeq.sortBy(tsMicros _ compose (_.ts))
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapMs * 1000L =>
                  cur = Some(s.copy(end = math.max(s.end, t), n = s.n + 1))
                case Some(s) =>
                  closed += Session(user, microsTs(s.start), microsTs(s.end), s.n)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes the session's gap horizon
              // (timeout API is millis; floor matches the watermark's own
              // micros→millis floor, so the oracle's ms arithmetic agrees)
              state.setTimeoutTimestamp(Math.floorDiv(s.end, 1000L) + gapMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Stream-stream INTERVAL join: match each right-stream event to
    * left-stream events of the same key within `[left.ts, left.ts +
    * horizon]`. Both sides carry watermarks, so Spark bounds the join
    * state on BOTH streams (left rows expire once the right watermark
    * passes their horizon and vice versa) — the state-safety contract
    * that makes a stream-stream join runnable forever. Equi-key plus a
    * time-range predicate is the attribution-window shape (impression →
    * conversion within N minutes). */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   horizon: String = "10 minutes",
                   slack: String = "5 minutes"): DataFrame = {
    val l = left.withWatermark("ts", slack)
      .select(col(key).as("l_key"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", slack)
      .select(col(key).as("r_key"), col("ts").as("r_ts"))
    l.join(r, col("l_key") === col("r_key") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"))
      .select(col("l_key").as(key), col("l_ts"), col("r_ts"))
  }

  /** Read a [[VersionedStore]]-managed sink (the full-store foreachBatch
    * sinks below) — resolves the live version through the pointer;
    * empty DataFrame semantics are the caller's (None before the first
    * commit). */
  def readStore(spark: SparkSession, targetPath: String): Option[DataFrame] =
    VersionedStore.read(spark, targetPath)

  /** One micro-batch of the upsert sink, factored out so replay safety
    * is directly testable. No committed-batch skip here — the merge is
    * IDEMPOTENT (upsert by key), so a replay converges by re-merging,
    * and skipping by batchId would wrongly drop batch 0 of a fresh
    * checkpoint lineage over an existing store. The [[VersionedStore]]
    * pointer flip closes the store-missing swap window. The merge is
    * written straight into the new version directory: the live version
    * it reads is a different directory, untouched until the flip, so
    * nothing is materialized first. */
  private[graft] def upsertOneBatch(batch: DataFrame, batchId: Long,
                                        targetPath: String,
                                        keys: Seq[String]): Unit = {
    val spark = batch.sparkSession
    val deduped = Transform.dedupFirst(batch, keys, keys)
    val merged = VersionedStore.read(spark, targetPath) match {
      case Some(target) =>
        Merge.upsert(target.select(batch.columns.map(col).toSeq: _*), deduped, keys)
      case None => deduped
    }
    VersionedStore.commit(targetPath, batchId) { dir =>
      merged.write.mode("overwrite").parquet(dir)
    }
  }

  /** foreachBatch upsert into a versioned parquet target: each
    * micro-batch is one `Merge.upsert`; idempotent merge + the
    * [[VersionedStore]] atomic pointer flip + committed-batch skip ⇒
    * effectively-once under at-least-once replays, with no
    * store-missing window during the swap. `stream` is a stateless
    * input (Append mode: each row reaches one batch). Read back via
    * [[readStore]]. */
  def upsertEachBatch(stream: DataFrame, targetPath: String, keys: Seq[String],
                      checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint)(upsertOneBatch(_, _, targetPath, keys))

  /** Streaming twin of q157's shared-prefix reuse audit
    * ([[graft.queries.CorpusQueries.prefixKeys]] — the same
    * projection, so stream and batch cannot drift): each micro-batch's
    * (prefix hash → count, min prefix length, min doc id) rollup
    * merges into the parquet prefix store by RE-AGGREGATION — counts
    * sum, mins fold, both associative and commutative, so arrival
    * order cannot change the final store. After any batch sequence the
    * store equals the batch rollup over the union of all inputs
    * (StreamingSpec pins store == the q157 machinery over the full
    * corpus). Unlike the Bloom-admission twins, the merge itself is
    * NOT idempotent (a replayed batch would double-count), so
    * effectively-once is enforced structurally: the store is a
    * [[VersionedStore]] (atomic pointer flip — no store-missing
    * window) and a replayed batchId that is already committed SKIPS
    * the merge (StreamingSpec pins both). `stream` is a stateless
    * input (Append mode: each row reaches one batch). Read back via
    * [[readStore]]. */
  def trackSharedPrefixes(stream: DataFrame, targetPath: String,
                          checkpoint: String): StreamingQuery =
    eachBatch(stream, checkpoint)(mergePrefixBatch(_, _, targetPath))

  /** One micro-batch of the prefix store merge (factored for replay
    * tests): counts SUM on merge — double-applying a batch corrupts
    * the store, so an already-committed batchId must skip. The merge
    * streams straight into the commit's write: the commit writes a new
    * version directory and never overwrites the one the merge reads,
    * so nothing is materialized first. */
  private[graft] def mergePrefixBatch(batch: DataFrame, batchId: Long,
                                          targetPath: String): Unit = {
    if (VersionedStore.committed(targetPath, batchId)) return
    val spark = batch.sparkSession
    val b = graft.queries.CorpusQueries.prefixKeys(batch)
      .groupBy("h").agg(count(lit(1)).as("n_docs"),
        min("plen").as("prefix_len"), min("doc_id").as("rep_doc_id"))
    val merged = VersionedStore.read(spark, targetPath)
      .map(_.unionByName(b)).getOrElse(b)
      .groupBy("h").agg(sum("n_docs").as("n_docs"),
        min("prefix_len").as("prefix_len"),
        min("rep_doc_id").as("rep_doc_id"))
    VersionedStore.commit(targetPath, batchId) { dir =>
      merged.write.mode("overwrite").parquet(dir)
    }
  }

  /** Streaming Bloom admission — q91's broadcast-index incremental
    * dedup as a foreachBatch sink, with the index MAINTAINED across
    * triggers: the Bloom filter of history text-hashes is built once
    * at stream start (one constant-size aggregate — the only full
    * history scan), each micro-batch is gated locally by the codegen'd
    * `graft_bloom_contains` against the filter shipped as a BINARY
    * LITERAL (no join at all for the gate), and after every trigger
    * the admitted rows' own Bloom is OR-folded into the driver-held
    * index — so a later batch's duplicate of an EARLIER batch's
    * admission is caught without ever re-scanning the store. Per
    * trigger: bloom-negative rows are admitted outright (no false
    * negatives by construction), and only the bloom-positive sliver is
    * exact-verified against the hash store (history ∪ admitted so
    * far) — the scan a production deployment serves from a keyed
    * store, reached here by ~FPR·|batch| rows per trigger.
    * Intra-batch duplicates collapse by hash (keep-first on the
    * batch's arrival order — the reference's D1 keeper semantics).
    * Effectively-once: re-running a batch re-admits nothing (every
    * hash is already in the index), matching the upsert sinks. */
  def admitNovelTexts(stream: DataFrame, history: DataFrame,
                      targetPath: String, checkpoint: String): StreamingQuery = {
    import graft.functions.Bloom
    // restart-safe init: the index covers history ∪ already-admitted
    // rows, so a re-started query cannot re-admit a prior admission
    // that the history-only filter would miss
    def storeHashes(spark: SparkSession): DataFrame = {
      val hist = history.select(md5(col("text")).as("h"))
      if (new java.io.File(targetPath).exists())
        hist.unionByName(spark.read.parquet(targetPath)
          .select(md5(col("text")).as("h")))
      else hist
    }
    var bloom: Array[Byte] = storeHashes(history.sparkSession)
      .agg(call_function("graft_bloom", col("h"))).head.getAs[Array[Byte]](0)
    eachBatch(stream, checkpoint) { (batch, _) =>
      val spark = batch.sparkSession
      val flagged = Transform.dedupFirst(
          batch.withColumn("h", md5(col("text"))), Seq("h"), Seq("doc_id"))
        .withColumn("bloom_positive",
          call_function("graft_bloom_contains", lit(bloom), col("h")))
      val neg = flagged.where(!col("bloom_positive"))
      val pos = flagged.where(col("bloom_positive"))
        .join(storeHashes(spark).distinct(), Seq("h"), "left_anti")
      val admitted = neg.unionByName(pos).persist()
      admitted.drop("h", "bloom_positive")
        .write.mode("append").parquet(targetPath)
      val delta = admitted
        .agg(call_function("graft_bloom", col("h"))).head.getAs[Array[Byte]](0)
      admitted.unpersist()
      bloom = Bloom.or(bloom, delta)
    }
  }

  /** Streaming twin of q130's segment-level dedup
    * ([[graft.queries.CorpusQueries.segmentize]] /
    * `reconstructDocs` — the SAME segmentation and rebuild code, so
    * stream and batch cannot drift): each micro-batch's documents are
    * scrubbed of every 8-token segment already seen — in `history`, in
    * prior batches, or earlier (by (doc_id, k)) in the same batch —
    * and appended to `targetPath` REBUILT from their surviving
    * segments. The admission index is the admitNovelTexts two-tier
    * shape at segment granularity: a constant-size driver-held Bloom
    * filter answers the common no case per segment with zero state
    * shuffle, positives are exact-checked by one anti-join against the
    * accumulated segment store (`targetPath + "_segs"`), so the scrub
    * is EXACT (no Bloom false-positive ever drops a novel segment).
    * Restart-safe: the index re-initializes from history ∪ the store.
    *
    * Ordering contract: cross-batch precedence is ARRIVAL order (a
    * segment's first-arriving occurrence survives — the only causal
    * order a stream has); within a batch it is (doc_id, k), the batch
    * operator's order. Feeding batches in ascending doc_id order makes
    * the stream's output bit-identical to batch q130 over the same
    * corpus — StreamingSpec pins exactly that parity.
    *
    * Replay safety (round-8 advisor): both outputs are PARTITIONED BY
    * batchId (`batch=<id>` dirs) and each batch OVERWRITES its own
    * partition, so an at-least-once replay rewrites instead of
    * appending duplicates; a `_COMMITTED` marker written after both
    * partitions makes a completed-but-unacknowledged batch skip
    * outright; and the exact-check index EXCLUDES the replaying
    * batch's own partition, so a crashed attempt's half-written
    * segment hashes can never scrub the replay's own novel segments.
    * Readers get an extra `batch` partition column — drop it (or treat
    * it as lineage). */
  def scrubSeenSegments(stream: DataFrame, history: DataFrame,
                        targetPath: String, checkpoint: String): StreamingQuery = {
    val bloomRef = new java.util.concurrent.atomic.AtomicReference(
      initSegmentBloom(history, targetPath))
    eachBatch(stream, checkpoint)(scrubOneBatch(_, _, history, targetPath, bloomRef))
  }

  private[graft] def segStorePath(targetPath: String): String =
    targetPath + "_segs"

  /** History ∪ accumulated store segment hashes, with `excludeBatch`'s
    * own partition filtered out (pass -1 to include everything). */
  private def seenSegHashes(spark: SparkSession, history: DataFrame,
                            targetPath: String, excludeBatch: Long): DataFrame = {
    val segStore = segStorePath(targetPath)
    val hist = graft.queries.CorpusQueries.segmentize(history).select("h")
    // require at least one batch=<id> partition, not just the root dir
    // (a first-batch crash can leave the root with no readable data)
    val parts = Option(new java.io.File(segStore).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith("batch="))
    if (parts.nonEmpty)
      hist.unionByName(spark.read.parquet(segStore)
        .where(col("batch") =!= excludeBatch).select("h"))
    else hist
  }

  /** Restart-safe Bloom init over history ∪ the committed store. A
    * crashed batch's partial partition may be included — harmless: the
    * Bloom is a one-sided prefilter and positives are exact-checked
    * against [[seenSegHashes]] with the replaying batch excluded. */
  private[graft] def initSegmentBloom(history: DataFrame,
                                          targetPath: String): Array[Byte] =
    seenSegHashes(history.sparkSession, history, targetPath, excludeBatch = -1L)
      .agg(call_function("graft_bloom", col("h"))).head.getAs[Array[Byte]](0)

  /** One micro-batch of the segment scrub (factored for replay tests). */
  private[graft] def scrubOneBatch(batch: DataFrame, batchId: Long,
      history: DataFrame, targetPath: String,
      bloomRef: java.util.concurrent.atomic.AtomicReference[Array[Byte]]): Unit = {
    import graft.functions.Bloom
    import graft.queries.CorpusQueries
    val spark = batch.sparkSession
    val part = s"batch=$batchId"
    val marker = new java.io.File(s"$targetPath/$part/_COMMITTED")
    if (marker.exists()) return // completed batch replayed: both writes landed
    val sp = CorpusQueries.segmentize(batch).persist()
    val firstInBatch = graft.operators.TopK.perKey(sp, keys = Seq("h"),
        order = Seq("doc_id" -> true, "k" -> true), k = 1)
      .select("doc_id", "k", "seg", "h")
    val flagged = firstInBatch.withColumn("bloom_positive",
      call_function("graft_bloom_contains", lit(bloomRef.get), col("h")))
    val neg = flagged.where(!col("bloom_positive"))
    val pos = flagged.where(col("bloom_positive"))
      .join(seenSegHashes(spark, history, targetPath, excludeBatch = batchId)
        .distinct(), Seq("h"), "left_anti")
    val kept = neg.unionByName(pos)
      .select("doc_id", "k", "seg", "h").persist()
    CorpusQueries.reconstructDocs(sp, kept)
      .write.mode("overwrite").parquet(s"$targetPath/$part")
    kept.select("h").distinct()
      .write.mode("overwrite").parquet(s"${segStorePath(targetPath)}/$part")
    val delta = kept
      .agg(call_function("graft_bloom", col("h"))).head.getAs[Array[Byte]](0)
    kept.unpersist(); sp.unpersist()
    bloomRef.set(Bloom.or(bloomRef.get, delta))
    // marker LAST: present ⇔ both partition writes completed
    java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
  }

  /** Streaming k-means inference — classify `(vec_id, embedding)`
    * rows against a FITTED centroid table
    * ([[graft.operators.KMeans.fitCentroids]], the train-on-history /
    * classify-the-stream deployment shape): a STATELESS per-row
    * projection through the codegen'd `graft_nearest` kernel with the
    * model embedded as a literal — no state store, no join, no
    * shuffle, so per-trigger cost is exactly the batch scan at any
    * corpus scale, and the exact-integer contract makes streamed
    * assignments bit-identical to a batch re-run. */
  def classifyVectors(stream: DataFrame,
                      cents: Array[Array[Long]]): DataFrame =
    graft.operators.KMeans.transform(stream, "vec_id", "embedding", cents)

  /** [[classifyVectors]] → Spark's transactional parquet FILE SINK:
    * assignments append under `targetPath` with the sink's
    * `_spark_metadata` commit log, so a replayed micro-batch's
    * rewritten files are invisible to readers (the manifest names only
    * committed files) — effectively-once without any keyed merge,
    * which is the right sink for an APPEND-shaped, stateless
    * projection (contrast the upsert sinks, which must reconcile by
    * key). Read back with `spark.read.parquet(targetPath)` — the
    * DataSource honors the manifest. */
  def classifyToParquet(stream: DataFrame, cents: Array[Array[Long]],
                        targetPath: String, checkpoint: String): StreamingQuery =
    classifyVectors(stream, cents).writeStream
      .format("parquet")
      .option("path", targetPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Streaming heavy hitters — q94's Count-Min sketch maintained
    * ACROSS micro-batches (the sketch analog of the Bloom admission
    * sink above): per trigger, the batch's token CMS is built
    * distributed (ObjectHashAggregate — only the constant d×w grid
    * moves per map partition, the token stream never shuffles for the
    * sketch), element-wise-summed into a driver-held global grid, and
    * a bounded candidate pool (the CMS+heap pattern) is re-estimated
    * against the updated grid. Per-trigger driver work is
    * O(d·w + pool), independent of batch size — the 100 TB shape.
    *
    * Candidate-pool semantics: only the batch's top `pool` tokens by
    * batch count can update the heap this trigger; an evicted or
    * missed token re-enters with its FULL global estimate the next
    * time it is frequent within a batch (the grid never forgets), so a
    * sustained heavy hitter cannot stay hidden — the standard
    * sketch-plus-heap guarantee, with the estimate's one-sided
    * `est >= exact` bound inherited from the CMS. */
  final class HeavyHitterTracker(k: Int,
      d: Int = graft.functions.Cms.DefaultDepth,
      w: Int = graft.functions.Cms.DefaultWidth,
      val pool: Int = 256) {
    import org.apache.spark.unsafe.types.UTF8String
    private val grid = new Array[Long](d * w)
    private val heap = scala.collection.mutable.Map.empty[String, Long]

    private def estimate(t: String): Long = {
      val s = UTF8String.fromString(t)
      var m = Long.MaxValue
      var j = 0
      while (j < d) {
        m = math.min(m, grid(j * w + graft.functions.Bloom.position(j, s, w)))
        j += 1
      }
      m
    }

    private[streaming] def update(batchSketch: Array[Byte],
                                  batchTokens: Iterable[String]): Unit = synchronized {
      val delta = graft.functions.Cms.deserialize(batchSketch)
      var i = 0
      while (i < grid.length) { grid(i) += delta(i); i += 1 }
      batchTokens.foreach(t => heap(t) = estimate(t))
      if (heap.size > k) {
        val keep = heap.toSeq.sortBy { case (t, e) => (-e, t) }.take(k)
        heap.clear(); heap ++= keep
      }
    }

    /** Current top-k by (estimate DESC, token ASC). */
    def top: Seq[(String, Long)] = synchronized {
      heap.toSeq.sortBy { case (t, e) => (-e, t) }.take(k)
    }

    /** Point probe of the folded grid for an externally chosen token —
      * the differential surface (q252) probes the restart-spanning grid
      * at the exact global top-k, independent of the heap/pool policy
      * (which StreamingSpec pins separately). */
    def estimateOf(t: String): Long = synchronized(estimate(t))
  }

  /** Streaming distinct counting — the q46 HLL sketch maintained
    * across micro-batches (fourth member of the streaming sketch
    * family): per trigger the batch's M-byte register array builds
    * distributed through `graft_hll` (ObjectHashAggregate — only the
    * constant 4 KiB buffer moves per map partition), then element-wise
    * maxes into a driver-held register array. Register-max is
    * idempotent and commutative, so replays and reordering cannot
    * inflate the estimate — the sketch analog of effectively-once. */
  final class DistinctTracker {
    import graft.functions.HllSketchAgg
    private val regs = new Array[Byte](HllSketchAgg.M)

    private[streaming] def update(batch: Array[Byte]): Unit = synchronized {
      var i = 0
      while (i < regs.length) {
        if ((batch(i) & 0xff) > (regs(i) & 0xff)) regs(i) = batch(i)
        i += 1
      }
    }

    def estimate: Long = synchronized(HllSketchAgg.estimate(regs))

    /** Defensive copy of the folded register array — q253's parity
      * compares it bit-for-bit against one batch `graft_hll` over the
      * same rows (register-max idempotence makes the two identical for
      * ANY batch split or replay). */
    def registers: Array[Byte] = synchronized(regs.clone())
  }

  /** Folds `stream(keyCol)` (int/bigint) into `tracker` across
    * triggers; read the live distinct estimate from
    * [[DistinctTracker.estimate]]. */
  def trackDistinct(stream: DataFrame, keyCol: String, checkpoint: String,
                    tracker: DistinctTracker): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      tracker.update(batch.agg(call_function("graft_hll", col(keyCol)))
        .head.getAs[Array[Byte]](0))
    }

  /** Streaming histogram quantiles — q102's constant-state fixed-bin
    * sketch maintained across micro-batches (completing the streaming
    * sketch trio: Bloom admission, CMS heavy hitters, histogram
    * quantiles). The batch's bin counts aggregate distributed (a
    * ≤`bins`-row map-side-combinable groupBy — the value stream never
    * reaches the driver), then element-wise-sum into a driver-held
    * grid; a quantile read is a cumulative scan over the grid, error
    * bounded by bin width. Unlike batch q102 the domain [lo, hi] must
    * be FIXED up front (a stream has no final min/max pass);
    * out-of-domain values clamp into the edge bins, which keeps ranks
    * (and so quantiles inside the domain) correct. */
  final class QuantileTracker(val lo: Long, val hi: Long, val bins: Int = 128) {
    require(hi >= lo && bins > 0, "need hi >= lo and positive bins")
    private val grid = new Array[Long](bins)

    private[streaming] def update(batchBins: Seq[(Long, Long)]): Unit =
      synchronized { batchBins.foreach { case (b, n) => grid(b.toInt) += n } }

    def count: Long = synchronized(grid.sum)

    /** Upper edge of the first bin where the cumulative count crosses
      * `p`% (the q102 integer cut); None on an empty tracker. */
    def quantile(p: Int): Option[Long] = synchronized {
      val total = grid.sum
      if (total == 0) None else {
        var cum = 0L
        var b = 0
        while (b < bins) {
          cum += grid(b)
          if (cum * 100 >= total * p)
            return Some(lo + ((b + 1) * (hi - lo + 1)) / bins - 1)
          b += 1
        }
        Some(hi)
      }
    }
  }

  /** Streaming χ² distribution-drift monitor — q217's two-sample
    * statistic maintained against a FIXED reference histogram across
    * micro-batches (q217 compares a stream's two time halves after the
    * fact; this is the standing production gauge: reference = the
    * value distribution the current model was fit on, live =
    * everything seen since). Per trigger the batch's (key, bin)
    * counts aggregate DISTRIBUTED (a map-side-combinable groupBy over
    * the bounded key×bin grid — the raw values never reach the
    * driver), then fold into the driver-held live grid; a read
    * renders per key the exact q217 arithmetic — int64
    * t = c_ref·n_live − c_live·n_ref per bin, per-bin contribution
    * floor(1000·t²/((c_ref+c_live)·n_ref·n_live) + 0.5) in the SAME
    * fixed IEEE association order, summed exactly — so the streamed
    * statistic is bit-identical to evaluating q217's formula on
    * (reference, live-so-far) in batch (StreamingSpec pins it
    * against the declared query's output). */
  final class DriftTracker(reference: Seq[((String, Long), Long)]) {
    // a zero-count reference cell carries no sample and would put
    // c_ref = c_live = 0 on the bin spine (0/0 in the χ² term) —
    // rejected at construction so every retained cell is a real
    // observation
    private val ref =
      reference.filter(_._2 > 0L).toMap.withDefaultValue(0L)

    /** The monitored key universe — the keys the REFERENCE sample
      * covers. This is the tracker's state contract: live state is
      * bounded by |reference grid| no matter what key cardinality the
      * stream carries ([[trackValueDrift]] filters to this set
      * DISTRIBUTED and folds everything else into one
      * [[novelCount]] gauge), so a caller keying by user_id cannot
      * grow driver state past the reference it supplied. */
    val refKeys: Set[String] = ref.keySet.map(_._1)

    private val live =
      scala.collection.mutable.Map.empty[(String, Long), Long]
        .withDefaultValue(0L)
    private var novel = 0L
    private var nullKeys = 0L
    // High-water marks are PER STREAM (keyed by the caller's stream
    // identity — trackValueDrift passes its checkpoint path): batch
    // ids are strictly increasing only within one checkpoint, so a
    // second query folding into the same tracker restarts at batch 0
    // and a single global mark would silently drop all its batches as
    // "replays" (round-10 advisor finding). One entry per stream —
    // bounded by the number of queries ever attached, not by data.
    private val lastBatch =
      scala.collection.mutable.Map.empty[String, Long].withDefaultValue(-1L)
    private var currentStream = ""

    /** Folds one micro-batch, IDEMPOTENT under at-least-once replay:
      * a batch id at or below the stream's last applied one is skipped
      * (the VersionedStore committed-batch discipline — update applied
      * but commit lost, query restarts, same batch re-delivered → the
      * grid must not double-count). Streaming batch ids are strictly
      * increasing per checkpoint, so a per-stream high-water mark is
      * the exact guard; `streamId = None` continues the most recently
      * seen stream (the direct-call / single-query shorthand). */
    private[graft] def update(batchId: Long,
                              batch: Seq[((String, Long), Long)],
                              novelRows: Long = 0L,
                              nullRows: Long = 0L,
                              streamId: Option[String] = None): Unit =
      synchronized {
        streamId.foreach(currentStream = _)
        if (batchId > lastBatch(currentStream)) {
          batch.foreach { case (k, n) =>
            if (refKeys(k._1)) live(k) = live(k) + n
          }
          novel += novelRows
          nullKeys += nullRows
          lastBatch(currentStream) = batchId
        }
      }

    def liveCount: Long = synchronized(live.values.sum)

    /** Rows observed under NON-NULL keys outside the reference
      * universe — the "a key the model never saw is emitting values"
      * gauge (kept as one counter, not per-key state). */
    def novelCount: Long = synchronized(novel)

    /** Rows whose key column was NULL — kept apart from [[novelCount]]
      * so genuine null-key data (an upstream join dropping the key) is
      * distinguishable from novel-key traffic (round-10 advisor
      * finding: folding both into one gauge made the novel counter
      * uninterpretable for callers with nullable keys). */
    def nullKeyCount: Long = synchronized(nullKeys)

    /** Live cells held on the driver — spec hook for the state bound
      * (≤ refKeys × value-bin grid regardless of stream keys). */
    def trackedCells: Int = synchronized(live.size)

    /** Per-key χ² in milli units over the union bin spine; a key with
      * an empty side reports -1 (the two-sample statistic needs both
      * samples — "no drift signal yet", not "no drift"). One pass:
      * cells grouped by key up front (not an O(|keys|·|cells|)
      * rescan per key), and an empty bin on both sides contributes
      * exactly 0 rather than 0/0. */
    def chi2Milli: Map[String, Long] = synchronized {
      (ref.keySet ++ live.keySet).groupBy(_._1).map { case (key, ks) =>
        val bins = ks.map(_._2).toSeq.sorted
        val n1 = bins.map(b => ref((key, b))).sum
        val n2 = bins.map(b => live((key, b))).sum
        val chi =
          if (n1 == 0 || n2 == 0) -1L
          else bins.map { b =>
            val (c1, c2) = (ref((key, b)), live((key, b)))
            if (c1 + c2 == 0) 0L
            else {
              val t = (c1 * n2 - c2 * n1).toDouble
              math.floor(1000.0 * ((t * t) / (c1 + c2).toDouble /
                n1.toDouble / n2.toDouble) + 0.5).toLong
            }
          }.sum
        key -> chi
      }
    }
  }

  /** Folds `stream`'s (keyCol, cents div binCents) counts into
    * `tracker` across triggers — the q217 $10-bin contract by
    * default. Driver state stays bounded by the tracker's REFERENCE
    * grid at any stream key cardinality: the per-batch aggregation
    * masks keys outside `tracker.refKeys` to one of two overflow
    * groups — NOVEL (a real key the reference never saw) or NULL (the
    * key column itself was null, a different failure mode) — before
    * anything is collected (so the collect is ≤ |ref keys| ×
    * |value bins| + 2·|value bins| rows), and those rows surface as
    * the `novelCount` / `nullKeyCount` gauges instead of per-key
    * state. Replayed batch ids are skipped by the tracker (idempotent
    * folding, high-water-marked per checkpoint so a second query on
    * the same tracker starts its own batch-id sequence). */
  def trackValueDrift(stream: DataFrame, keyCol: String, valueCol: String,
                      checkpoint: String, tracker: DriftTracker,
                      binCents: Long = 1000L): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      val keys = tracker.refKeys.toSeq
      val inRef =
        if (keys.isEmpty) lit(false)
        else col("k").isin(keys: _*)
      // `div` truncates toward zero in BOTH engines (Spark div and
      // DuckDB // — measured: -7 // 2 = -3 in the oracle's duckdb
      // build), so the bin expression is engine/oracle-stable for
      // negative values too; no floor rewrite needed.
      val rows = batch
        .select(col(keyCol).cast("string").as("k"),
          expr(s"CAST(round($valueCol * 100, 0) AS BIGINT)" +
            s" div $binCents").as("bin"))
        // kind: 0 = reference key (kept per-cell), 1 = novel key,
        // 2 = null key — novel and null collapse to kind-only rows
        .groupBy(when(col("k").isNull, lit(2))
            .when(inRef, lit(0)).otherwise(lit(1)).as("kind"),
          when(inRef, col("k")).otherwise(lit(null)).as("k"),
          col("bin"))
        .agg(count(lit(1)).as("n"))
        .collect()
      // a reference-key row with a NULL value has no bin to fold —
      // it carries no drift signal and is dropped from the live grid
      // (the gauges still count null/novel KEYS whatever the value);
      // without this guard a null `value` NPEs the getLong decode
      // (round-13 advisor)
      val kept = rows.filter(r => r.getInt(0) == 0 && !r.isNullAt(2))
      def gauge(kind: Int): Long =
        rows.filter(_.getInt(0) == kind).map(_.getLong(3)).sum
      tracker.update(batchId,
        kept.map(r => ((r.getString(1), r.getLong(2)), r.getLong(3))).toSeq,
        novelRows = gauge(1), nullRows = gauge(2),
        streamId = Some(checkpoint))
    }

  /** Folds `stream(valueCol)` (any numeric; quantized as
    * floor(value·100) — q102's cents contract) into `tracker` across
    * triggers. */
  def trackQuantiles(stream: DataFrame, valueCol: String,
                     checkpoint: String,
                     tracker: QuantileTracker): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val (lo, hi, b) = (tracker.lo, tracker.hi, tracker.bins)
      val binned = batch
        .select(floor(col(valueCol) * 100).cast("long").as("c"))
        .where(col("c").isNotNull)
        .select(least(lit(b - 1L), greatest(lit(0L),
          expr(s"((c - $lo) * $b) div (${hi - lo + 1})"))).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      tracker.update(binned)
    }

  /** Tracks the top-`k` tokens of `stream(textCol)` across triggers;
    * read the live answer from the returned tracker's `top`. */
  def trackHeavyHitters(stream: DataFrame, textCol: String, k: Int,
                        checkpoint: String,
                        tracker: HeavyHitterTracker): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, _) =>
      val toks = batch
        .select(explode(graft.functions.TextAnalysis.tokens(col(textCol))).as("t"))
        .persist()
      val sketch = toks.agg(call_function("graft_cms", col("t")))
        .head.getAs[Array[Byte]](0)
      val candidates = toks.groupBy("t").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("t").asc).limit(tracker.pool)
        .select("t").collect().map(_.getString(0))
      toks.unpersist(blocking = false)
      tracker.update(sketch, candidates)
    }

  /** Streaming semantic admission — q90's incremental embedding dedup
    * as a foreachBatch sink: each micro-batch of `(vec_id, embedding)`
    * rows is probed by [[graft.operators.Similarity.historyMatches]]
    * against a STATIC capped history index, and only rows with no exact-cosine
    * near-dup ≥ `minCosine` in history are appended to `targetPath`
    * (admit); near-dups of existing content are dropped. The index is
    * bucketed, capped and cached ONCE at stream start, so per-batch
    * cost tracks the batch — the 100 TB history is scanned exactly
    * once, never per trigger. Admission is vs HISTORY by contract:
    * intra-stream duplicates compose with `dropDuplicates`/a periodic
    * index refresh, exactly as a two-phase production ingest does. */
  def admitNovelEmbeddings(stream: DataFrame, history: DataFrame,
                           targetPath: String, checkpoint: String,
                           minCosine: Double = 0.4): StreamingQuery = {
    import graft.operators.Similarity
    val index = Similarity.historyIndex(history).cache()
    eachBatch(stream, checkpoint) { (batch, _) =>
      batch.join(Similarity.historyMatches(index, batch, minCosine).select("vec_id"),
          Seq("vec_id"), "left_anti")
        .write.mode("append").parquet(targetPath)
    }
  }

  /** Runs `f` on each micro-batch of `stream` in one AvailableNow query
    * on `checkpoint`: it drains what is available, then stops. Append
    * mode: every input here is a stateless stream (a file or memory
    * source, no aggregation), so each row reaches exactly one batch. */
  private def eachBatch(stream: DataFrame, checkpoint: String)
      (f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(f)
      .start()
}
