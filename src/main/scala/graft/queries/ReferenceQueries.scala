package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.JobText
import graft.operators.{Incremental, Merge, Transform}
import graft.sources.Tables

/** Driver-contract queries covering the reference pipeline's own operator
  * surface (SURVEY.md §2.1–§2.6): proxy derivation, S1–S13 scalar suites,
  * F-filters, D1 dedup, SNK1 merge, A1/ST2 high-water mark. Each entry has
  * a DuckDB oracle rendered from the same constants (JobText / PostsProxy).
  *
  * Determinism contract (SURVEY.md §7.5.3): every query ends in a total
  * ORDER BY over a unique key; set-valued columns are array_sort'ed;
  * time boundaries are pinned literals parsed in the UTC session zone.
  */
object ReferenceQueries {

  private def events(s: SparkSession, dir: String) = Tables.load(s, dir, "events")
  private def tsLit(s: String) = to_timestamp(lit(s))

  // reference dags/dag.py:233-237 (S11), shared by q05's oracle
  private def commentsCountSql(raw: String): String =
    s"CASE WHEN regexp_matches(split_part($raw, ' ', 1), '^[0-9]+$$') THEN CAST(split_part($raw, ' ', 1) AS INT) ELSE 0 END"

  /** DuckDB-version-independent rendering of Spark's `array_join(x, '|')`:
    * older DuckDB (≤1.0) returns NULL for `array_to_string([], sep)`
    * where Spark (and newer DuckDB) return '' — pin the empty-list case
    * explicitly so the oracle hashes identically on any driver version. */
  private def emptySafeJoin(listE: String): String =
    s"CASE WHEN len($listE) = 0 THEN '' ELSE array_to_string($listE, '|') END"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // proxy parity gate: validates the shared corpus derivation itself
    "q01_posts_proxy" -> ((s, dir) =>
      PostsProxy.df(s, dir).orderBy("doc_id")),

    // S1 salary extraction incl. 'None'-string-vs-NULL currency semantics
    "q02_salary_extract" -> ((s, dir) =>
      PostsProxy.df(s, dir)
        .select(col("doc_id"), JobText.salaryStruct(col("title")).as("sal"))
        .select(col("doc_id"), col("sal.*"))
        .orderBy("doc_id")),

    // S2–S5 job details (priority-ordered regex chains + tech intersect).
    // `technologies` stays an array internally; the DUMP joins it with '|'
    // (array_sort'ed → canonical) because the driver's pandas lexsort
    // cannot hash ndarray cells.
    "q03_job_details" -> ((s, dir) =>
      PostsProxy.df(s, dir)
        .select(col("doc_id"), JobText.jobDetailsStruct(col("title")).as("d"))
        .select(col("doc_id"), col("d.job_position"), col("d.location"),
          col("d.field"),
          array_join(col("d.technologies"), "|").as("technologies"))
        .orderBy("doc_id")),

    // F4 keyword predicate (substring semantics)
    "q04_is_job_post" -> ((s, dir) =>
      PostsProxy.df(s, dir)
        .select(col("doc_id"), col("title"),
          JobText.isJobPost(col("title")).as("is_job"))
        .orderBy("doc_id")),

    // full transform chain: D1 → S1 → S2-S5 → F4/F5 → posts relation.
    // Same array-dump rule as q03: join `technologies` for the driver.
    "q05_transform" -> ((s, dir) =>
      Transform(PostsProxy.df(s, dir), "doc_id")
        .select(col("post_id"), col("title"), col("url"), col("author"),
          col("created_datetime"), col("upvotes"), col("comments_count"),
          col("subreddit"), col("salary_currency"), col("lower_salary"),
          col("upper_salary"), col("job_position"), col("location"),
          col("field"),
          array_join(col("technologies"), "|").as("technologies"))
        .orderBy("post_id")),

    // F1 inclusive time-range filter. Source arm + filter arm: the
    // bounds are applied directly on the scan column at the source
    // (Tables.loadEventsRange — both comparisons push into the parquet
    // scan for row-group pruning), then the exact F1 filter runs over
    // the pruned rows.
    "q06_range_filter" -> ((s, dir) =>
      Incremental.rangeFilter(
          Tables.loadEventsRange(s, dir,
            tsLit("2024-01-10 00:00:00"), tsLit("2024-01-20 00:00:00")),
          "ts", tsLit("2024-01-10 00:00:00"), tsLit("2024-01-20 00:00:00"))
        .select("event_id", "ts", "event_type", "value")
        .orderBy("event_id")),

    // D1 order-stable keep-first dedup
    "q07_dedup_first" -> ((s, dir) =>
      Transform.dedupFirst(events(s, dir),
          keys = Seq("user_id", "event_type"), order = Seq("ts", "event_id"))
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")),

    // SNK1 keyed upsert (last-writer-wins), base ∩ updates non-empty
    "q08_merge_upsert" -> ((s, dir) => {
      val ev = events(s, dir)
      val base = ev.where(col("event_id") % 2 === 0)
      val updates = ev.where(col("event_id") % 3 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") * 2)
      Merge.upsert(base, updates, Seq("event_id")).orderBy("event_id")
    }),

    // STREAMED upsert-sink parity (q259, round 14): the production
    // streamed MERGE path — StreamingIngest.upsertEachBatch +
    // VersionedStore, the ST4 core a daily ingest exercises constantly
    // — enters the hash-gated differential surface over a
    // restart-spanning run (crash-window property tests existed;
    // the differential did not). Protocol: q08's exact base/updates
    // construction, streamed as two drops through two AvailableNow
    // queries sharing one checkpoint — drop 1 seeds the store with the
    // base rows, a genuine stop/restart, then drop 2 delivers the
    // updates, which must REPLACE their keys through the idempotent
    // keyed merge + atomic pointer flip. The final store read through
    // the version pointer must equal batch q08's Merge.upsert — the
    // oracle IS q08's SQL, verbatim. A lost batch, a double-applied
    // merge (harmless by idempotence — pinned elsewhere), a
    // non-replaced key, or a reader surfacing a mid-swap store all
    // move a row and mismatch.
    "q259_streamed_upsert_parity" -> ((s, dir) => {
      val ev = events(s, dir)
      val base = ev.where(col("event_id") % 2 === 0)
      val updates = ev.where(col("event_id") % 3 === 0)
        .withColumn("event_type", lit("updated"))
        .withColumn("value", col("value") * 2)
      val path = StreamGuard.ensure("q259_stream_upsert", dir, "v1",
          ev.select("event_id", "ts", "event_type", "value")) { path =>
        // one file per drop: updates must arrive AFTER the base run
        // completes (last-writer-wins is an ORDER contract — the
        // q250 single-file-per-drop discipline)
        StreamGuard.streamDrops(path, base.coalesce(1),
            updates.select(base.columns.map(col).toSeq: _*).coalesce(1)) { in =>
          graft.streaming.StreamingIngest.upsertEachBatch(in,
            targetPath = s"$path/store", keys = Seq("event_id"),
            checkpoint = s"$path/ckpt")
        }
      }
      // empty-fixture degenerate case: zero batches commit no store —
      // degrade to the schema-matched empty frame (the marker is fine
      // here: an empty stream IS the completed run)
      graft.streaming.StreamingIngest.readStore(s, s"$path/store")
        .getOrElse(base.limit(0))
        .orderBy("event_id")
    }),

    // A1/ST2 high-water mark with pinned `now`
    "q09_high_water_mark" -> ((s, dir) =>
      Incremental.highWaterMark(events(s, dir), "ts",
        tsLit("2024-02-10 00:00:00"))),

    // S8/S9 epoch-millis and ISO-8601 round-trips
    "q10_time_functions" -> ((s, dir) =>
      events(s, dir).select(
        col("event_id"),
        unix_millis(col("ts")).as("ts_ms"),
        timestamp_millis(unix_millis(col("ts"))).as("ts_roundtrip"),
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("iso"))
        .orderBy("event_id")))

  /** q08's oracle body — shared verbatim by q259 (the streamed
    * upsert store's read-back must hash-match the batch MERGE). */
  private def mergeUpsertOracle: String =
    """WITH base AS (SELECT * FROM events WHERE event_id % 2 = 0),
      |updates AS (
      |  SELECT event_id, ts, user_id, 'updated' AS event_type, value * 2 AS value, props
      |  FROM events WHERE event_id % 3 = 0)
      |SELECT * FROM (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT b.* FROM base b WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.event_id = b.event_id))
      |ORDER BY event_id""".stripMargin

  val oracleSql: Map[String, String] = {
    val cte = PostsProxy.duckCte
    val (curS, loS, hiS) = JobText.salarySqlFields("title")
    Map(
      "q01_posts_proxy" ->
        s"$cte SELECT doc_id, post_id, title, url, author, created_datetime, upvotes, comments_text, subreddit FROM posts_proxy ORDER BY doc_id",

      "q02_salary_extract" ->
        s"$cte SELECT doc_id, $curS AS salary_currency, $loS AS lower_salary, $hiS AS upper_salary FROM posts_proxy ORDER BY doc_id",

      "q03_job_details" ->
        s"""$cte SELECT doc_id,
           |  ${JobText.jobPositionSql("title")} AS job_position,
           |  ${JobText.locationSql("title")} AS location,
           |  ${JobText.fieldSql("title")} AS field,
           |  ${emptySafeJoin(JobText.technologiesSql("title"))} AS technologies
           |FROM posts_proxy ORDER BY doc_id""".stripMargin,

      "q04_is_job_post" ->
        s"$cte SELECT doc_id, title, ${JobText.isJobPostSql("title")} AS is_job FROM posts_proxy ORDER BY doc_id",

      "q05_transform" ->
        s"""$cte, deduped AS (
           |  SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY post_id, title ORDER BY doc_id) AS rn
           |    FROM posts_proxy) WHERE rn = 1)
           |SELECT post_id, title, url, author, created_datetime, upvotes,
           |  ${commentsCountSql("comments_text")} AS comments_count,
           |  subreddit,
           |  $curS AS salary_currency, $loS AS lower_salary, $hiS AS upper_salary,
           |  ${JobText.jobPositionSql("title")} AS job_position,
           |  ${JobText.locationSql("title")} AS location,
           |  ${JobText.fieldSql("title")} AS field,
           |  ${emptySafeJoin(JobText.technologiesSql("title"))} AS technologies
           |FROM deduped
           |WHERE ${JobText.isJobPostSql("title")} OR ($loS) IS NOT NULL OR ($hiS) IS NOT NULL
           |ORDER BY post_id""".stripMargin,

      "q06_range_filter" ->
        """SELECT event_id, ts, event_type, value FROM events
          |WHERE ts BETWEEN TIMESTAMP '2024-01-10 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
          |ORDER BY event_id""".stripMargin,

      "q07_dedup_first" ->
        """SELECT user_id, event_type, event_id, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
          |  FROM events) WHERE rn = 1
          |ORDER BY user_id, event_type""".stripMargin,

      "q08_merge_upsert" -> mergeUpsertOracle,

      // q259: the streamed upsert store's read-back must equal batch
      // MERGE — the oracle IS q08's, verbatim (the store after
      // base-drop → restart → updates-drop is exactly updates ∪
      // (base ⟕anti updates)).
      "q259_streamed_upsert_parity" -> mergeUpsertOracle,

      "q09_high_water_mark" ->
        """SELECT coalesce(max(ts), TIMESTAMP '2024-02-10 00:00:00' - INTERVAL 7 DAY) AS high_water_mark
          |FROM events WHERE ts >= TIMESTAMP '2024-02-10 00:00:00' - INTERVAL 30 DAY""".stripMargin,

      "q10_time_functions" ->
        """SELECT event_id, epoch_ms(ts) AS ts_ms, epoch_ms(epoch_ms(ts)) AS ts_roundtrip,
          |  strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
          |FROM events ORDER BY event_id""".stripMargin)
  }
}
