package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Each query is fully materialized through the `noop` sink — a bare
  * count() would let Catalyst prune every unreferenced column and
  * under-measure expression-heavy queries. A warm-up pass (JVM/codegen
  * warm + parquet footer/file-index caches) runs first so per-query
  * numbers measure the query, not session cold-start. A sample that
  * ran a guarded one-time setup is retaken ([[withoutSetup]]), so a
  * guarded query's recorded time is its read-back on a fresh checkout
  * too.
  *
  * Since round 3 each query runs TWICE and reports the MIN of the two
  * timings: single-shot numbers on a shared machine carry multi-second
  * noise spikes (observed: a 0.9 s query recorded at 5.2 s by a
  * concurrent-load hiccup), and min-of-2 measures the query instead of
  * the neighbor's page-cache eviction. First-run-only costs amortize
  * into whichever run pays them — exactly as they would across a
  * long-lived session.
  *
  * CONTENTION SELF-DEFENSE (round 11): two consecutive rounds the
  * official sweep record was phantom-inflated by sustained co-tenant
  * load bursts (r9 1.66×, r10 3.4× vs quiet-box; one query re-timed
  * 64.96 s → 2.76 s in isolation) that min-of-2 + one retry cannot
  * defend against — all samples land inside a multi-minute burst. The
  * sweep now adjudicates itself three ways:
  *  1. per-query PROCESS CPU time is recorded alongside wall time
  *     (`"cpu"` map in the full record). CPU discriminates load from
  *     plan regressions far better than wall, but it is NOT fully
  *     contention-immune: round-11 data shows a sustained co-tenant
  *     burst roughly DOUBLING this JVM's process CPU for identical
  *     work (a PageRank query: 76.9 CPU-s inside the contended sweep
  *     vs 37.8 CPU-s for the same query in isolation — cache
  *     thrash and shuffle-fetch spin burn real cycles). So a 65 s
  *     wall / 2 s CPU entry still self-identifies as load, but a
  *     "CPU ≈ record CPU" test under-flags by up to ~2× under heavy
  *     co-tenancy — CPU is a relative signal here, never an absolute
  *     adjudicator. (local[32] runs executors in this JVM, so process
  *     CPU ≈ the query's compute plus contention-induced burn.)
  *  2. an END-OF-SWEEP RE-TIME pass: any query whose min exceeds
  *     [[RetimeFactor]]× its committed quiet-box record (see 3) gets
  *     one more sample after the sweep, and — new in round 12, after
  *     all five r11 flags proved phantom because the re-time ran
  *     inside the same multi-minute burst — queries that are STILL
  *     high get a second sample after a [[RetimeSettleMs]] pause, so
  *     at least one sample lands outside a burst the sweep straddled.
  *     A query is listed in `"load_flagged"` only if, after both
  *     extra samples, its wall AND its CPU (when the record carries a
  *     CPU column) both exceed the record per [[needsRetime]] — a
  *     high-wall/flat-CPU residual is co-tenant load by signature 1
  *     and is not a flag.
  *  3. the quiet-box record lives in BENCH_RECORD.json — a file this
  *     sweep NEVER writes (refresh it deliberately by copying a
  *     quiet-box BENCH_LOCAL.json), so the comparison baseline survives
  *     every driver run. The record carries its `"sf"`; the re-time
  *     pass only engages when the sweep's sf matches.
  */
object Bench {

  /** Re-time threshold: a min-of-samples more than 2× the committed
    * quiet-box record is a contention suspect, not a plan (every such
    * entry in r9/r10 re-timed at ~the record in isolation). */
  val RetimeFactor = 2.0

  /** Absolute floor on the excess: sub-second queries jitter past 2×
    * from ordinary local[32] scheduling noise (a 0.26 s record reading
    * 0.54 s is not a contention event); flags should mean the 20–71×
    * multi-second phantoms the pass exists for, so the excess must
    * also clear this many seconds. */
  val RetimeMinDeltaSec = 0.5

  /** Pause before the SECOND (spaced) re-time sample: the five r11
    * load flags were all phantom because the immediate re-time ran
    * while the same co-tenant burst was still live — observed bursts
    * run minutes, so a fixed short settle buys a sample that is at
    * least not the SAME instant, at a bounded cost paid only when the
    * immediate re-time still reads high. Override (e.g. to 0 in
    * specs) via SPARK_GRAFT_RETIME_SETTLE_MS. */
  val RetimeSettleMs: Long =
    sys.env.get("SPARK_GRAFT_RETIME_SETTLE_MS").flatMap(s =>
      scala.util.Try(s.toLong).toOption).getOrElse(20000L)

  /** 2-decimal (10 ms) rendering; Locale.ROOT keeps the decimal point
    * a '.' regardless of JVM locale (a comma-decimal locale would emit
    * invalid JSON). */
  def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  def qmap(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")

  /** One timed run: (wall seconds, process-CPU seconds consumed during
    * the run). CPU is read from the JDK's process counter; -1 when the
    * platform bean is unavailable. */
  type Timing = (Double, Double)

  private def processCpuNanos(): Long =
    try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
        case _ => -1L
      }
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Contention guard (round-8 judge ask): min-of-2 still recorded 4×
    * phantom spikes when BOTH runs landed on a loaded box (a 5.56 s
    * record vs 1.40 s in isolation). If the two timings disagree by more
    * than 2×, the spread is contention, not the plan — take ONE more
    * sample and report the min of all successes. Bounded extra cost
    * (at most one retry, only under measured disagreement).
    *
    * `sample()` returns Some((wall, cpu)) on success, None on failure;
    * the reported entry is the one with MINIMUM WALL (its cpu rides
    * along — pairing wall with a different run's cpu would fabricate a
    * run that never happened). All-failed → (-1, -1) sentinel. */
  def minWithRetryCpu(sample: () => Option[Timing]): Timing = {
    val first = Seq(sample(), sample()).flatten
    val all = first.map(_._1) match {
      case Seq(a, b) if math.max(a, b) > 2.0 * math.min(a, b) =>
        first ++ sample().toSeq
      case _ => first
    }
    if (all.nonEmpty) all.minBy(_._1) else (-1.0, -1.0)
  }

  /** `sample`, taken again when a guarded setup ran during it (the
    * `setups` count moved): that sample timed the one-time setup
    * ([[graft.queries.StreamGuard]]), not the query, and the setup's
    * marker makes the next sample the read-back. A failed sample is a
    * failure either way and is not retaken. */
  def withoutSetup(sample: () => Option[Timing],
                   setups: () => Long): () => Option[Timing] = () => {
    val n = setups()
    val t = sample()
    if (t.isEmpty || setups() == n) t else sample()
  }

  /** Wall-only view of [[minWithRetryCpu]] (spec surface — the retry
    * policy is pinned against this signature since round 9). */
  def minWithRetry(sample: () => Option[Double]): Double =
    minWithRetryCpu(() => sample().map(w => (w, 0.0)))._1

  /** The record parsed as a JSON tree, or None when it is not JSON. */
  private def recordTree(line: String)
      : Option[com.fasterxml.jackson.databind.JsonNode] =
    scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(line)).toOption.filter(t => t != null && t.isObject)

  /** Extracts a named per-query map (`"<field>":{"name":sec,...}`) from
    * a BENCH record. The record is read on the bench path, where a
    * schema drift must never fail the sweep: any shape surprise (not
    * JSON, field missing or not an object) returns empty, and non-
    * numeric entries are skipped. */
  def parseRecordMap(line: String, field: String): Map[String, Double] =
    recordTree(line).map(_.get(field)).filter(n => n != null && n.isObject)
      .map(_.properties().asScala.collect {
        case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble
      }.toMap).getOrElse(Map.empty)

  /** The record's wall map (spec surface since round 11). */
  def parseRecordQueries(line: String): Map[String, Double] =
    parseRecordMap(line, "queries")

  /** The record's `"sf"` field (the re-time pass must not compare an
    * sf1 sweep against an sf0.1 record — everything would flag). */
  def parseRecordSf(line: String): Option[String] =
    recordTree(line).map(_.get("sf")).filter(n => n != null && n.isTextual)
      .map(_.asText)

  /** True when `wall` is a contention suspect vs the committed record:
    * both present and positive, wall > [[RetimeFactor]]·record, AND the
    * excess clears [[RetimeMinDeltaSec]] (ratio alone over-flags
    * sub-second queries on ordinary scheduler jitter). */
  def needsRetime(wall: Double, record: Option[Double]): Boolean =
    record.exists(r => wall >= 0 && r > 0 &&
      wall > RetimeFactor * r && wall - r > RetimeMinDeltaSec)

  /** Final flag decision for a query that is still wall-suspect after
    * every re-time sample: flag only if the CPU column AGREES (same
    * [[needsRetime]] ratio + delta test against the record's committed
    * CPU). Rationale: a plan regression burns more CPU; pure co-tenant
    * wall inflation with CPU at ~record is load by construction
    * (header signature 1). When either CPU reading is unavailable
    * (record predates the cpu column, or the platform bean is absent)
    * the wall verdict stands alone — degrading to round-11 behavior,
    * never silently unflagging. */
  def isGenuineRegression(wall: Double, recWall: Option[Double],
                          cpu: Double, recCpu: Option[Double]): Boolean =
    needsRetime(wall, recWall) &&
      (cpu < 0 || recCpu.forall(_ <= 0) || needsRetime(cpu, recCpu))

  /** The end-of-sweep re-time pass as a PURE decision procedure (the
    * spec injects a deliberate regression through `resample` to prove
    * the detector fires, and a phantom to prove it doesn't).
    *
    * Per wall-suspect query: one immediate re-sample; queries still
    * suspect after it get ONE more after a single shared `settle()`
    * pause (the r11 lesson: an immediate re-time inside the same
    * burst re-reads the burst). The reported timing is the min-wall
    * sample (cpu rides with its own run); `retimed` lists queries the
    * extra samples improved; `flagged` lists queries that remain
    * suspect on wall AND cpu per [[isGenuineRegression]];
    * `wallSuspects` lists queries that remain wall-suspect but were
    * NOT flagged because their CPU sat at ~record — the load signature,
    * but also the signature of an I/O-bound regression (lost cache,
    * new spill), so the classification leaves a trace instead of
    * silently filing the query under load (round-13 advisor). */
  def adjudicateSweep(
      swept: Seq[(String, Timing)],
      recWall: Map[String, Double],
      recCpu: Map[String, Double],
      resample: String => Option[Timing],
      settle: () => Unit): (Seq[(String, Timing)], List[(String, Double)], List[String], List[String]) = {
    var retimed = List.empty[(String, Double)]
    var flagged = List.empty[String]
    var wallSuspects = List.empty[String]
    // pass 1: immediate re-sample of every wall suspect
    val pass1: Seq[(String, Timing, Boolean)] = swept.map {
      case (name, t @ (wall, _)) =>
        if (!needsRetime(wall, recWall.get(name))) (name, t, false)
        else {
          val best = (Some(t) ++ resample(name)).minBy(_._1)
          (name, best, needsRetime(best._1, recWall.get(name)))
        }
    }
    // pass 2: one SPACED sample for whatever pass 1 didn't clear
    if (pass1.exists(_._3)) settle()
    val results = pass1.map { case (name, t @ (wall, _), suspect) =>
      val best =
        if (!suspect) t
        else (Some(t) ++ resample(name)).minBy(_._1)
      if (best._1 < swept.collectFirst { case (`name`, (w, _)) => w }.get)
        retimed ::= name -> best._1
      if (suspect && needsRetime(best._1, recWall.get(name))) {
        if (isGenuineRegression(best._1, recWall.get(name),
            best._2, recCpu.get(name))) flagged ::= name
        else wallSuspects ::= name
      }
      name -> best
    }
    (results, retimed, flagged, wallSuspects)
  }

  /** The LAST stdout line — the only payload the driver's ~2 KB tail
    * parse is guaranteed to see, so it must stay far under that bound
    * at any surface size (BenchSpec pins it): headline fields plus
    * only the 3 slowest queries. `cpuSec` (whole-sweep process CPU) and
    * the re-time counters ride as scalars — the per-query cpu map and
    * flagged-name list live only in the full record. */
  def summaryLine(results: Seq[(String, Double)], total: Double,
                  nFailed: Int, sfName: String, cpuSec: Double = -1.0,
                  nRetimed: Int = 0, nLoadFlagged: Int = 0,
                  nWallSuspect: Int = 0,
                  fullRecord: String = "BENCH_LOCAL.json",
                  baseline: String = "BENCH_RECORD.json"): String = {
    val slowest = results.sortBy(-_._2).take(3)
    // "full_record"/"baseline" name the RESOLVED record/comparison
    // files (env overrides included — an sf1 gate run must not claim
    // the sf0.1 defaults; round-13 advisor) so the driver artifact is
    // self-describing: re-time counts here are THIS run's; other
    // same-round runs live under records/ (see records/README.md for
    // the per-file provenance map).
    s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfName","n_queries":${results.size},"n_failed":$nFailed,"cpu_sec":${fmt(cpuSec)},"n_retimed":$nRetimed,"n_load_flagged":$nLoadFlagged,"n_wall_suspect":$nWallSuspect,"slowest":${qmap(slowest)},"full_record":"$fullRecord","baseline":"$baseline","other_runs":"records/README.md"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = LocalSession.sfDir
    val spark = LocalSession.build()

    // warm-up: touch every fixture table's footer/file index + JIT.
    // Failures are logged (a missing fixture table must be visible in
    // sweep logs, not silently shift its cold-start into the timed run).
    graft.sources.Tables.schemas.keys.foreach { t =>
      try graft.sources.Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $t failed: ${e.getMessage}")
      }
    }

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // optional comma-separated filter for targeted timing runs
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)

    def mkSample(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : () => Option[Timing] = withoutSetup(() => {
      val c0 = processCpuNanos()
      val t0 = System.nanoTime()
      val ok =
        try { run(fn); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      // The timer stops BEFORE cache teardown: clearCache() below is
      // bench-harness isolation, not query work, and folding it into
      // the timed window systematically inflated persist-backed
      // queries by their own teardown cost (round-7 advisor finding).
      val dt = (System.nanoTime() - t0) / 1e9
      val c1 = processCpuNanos()
      val cpu = if (c0 >= 0 && c1 >= 0) (c1 - c0) / 1e9 else -1.0
      // Iterative operators (PageRank/BFS/k-means loops) persist or
      // checkpoint intermediate state that stays referenced by the
      // LAZY result plan, so it cannot be freed inside the query;
      // dropped after EVERY run (not once per query) so (a) one
      // query's cached graph never pressures the next query's memory
      // (measured: dimension-table queries inflated ~10× when benched
      // after the graph family), and (b) the second timed run of a
      // persist-backed query rebuilds its own caches instead of
      // recording a warm-cache figure while duplicating the first
      // run's blocks.
      spark.catalog.clearCache()
      if (ok) Some((dt, cpu)) else None
    }, () => graft.queries.StreamGuard.setupsRun)

    // a failed run must never be the recorded time (a fast-fail would
    // masquerade as a fast query); all runs failing → sentinel -1
    val swept: Seq[(String, Timing)] = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) => name -> minWithRetryCpu(mkSample(name, fn)) }

    // ---- end-of-sweep contention re-time (defense 2) ----
    val sfName = new java.io.File(sfDir).getName
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD", "BENCH_RECORD.json")
    val recordLine =
      try {
        val src = scala.io.Source.fromFile(recordPath)
        try src.mkString finally src.close()
      } catch { case scala.util.control.NonFatal(_) => "" }
    val sfMatches = parseRecordSf(recordLine).contains(sfName)
    val record: Map[String, Double] =
      if (sfMatches) parseRecordQueries(recordLine) else Map.empty
    val recordCpu: Map[String, Double] =
      if (sfMatches) parseRecordMap(recordLine, "cpu") else Map.empty
    val (results, retimed, flagged, wallSuspects) = adjudicateSweep(
      swept, record, recordCpu,
      name => mkSample(name, SparkEntry.queries(name))(),
      () => Thread.sleep(RetimeSettleMs))

    // The driver captures a ~2 KB stdout TAIL, and sbt appends its own
    // "[success] ..." line after ours — a 118-entry per-query map is a
    // ~3 KB line that clips whatever follows it out of the tail, which
    // is exactly how rounds 5–7 recorded `parsed: null` (round 7's
    // compact summary was correct but the full record line printed
    // just before it pushed the summary past the window). The record
    // therefore splits in two:
    //  (1) the COMPLETE record (full per-query wall + cpu maps,
    //      re-time annotations) goes ONLY to BENCH_LOCAL.json (working
    //      directory — the checkout root under sbt's forked run —
    //      override via SPARK_GRAFT_BENCH_OUT) — never to stdout;
    //  (2) stdout's last (and only payload) line is [[summaryLine]] —
    //      headline fields plus only the 3 slowest queries, ~300 bytes —
    //      so the driver's parse of the final JSON line succeeds
    //      regardless of surface size (BenchSpec pins the size bound).
    // 2-decimal rendering (10 ms) keeps lines small; bench noise on
    // this shared box is ≫ 10 ms (min-of-2 notes in BASELINE.md).
    // Exclude -1 both-runs-failed sentinels from the total (they would
    // silently shrink it); surface the failure count at the top level.
    val walls = results.map { case (n, (w, _)) => n -> w }
    val total = walls.map(_._2).filter(_ >= 0).sum
    val cpuTotal = results.map(_._2._2).filter(_ >= 0).sum
    val nFailed = walls.count(_._2 < 0)
    def nameList(ns: List[String]): String =
      ns.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"queries":${qmap(walls)},"cpu":${qmap(results.map { case (n, (_, c)) => n -> c })},"retimed":${qmap(retimed.sortBy(_._1))},"load_flagged":${nameList(flagged)},"wall_suspect":${nameList(wallSuspects)},"record_file":"${if (record.nonEmpty) recordPath else ""}","n_failed":$nFailed,"metric":"total","value":${fmt(total)},"cpu_sec":${fmt(cpuTotal)},"unit":"sec","sf":"$sfName"}"""
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    try {
      val w = new java.io.PrintWriter(new java.io.File(out))
      try w.println(fullLine) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    println(summaryLine(walls, total, nFailed, sfName, cpuTotal,
      retimed.size, flagged.size, wallSuspects.size,
      fullRecord = out, baseline = recordPath))
    spark.stop()
  }
}
