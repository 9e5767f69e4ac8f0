package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver-parse contract of Bench's stdout: after three rounds
  * of `parsed: null` (a full per-query map line pushing the summary out
  * of the driver's ~2 KB stdout tail), the summary must be the only
  * payload line and must stay FAR inside the tail window at any
  * declared-surface size — this spec breaks the build before a new
  * query surface can silently regrow the line. */
class BenchSpec extends AnyFunSuite {

  private def line(n: Int): String = {
    // worst realistic case: every declared query name at its true
    // length, pessimal timings (5 digits before the decimal)
    val names = SparkEntry.queries.keys.toSeq.sorted
    val results = (0 until n).map(i => names(i % names.size) -> 99999.99)
    Bench.summaryLine(results, total = 99999.99 * n, nFailed = n, "sf999")
  }

  test("summary line stays far inside the driver's 2 KB tail at any surface size") {
    for (n <- Seq(1, SparkEntry.queries.size, 1000)) {
      val l = line(n)
      assert(l.length < 600, s"summary grew to ${l.length} bytes at n=$n:\n$l")
      assert(!l.contains("\n"))
    }
  }

  test("summary line is a single well-formed JSON object with the driver's headline fields") {
    val l = line(SparkEntry.queries.size)
    assert(l.startsWith("{") && l.endsWith("}"))
    for (f <- Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
                  "\"sf\":", "\"n_queries\":", "\"n_failed\":", "\"slowest\":"))
      assert(l.contains(f), s"missing $f in $l")
    // at most 3 slowest entries — the size bound's load-bearing cap
    val slowest = l.substring(l.indexOf("\"slowest\":") + 10)
    assert(slowest.substring(0, slowest.indexOf("}")).count(_ == ':') <= 3)
    // balanced braces (cheap well-formedness proxy without a JSON dep)
    assert(l.count(_ == '{') == l.count(_ == '}'))
    // locale-independent decimal point
    assert(Bench.fmt(1.5) == "1.50")
  }

  /** Pins the round-9 contention guard: min-of-2 recorded 4× phantom
    * spikes in the round-8 driver run (q130 5.56 s vs 1.40 s judge
    * isolation). If the two samples disagree >2×, ONE more is taken. */
  test("minWithRetry takes a 3rd sample only when the first two disagree >2x") {
    def feed(xs: Double*): () => Option[Double] = {
      val it = xs.iterator
      () => if (it.hasNext) Some(it.next()) else fail("sampled more than provided")
    }
    // agreement within 2x: exactly two samples, min reported
    assert(Bench.minWithRetry(feed(1.0, 1.9)) == 1.0)
    // >2x disagreement: third sample drawn, min of all three
    assert(Bench.minWithRetry(feed(5.0, 1.0, 0.8)) == 0.8)
    assert(Bench.minWithRetry(feed(1.0, 5.0, 4.0)) == 1.0)
    // exactly 2x is agreement (strict >): no third sample
    assert(Bench.minWithRetry(feed(1.0, 2.0)) == 1.0)
    // failures: one failed run never masks the other; all failed → -1
    val it = Iterator(Some(3.0), None)
    assert(Bench.minWithRetry(() => it.next()) == 3.0)
    val it2 = Iterator(None, None)
    assert(Bench.minWithRetry(() => it2.next()) == -1.0)
  }

  /** Round-11 contention defenses: CPU rides with the min-WALL run
    * (never mixed across runs), the committed-record parse is exact on
    * our own writer's format, and the re-time trigger engages only
    * above RetimeFactor× a positive record. */
  test("minWithRetryCpu pairs the reported cpu with the min-wall run") {
    def feed(xs: (Double, Double)*): () => Option[(Double, Double)] = {
      val it = xs.iterator
      () => if (it.hasNext) Some(it.next()) else fail("sampled more than provided")
    }
    // min wall is the SECOND run; its cpu (9.0) must be reported, not 4.0
    assert(Bench.minWithRetryCpu(feed((2.0, 4.0), (1.0, 9.0))) == ((1.0, 9.0)))
    // >2x disagreement: third sample drawn; min-wall run's cpu kept
    assert(Bench.minWithRetryCpu(feed((5.0, 1.0), (1.0, 2.0), (0.5, 3.0)))
      == ((0.5, 3.0)))
    val it = Iterator(None, None)
    assert(Bench.minWithRetryCpu(() => it.next()) == ((-1.0, -1.0)))
  }

  test("a sample during which the setup count moved is not the recorded sample") {
    var setups = 0L
    var calls = 0
    // the first sample runs a one-time setup and is (implausibly) the
    // fastest: recorded, it would win the min; it must be retaken
    val sample = () => {
      calls += 1
      if (calls == 1) { setups += 1; Some((0.5, 0.5)) } else Some((1.0, 2.0))
    }
    assert(Bench.minWithRetryCpu(Bench.withoutSetup(sample, () => setups))
      == ((1.0, 2.0)))
    assert(calls == 3)
    // a failed sample is a failure either way: not retaken
    var failedCalls = 0
    val failing = () => { failedCalls += 1; setups += 1; None }
    assert(Bench.withoutSetup(failing, () => setups)().isEmpty && failedCalls == 1)
  }

  test("committed-record parse: queries map and sf, empty on shape surprises") {
    val rec = """{"queries":{"q01_a":0.44,"q02_b":12.00},"cpu":{"q01_a":3.10},""" +
      """"n_failed":0,"metric":"total","value":12.44,"unit":"sec","sf":"sf0.1"}"""
    assert(Bench.parseRecordQueries(rec) == Map("q01_a" -> 0.44, "q02_b" -> 12.0))
    assert(Bench.parseRecordSf(rec).contains("sf0.1"))
    // the cpu map must NOT leak into the wall record (parse stops at
    // the queries object's closing brace)
    assert(!Bench.parseRecordQueries(rec).exists(_._2 == 3.10))
    assert(Bench.parseRecordQueries("not json") == Map.empty)
    assert(Bench.parseRecordSf("{}").isEmpty)
  }

  test("re-time triggers only above RetimeFactor x a positive committed record") {
    assert(Bench.needsRetime(5.0, Some(1.0)))          // 5x: suspect
    assert(!Bench.needsRetime(1.9, Some(1.0)))         // under 2x: normal drift
    assert(!Bench.needsRetime(2.0, Some(1.0)))         // exactly 2x: strict >
    assert(!Bench.needsRetime(5.0, None))              // no record: no basis
    assert(!Bench.needsRetime(5.0, Some(0.0)))         // degenerate record
    assert(!Bench.needsRetime(-1.0, Some(1.0)))        // failed run: not a time
    // the absolute-delta floor: a 0.26 s record reading 0.54 s is
    // scheduler jitter, not a contention event (observed: the first
    // r11 sweep flagged 7 sub-second-delta queries as "load")
    assert(!Bench.needsRetime(0.54, Some(0.26)))       // 2.1x but tiny excess
    assert(Bench.needsRetime(3.0, Some(0.26)))         // tiny record, real spike
    assert(!Bench.needsRetime(0.9, Some(0.42)))        // 2.1x, delta 0.48 < floor
  }

  test("record cpu map parses via the generalized field parser") {
    val rec = """{"queries":{"q01_a":0.44},"cpu":{"q01_a":3.10,"q02_b":0.50},""" +
      """"sf":"sf0.1"}"""
    assert(Bench.parseRecordMap(rec, "cpu") == Map("q01_a" -> 3.10, "q02_b" -> 0.50))
    assert(Bench.parseRecordMap(rec, "nope") == Map.empty)
  }

  /** Round-12 flag decision: wall AND cpu must both exceed the record
    * (a plan regression burns more CPU; co-tenant wall inflation with
    * CPU at ~record is load). Missing CPU on either side degrades to
    * the wall-only round-11 verdict — never silently unflags. */
  test("isGenuineRegression requires cpu agreement when both cpu readings exist") {
    // wall 10x, cpu at record: phantom load, not flagged
    assert(!Bench.isGenuineRegression(10.0, Some(1.0), 2.0, Some(2.0)))
    // wall 10x AND cpu 10x: genuine regression
    assert(Bench.isGenuineRegression(10.0, Some(1.0), 10.0, Some(1.0)))
    // wall fine: never flagged regardless of cpu
    assert(!Bench.isGenuineRegression(1.0, Some(1.0), 99.0, Some(1.0)))
    // cpu unavailable (platform bean / old record): wall verdict stands
    assert(Bench.isGenuineRegression(10.0, Some(1.0), -1.0, Some(1.0)))
    assert(Bench.isGenuineRegression(10.0, Some(1.0), 10.0, None))
    assert(Bench.isGenuineRegression(10.0, Some(1.0), 10.0, Some(0.0)))
  }

  /** Round-12 re-time pass, driven end-to-end with injected samplers:
    * a deliberate regression must fire the detector, a phantom must
    * not, and the settle pause runs only when the immediate re-sample
    * fails to clear a suspect. */
  test("adjudicateSweep flags an injected genuine regression and clears phantoms") {
    val recW = Map("q_reg" -> 1.0, "q_phantom" -> 1.0, "q_ok" -> 1.0)
    val recC = Map("q_reg" -> 1.0, "q_phantom" -> 2.0, "q_ok" -> 1.0)
    var settles = 0
    var resamples = List.empty[String]
    val swept = Seq(
      "q_reg" -> ((10.0, 10.0)),     // injected regression: stays hot on both
      "q_phantom" -> ((10.0, 2.1)),  // wall 10x but cpu at record: load
      "q_ok" -> ((1.1, 1.0)))        // within record: untouched
    val (res, retimed, flagged, wallSuspects) = Bench.adjudicateSweep(
      swept, recW, recC,
      name => { resamples ::= name; Some((10.0, if (name == "q_reg") 10.0 else 2.1)) },
      () => settles += 1)
    assert(flagged == List("q_reg"), s"got $flagged")
    // the unflagged-but-still-hot wall leaves a trace (round-13 advisor:
    // an I/O-bound regression has exactly this signature)
    assert(wallSuspects == List("q_phantom"), s"got $wallSuspects")
    assert(settles == 1)                        // spaced pass engaged once
    assert(resamples.count(_ == "q_reg") == 2)  // immediate + spaced
    assert(resamples.count(_ == "q_ok") == 0)   // never touched
    assert(retimed.isEmpty)                     // no sample improved
    assert(res.toMap.apply("q_ok") == ((1.1, 1.0)))
  }

  test("adjudicateSweep: immediate re-sample at the record clears without settling") {
    var settles = 0
    val (res, retimed, flagged, wallSuspects) = Bench.adjudicateSweep(
      Seq("q1" -> ((10.0, 2.0))), Map("q1" -> 1.0), Map("q1" -> 2.0),
      _ => Some((1.0, 2.0)), () => settles += 1)
    assert(flagged.isEmpty && wallSuspects.isEmpty && settles == 0)
    assert(retimed == List("q1" -> 1.0))        // improvement recorded
    assert(res.toMap.apply("q1") == ((1.0, 2.0)))
  }

  test("adjudicateSweep: burst passing between samples clears on the spaced pass") {
    val it = Iterator((9.0, 9.0), (1.0, 1.0))   // still hot, then quiet
    var settles = 0
    val (res, _, flagged, wallSuspects) = Bench.adjudicateSweep(
      Seq("q1" -> ((10.0, 10.0))), Map("q1" -> 1.0), Map("q1" -> 1.0),
      _ => Some(it.next()), () => settles += 1)
    assert(flagged.isEmpty && wallSuspects.isEmpty && settles == 1)
    assert(res.toMap.apply("q1") == ((1.0, 1.0)))
  }

  /** The COMMITTED record file must stay parseable by the
    * dependency-free regex reader — a round-12 refresh rewrote it with
    * a JSON serializer that inserts spaces after colons, which the
    * reader (correctly, for our own writer's format) rejects, silently
    * disabling the whole re-time pass for a full sweep. */
  test("committed BENCH_RECORD.json parses non-empty with its sf") {
    val f = new java.io.File("BENCH_RECORD.json")
    assume(f.exists(), "no committed record in this checkout")
    val line = scala.io.Source.fromFile(f).mkString
    val qs = Bench.parseRecordQueries(line)
    assert(qs.size > 100, s"record parsed to ${qs.size} queries — format drift")
    assert(Bench.parseRecordSf(line).nonEmpty, "record sf missing/unparseable")
    assert(Bench.parseRecordMap(line, "cpu").size > 100, "cpu column unparseable")
  }

  test("summary line carries the contention-adjudication scalars") {
    val l = Bench.summaryLine(Seq("q1" -> 1.0), 1.0, 0, "sf0.1",
      cpuSec = 7.5, nRetimed = 2, nLoadFlagged = 1)
    for (f <- Seq("\"cpu_sec\":7.50", "\"n_retimed\":2", "\"n_load_flagged\":1"))
      assert(l.contains(f), s"missing $f in $l")
    assert(l.length < 600)
  }
}
