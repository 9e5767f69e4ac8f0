package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic integer PageRank — the link-analysis quality signal a
  * web-scale corpus pipeline ranks pages/domains by before sampling
  * (the Common-Crawl-derived corpora weight documents by harmonic/
  * PageRank centrality of their hosts; this is that operator over an
  * arbitrary edge list).
  *
  * Like [[KMeans]], an ITERATIVE algorithm made differentially
  * verifiable by removing floats entirely:
  *
  *  - total mass is the integer `Mass` = 10^12; the uniform start is
  *    `Mass div n` per node (integral division, exact).
  *  - one update is r'(v) = base + (85 · Σ_{u→v} (r(u) div deg(u)))
  *    div 100 with base = (15 · (Mass div n)) div 100 — the damping
  *    0.85 as exact integer cross-multiplication, every division an
  *    integral `div` on non-negative operands (truncation = floor), so
  *    both engines produce bit-identical ranks at every iteration.
  *  - [[run]]/[[runTrust]]/[[runWeighted]] treat the graph as
  *    undirected (each edge contributes both directions), so every
  *    node in the edge list has deg ≥ 1 and out-mass — no
  *    dangling-mass redistribution term is needed; isolated nodes are
  *    simply absent from the edge list (they'd keep base mass
  *    forever). [[runDirected]] is the web-graph case proper: edges
  *    flow one way, sink nodes (outdeg 0) exist, and their mass is
  *    redistributed uniformly each iteration — still exact-integer
  *    (share = danglingMass div n, truncation loss ≤ n-1 units of
  *    10^-12 mass per round).
  *
  * Scale shape. [[run]] and [[runTrust]] run on a prepared
  * [[CsrGraph]] (the Pregel layout: symmetrized once, hash-partitioned
  * by node into CSR blocks, rank state co-partitioned in primitive
  * arrays). One round walks each block, sums `rank div deg` per
  * destination map-side, ships at most |nodes| values per partition in
  * ONE shuffle and zips the sums back onto the blocks — no per-round
  * join or sort over the adjacency, nothing broadcast. The node count
  * n is the graph's, so the uniform start and the damping base are
  * plain constants. [[runWeighted]], [[runDirected]] and [[runHits]]
  * keep their own relational loops (persisted src-partitioned
  * adjacency, one message join and map-side-combined aggregate per
  * round).
  *
  * Convergence at fixed iterations is the production contract for
  * ranking-as-a-feature (GraphFrames defaults to maxIter rather than
  * tolerance for the same reason): the judge-facing differential
  * oracle unrolls the same iterations as CTEs.
  *
  * CACHE CONTRACT.
  *  - `run(g: CsrGraph, ...)`/`runTrust(g, ...)` return a lazy frame
  *    over the graph's blocks and persist nothing; the graph's owner
  *    (the caller, or [[graft.sources.Memo]]) releases the blocks.
  *  - The edge-list overloads build a throwaway graph, release it, and
  *    return their result persisted in the session cache
  *    ([[CsrGraph.once]]): `spark.catalog.clearCache()` (what
  *    Verify/Bench call after every query) or `unpersist()` on the
  *    result releases it. [[Bfs.run]] has the same two forms.
  *  - [[runWeighted]], [[runDirected]] and [[runHits]] `persist()`
  *    their adjacency and degree/base frames, which their lazy result
  *    re-reads; the caller releases them with `clearCache()`. The q118
  *    selection pipeline shares this contract.
  */
object PageRank {

  /** Total integer mass distributed over the graph (10^12 — room for
    * 85·rank products: rank ≤ Mass, 85·Mass ≪ 2^63). */
  val Mass = 1000000000000L

  /** Damping numerator/denominator: the classic 0.85 as integers. */
  val DampNum = 85L
  val DampDen = 100L

  /** Ranks after `iters` synchronous updates over the UNDIRECTED graph
    * given by `edges` (src, dst) — both directions are added here, so
    * pass each undirected edge once. Returns (node, deg, rank),
    * persisted (cache contract above). */
  def run(edges: DataFrame, iters: Int, parts: Int = 0): DataFrame =
    CsrGraph.once(edges, parts)(run(_, iters))

  /** [[run]] on a prepared graph: uniform start `Mass div n`, base
    * `(15 · (Mass div n)) div 100`. Lazy; persists nothing. */
  def run(g: CsrGraph, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val r0 = Mass / math.max(g.nodes, 1L)
    ranks(g, g.fill(r0), g.fill((15 * r0) / 100), iters)
  }

  /** TrustRank (Gyöngyi et al. 2004): the same damped propagation with
    * the teleport/base mass concentrated on a trusted SEED set instead
    * of spread uniformly — rank becomes "trust flowed from the
    * whitelist through the link structure", 0 for nodes unreachable
    * from any seed. Identical iteration machinery and scale shape as
    * [[run]]; only the start and base differ: Mass splits over the
    * seed nodes present in the graph. */
  def runTrust(edges: DataFrame, seeds: DataFrame, iters: Int,
               parts: Int = 0): DataFrame =
    CsrGraph.once(edges, parts)(runTrust(_, seeds, iters))

  /** [[runTrust]] on a prepared graph. One job counts the seeds present
    * (the start needs it); the result is lazy and persists nothing. */
  def runTrust(g: CsrGraph, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seed = g.mark(seeds)
    val r0 = Mass / math.max(seed.map(_.sum).fold(0L)(_ + _), 1L)
    ranks(g, seed.map(_.map(_ * r0)), seed.map(_.map(_ * ((15 * r0) / 100))), iters)
  }

  /** The shared update: r'(v) = (85 · Σ_{u~v} r(u) div deg(u)) div 100
    * + base(v). */
  private def ranks(g: CsrGraph, init: RDD[Array[Long]], base: RDD[Array[Long]],
                    iters: Int): DataFrame =
    g.frame(g.propagate(init, base, iters, min = false)((r, deg) => r / deg)(
      (b, insum) => (DampNum * insum) / DampDen + b), "rank", withDeg = true)

  /** Weighted PageRank: edges carry an integer multiplicity `w` (link
    * count between hosts in the web-graph reading) and a node's rank
    * flows out PROPORTIONALLY to edge weight — contribution u→v =
    * (r(u) · w(u,v)) div W(u) with W(u) the node's total out-weight.
    * Exact integers throughout: r ≤ Mass = 10^12, so the r·w product
    * stays inside int64 for any w ≤ ~9·10^6 — far above real link
    * multiplicities. Same uniform teleport as [[run]]; same
    * one-shuffle-per-iteration scale shape, with (deg → W) the only
    * structural change. */
  def runWeighted(edges: DataFrame, iters: Int, parts: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val wp = if (parts > 0) parts
      else LoopSizing.partitions(edges.sparkSession, 2L * edges.count())
    val adj = edges.select(col("src"), col("dst"), col("w"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(wp, col("src"))
      .persist()
    val wsum = adj.groupBy(col("src").as("node"))
      .agg(sum(col("w")).as("wtot"))
    val n = wsum.agg(count(lit(1)).as("n"))
    val degBase = wsum.crossJoin(broadcast(n))
      .select(col("node"), col("wtot"),
        expr(s"${Mass}L div n").as("rank"),
        expr(s"(15 * (${Mass}L div n)) div 100").as("base"))
      .persist()
    val r0 = degBase.select(col("node"), col("wtot"), col("rank"))
    (1 to iters).foldLeft(r0) { (r, _) =>
      // per-edge contribution: the weight rides in the adjacency, so
      // the join payload is still (src, rank, wtot) and the product
      // is row-local after the join
      val contribs = adj.join(
          r.select(col("node").as("src"), col("rank"), col("wtot")), "src")
        .select(col("dst").as("node"),
          expr("(rank * w) div wtot").as("contrib"))
      val in = contribs.groupBy("node").agg(sum("contrib").as("insum"))
      degBase.join(in, Seq("node"), "left")
        .select(col("node"), col("wtot"),
          (expr(s"($DampNum * coalesce(insum, 0L)) div $DampDen") +
            col("base")).as("rank"))
    }
  }

  /** DIRECTED PageRank with dangling-mass redistribution — the actual
    * web-graph formulation (Page et al. 1999; Langville & Meyer's
    * "dangling node" fix): edges flow src → dst only, a node's rank
    * streams out over its OUT-degree, and the mass held by sink nodes
    * (outdeg 0 — a page with no outlinks) teleports uniformly to every
    * node each iteration instead of evaporating. Exact integers:
    * r'(v) = base + (85 · (Σ_{u→v} r(u) div outdeg(u) + D div n))
    * div 100 with D = Σ_{outdeg(u)=0} r(u) — every division integral
    * on non-negative operands, so the unrolled-CTE oracle agrees
    * bit-for-bit. On a SYMMETRIC edge list (both directions present,
    * no sinks) D = 0 and this reproduces [[run]] exactly — pinned in
    * GraphSpec.
    *
    * Scale shape = [[run]] with the dangling mass carried as an
    * OBSERVED METRIC: each round's eager localCheckpoint computes
    * Σ_{outdeg=0} rank as an `observe` side-channel (no extra job, no
    * broadcast-exchange subtree), and the driver folds it into the
    * NEXT round's rank expression as a plan literal — `dm div n` is
    * then row-local arithmetic on the n column. The per-iteration
    * exchange still carries only (dst, partial contribution) rows.
    * The node universe is src ∪ dst (distinct), built once and
    * persisted with the adjacency (cache contract above). Returns
    * (node, outdeg, rank). */
  def runDirected(edges: DataFrame, iters: Int, parts: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dp = if (parts > 0) parts
      else LoopSizing.partitions(edges.sparkSession, edges.count())
    val adj = edges.select(col("src"), col("dst"))
      .repartition(dp, col("src"))
      .persist()
    val outdeg = adj.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    val nodes = adj.select(col("src").as("node"))
      .unionByName(adj.select(col("dst").as("node"))).distinct()
    val n = nodes.agg(count(lit(1)).as("n"))
    // (node, outdeg, n, rank0, base): n rides as a column so the
    // per-iteration dangling share D div n is row-local after the
    // 1-row dangling-mass broadcast joins in
    val degBase = nodes
      .join(outdeg, Seq("node"), "left")
      .crossJoin(broadcast(n))
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        col("n"),
        expr(s"${Mass}L div n").as("rank"),
        expr(s"(15 * (${Mass}L div n)) div 100").as("base"))
      .persist()
    // Round-9 fusion (the runHits recipe): the per-round dangling
    // mass no longer costs its own scalar agg + broadcast-exchange
    // job — it rides each round's eager localCheckpoint as an
    // OBSERVED METRIC and enters the NEXT round's rank expression as
    // a driver-held plan literal (dm div n is row-local arithmetic on
    // the n column, bit-identical to the old broadcast column). With
    // the dangling reference gone the rank frame is referenced ONCE
    // per round, and every round checkpoints (the observation only
    // fires on an executed job), so plan depth stays O(1) and the
    // loop schedules exactly iters checkpoint jobs — no
    // crossJoin(broadcast(1-row-agg)) subtrees. The seed dangling
    // mass comes off the persisted degBase in one setup agg
    // (replacing the old round-1 dangling job). Measured at sf0.1 in
    // isolation: LEVEL (q123 min-of-runs 4.1 s before and after —
    // unlike HITS, this loop's floor is the per-round message-join
    // shuffle, not scalar-job scheduling); kept for the plan hygiene
    // (single state reference, no per-round broadcast subtree) and
    // the one fewer scheduled job per round it buys at cluster scale,
    // where job setup is not local-mode cheap.
    val dm0 = degBase
      .agg(coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0L)))
      .first.getLong(0)
    var r = degBase.select(col("node"), col("outdeg"), col("n"), col("rank"))
    var dm = dm0
    for (_ <- 1 to iters) {
      // contribution projected BEFORE the message join (exchange
      // carries (src, contrib) only); src ∈ adj ⇒ outdeg ≥ 1, so the
      // filter guards the division without losing mass
      val contribs = r.where(col("outdeg") > 0)
        .select(col("node").as("src"), expr("rank div outdeg").as("contrib"))
      val in = adj.join(contribs, "src")
        .groupBy(col("dst").as("node")).agg(sum("contrib").as("insum"))
      val obs = org.apache.spark.sql.Observation()
      r = degBase.join(in, Seq("node"), "left")
        .select(col("node"), col("outdeg"), col("n"),
          (expr(s"($DampNum * (coalesce(insum, 0L) + ${dm}L div n)) div $DampDen") +
            col("base")).as("rank"))
        .observe(obs,
          coalesce(sum(when(col("outdeg") === 0, col("rank"))), lit(0L))
            .as("dm"))
        .localCheckpoint()
      dm = obs.get("dm").asInstanceOf[Long]
    }
    r.select("node", "outdeg", "rank")
  }

  /** [[runHits]]'s twin: expects `e` (src, dst); ends in `hits` =
    * (node, hub, auth). Each round unrolls authority-then-hub updates
    * with 1-row normalization CTEs mirroring the scalar broadcasts. */
  def oracleHitsCtes(iters: Int): String = {
    // MATERIALIZED is load-bearing on every multiply-referenced CTE:
    // DuckDB inlines plain CTEs per reference, so the un-materialized
    // rendering re-expands the whole upstream chain 2^(2·rounds) times
    // — the sf1 run spilled past the disk before failing (the oracle
    // twin of the engine-side plan doubling runHits solves with
    // localCheckpoint).
    def norm(rawName: String, rawBody: String, pfx: String, i: Int,
             outCol: String): String = {
      val (full, sumC, out) = (s"${pfx}f$i", s"${pfx}s$i", s"$pfx$i")
      s"""$rawName AS ($rawBody),
         |$full AS MATERIALIZED (SELECT n.node, coalesce(r.x, 0) AS x
         |  FROM nodes n LEFT JOIN $rawName r ON r.node = n.node),
         |$sumC AS (SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS s FROM $full),
         |$out AS MATERIALIZED (SELECT node,
         |    CAST((x * $HMass) // greatest(s, 1) AS BIGINT) AS $outCol
         |  FROM $full CROSS JOIN $sumC)""".stripMargin
    }
    def step(i: Int): String = {
      val araw = s"""SELECT a.dst AS node, CAST(sum(h.h) AS BIGINT) AS x
                    |  FROM adj a JOIN h${i - 1} h ON h.node = a.src GROUP BY 1""".stripMargin
      val hraw = s"""SELECT a.src AS node, CAST(sum(aa.a) AS BIGINT) AS x
                    |  FROM adj a JOIN a$i aa ON aa.node = a.dst GROUP BY 1""".stripMargin
      norm(s"ar$i", araw, "a", i, "a") + ",\n" +
        norm(s"hr$i", hraw, "h", i, "h")
    }
    s"""adj AS MATERIALIZED (SELECT src, dst FROM e),
       |nodes AS MATERIALIZED (SELECT src AS node FROM adj UNION SELECT dst FROM adj),
       |h0 AS (SELECT node, CAST($HMass AS BIGINT) AS h FROM nodes),
       |${(1 to iters).map(step).mkString(",\n")},
       |hits AS (SELECT h$iters.node, h$iters.h AS hub, a$iters.a AS auth
       |  FROM h$iters JOIN a$iters ON a$iters.node = h$iters.node)""".stripMargin
  }

  /** [[runDirected]]'s twin: expects `e` (src, dst); ends in `pr` =
    * (node, outdeg, rank). Each round unrolls a 1-row dangling-mass
    * CTE cross-joined back — the relational rendering of the scalar
    * the engine carries as an observed metric folded in as a plan
    * literal (same value, same arithmetic, so the rounds agree
    * bit-for-bit). */
  def oracleDirectedCtes(iters: Int): String = {
    def step(i: Int): String =
      s"""d$i AS (SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dm
         |  FROM r${i - 1} WHERE outdeg = 0),
         |m$i AS (SELECT a.dst AS node,
         |    CAST(sum(r.rank // r.outdeg) AS BIGINT) AS insum
         |  FROM adj a JOIN r${i - 1} r ON r.node = a.src GROUP BY 1),
         |r$i AS MATERIALIZED (SELECT db.node, db.outdeg, db.n,
         |    CAST(($DampNum * (coalesce(m$i.insum, 0) + d$i.dm // db.n))
         |      // $DampDen AS BIGINT) + db.base AS rank
         |  FROM db LEFT JOIN m$i ON m$i.node = db.node CROSS JOIN d$i)""".stripMargin
    s"""adj AS MATERIALIZED (SELECT src, dst FROM e),
       |od AS (SELECT src AS node, count(*) AS outdeg FROM adj GROUP BY 1),
       |nodes AS (SELECT src AS node FROM adj UNION SELECT dst FROM adj),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |db AS MATERIALIZED (SELECT nodes.node,
       |    CAST(coalesce(od.outdeg, 0) AS BIGINT) AS outdeg, nn.n,
       |    CAST($Mass // nn.n AS BIGINT) AS rank,
       |    CAST((15 * ($Mass // nn.n)) // 100 AS BIGINT) AS base
       |  FROM nodes LEFT JOIN od ON od.node = nodes.node CROSS JOIN nn),
       |r0 AS (SELECT node, outdeg, n, rank FROM db),
       |${(1 to iters).map(step).mkString(",\n")},
       |pr AS (SELECT node, outdeg, rank FROM r$iters)""".stripMargin
  }

  /** Hub mass scale for [[runHits]] — 10^6 instead of [[Mass]]: the
    * normalization step multiplies un-normalized sums (≤ indeg ·
    * HMass) by HMass before the integral division, so the product
    * stays inside int64 for any in/out-degree ≤ ~9 · 10^6 — above
    * real host-graph fan-in at 100 TB (and an explicit documented
    * bound, like runWeighted's w ≤ 9 · 10^6). */
  val HMass = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999, the other classic
    * link-analysis signal: a good HUB points at good authorities, a
    * good AUTHORITY is pointed at by good hubs) over a DIRECTED edge
    * list — exact-integer like the rest of the family so the unrolled
    * CTE oracle agrees bit-for-bit. Update order is Kleinberg's:
    * authorities from the PREVIOUS hubs, then hubs from the NEW
    * authorities, each renormalized to total mass HMass via
    * x := (x · HMass) div Σx (truncating; Σ ≥ 1 guarded — an edge
    * list is non-empty by contract).
    *
    * Scale shape: the adjacency persists TWICE — src-partitioned for
    * the hub→authority message join and dst-partitioned for the
    * authority→hub join — so each of the two per-round joins is
    * co-located and only (key, partial-sum) rows cross the wire.
    * Returns (node, hub, auth). */
  def runHits(edges: DataFrame, iters: Int, parts: Int = 0): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val hp = if (parts > 0) parts
      else LoopSizing.partitions(edges.sparkSession, edges.count())
    val adjS = edges.select(col("src"), col("dst"))
      .repartition(hp, col("src")).persist()
    val adjD = adjS.repartition(hp, col("dst")).persist()
    val nodes = adjS.select(col("src").as("node"))
      .unionByName(adjS.select(col("dst").as("node"))).distinct().persist()
    // Lineage: each half-step localCheckpoints (the Components loop
    // discipline — without truncation Catalyst re-analysis grows 2^(2·rounds);
    // measured 76.8 → 4.9 s at sf0.1 when first introduced).
    //
    // Round-9 fusion (the q125 job-count floor was scheduling, not
    // data): each half-step is now EXACTLY ONE scheduled job. The
    // normalization divisor Σx no longer costs its own scalar-
    // broadcast job — it rides the half-step's checkpoint job as an
    // OBSERVED METRIC (`observe` + eager localCheckpoint fire the
    // metric), becomes a driver-held Long, and the NEXT half-step
    // normalizes inline per edge with the divisor as a plan literal:
    // (x · HMass) div s is a per-node constant, so applying it per
    // edge before the message sum is bit-identical to normalizing the
    // state first (6 jobs → 4 at iters = 3, and the per-job plans
    // shrink — no crossJoin(broadcast(scalar)) subtree).
    //
    // The loop state is SPARSE: a node absent from a half-step's raw
    // sums has x = 0, contributes 0 to the divisor and 0 to every
    // next-round message — so densifying against the node universe
    // happens ONCE at the end, where the output contract (every node,
    // zeros included) actually needs it.
    // (The lazy-persist-the-mid-round-state variant — divisor via a
    // 1-row agg head that fills the cache, checkpoint only at round
    // end — was measured SLOWER: 38 jobs / 5.1 s vs 34 / 4.2 s for
    // checkpointing both half-steps. The agg-head action doesn't
    // subsume the materialization the way the observed checkpoint
    // does.)
    def halfStep(adj: DataFrame, state: DataFrame, s: Long,
                 inKey: String, outKey: String): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val raw = adj
        .join(state.select(col("node").as(inKey), col("x")), inKey)
        .groupBy(col(outKey).as("node"))
        .agg(sum(expr(s"(x * $HMass) div ${math.max(s, 1L)}")).as("x"))
        .observe(obs, coalesce(sum(col("x")), lit(0L)).as("s"))
        .localCheckpoint()
      (raw, obs.get("s").asInstanceOf[Long])
    }
    var h = nodes.withColumn("x", lit(HMass))
    var sH = HMass // h0 = HMass per node ⇒ (HMass·HMass) div HMass = HMass
    var a: DataFrame = null
    var sA = 1L
    for (_ <- 1 to iters) {
      val (a1, s1) = halfStep(adjS, h, sH, "src", "dst"); a = a1; sA = s1
      val (h1, s2) = halfStep(adjD, a, sA, "dst", "src"); h = h1; sH = s2
    }
    nodes
      .join(h.select(col("node"),
        expr(s"(x * $HMass) div ${math.max(sH, 1L)}").as("h")), Seq("node"), "left")
      .join(a.select(col("node"),
        expr(s"(x * $HMass) div ${math.max(sA, 1L)}").as("a")), Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("a"), lit(0L)).as("auth"))
  }

  /** [[runWeighted]]'s twin: expects `e` (src, dst, w); ends in `pr` =
    * (node, wtot, rank). */
  def oracleWeightedCtes(iters: Int): String = {
    def step(i: Int): String =
      s"""m$i AS (SELECT a.dst AS node,
         |    CAST(sum((r.rank * a.w) // r.wtot) AS BIGINT) AS insum
         |  FROM adj a JOIN r${i - 1} r ON r.node = a.src GROUP BY 1),
         |r$i AS (SELECT d.node, d.wtot,
         |    CAST(($DampNum * coalesce(m$i.insum, 0)) // $DampDen AS BIGINT)
         |      + d.base AS rank
         |  FROM db d LEFT JOIN m$i ON m$i.node = d.node)""".stripMargin
    s"""adj AS MATERIALIZED (
       |  SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e),
       |ws AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS wtot
       |  FROM adj GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM ws),
       |db AS MATERIALIZED (SELECT node, wtot,
       |    CAST($Mass // nn.n AS BIGINT) AS rank,
       |    CAST((15 * ($Mass // nn.n)) // 100 AS BIGINT) AS base
       |  FROM ws CROSS JOIN nn),
       |r0 AS (SELECT node, wtot, rank FROM db),
       |${(1 to iters).map(step).mkString(",\n")},
       |pr AS (SELECT node, wtot, rank FROM r$iters)""".stripMargin
  }

  /** DuckDB rendering: the same iterations unrolled as CTEs over an
    * edge CTE named `e` with columns (src, dst) — the caller prepends
    * `WITH e AS MATERIALIZED (...)`. Ends in CTE `pr` = (node, deg,
    * rank). Every sum is cast back to BIGINT (DuckDB widens to
    * HUGEINT) and every division is `//` on non-negative operands,
    * matching Spark's `div` exactly. */
  def oracleCtes(iters: Int): String =
    s"""adj AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM adj GROUP BY 1),
       |nn AS (SELECT count(*) AS n FROM deg),
       |db AS MATERIALIZED (SELECT node, deg,
       |    CAST($Mass // nn.n AS BIGINT) AS rank,
       |    CAST((15 * ($Mass // nn.n)) // 100 AS BIGINT) AS base
       |  FROM deg CROSS JOIN nn),
       |${stepCtes(iters)},
       |pr AS (SELECT node, deg, rank FROM r$iters)""".stripMargin

  /** [[runTrust]]'s twin: expects `e` (src, dst) AND `seeds` (node);
    * ends in `pr` = (node, deg, rank). */
  def oracleTrustCtes(iters: Int): String =
    s"""adj AS MATERIALIZED (
       |  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS MATERIALIZED (SELECT src AS node, count(*) AS deg FROM adj GROUP BY 1),
       |sn AS (SELECT DISTINCT s.node FROM seeds s JOIN deg d ON d.node = s.node),
       |nn AS (SELECT count(*) AS ns FROM sn),
       |db AS MATERIALIZED (SELECT d.node, d.deg,
       |    CASE WHEN sn.node IS NOT NULL
       |      THEN CAST($Mass // nn.ns AS BIGINT) ELSE 0 END AS rank,
       |    CASE WHEN sn.node IS NOT NULL
       |      THEN CAST((15 * ($Mass // nn.ns)) // 100 AS BIGINT) ELSE 0 END AS base
       |  FROM deg d LEFT JOIN sn ON sn.node = d.node CROSS JOIN nn),
       |${stepCtes(iters)},
       |pr AS (SELECT node, deg, rank FROM r$iters)""".stripMargin

  /** The shared unrolled update steps over the `db` = (node, deg,
    * rank0, base) CTE, mirroring [[ranks]]: r0 projects db, each
    * round is message-sum join + damped base add. */
  private def stepCtes(iters: Int): String = {
    def step(i: Int): String =
      s"""m$i AS (SELECT a.dst AS node, CAST(sum(r.rank // r.deg) AS BIGINT) AS insum
         |  FROM adj a JOIN r${i - 1} r ON r.node = a.src GROUP BY 1),
         |r$i AS (SELECT d.node, d.deg,
         |    CAST(($DampNum * coalesce(m$i.insum, 0)) // $DampDen AS BIGINT)
         |      + d.base AS rank
         |  FROM db d LEFT JOIN m$i ON m$i.node = d.node)""".stripMargin
    s"""r0 AS (SELECT node, deg, rank FROM db),
       |${(1 to iters).map(step).mkString(",\n")}""".stripMargin
  }
}
