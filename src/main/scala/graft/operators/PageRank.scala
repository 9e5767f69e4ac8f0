package graft.operators

import graft.operators.CsrGraph.{All, Along, In, Out, Sum}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Deterministic integer PageRank — the link-analysis quality signal a
  * web-scale corpus pipeline ranks pages/domains by before sampling
  * (the Common-Crawl-derived corpora weight documents by harmonic/
  * PageRank centrality of their hosts; this is that operator over an
  * arbitrary edge list) — and its family: TrustRank, weighted and
  * directed PageRank, HITS.
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
  *  - [[run]] and [[runTrust]] treat the graph as undirected (each
  *    edge contributes both directions), so every node in the edge
  *    list has deg ≥ 1 and out-mass — no dangling-mass
  *    redistribution term is needed; isolated nodes are simply absent
  *    from the edge list (they'd keep base mass forever).
  *    [[runDirected]] is the web-graph case proper: edges flow one way,
  *    sink nodes (outdeg 0) exist, and their mass is redistributed
  *    uniformly each iteration — still exact-integer (share =
  *    danglingMass div n, truncation loss ≤ n-1 units of 10^-12 mass
  *    per round).
  *
  * Scale shape. Every member runs on a prepared [[CsrGraph]] (the
  * Pregel layout: symmetrized once, hash-partitioned by node into CSR
  * blocks with a direction split and optional weights per row, state
  * co-partitioned in primitive arrays). One round walks each block,
  * combines the messages per destination map-side, ships at most
  * |nodes| values per partition in ONE shuffle and zips the sums back
  * onto the blocks — no per-round join or sort over the adjacency,
  * nothing broadcast. The node count n is the graph's, so the uniform
  * start and the damping base are plain constants. [[run]] and
  * [[runTrust]] send along every row and run all rounds in one job;
  * [[runDirected]] sends along out-rows, and [[runHits]] alternates
  * out-rows (hub → authority) and in-rows (authority → hub). Their
  * per-round scalars — the dangling mass, the normaliser — are driver
  * Longs: one action on the state arrays per round or half-step,
  * folded into the next round's closures.
  *
  * Convergence at fixed iterations is the production contract for
  * ranking-as-a-feature (GraphFrames defaults to maxIter rather than
  * tolerance for the same reason): the judge-facing differential
  * oracle unrolls the same iterations as CTEs.
  *
  * CACHE CONTRACT (the whole family, [[Bfs]], [[KCore]], [[HyperAnf]]
  * and [[LabelProp]]): every member takes a prepared graph, persists
  * nothing and returns a frame over the graph's blocks, lazy except for
  * the per-round scalar jobs; the graph's owner (the caller, or
  * [[graft.sources.Memo]]) releases the blocks.
  */
object PageRank {

  /** Total integer mass distributed over the graph (10^12 — room for
    * 85·rank products: rank ≤ Mass, 85·Mass ≪ 2^63). */
  val Mass = 1000000000000L

  /** Damping numerator/denominator: the classic 0.85 as integers. */
  val DampNum = 85L
  val DampDen = 100L

  /** Ranks after `iters` synchronous updates over `g`, every row read
    * as an undirected edge (a graph built from (src, dst) holds both
    * directions, so pass each undirected edge once): uniform start
    * `Mass div n`, base `(15 · (Mass div n)) div 100`. Returns
    * (node, deg, rank); lazy, persists nothing.
    *
    * WEIGHTED PageRank is this call on a graph built with a `w`
    * column: edges carry an integer multiplicity `w` (link count
    * between hosts in the web-graph reading) and a node's rank flows
    * out PROPORTIONALLY to edge weight — contribution u→v =
    * (r(u) · w(u,v)) div W(u) with W(u) the node's total weight, which
    * `deg` then holds. Exact integers throughout: r ≤ Mass = 10^12, so
    * the r·w product stays inside int64 for any w ≤ ~9·10^6 — far
    * above real link multiplicities. */
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
    * seed nodes present in the graph (column `node` of `seeds`).
    * Returns (node, deg, rank). One job counts the seeds present (the
    * start needs it); the result is lazy and persists nothing. */
  def runTrust(g: CsrGraph, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val seed = g.mark(seeds)
    val r0 = Mass / math.max(total(seed), 1L)
    ranks(g, seed.map(_.map(_ * r0)), seed.map(_.map(_ * ((15 * r0) / 100))), iters)
  }

  /** The shared update: r'(v) = (85 · Σ_{u~v} r(u) div deg(u)) div 100
    * + base(v). */
  private def ranks(g: CsrGraph, init: RDD[Array[Long]], base: RDD[Array[Long]],
                    iters: Int): DataFrame =
    g.frame("deg" -> g.degrees(All),
      "rank" -> g.propagate(init, base, iters, All, Sum)((r, deg) => r / deg)(
        (b, insum) => (DampNum * insum) / DampDen + b))

  /** Σ of a state over every node: one job. */
  private def total(x: RDD[Array[Long]]): Long = x.map(_.sum).fold(0L)(_ + _)

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
    * GraphSpec. Returns (node, outdeg, rank).
    *
    * On the graph each round sends along the out-rows, and D is a
    * driver Long taken from the previous round's ranks (one job per
    * round). The node universe is the graph's, src ∪ dst. Persists
    * nothing. */
  def runDirected(g: CsrGraph, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val n = math.max(g.nodes, 1L)
    val r0 = Mass / n
    val base = g.fill((15 * r0) / 100)
    val outdeg = g.degrees(Out)
    val rank = (1 to iters).foldLeft(g.fill(r0)) { (r, _) =>
      val sinks = r.zipPartitions(outdeg) { (rs, ds) =>
        val (x, d) = (rs.next(), ds.next())
        Iterator.single(x.indices.iterator.filter(d(_) == 0L).map(x(_)).sum)
      }
      val share = sinks.fold(0L)(_ + _) / n
      g.propagate(r, base, 1, Out, Sum)((x, deg) => x / deg)(
        (b, insum) => (DampNum * (insum + share)) / DampDen + b)
    }
    g.frame("outdeg" -> outdeg, "rank" -> rank)
  }

  /** [[runHits]]'s twin: expects `e` (src, dst); ends in `hits` =
    * (node, hub, auth). Each round unrolls authority-then-hub updates
    * with 1-row normalization CTEs mirroring the engine's driver-held
    * normalisers. */
  def oracleHitsCtes(iters: Int): String = {
    // MATERIALIZED is load-bearing on every multiply-referenced CTE:
    // DuckDB inlines plain CTEs per reference, so the un-materialized
    // rendering re-expands the whole upstream chain 2^(2·rounds) times
    // — the sf1 run spilled past the disk before failing.
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
    * the engine carries as a driver Long (same value, same arithmetic,
    * so the rounds agree bit-for-bit). */
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
    * bound, like weighted [[run]]'s w ≤ 9 · 10^6). */
  val HMass = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999, the other classic
    * link-analysis signal: a good HUB points at good authorities, a
    * good AUTHORITY is pointed at by good hubs) over a DIRECTED edge
    * list — exact-integer like the rest of the family so the unrolled
    * CTE oracle agrees bit-for-bit. Update order is Kleinberg's:
    * authorities from the PREVIOUS hubs, then hubs from the NEW
    * authorities, each renormalized to total mass HMass via
    * x := (x · HMass) div Σx (truncating; Σ ≥ 1 guarded — an edge
    * list is non-empty by contract). Returns (node, hub, auth).
    *
    * On the graph: two kernels over the same blocks per round —
    * authorities along the out-rows, hubs along the in-rows. A state
    * holds the raw sums; its normaliser Σx is a driver Long (one job
    * per half-step), and the next half-step normalizes per message,
    * which equals normalizing the state first since (x · HMass) div Σx
    * is per node. Persists nothing. */
  def runHits(g: CsrGraph, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val norm = (x: Long, s: Long) => (x * HMass) / math.max(s, 1L)
    def half(x: RDD[Array[Long]], s: Long, along: Along): RDD[Array[Long]] =
      g.propagate(x, x, 1, along, Sum)((v, _) => norm(v, s))((_, insum) => insum)
    // h0 = HMass per node under normaliser HMass: its messages are HMass
    var (h, sH) = (g.fill(HMass), HMass)
    var (a, sA) = (h, 1L)
    for (_ <- 1 to iters) {
      a = half(h, sH, Out); sA = total(a)
      h = half(a, sA, In); sH = total(h)
    }
    g.frame("hub" -> h.map(_.map(norm(_, sH))), "auth" -> a.map(_.map(norm(_, sA))))
  }

  /** Weighted [[run]]'s twin: expects `e` (src, dst, w); ends in `pr` =
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
