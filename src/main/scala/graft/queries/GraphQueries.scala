package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Bfs, CsrGraph, HyperAnf, KCore, LabelProp, PageRank, TopK, Triangles}
import graft.sources.{Memo, Tables}

/** Graph / link-analysis extension queries: deterministic integer
  * PageRank and its family, multi-source BFS seed distance and
  * centrality-weighted sampling over the customer–supplier purchase
  * graph derived from the fact tables — the link-structure quality
  * signals a web-corpus curation pipeline ranks and selects documents
  * by (host centrality, hop distance from a trusted whitelist), with
  * the fixture's bipartite purchase relation standing in for the host
  * graph — and triangle, k-core, HyperANF, assortativity and community
  * signals over the supplier co-purchase kNN graph. The message-passing
  * loops run on the [[graft.operators.CsrGraph]] kernel, one memoized
  * graph per edge list ([[purchaseGraph]], [[knnGraph]]); engine,
  * exact-arithmetic and 100 TB analysis in the operators' scaladoc.
  */
object GraphQueries {

  /** Synchronous update rounds — fixed, mirrored in the unrolled
    * oracle (the GraphFrames maxIter contract). */
  private val Iters = 3

  /** q216: communities reported (largest-first TakeOrdered cap). */
  private val TopCommunities = 20

  /** q229: HyperANF rounds (N(h) reported for h = 0..AnfRounds). */
  private val AnfRounds = 4

  /** The q229 curve, shared with q235's derivations — see the q229
    * entry's comment for the algorithm and scale shape. */
  private def hyperAnf(s: SparkSession, dir: String): DataFrame = {
    import MiningQueries.{h48, hllEst, HllM, HllNum}
    val e = knnEdges(s, dir)
    // a node listed once per edge end renders the same register each time
    val seeds = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .withColumn("h", h48(concat(lit("anf:"), col("node").cast("string"))))
      .select(col("node"), (col("h") % HllM).as("lane"),
        when(expr(s"h div $HllM") === 0, lit(43L))
          .otherwise(lit(43L) - length(bin(expr(s"h div $HllM")))).as("value"))
    HyperAnf.run(knnGraph(s, dir), seeds, HllM, AnfRounds)
      .select(col("h"),
        expr("""aggregate(regs, CAST(0 AS BIGINT), (a, rho) ->
          |  a + shiftleft(CAST(1 AS BIGINT), 30 - least(CAST(rho AS INT), 30)))""".stripMargin)
          .as("s"),
        size(filter(col("regs"), _ === 0L)).cast("long").as("v"))
      .withColumn("raw", expr(s"$HllNum div (1000 * s)"))
      .select(col("h"), hllEst(col("raw"), col("v")).as("est"))
      .groupBy("h").agg(count(lit(1)).as("n_nodes"), sum("est").as("est_pairs"))
      .select(col("h"), col("n_nodes"), col("est_pairs"),
        expr("(CAST(1000 AS BIGINT) * est_pairs) div n_nodes").as("avg_ball_milli"))
      .orderBy("h")
  }

  /** q169: negative-sampling geometry — candidates drawn per source
    * and negatives kept after edge rejection. */
  private val NegCand = 8
  private val NegK = 2

  /** BFS rounds. OUTPUT CONTRACT: dist = -1 means "not reached within
    * BfsIters rounds", NOT "disconnected" — a node more than BfsIters
    * alternations from every seed reports the sentinel even when a
    * longer path exists. 4 suffices on the fixture's dense bipartite
    * purchase graph (diameter ≈ 2–4 between connected nodes) and keeps
    * the unrolled oracle short; a deployment chasing true
    * reachability raises it toward the graph diameter (a round of the
    * CsrGraph kernel costs one |nodes|-bounded shuffle — see
    * Bfs.scala). The differential stays exact at any value because
    * the oracle unrolls the same number of rounds. */
  private val BfsIters = 4

  /** Neighbors kept per node in q140's kNN co-purchase graph — the
    * degree bound that keeps the similarity graph sparse at any data
    * scale (see the q140 binding comment). */
  private val TriK = 5

  /** q142: core threshold (> TriK so peeling is selective — see the
    * binding comment) and synchronous peel rounds. */
  private val KCoreK = 6
  private val KCoreRounds = 6

  /** q144: walk length (skip-gram pairs per start node). */
  private val WalkSteps = 3

  /** Node encoding for the bipartite purchase graph: customers at
    * 2·custkey, suppliers at 2·suppkey+1 — disjoint integer ids
    * without a string tag in the shuffle key.
    *
    * Held in [[Memo]]: the purchase-graph queries share this SAME edge
    * list, as a production pipeline computing many link signals builds
    * the graph once. Its readers are [[purchaseParts]],
    * [[purchaseGraph]] (the seven kernel queries) and q169. The lazy
    * localCheckpoint runs the build (orders⋈lineitem + distinct — two
    * fact scans and two shuffles) on the first consumer; every later
    * query reads the materialized edge blocks. The edge MULTISET is deterministic and
    * every consumer is order-insensitive (exact-integer folds with
    * total tie orders); only the physical row layout differs. */
  private def purchaseEdges(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "purchaseEdges") {
      val orders = Tables.load(s, dir, "orders")
      val lineitem = Tables.load(s, dir, "lineitem")
      orders.join(lineitem, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .localCheckpoint(false)
    }

  /** Size-derived loop partitions for the purchase/kNN graphs
    * ([[graft.operators.LoopSizing]]), held in [[Memo]] with the edges
    * so the count job (over the checkpointed edge blocks) runs once
    * per fixture instead of once per bench run. */
  private def purchaseParts(s: SparkSession, dir: String): Int =
    Memo(s, dir, "purchaseParts") {
      graft.operators.LoopSizing.partitions(s, 2L * purchaseEdges(s, dir).count())
    }

  private def knnParts(s: SparkSession, dir: String): Int =
    Memo(s, dir, "knnParts") {
      graft.operators.LoopSizing.partitions(s, 2L * knnEdges(s, dir).count())
    }

  /** The purchase graph prepared for the message-passing kernel
    * ([[graft.operators.CsrGraph]]), held in [[Memo]] next to the edges:
    * q112, q113, q114, q119, q123, q125 and q126 share one build per
    * (session, fixture) instead of re-symmetrizing 2·|edges| rows per
    * call. Edges run customer → supplier (out-rows at the customer),
    * which the directed members read; it carries no weights. */
  private def purchaseGraph(s: SparkSession, dir: String): CsrGraph =
    Memo(s, dir, "purchaseGraph") {
      CsrGraph(purchaseEdges(s, dir), purchaseParts(s, dir))
    }

  /** q121's weighted twin of [[purchaseGraph]]: edge multiplicity
    * w = distinct orders between the pair, one weight per row, held
    * like it. */
  private def weightedGraph(s: SparkSession, dir: String): CsrGraph =
    Memo(s, dir, "weightedGraph") {
      val orders = Tables.load(s, dir, "orders")
      val lineitem = Tables.load(s, dir, "lineitem")
      CsrGraph(orders.join(lineitem, col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .agg(countDistinct(col("o_orderkey")).as("w")), purchaseParts(s, dir))
    }

  /** The oracle twin of [[purchaseEdges]], as the `e` CTE body. */
  private val purchaseEdgesSql =
    """SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""".stripMargin

  /** The sparsified co-purchase similarity graph shared by q140/q142:
    * per-order supplier sets expand to co-occurrence pairs INSIDE the
    * projection (one map-combinable shuffle on the order key — never a
    * fact self-join), each node keeps its TriK strongest partners
    * through TopKPerKeyExec, and the selections symmetrize into an
    * undirected (u < v) kNN edge list with degree ≤ 2·TriK at ANY
    * scale — the sparsification that makes downstream triangle/core
    * analytics O(|V|) where the raw projection densifies
    * quadratically. Held like [[purchaseEdges]]: q140, q144, q183,
    * q216, q226 and q229's seeds read it, and [[knnGraph]] is built
    * from it. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    Memo(s, dir, "knnEdges") {
      val li = Tables.load(s, dir, "lineitem")
      val pw = li.groupBy(col("l_orderkey").as("ok"))
        .agg(sort_array(collect_set(col("l_suppkey"))).as("sks"))
        .select(explode(expr(
          """flatten(transform(sks, (a, i) ->
            |  transform(slice(sks, i + 2, size(sks)),
            |    b -> named_struct('u', a, 'v', b))))""".stripMargin)).as("p"))
        .groupBy(col("p.u").as("u"), col("p.v").as("v"))
        .agg(count(lit(1)).as("w"))
      val inc = pw.select(col("u").as("node"), col("v").as("nbr"), col("w"))
        .unionAll(pw.select(col("v").as("node"), col("u").as("nbr"), col("w")))
      TopK.perKey(inc, Seq("node"),
          Seq("w" -> false, "nbr" -> true), k = TriK)
        .select(least(col("node"), col("nbr")).as("u"),
          greatest(col("node"), col("nbr")).as("v"))
        .distinct()
        .localCheckpoint(false)
    }

  /** The kNN graph prepared for the kernel, held in [[Memo]] next to
    * [[knnEdges]]: q142, q216, q229 and q235 share one build per
    * (session, fixture), like [[purchaseGraph]]. */
  private def knnGraph(s: SparkSession, dir: String): CsrGraph =
    Memo(s, dir, "knnGraph") {
      CsrGraph(knnEdges(s, dir).select(col("u").as("src"), col("v").as("dst")),
        knnParts(s, dir))
    }

  /** [[knnEdges]] as oracle CTEs ending in `e(u, v)`. */
  private def knnEdgesSql: String =
    s"""os AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |  FROM lineitem),
       |pw AS (
       |  SELECT a.sk AS u, b.sk AS v, CAST(count(*) AS BIGINT) AS w
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk GROUP BY 1, 2),
       |inc AS (
       |  SELECT u AS node, v AS nbr, w FROM pw
       |  UNION ALL SELECT v, u, w FROM pw),
       |sel AS (
       |  SELECT node, nbr FROM (
       |    SELECT node, nbr, row_number() OVER (
       |      PARTITION BY node ORDER BY w DESC, nbr) AS rn FROM inc)
       |  WHERE rn <= $TriK),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT least(node, nbr) AS u, greatest(node, nbr) AS v
       |  FROM sel)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // HYPERANF NEIGHBORHOOD FUNCTION (q229): N(h) — how many nodes are
    // within h hops of each node, summed over the graph — via the
    // HyperANF recipe (Boldi, Rosa & Vigna, WWW 2011): every node
    // carries an HLL register set seeded with itself; each round every
    // node max-merges its neighbors' registers; the per-round estimate
    // sum IS the neighborhood function, whose growth curve gives the
    // effective-diameter/expansion profile that says whether a
    // similarity graph is one small world (dedup components will
    // chain) or many islands. Deterministic end-to-end: the q177
    // register representation (content-addressed 48-bit hash → (reg,
    // rho), integer rho, max-merge) makes the "approximate" sketch
    // bit-exact and oracle-checkable — the DuckDB twin unrolls the
    // same rounds. The seed registers are rendered here (h48, the
    // oracle's md5); the rounds are graft.operators.HyperAnf on the
    // memoized kNN CsrGraph (64 registers per node at any ball size —
    // the point of ANF-by-sketch vs exact pair BFS); the estimates are
    // ONE rollup keyed on h over each node's per-round (s, v).
    "q229_hyperanf" -> ((s, dir) => hyperAnf(s, dir)),

    // EFFECTIVE DIAMETER & EXPANSION PROFILE (q235): the headline
    // numbers read off q229's neighborhood function — per hop the
    // growth ratio N(h)/N(h−1) (the expansion rate whose decay locates
    // the graph's mixing horizon), the share of the h_max ball already
    // reached, and the standard 90 %-effective-diameter flag (the
    // smallest h with 10·N(h) ≥ 9·N(h_max) — Boldi et al.'s reporting
    // convention). Pure derivation over the AnfRounds+1-row curve —
    // windows on a constant-size frame; all ratios exact integer ppm.
    "q235_effective_diameter" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byH = Window.orderBy("h")
      val nf = hyperAnf(s, dir)
        .withColumn("prev", lag("est_pairs", 1).over(byH))
        .withColumn("n_max", max("est_pairs").over(Window.partitionBy()))
        .withColumn("eff", lit(10L) * col("est_pairs") >= lit(9L) * col("n_max"))
      val firstEff = nf.where(col("eff"))
        .agg(min("h").as("eff_h"))
      nf.crossJoin(broadcast(firstEff))
        .select(col("h"), col("est_pairs"),
          when(col("prev").isNotNull && col("prev") > 0,
            expr("(CAST(1000000 AS BIGINT) * est_pairs) div prev"))
            .otherwise(lit(null).cast("long")).as("growth_ppm"),
          expr("(CAST(1000000 AS BIGINT) * est_pairs) div n_max")
            .as("reached_ppm"),
          (col("h") === col("eff_h")).as("is_effective_diameter"))
        .orderBy("h")
    }),

    // DEGREE ASSORTATIVITY (q226): Newman's degree-correlation
    // coefficient over the kNN similarity graph — do high-degree
    // nodes attach to high-degree nodes (r > 0, social-network shape:
    // template mills linking template mills) or to low-degree ones
    // (r < 0, hub-and-spoke shape)? The number that says whether
    // degree-targeted curation (drop the hubs) removes a community or
    // a star. Exact integer moments over the 2m edge orientations
    // (deg(u), deg(v)) — Pearson's r in the exact cross-multiplied
    // form, only the final rendering divides (fixed-association
    // doubles + floor). Scale shape: one map-combinable degree
    // rollup; the deg⋈edges double attach goes through temp views
    // (the ambiguous-self-join convention) and shuffles on node —
    // linear; the moments are ONE scalar rollup; output is one row.
    "q226_assortativity" -> ((s, dir) => {
      knnEdges(s, dir).createOrReplaceTempView("q226_edges")
      s.sql("""
        |WITH adj AS (SELECT u AS a, v AS b FROM q226_edges
        |  UNION ALL SELECT v, u FROM q226_edges),
        |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
        |  FROM adj GROUP BY a),
        |pairs AS (SELECT da.d AS dx, db.d AS dy
        |  FROM adj JOIN deg da ON da.node = adj.a
        |  JOIN deg db ON db.node = adj.b),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS mm,
        |    CAST(sum(dx) AS BIGINT) AS sx,
        |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
        |    CAST(sum(dx * dx) AS BIGINT) AS sxx
        |  FROM pairs)
        |SELECT mm AS n_orientations, sx, sxy, sxx,
        |  mm * sxy - sx * sx AS r_num, mm * sxx - sx * sx AS r_den,
        |  CASE WHEN mm * sxx - sx * sx > 0 THEN
        |    CAST(floor(CAST(1000000 AS DOUBLE) *
        |      CAST(mm * sxy - sx * sx AS DOUBLE) /
        |      CAST(mm * sxx - sx * sx AS DOUBLE) +
        |      CAST(0.5 AS DOUBLE)) AS BIGINT)
        |  ELSE 0 END AS r_ppm
        |FROM m""".stripMargin)
    }),

    // MODULARITY AUDIT (q216): Newman–Girvan modularity of label-
    // propagation communities over the supplier co-purchase kNN
    // similarity graph (q140/q142's sparsified edge list — the dense
    // bipartite purchase graph LPA-collapses into two blobs, so the
    // audit runs where community structure can exist) — the standard
    // "did the clustering find real structure" score (Q > 0 means
    // denser-than-chance intra-community wiring; Q ≈ 0 means the
    // partition is noise). Exact integers end-to-end: Q·4m² =
    // Σ_c (4m·e_c − d_c²), so each community's q_num and the global
    // numerator are int64 (safe while m < ~10⁹ edges; past that drop
    // to a coarser fixed point); only the final ppm rendering divides,
    // in doubles with floor (negative-safe — `div`/`//` disagree on
    // negative operands). Scale shape: the labels are LPA rounds on
    // the memoized kNN CsrGraph (q142's); the label join is the e⋈lp
    // equi-join twice (shuffles on node — linear); community stats are
    // map-combinable rollups; the global numerator is ONE scalar agg
    // broadcast back; output is the 20 largest communities via
    // TakeOrdered, never a global sort. The e_in self-join of labels
    // goes through temp views (the DedupQueries ambiguous-self-join
    // convention).
    "q216_modularity" -> ((s, dir) => {
      val e = knnEdges(s, dir)
        .select(col("u").as("src"), col("v").as("dst"))
      val labels = LabelProp.run(knnGraph(s, dir), Iters)
      e.createOrReplaceTempView("q216_edges")
      labels.createOrReplaceTempView("q216_labels")
      val ein = s.sql(
        """SELECT la.label AS community, CAST(count(*) AS BIGINT) AS e_in
          |FROM q216_edges e
          |JOIN q216_labels la ON la.node = e.src
          |JOIN q216_labels lb ON lb.node = e.dst AND lb.label = la.label
          |GROUP BY la.label""".stripMargin)
      val mRow = e.agg(count(lit(1)).as("m"))
      val deg = e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val cs = labels.join(deg, "node")
        .groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("n_nodes"), sum("deg").as("d_sum"))
      val g = cs.join(ein, Seq("community"), "left")
        .na.fill(0L, Seq("e_in"))
        .crossJoin(broadcast(mRow))
        .withColumn("q_num",
          lit(4L) * col("m") * col("e_in") - col("d_sum") * col("d_sum"))
      val tot = g.agg(sum("q_num").as("q_num_total"))
      g.crossJoin(broadcast(tot))
        .select(col("community"), col("n_nodes"), col("e_in"),
          col("d_sum"), col("q_num"), col("m"), col("q_num_total"),
          expr("CAST(floor((CAST(1000000 AS DOUBLE) * " +
            "CAST(q_num_total AS DOUBLE)) / (CAST(4 AS DOUBLE) * " +
            "CAST(m AS DOUBLE) * CAST(m AS DOUBLE))) AS BIGINT)")
            .as("q_ppm"))
        .orderBy(col("n_nodes").desc, col("community").asc)
        .limit(TopCommunities)
    }),

    // Purchase-graph PageRank: distinct (customer, supplier) edges
    // from orders ⋈ lineitem (the payload never rides past the
    // distinct — the graph build shuffles two fact columns), then
    // Iters synchronous exact-integer updates. Output is linear in
    // node count: (node, kind, deg, rank), ranks on the Mass = 10^12
    // integer scale.
    "q112_pagerank" -> ((s, dir) => {
      PageRank.run(purchaseGraph(s, dir), Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("deg"), col("rank"))
        .orderBy("node")
    }),

    // Seed-distance BFS: hop distance from the nation-0 suppliers
    // (standing in for a trusted host whitelist) to every node of the
    // purchase graph — the curation signal "how far is this document's
    // host from known-good sites". Exact min-plus integers; unreached
    // nodes surface as -1. Output linear in node count.
    "q113_seed_distance" -> ((s, dir) => {
      val seeds = Tables.load(s, dir, "supplier")
        .where(col("s_nationkey") === 0)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      Bfs.run(purchaseGraph(s, dir), seeds, BfsIters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          when(col("dist") >= Bfs.Inf, lit(-1L)).otherwise(col("dist"))
            .as("dist"))
        .orderBy("node")
    }),

    // Weighted PageRank: the purchase graph with edge MULTIPLICITY —
    // w(customer, supplier) = number of distinct orders between them —
    // and rank flowing out proportionally to weight (the web-graph
    // link-count weighting). The aggregation that builds w replaces
    // q112's distinct; everything downstream is q112's kernel on a
    // graph with one weight per row, total weight in place of degree.
    "q121_weighted_pagerank" -> ((s, dir) => {
      PageRank.run(weightedGraph(s, dir), Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("deg").as("wtot"), col("rank"))
        .orderBy("node")
    }),

    // TrustRank: the q112 damped propagation with the teleport mass
    // concentrated on the q113 seed set (nation-0 suppliers) — "trust
    // flowed from the whitelist through the link structure", the
    // actual anti-spam/host-quality signal (Gyöngyi et al. 2004) that
    // seed-distance (q113) only approximates hop-wise. Zero for nodes
    // unreachable from any seed; same one-shuffle-per-iteration
    // machinery as q112.
    "q119_trustrank" -> ((s, dir) => {
      val seeds = Tables.load(s, dir, "supplier")
        .where(col("s_nationkey") === 0)
        .select((col("s_suppkey") * 2 + 1).as("node"))
      PageRank.runTrust(purchaseGraph(s, dir), seeds, Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("deg"), col("rank"))
        .orderBy("node")
    }),

    // DIRECTED PageRank over the purchase graph: edges flow
    // customer → supplier only (money/attention flows to the supplier),
    // which makes EVERY supplier a dangling node (no out-edges) — the
    // web-graph sink case q112's undirected symmetrization cannot
    // express. Dangling mass redistributes uniformly each iteration
    // (exact-integer share), so supplier rank accumulates purchase
    // in-links while customers keep only teleport + dangling shares —
    // rank now measures "how much demand flows INTO this node", the
    // directed citation/authority signal. q112's graph and kernel,
    // sending along the out-rows only, plus one dangling-sum job per
    // round.
    "q123_directed_pagerank" -> ((s, dir) => {
      PageRank.runDirected(purchaseGraph(s, dir), Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("outdeg"), col("rank"))
        .orderBy("node")
    }),

    // HITS hubs & authorities over the DIRECTED purchase graph: a
    // customer is a good HUB if it buys from authoritative suppliers,
    // a supplier a good AUTHORITY if authoritative... if hub-heavy
    // customers buy from it — the mutually-recursive link signal
    // (Kleinberg 1999) that complements PageRank's single score (in
    // web-corpus curation: hub quality finds link DIRECTORIES, while
    // authority finds canonical content pages). Exact-integer
    // normalization per round; on this bipartite graph hubs
    // concentrate on customers and authorities on suppliers (the
    // sides' scores separate by construction — a useful structural
    // sanity the spec pins).
    "q125_hits" -> ((s, dir) => {
      PageRank.runHits(purchaseGraph(s, dir), Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("hub"), col("auth"))
        .orderBy("node")
    }),

    // Label-propagation communities over the purchase graph — the
    // deterministic LPA variant (sync rounds, most-frequent neighbor
    // label, smallest-label ties). Communities respect local density
    // where q70's connected components chain through any single shared
    // edge — the distinction that matters when grouping documents by
    // host/near-dup affinity for mixing decisions. q112's graph; each
    // round pulls the neighbours' labels along the rows and keeps the
    // most frequent.
    "q126_label_propagation" -> ((s, dir) => {
      LabelProp.run(purchaseGraph(s, dir), Iters)
        .select(col("node"),
          when(col("node") % 2 === 0, lit("customer"))
            .otherwise(lit("supplier")).as("kind"),
          col("label").as("community"))
        .orderBy("node")
    }),

    // Centrality-weighted sample: the q85 sequential-Poisson order
    // sampling scheme with PageRank as the weight — inclusion
    // probability ∝ link centrality, the web-corpus "sample documents
    // proportional to host quality" recipe. Priority ξ = u / rank is
    // ONE IEEE division of a 48-bit content-addressed uniform by an
    // exact integer rank (engine-identical, re-run-stable, no RNG
    // state); the per-segment k-smallest stream through the custom
    // TopKPerKey operator instead of a full sort. Customer side only
    // (the sampling frame); segment from the customer dimension via
    // broadcast join.
    "q114_centrality_sample" -> ((s, dir) => {
      val ranks = PageRank.run(purchaseGraph(s, dir), Iters)
        .where(col("node") % 2 === 0)
        .select(col("node"), col("rank").as("pr"))
      val cust = Tables.load(s, dir, "customer")
        .select((col("c_custkey") * 2).as("node"),
          col("c_mktsegment").as("segment"))
      val d = ranks.join(broadcast(cust), Seq("node"))
        .withColumn("u", conv(substring(
            md5(concat(lit("prs:"), col("node").cast("string"))), 1, 12), 16, 10)
          .cast("double"))
        .withColumn("priority", col("u") / col("pr").cast("double"))
        .select("segment", "node", "pr", "priority")
      TopK.perKey(d, Seq("segment"),
          Seq("priority" -> true, "node" -> true), k = 10)
        .select("segment", "node", "pr", "priority", "rank")
        .orderBy("segment", "rank")
    }),

    // Triangle counting / local clustering coefficient over the
    // SPARSIFIED co-purchase similarity graph: suppliers co-occurring
    // in an order are "similar hosts", each node keeps only its
    // TriK strongest partners (by co-order count, id-tiebroken), the
    // kept selections symmetrize into an undirected kNN graph, and
    // [[graft.operators.Triangles]] counts exact per-node triangles
    // with degree-ordered orientation. The sparsification IS the
    // 100 TB design: a raw co-occurrence projection densifies
    // quadratically as the fact table grows (at sf1 the 10k-supplier
    // universe already approaches completeness), while the top-K
    // graph has degree ≤ 2K at ANY scale, so the wedge stage is
    // O(|V|·K²) forever — the standard kNN-graph recipe for
    // similarity-graph analytics (community density as a curation
    // signal). Composes the custom TopKPerKeyExec inside the edge
    // build; output linear in node count, all exact integers
    // (clustering coefficient = tri_cnt/wedge_cnt reconstructable).
    "q140_triangle_knn" -> ((s, dir) =>
      Triangles.run(knnEdges(s, dir)).orderBy("node")),

    // k-core peeling over the same kNN similarity graph — the
    // density-decomposition signal spam/quality curation uses (a
    // document cluster that survives high-k peeling is a tightly
    // self-similar block; SEO farms and template mills show up as
    // high-core regions of the similarity graph). The output is the
    // peel CASCADE (graft.operators.KCore), not just a membership
    // bit. KCoreK = 6 sits
    // above the kNN graph's guaranteed minimum degree (every node
    // keeps TriK = 5 partners), so peeling is genuinely selective:
    // only nodes that also RECEIVE selections survive round 0. Fixed
    // KCoreRounds with the q113 convention: the differential is exact
    // at any round count because the oracle unrolls the same rounds;
    // GraphSpec proves fixpoint on the fixture family. Runs on the
    // memoized kNN CsrGraph shared with q229/q235; each round is one
    // kernel round summing live flags.
    "q142_kcore" -> ((s, dir) =>
      KCore.run(knnGraph(s, dir), KCoreK, KCoreRounds).orderBy("node")),

    // Graph-embedding positive pairs (q144): DeepWalk/node2vec's
    // preprocessing (Perozzi et al. 2014 — public literature) made
    // deterministic — one WalkSteps-step walk from EVERY node of the
    // kNN similarity graph, the (start, visited@step) pairs being the
    // skip-gram training examples. The neighbor choice at each step is
    // content-addressed, not RNG: argmin of md5("wk:" start ":" step
    // ":" candidate) over the current node's neighbors — re-run-stable,
    // partition-invariant, and exactly renderable in the oracle (the
    // q85 priority discipline applied to walks). Scale shape: each
    // step is one equi-join of the |V|-row frontier against the
    // degree-bounded adjacency plus a TopKPerKey k = 1 argmin — O(|V|·K)
    // per step, output 3·|V| rows; nothing corpus-sized, no collected
    // state, and the walk frontier never grows (one walker per node).
    // DETERMINISTIC NEGATIVE SAMPLING (q169): link-prediction training
    // needs (node, non-neighbor) pairs to balance q144's positive walk
    // pairs — the standard recipe draws NegCand random candidates per
    // source and REJECTS the ones that are real edges, keeping NegK.
    // Randomness is content-addressed (md5("neg:"||src||j) mod
    // |suppliers| → the rank'th supplier), so the sample is a pure
    // function of the graph — reproducible across runs, engines, and
    // partition layouts. Scale shape: the supplier rank table is
    // value-space-bounded (broadcast); candidate generation is a
    // per-row projection; the rejection is one shuffled anti-join
    // against the edge list; survivors stream through TopKPerKey
    // (k = NegK). Sources whose candidates all collide with real
    // edges yield fewer than NegK rows — correct, not padded.
    "q169_negative_samples" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = purchaseEdges(s, dir)
      val sup = e.select("dst").distinct()
        .withColumn("rk", (row_number().over(Window.orderBy("dst")) - 1)
          .cast("long"))
      val ns = sup.agg(count(lit(1)).as("n"))
      val cand = e.select("src").distinct()
        .select(col("src"), explode(typedLit((1L to NegCand).toSeq)).as("j"))
        .crossJoin(broadcast(ns))
        .withColumn("rk",
          conv(substring(md5(concat(lit("neg:"), col("src").cast("string"),
            lit(":"), col("j").cast("string"))), 1, 12), 16, 10)
            .cast("long") % col("n"))
      val neg = cand.join(broadcast(sup), Seq("rk"))
        .select(col("src"), col("j"), col("dst").as("cand_dst"))
        .join(e.withColumnRenamed("dst", "cand_dst"),
          Seq("src", "cand_dst"), "left_anti")
      TopK.perKey(neg, Seq("src"), Seq("j" -> true, "cand_dst" -> true), NegK)
        .select(col("src"), col("cand_dst").as("neg_dst"), col("j"), col("rank"))
        .orderBy("src", "rank")
    }),

    "q144_walk_pairs" -> ((s, dir) => {
      val e = knnEdges(s, dir)
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      var walk = adj.select(col("node").as("start")).distinct()
        .withColumn("cur", col("start"))
      val outs = (1 to WalkSteps).map { t =>
        val cand = walk.join(adj, walk("cur") === adj("node"))
          .select(col("start"), col("nbr"),
            md5(concat(lit("wk:"), col("start").cast("string"), lit(":"),
              lit(t.toString), lit(":"), col("nbr").cast("string"))).as("h"))
        walk = TopK.perKey(cand, Seq("start"),
            Seq("h" -> true, "nbr" -> true), k = 1)
          .select(col("start"), col("nbr").as("cur"))
        walk.select(col("start"), lit(t.toLong).as("step"),
          col("cur").as("visited"))
      }
      outs.reduce(_ unionAll _).orderBy("start", "step")
    }),

    // LINK PREDICTION (q183): common-neighbor and Jaccard scores for
    // every NON-adjacent pair at distance 2 in the kNN similarity
    // graph — the classical link-prediction features (Liben-Nowell &
    // Kleinberg 2003) that propose which documents/suppliers SHOULD
    // be connected, the candidate generator for q169's training
    // pairs and the "missing edge" diagnostic for the similarity
    // graph itself. Exact integers: cn, jaccard in ppm (|Γu ∩ Γv| /
    // |Γu ∪ Γv|), preferential attachment deg·deg. Scale shape: the
    // kNN graph is degree-bounded (≤ 2·TriK), so the wedge self-join
    // on the shared neighbor emits ≤ deg² rows per node — linear in
    // |V| at ANY corpus size (this is exactly why it runs on the
    // sparsified graph, not the raw co-purchase projection); the
    // anti-join against the edge list and the degree joins are
    // |candidate|-sized; nothing is collected or broadcast that
    // grows with the graph.
    "q183_link_prediction" -> ((s, dir) => {
      val e = knnEdges(s, dir)
      val adj = e.select(col("u").as("node"), col("v").as("nbr"))
        .unionAll(e.select(col("v").as("node"), col("u").as("nbr")))
      val deg = adj.groupBy("node").agg(count(lit(1)).as("deg"))
      val cand = adj.select(col("node").as("u"), col("nbr"))
        .join(adj.select(col("node").as("v"), col("nbr")), Seq("nbr"))
        .where(col("u") < col("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("cn"))
        .join(e, Seq("u", "v"), "left_anti")
        .where(col("cn") >= 2)
      cand
        .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
        .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
        .select(col("u"), col("v"), col("cn"),
          expr("(CAST(1000000 AS BIGINT) * cn) div (du + dv - cn)")
            .as("jaccard_ppm"),
          (col("du") * col("dv")).as("pref_attach"))
        .orderBy("u", "v")
    }))

  /** The q229 oracle (also embedded by q235): rounds unrolled as
    * MATERIALIZED CTEs with the q177 register renderings. */
  private lazy val anfOracleSql: String = {
      import MiningQueries.{HllLi, HllM, HllNum}
      def step(i: Int): String =
        s"""r$i AS MATERIALIZED (SELECT node, reg,
           |    CAST(max(rho) AS BIGINT) AS rho FROM (
           |  SELECT node, reg, rho FROM r${i - 1}
           |  UNION ALL
           |  SELECT adjh.a AS node, p.reg, p.rho
           |  FROM adjh JOIN r${i - 1} p ON p.node = adjh.b) u$i
           |  GROUP BY 1, 2)""".stripMargin
      val estCase =
        s"""CASE WHEN raw <= 160 AND v > 0
           |    THEN ([${HllLi.mkString(",")}])[CAST(v AS INT)] // 1000
           |    ELSE raw END""".stripMargin
      def estBlock(i: Int): String =
        s"""SELECT CAST($i AS BIGINT) AS h,
           |  CAST(count(*) AS BIGINT) AS n_nodes,
           |  CAST(sum(est) AS BIGINT) AS est_pairs,
           |  (CAST(1000 AS BIGINT) * CAST(sum(est) AS BIGINT))
           |    // CAST(count(*) AS BIGINT) AS avg_ball_milli
           |FROM (SELECT $estCase AS est FROM (
           |  SELECT $HllNum // (1000 * s) AS raw, v FROM (
           |    SELECT node,
           |      CAST(sum(CAST(1 AS BIGINT) <<
           |        (30 - least(CAST(rho AS INT), 30))) AS BIGINT) +
           |        ($HllM - CAST(count(*) AS BIGINT)) *
           |          (CAST(1 AS BIGINT) << 30) AS s,
           |      $HllM - CAST(count(*) AS BIGINT) AS v
           |    FROM r$i GROUP BY node) g$i) e$i) x$i""".stripMargin
      s"""WITH $knnEdgesSql,
         |adjh AS MATERIALIZED (SELECT u AS a, v AS b FROM e
         |  UNION ALL SELECT v, u FROM e),
         |anodes AS (SELECT DISTINCT a AS node FROM adjh),
         |h0 AS (SELECT node,
         |  CAST('0x' || substr(md5('anf:' || CAST(node AS VARCHAR)), 1, 12)
         |    AS BIGINT) AS h FROM anodes),
         |r0 AS MATERIALIZED (SELECT node, h % $HllM AS reg,
         |  CAST(CASE WHEN h // $HllM = 0 THEN 43
         |    ELSE 43 - length(bin(h // $HllM)) END AS BIGINT) AS rho
         |  FROM h0),
         |${(1 to AnfRounds).map(step).mkString(",\n")}
         |SELECT * FROM (
         |${(0 to AnfRounds).map(estBlock).mkString("\nUNION ALL\n")}
         |) uu ORDER BY h""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q112_pagerank" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |${PageRank.oracleCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  deg, rank
         |FROM pr ORDER BY node""".stripMargin,

    "q113_seed_distance" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
         |  WHERE s_nationkey = 0),
         |${Bfs.oracleCtes(BfsIters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  CASE WHEN dist >= ${Bfs.Inf} THEN -1 ELSE dist END AS dist
         |FROM bfs ORDER BY node""".stripMargin,

    "q121_weighted_pagerank" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
         |    CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS w
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2),
         |${PageRank.oracleWeightedCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  wtot, rank
         |FROM pr ORDER BY node""".stripMargin,

    "q119_trustrank" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |seeds AS (SELECT s_suppkey * 2 + 1 AS node FROM supplier
         |  WHERE s_nationkey = 0),
         |${PageRank.oracleTrustCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  deg, rank
         |FROM pr ORDER BY node""".stripMargin,

    "q123_directed_pagerank" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |${PageRank.oracleDirectedCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  outdeg, rank
         |FROM pr ORDER BY node""".stripMargin,

    "q125_hits" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |${PageRank.oracleHitsCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  hub, auth
         |FROM hits ORDER BY node""".stripMargin,

    "q126_label_propagation" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |${LabelProp.oracleCtes(Iters)}
         |SELECT node,
         |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
         |  label AS community
         |FROM lp ORDER BY node""".stripMargin,

    // q229: the engine's rounds unrolled as MATERIALIZED CTEs (the
    // doubly-referenced state is the oracleHitsCtes lesson), identical
    // hash/register/estimate renderings (the q177 twins).
    "q229_hyperanf" -> anfOracleSql,

    // q235: the q229 query as a subquery, with the diameter/expansion
    // derivations as 5-row windows.
    "q235_effective_diameter" ->
      s"""WITH nf AS (
         |$anfOracleSql
         |),
         |d AS (SELECT h, est_pairs,
         |    lag(est_pairs) OVER (ORDER BY h) AS prev,
         |    max(est_pairs) OVER () AS n_max
         |  FROM nf),
         |f AS (SELECT min(h) AS eff_h FROM d
         |  WHERE 10 * est_pairs >= 9 * n_max)
         |SELECT d.h, d.est_pairs,
         |  CASE WHEN d.prev IS NOT NULL AND d.prev > 0
         |    THEN (CAST(1000000 AS BIGINT) * d.est_pairs) // d.prev
         |    ELSE NULL END AS growth_ppm,
         |  (CAST(1000000 AS BIGINT) * d.est_pairs) // d.n_max
         |    AS reached_ppm,
         |  d.h = f.eff_h AS is_effective_diameter
         |FROM d CROSS JOIN f ORDER BY d.h""".stripMargin,


    // q226: identical moment arithmetic over the q140 kNN edge CTEs;
    // by orientation symmetry sy = sx and syy = sxx, so the
    // simplified r form matches the engine's.
    "q226_assortativity" ->
      s"""WITH $knnEdgesSql,
         |adj2 AS (SELECT u AS a, v AS b FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d
         |  FROM adj2 GROUP BY a),
         |pairs AS (SELECT da.d AS dx, db.d AS dy
         |  FROM adj2 JOIN deg da ON da.node = adj2.a
         |  JOIN deg db ON db.node = adj2.b),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS mm,
         |    CAST(sum(dx) AS BIGINT) AS sx,
         |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |    CAST(sum(dx * dx) AS BIGINT) AS sxx
         |  FROM pairs)
         |SELECT mm AS n_orientations, sx, sxy, sxx,
         |  mm * sxy - sx * sx AS r_num, mm * sxx - sx * sx AS r_den,
         |  CASE WHEN mm * sxx - sx * sx > 0 THEN
         |    CAST(floor(CAST(1000000 AS DOUBLE) *
         |      CAST(mm * sxy - sx * sx AS DOUBLE) /
         |      CAST(mm * sxx - sx * sx AS DOUBLE) +
         |      CAST(0.5 AS DOUBLE)) AS BIGINT)
         |  ELSE 0 END AS r_ppm
         |FROM m""".stripMargin,

    // q216: the lp CTE chain is q126's machinery over the q140 kNN
    // edge CTEs; deg comes off the symmetrized adj (each incidence
    // once), e_in off the one-direction edge list — identical to the
    // engine's construction.
    "q216_modularity" ->
      s"""WITH $knnEdgesSql,
         |eg AS (SELECT u AS src, v AS dst FROM e),
         |${LabelProp.oracleCtes(Iters, edge = "eg")},
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eg),
         |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY 1),
         |cs AS (SELECT lp.label AS community,
         |    CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(deg.deg) AS BIGINT) AS d_sum
         |  FROM lp JOIN deg ON deg.node = lp.node GROUP BY 1),
         |ein AS (SELECT la.label AS community,
         |    CAST(count(*) AS BIGINT) AS e_in
         |  FROM eg JOIN lp la ON la.node = eg.src
         |  JOIN lp lb ON lb.node = eg.dst AND lb.label = la.label
         |  GROUP BY 1),
         |g AS (SELECT cs.community, cs.n_nodes,
         |    coalesce(ein.e_in, 0) AS e_in, cs.d_sum,
         |    4 * m.m * coalesce(ein.e_in, 0) - cs.d_sum * cs.d_sum AS q_num,
         |    m.m AS m
         |  FROM cs CROSS JOIN m
         |  LEFT JOIN ein ON ein.community = cs.community),
         |t AS (SELECT CAST(sum(q_num) AS BIGINT) AS q_num_total FROM g)
         |SELECT g.community, g.n_nodes, g.e_in, g.d_sum, g.q_num, g.m,
         |  t.q_num_total,
         |  CAST(floor((CAST(1000000 AS DOUBLE) *
         |    CAST(t.q_num_total AS DOUBLE)) / (CAST(4 AS DOUBLE) *
         |    CAST(g.m AS DOUBLE) * CAST(g.m AS DOUBLE))) AS BIGINT) AS q_ppm
         |FROM g CROSS JOIN t
         |ORDER BY g.n_nodes DESC, g.community LIMIT $TopCommunities""".stripMargin,

    "q114_centrality_sample" ->
      s"""WITH e AS MATERIALIZED ($purchaseEdgesSql),
         |${PageRank.oracleCtes(Iters)},
         |w AS (
         |  SELECT c.c_mktsegment AS segment, pr.node, pr.rank AS pr,
         |    CAST(CAST('0x' || substr(md5('prs:' || CAST(pr.node AS VARCHAR)), 1, 12) AS BIGINT) AS DOUBLE)
         |      / CAST(pr.rank AS DOUBLE) AS priority
         |  FROM pr JOIN customer c ON c.c_custkey * 2 = pr.node
         |  WHERE pr.node % 2 = 0),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY segment ORDER BY priority, node) AS rank FROM w)
         |SELECT segment, node, pr, priority, rank FROM r WHERE rank <= 10
         |ORDER BY segment, rank""".stripMargin,

    "q140_triangle_knn" ->
      s"""WITH $knnEdgesSql,
         |${Triangles.oracleCtes}
         |SELECT node, deg, tri_cnt, wedge_cnt FROM tri_out
         |ORDER BY node""".stripMargin,

    "q142_kcore" ->
      s"""WITH $knnEdgesSql,
         |${KCore.oracleCtes(KCoreK, KCoreRounds)}
         |SELECT node, deg, peel_round FROM kcore_out
         |ORDER BY node""".stripMargin,

    // q183: the same wedge join on the same kNN edge CTE; NOT-EXISTS
    // rendered as a NULL-extended left join.
    "q183_link_prediction" ->
      s"""WITH $knnEdgesSql,
         |adj AS (SELECT u AS node, v AS nbr FROM e
         |  UNION ALL SELECT v, u FROM e),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj
         |  GROUP BY 1),
         |cand AS (SELECT a.node AS u, b.node AS v,
         |    CAST(count(*) AS BIGINT) AS cn
         |  FROM adj a JOIN adj b ON b.nbr = a.nbr AND a.node < b.node
         |  GROUP BY 1, 2),
         |nc AS (SELECT c.u, c.v, c.cn FROM cand c
         |  LEFT JOIN e ON e.u = c.u AND e.v = c.v
         |  WHERE e.u IS NULL AND c.cn >= 2)
         |SELECT nc.u, nc.v, nc.cn,
         |  (CAST(1000000 AS BIGINT) * nc.cn) // (du.deg + dv.deg - nc.cn)
         |    AS jaccard_ppm,
         |  du.deg * dv.deg AS pref_attach
         |FROM nc JOIN deg du ON du.node = nc.u
         |JOIN deg dv ON dv.node = nc.v
         |ORDER BY nc.u, nc.v""".stripMargin,

    // q169: the same content-addressed candidate draws, the same
    // rejection anti-join (NULL-extended left join), ranks windowed.
    "q169_negative_samples" ->
      s"""WITH e AS ($purchaseEdgesSql),
         |sup AS (SELECT dst, row_number() OVER (ORDER BY dst) - 1 AS rk
         |  FROM (SELECT DISTINCT dst FROM e)),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM sup),
         |srcs AS (SELECT DISTINCT src FROM e),
         |cand AS (SELECT s.src, j.j,
         |    CAST('0x' || substr(md5('neg:' || CAST(s.src AS VARCHAR) || ':'
         |      || CAST(j.j AS VARCHAR)), 1, 12) AS BIGINT) % ns.n AS rk
         |  FROM srcs s CROSS JOIN (SELECT unnest(range(1, ${NegCand + 1})) AS j) j
         |  CROSS JOIN ns),
         |cd AS (SELECT c.src, c.j, sup.dst AS cand_dst
         |  FROM cand c JOIN sup ON sup.rk = c.rk),
         |neg AS (SELECT cd.src, cd.j, cd.cand_dst FROM cd
         |  LEFT JOIN e ON e.src = cd.src AND e.dst = cd.cand_dst
         |  WHERE e.src IS NULL),
         |rkd AS (SELECT src, cand_dst, j,
         |    row_number() OVER (PARTITION BY src ORDER BY j, cand_dst) AS rank
         |  FROM neg)
         |SELECT src, cand_dst AS neg_dst, CAST(j AS BIGINT) AS j,
         |  CAST(rank AS INT) AS rank
         |FROM rkd WHERE rank <= $NegK ORDER BY src, rank""".stripMargin,

    "q144_walk_pairs" -> {
      val steps = (1 to WalkSteps).map { t =>
        s"""c$t AS (SELECT w${t - 1}.start, adj.nbr,
           |    md5('wk:' || CAST(w${t - 1}.start AS VARCHAR) || ':$t:' ||
           |        CAST(adj.nbr AS VARCHAR)) AS h
           |  FROM w${t - 1} JOIN adj ON adj.node = w${t - 1}.cur),
           |w$t AS (SELECT start, nbr AS cur FROM (
           |  SELECT start, nbr, row_number() OVER (
           |    PARTITION BY start ORDER BY h, nbr) AS rk FROM c$t)
           |  WHERE rk = 1)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to WalkSteps).map(t =>
        s"SELECT start, CAST($t AS BIGINT) AS step, cur AS visited FROM w$t")
        .mkString("\n|UNION ALL ")
      s"""WITH $knnEdgesSql,
         |adj AS MATERIALIZED (
         |  SELECT u AS node, v AS nbr FROM e
         |  UNION ALL SELECT v, u FROM e),
         |w0 AS (SELECT DISTINCT node AS start, node AS cur FROM adj),
         |$steps
         |$unions
         |ORDER BY start, step""".stripMargin
    })
}
