package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Bfs, CsrGraph, HyperAnf, KCore, LabelProp, PageRank}

/** Exact-integer PageRank invariants: bit-identical agreement with a
  * driver-side reference fold (the property that makes the unrolled
  * DuckDB differential oracle possible), centrality ordering on a star
  * graph, mass accounting under truncating division, and partition
  * invariance.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference: the same synchronous integer update over a
    * Map — independent of Spark's join/agg path. */
  private def refRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map { case (s, d) => (d, s) })
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val deg = adj.map { case (s, ds) => s -> ds.size.toLong }
    val n = deg.size.toLong
    val base = (15L * (PageRank.Mass / n)) / 100L
    var r = deg.map { case (v, _) => v -> PageRank.Mass / n }
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, ds) <- adj; d <- ds) in(d) += r(u) / deg(u)
      r = deg.map { case (v, _) =>
        v -> ((PageRank.DampNum * in(v)) / PageRank.DampDen + base) }
    }
    r
  }

  /** `f` on a graph of `edges` built at `parts` partitions, collected;
    * the graph is released before returning. */
  private def onGraph(edges: DataFrame, parts: Int)(f: CsrGraph => DataFrame): Array[Row] = {
    val g = CsrGraph(edges, parts)
    try f(g).collect() finally g.release()
  }

  private def runToMap(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    onGraph(edges.toDF("src", "dst"), 1)(PageRank.run(_, iters))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap

  test("ranks match the driver-side reference fold bit-for-bit on a random graph") {
    val rng = new scala.util.Random(7)
    val edges = (0 until 120).map(_ =>
      (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (s, d) => s != d }.distinct
    for (iters <- Seq(1, 3)) {
      assert(runToMap(edges, iters) == refRanks(edges, iters),
        s"iters=$iters diverged from reference")
    }
  }

  test("star graph: center outranks every leaf, leaves tie exactly") {
    val edges = (1L to 8L).map(l => (0L, l))
    val ranks = runToMap(edges, 3)
    val leaves = (1L to 8L).map(ranks)
    assert(leaves.distinct.size == 1, "leaves must tie bit-exactly")
    assert(ranks(0L) > leaves.head, "center must outrank leaves")
  }

  test("mass accounting: total rank stays within truncation loss of Mass") {
    val rng = new scala.util.Random(11)
    val edges = (0 until 200).map(_ =>
      (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter { case (s, d) => s != d }.distinct
    val ranks = runToMap(edges, 3)
    val total = ranks.values.sum
    // each of the n nodes can lose < 1 unit per div (3 divs per node
    // per iteration on this scale) — loss is bounded far below 1% of
    // Mass, and truncation can never create mass
    assert(total <= PageRank.Mass)
    assert(total > PageRank.Mass * 99L / 100L, s"total=$total lost too much mass")
  }

  test("partition invariance: repartitioned edges give identical ranks") {
    val rng = new scala.util.Random(13)
    val edges = (0 until 80).map(_ =>
      (rng.nextInt(20).toLong, rng.nextInt(20).toLong))
      .filter { case (s, d) => s != d }.distinct
    val base = runToMap(edges, 2)
    // shuffled input rows on a graph of 7 partitions (base: 1)
    val shuffled = onGraph(
        scala.util.Random.shuffle(edges).toDF("src", "dst").repartition(7), 7)(
        PageRank.run(_, 2))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(base == shuffled)
  }

  test("weighted PageRank with unit weights reduces exactly to the unweighted ranks") {
    val rng = new scala.util.Random(29)
    val edges = (0 until 90).map(_ =>
      (rng.nextInt(25).toLong, rng.nextInt(25).toLong))
      .filter { case (s, d) => s != d }.distinct
    val plain = runToMap(edges, 3)
    val weighted = onGraph(
        edges.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"), 1)(PageRank.run(_, 3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(weighted == plain)
  }

  /** Driver-side weighted reference: rank flows out in proportion to
    * edge weight, (r(u) · w) div W(u) over the symmetrized rows. */
  private def refWeighted(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val sym = edges ++ edges.map { case (s, d, w) => (d, s, w) }
    val adj = sym.groupBy(_._1).map { case (s, es) =>
      s -> es.map(e => (e._2, e._3)) }
    val wtot = adj.map { case (s, es) => s -> es.map(_._2).sum }
    val n = wtot.size.toLong
    val base = (15L * (PageRank.Mass / n)) / 100L
    var r = wtot.map { case (v, _) => v -> PageRank.Mass / n }
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, es) <- adj; (d, w) <- es) in(d) += (r(u) * w) / wtot(u)
      r = wtot.map { case (v, _) =>
        v -> ((PageRank.DampNum * in(v)) / PageRank.DampDen + base) }
    }
    r
  }

  test("weighted PageRank matches a driver-side weighted reference fold") {
    val rng = new scala.util.Random(31)
    val edges = (0 until 70).map(_ =>
        (rng.nextInt(18).toLong, rng.nextInt(18).toLong,
          (rng.nextInt(5) + 1).toLong))
      .filter { case (s, d, _) => s != d }
      .groupBy(e => (e._1, e._2)).map(_._2.head).toSeq // unique pairs
    val got = onGraph(edges.toDF("src", "dst", "w"), 1)(PageRank.run(_, 3))
      .map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(got == refWeighted(edges, 3))
  }

  /** Driver-side TrustRank reference: seed-concentrated base/start. */
  private def refTrust(edges: Seq[(Long, Long)], seeds: Set[Long],
                       iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map { case (s, d) => (d, s) })
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val deg = adj.map { case (s, ds) => s -> ds.size.toLong }
    val present = deg.keySet & seeds
    val ns = present.size.toLong
    def base(v: Long) =
      if (present(v)) (15L * (PageRank.Mass / ns)) / 100L else 0L
    var r = deg.map { case (v, _) =>
      v -> (if (present(v)) PageRank.Mass / ns else 0L) }
    for (_ <- 1 to iters) {
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, ds) <- adj; d <- ds) in(d) += r(u) / deg(u)
      r = deg.map { case (v, _) =>
        v -> ((PageRank.DampNum * in(v)) / PageRank.DampDen + base(v)) }
    }
    r
  }

  test("TrustRank matches the reference fold; trust is zero off the seed component") {
    val rng = new scala.util.Random(23)
    // component A: 0..14 (contains the seeds); island B: 100..103
    val edges = ((0 until 60).map(_ =>
        (rng.nextInt(15).toLong, rng.nextInt(15).toLong)) ++
        Seq((100L, 101L), (101L, 102L), (102L, 103L)))
      .filter { case (s, d) => s != d }.distinct
    val seeds = Set(0L, 3L, 999L) // 999 absent from the graph: ignored
    val got = onGraph(edges.toDF("src", "dst"), 1)(
        PageRank.runTrust(_, seeds.toSeq.toDF("node"), 3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == refTrust(edges, seeds, 3))
    // the island never receives trust; seeds hold positive trust
    for (v <- Seq(100L, 101L, 102L, 103L)) assert(got(v) == 0L)
    assert(got(0L) > 0L && got(3L) > 0L)
    // truncating arithmetic never creates mass
    assert(got.values.sum <= PageRank.Mass)
  }

  /** Driver-side BFS reference: plain queue BFS from the seed set. */
  private def refDists(edges: Seq[(Long, Long)], seeds: Set[Long],
                       iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map { case (s, d) => (d, s) })
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var dist = adj.keys.map(v => v -> (if (seeds(v)) 0L else Bfs.Inf)).toMap
    for (_ <- 1 to iters) {
      val next = dist.map { case (v, dv) =>
        val best = adj(v).map(dist).filter(_ < Bfs.Inf) match {
          case Nil => Bfs.Inf
          case ds  => ds.min + 1
        }
        v -> math.min(dv, best)
      }
      dist = next
    }
    dist
  }

  test("BFS matches the driver-side reference fold on a random graph with islands") {
    val rng = new scala.util.Random(17)
    // two components: 0..19 dense, 100..104 an island far from the seeds
    val edges = ((0 until 100).map(_ =>
        (rng.nextInt(20).toLong, rng.nextInt(20).toLong)) ++
        Seq((100L, 101L), (101L, 102L), (102L, 103L), (103L, 104L)))
      .filter { case (s, d) => s != d }.distinct
    val seeds = Set(0L, 5L)
    val got = onGraph(edges.toDF("src", "dst"), 1)(
        Bfs.run(_, seeds.toSeq.toDF("node"), 4))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refDists(edges, seeds, 4))
    // the island stays at the sentinel
    assert(got(100L) == Bfs.Inf && got(104L) == Bfs.Inf)
    // seeds are at distance 0
    assert(got(0L) == 0L && got(5L) == 0L)
  }

  test("BFS distances satisfy the edge-relaxation invariant once converged") {
    val rng = new scala.util.Random(19)
    val edges = (0 until 60).map(_ =>
      (rng.nextInt(15).toLong, rng.nextInt(15).toLong))
      .filter { case (s, d) => s != d }.distinct
    // 15 nodes: 14 rounds always converge
    val dist = onGraph(edges.toDF("src", "dst"), 1)(Bfs.run(_, Seq(0L).toDF("node"), 14))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((s, d) <- edges if dist(s) < Bfs.Inf && dist(d) < Bfs.Inf)
      assert(math.abs(dist(s) - dist(d)) <= 1,
        s"edge ($s,$d) violates relaxation: ${dist(s)} vs ${dist(d)}")
  }

  /** Driver-side register rounds: reg₀ from the seed cells (the larger
    * value where a cell repeats, 0 where none), then
    * reg'(v) = max(reg₀(v), max_{u~v} reg(u)) lane by lane; per
    * (node, h) for h = 0..rounds. */
  private def refRegs(edges: Seq[(Long, Long)], seeds: Seq[(Long, Int, Long)], m: Int,
                      rounds: Int): Map[(Long, Long), Seq[Long]] = {
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val r0 = adj.keys.map(v => v -> Seq.tabulate(m)(l =>
      seeds.collect { case (`v`, `l`, x) => x }.maxOption.getOrElse(0L))).toMap
    val states = (1 to rounds).scanLeft(r0)((r, _) => r0.map { case (v, s) =>
      v -> adj(v).map(r).foldLeft(s)((a, b) => a.zip(b).map(p => math.max(p._1, p._2))) })
    states.zipWithIndex.flatMap { case (st, h) =>
      st.map { case (v, regs) => (v, h.toLong) -> regs } }.toMap
  }

  test("CsrGraph kernel: identical ranks and distances at 1, 3 and 7 partitions") {
    val rng = new scala.util.Random(41)
    // a self-loop and a parallel edge count like rows of the edge list;
    // 40..42 only ever appear as destinations (sinks of the directed reading)
    val edges = (0 until 150).map(_ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong)) ++
      Seq((3L, 3L), (1L, 2L), (1L, 2L), (0L, 40L), (5L, 41L), (9L, 42L))
    val weighted = edges.map { case (s, d) => (s, d, (rng.nextInt(5) + 1).toLong) }
    val (e, seedSet) = (edges.toDF("src", "dst"), Set(0L, 7L))
    val (ew, seeds) = (weighted.toDF("src", "dst", "w"), seedSet.toSeq.toDF("node"))
    // register seeds at width 4: some nodes seedless, a repeated cell,
    // a node absent from the graph
    val regSeeds = (0 until 60).map(_ =>
      (rng.nextInt(45).toLong, rng.nextInt(4), (rng.nextInt(30) + 1).toLong)) ++
      Seq((3L, 1, 7L), (3L, 1, 2L), (999L, 0, 5L))
    def col2(df: DataFrame, c: Int) =
      df.collect().map(r => r.getLong(0) -> r.getLong(c)).toMap
    def at(p: Int) = {
      val (g, gw) = (CsrGraph(e, p), CsrGraph(ew, p))
      try (col2(PageRank.run(g, 3), 2), col2(PageRank.runTrust(g, seeds, 3), 2),
           col2(Bfs.run(g, seeds, 4), 1), col2(PageRank.run(gw, 3), 2),
           col2(PageRank.runDirected(g, 3), 2),
           PageRank.runHits(g, 3).collect()
             .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap,
           HyperAnf.run(g, regSeeds.toDF("node", "lane", "value"), 4, 3).collect()
             .map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Long](2)).toMap,
           col2(LabelProp.run(g, 3), 1))
      finally { g.release(); gw.release() }
    }
    val one = at(1)
    assert(one == ((refRanks(edges, 3), refTrust(edges, seedSet, 3), refDists(edges, seedSet, 4),
      refWeighted(weighted, 3), refDirected(edges, 3), refHits(edges, 3),
      refRegs(edges, regSeeds, 4, 3), refLpa(edges, 3))))
    assert(at(3) == one && at(7) == one)
  }

  private def graphIds: Set[Int] = spark.sparkContext.getPersistentRDDs.collect {
    case (id, r) if Option(r.name).exists(_.startsWith("CsrGraph")) => id }.toSet

  /** Replaces `dir/<name>.parquet` with the one parquet file `df` writes. */
  private def put(dir: Path, name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val out = tempDir("graphspec-out").resolve("t").toString
    df.coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("q112, q119 and q113 share one purchase CsrGraph; a fixture rewrite rebuilds it") {
    val src = java.nio.file.Paths.get("/root/testdata/sf0.001")
    def fixture(): Path = {
      val d = tempDir("graphspec")
      for (t <- Seq("orders", "lineitem", "supplier"))
        Files.copy(src.resolve(s"$t.parquet"), d.resolve(s"$t.parquet"))
      d
    }
    def rows(q: String, d: Path) =
      try SparkEntry.queries(q)(spark, d.toString).collect().toSeq
      finally spark.catalog.clearCache() // harness isolation, as in Verify/Bench
    val d = fixture()
    val before = graphIds
    for (q <- Seq("q112_pagerank", "q119_trustrank", "q113_seed_distance",
                  "q123_directed_pagerank", "q125_hits", "q126_label_propagation")) rows(q, d)
    val built = graphIds -- before
    assert(built.size == 1, s"one build for the six queries, got $built")
    for (q <- Seq("q142_kcore", "q229_hyperanf", "q235_effective_diameter",
                  "q216_modularity")) rows(q, d)
    val knn = graphIds -- before -- built
    assert(knn.size == 1, s"one kNN build for the four queries, got $knn")
    val half = spark.read.parquet(d.resolve("orders.parquet").toString)
      .where(col("o_orderkey") % 2 === 0)
    put(d, "orders", half)
    val rewritten = rows("q112_pagerank", d)
    val rebuilt = graphIds -- before -- knn
    assert((rebuilt & built).isEmpty, "the old blocks are still persisted")
    assert(rebuilt.size == 1)
    val fresh = fixture()
    put(fresh, "orders", spark.read.parquet(d.resolve("orders.parquet").toString))
    assert(rewritten == rows("q112_pagerank", fresh), "stale graph served after the rewrite")
  }

  test("graph members persist nothing: releasing the graph leaves no persistent RDD") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val cells = Seq((1L, 0L, 3L), (5L, 1L, 2L)).toDF("node", "lane", "value")
    val (g, gw) = (CsrGraph(e, 2), CsrGraph(e.withColumn("w", col("src") % 3 + 1), 2))
    for ((r, n) <- Seq(PageRank.run(g, 2), PageRank.runTrust(g, seeds, 2), Bfs.run(g, seeds, 2),
                       PageRank.run(gw, 2), PageRank.runDirected(g, 2),
                       PageRank.runHits(g, 2), KCore.run(g, 2, 2), LabelProp.run(g, 2))
                     .map(_ -> 5) :+ (HyperAnf.run(g, cells, 2, 2) -> 15))
      assert(r.count() == n)
    g.release(); gw.release()
    // no per-round state of the loops is left, and no result was
    // persisted: nothing but the graph needed releasing
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty)
  }

  /** Driver-side directed reference: out-degree flow + uniform
    * dangling-mass redistribution, same truncating arithmetic. */
  private def refDirected(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val outdeg = nodes.map(v => v -> adj.get(v).map(_.size.toLong).getOrElse(0L)).toMap
    val n = nodes.size.toLong
    val base = (15L * (PageRank.Mass / n)) / 100L
    var r = nodes.map(v => v -> PageRank.Mass / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filter(outdeg(_) == 0L).map(r).sum
      val in = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, ds) <- adj; d <- ds) in(d) += r(u) / outdeg(u)
      r = nodes.map(v =>
        v -> ((PageRank.DampNum * (in(v) + dm / n)) / PageRank.DampDen + base)).toMap
    }
    r
  }

  test("directed PageRank matches the reference fold; dangling mass reaches sinks") {
    val rng = new scala.util.Random(37)
    // a directed graph with guaranteed sinks: nodes 20..24 only ever
    // appear as destinations (the dangling web pages)
    val edges = ((0 until 80).map(_ =>
        (rng.nextInt(20).toLong, rng.nextInt(25).toLong)) :+ (0L, 21L))
      .filter { case (s, d) => s != d }.distinct
    val got = onGraph(edges.toDF("src", "dst"), 1)(PageRank.runDirected(_, 3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == refDirected(edges, 3))
    // sinks exist, hold positive rank, and truncation never creates mass
    assert(edges.exists(e => e._2 >= 20L))
    assert((20L to 24L).filter(got.contains).forall(got(_) > 0L))
    assert(got.values.sum <= PageRank.Mass)
  }

  test("directed PageRank on a symmetric sink-free edge list reproduces run() exactly") {
    // the undirected algorithm IS the directed one on a symmetrized
    // graph (every node has out-edges → dangling mass is identically
    // zero), so the two code paths must agree bit-for-bit — the
    // contract that makes runDirected a strict generalization
    val rng = new scala.util.Random(41)
    // canonical orientation (s < d) so run()'s symmetrization and the
    // explicit sym list below produce the same multiset of arcs
    val edges = (0 until 90).map(_ =>
      (rng.nextInt(22).toLong, rng.nextInt(22).toLong))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val undirected = runToMap(edges, 3)
    val sym = (edges ++ edges.map { case (s, d) => (d, s) }).distinct
    val directed = onGraph(sym.toDF("src", "dst"), 1)(PageRank.runDirected(_, 3))
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(directed == undirected)
  }

  /** Driver-side HITS reference: authority-from-previous-hubs, hub-
    * from-new-authorities, HMass renormalization each half-step. */
  private def refHits(edges: Seq[(Long, Long)], iters: Int): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val in = edges.groupBy(_._2).map { case (d, es) => d -> es.map(_._1) }
    def normalize(x: Map[Long, Long]): Map[Long, Long] = {
      val s = math.max(x.values.sum, 1L)
      x.map { case (v, xv) => v -> (xv * PageRank.HMass) / s }
    }
    var h = nodes.map(_ -> PageRank.HMass).toMap
    var a = nodes.map(_ -> PageRank.HMass).toMap
    for (_ <- 1 to iters) {
      a = normalize(nodes.map(v =>
        v -> in.getOrElse(v, Nil).map(h).sum).toMap)
      h = normalize(nodes.map(v =>
        v -> out.getOrElse(v, Nil).map(a).sum).toMap)
    }
    nodes.map(v => v -> ((h(v), a(v)))).toMap
  }

  test("HITS matches the driver-side reference fold; bipartite sides separate") {
    val rng = new scala.util.Random(43)
    // bipartite: sources 0..14 point at targets 100..109 only
    val edges = (0 until 70).map(_ =>
      (rng.nextInt(15).toLong, 100L + rng.nextInt(10))).distinct
    val got = onGraph(edges.toDF("src", "dst"), 1)(PageRank.runHits(_, 3))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == refHits(edges, 3))
    // pure hubs hold zero authority, pure authorities zero hub mass
    assert((0L to 14L).filter(got.contains).forall(got(_)._2 == 0L))
    assert((100L to 109L).filter(got.contains).forall(got(_)._1 == 0L))
    // normalization keeps totals at ≤ HMass per side (truncation only loses)
    assert(got.values.map(_._1).sum <= PageRank.HMass)
    assert(got.values.map(_._2).sum <= PageRank.HMass)
  }

  /** Driver-side LPA reference: sync rounds, most-frequent neighbor
    * label, smallest-label tie-break. */
  private def refLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map { case (s, d) => (d, s) })
      .groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var l = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      l = adj.map { case (v, ns) =>
        val counts = ns.groupBy(l).map { case (lab, xs) => lab -> xs.size }
        v -> counts.toSeq.minBy { case (lab, c) => (-c, lab) }._1
      }
    }
    l
  }

  test("label propagation matches the reference fold; cliques separate where components merge") {
    import graft.operators.Components
    // two 4-cliques joined by ONE bridge edge — a single component,
    // but two density communities
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((3L, 10L))).distinct
    val got = onGraph(edges.toDF("src", "dst"), 1)(LabelProp.run(_, 3))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == refLpa(edges, 3))
    val aLabels = Seq(0L, 1L, 2L, 3L).map(got).distinct
    val bLabels = Seq(10L, 11L, 12L, 13L).map(got).distinct
    assert(aLabels.size == 1 && bLabels.size == 1 && aLabels != bLabels,
      s"cliques must form two uniform communities, got $got")
    // connected components would merge them through the bridge
    val comp = Components.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet.size == 1)
    // and a random graph agrees with the reference bit-for-bit
    val rng = new scala.util.Random(47)
    val rand = (0 until 100).map(_ =>
      (rng.nextInt(24).toLong, rng.nextInt(24).toLong))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val got2 = onGraph(rand.toDF("src", "dst"), 1)(LabelProp.run(_, 4))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == refLpa(rand, 4))
  }

  test("label propagation stays bit-stable over 10 rounds at 1, 3 and 7 partitions") {
    // 10 pull rounds in one job: every round's labels must survive the
    // partition count of the graph
    val rng = new scala.util.Random(11)
    val edges = (0 until 140).map(_ =>
      (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val want = refLpa(edges, 10)
    for (p <- Seq(1, 3, 7)) {
      val got = onGraph(edges.toDF("src", "dst"), p)(LabelProp.run(_, 10))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"at $p partitions")
    }
  }

  test("deg column is the undirected degree") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    val degs = onGraph(edges.toDF("src", "dst"), 1)(PageRank.run(_, 1))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(degs == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  private def triToMap(edges: Seq[(Long, Long)]) =
    graft.operators.Triangles.run(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("triangles: K4 plus a pendant — exact per-node (deg, tri, wedge)") {
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L))
    val got = triToMap(edges)
    assert(got == Map(
      0L -> ((3L, 3L, 3L)), 1L -> ((3L, 3L, 3L)), 2L -> ((3L, 3L, 3L)),
      3L -> ((4L, 3L, 6L)), 4L -> ((1L, 0L, 0L))))
  }

  test("triangles match a driver-side brute force on a random graph") {
    val rng = new scala.util.Random(23)
    val edges = (0 until 260).map(_ =>
      (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val es = edges.toSet
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val ref = nodes.map { n =>
      val nbrs = nodes.filter(m => es.contains((math.min(n, m), math.max(n, m))) && m != n)
      val tri = nbrs.combinations(2).count { case Seq(a, b) =>
        es.contains((math.min(a, b), math.max(a, b))) }
      val d = nbrs.size.toLong
      n -> ((d, tri.toLong, d * (d - 1) / 2))
    }.toMap
    assert(triToMap(edges) == ref)
    // partition-layout invariance through the persisted oriented set
    val got2 = graft.operators.Triangles.run(
        edges.toDF("u", "v").repartition(7))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got2 == ref)
  }

  /** Driver-side synchronous peel — the KCore.run contract re-folded
    * over Scala collections. */
  private def refPeel(edges: Seq[(Long, Long)], k: Int, rounds: Int)
      : Map[Long, (Long, Long)] = {
    val deg0 = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    var pr = deg0.map { case (n, d) => n -> (if (d < k) Some(0L) else None) }
    var live = edges
    for (i <- 1 to rounds) {
      val alive = pr.filter(_._2.isEmpty).keySet
      live = live.filter(e => alive(e._1) && alive(e._2))
      val d = live.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size.toLong }.withDefaultValue(0L)
      pr = pr.map { case (n, p) =>
        n -> (if (p.isDefined) p
              else if (d(n) < k) Some(i.toLong) else None) }
    }
    deg0.map { case (n, d) => n -> ((d, pr(n).getOrElse(-1L))) }
  }

  private def peelToMap(edges: Seq[(Long, Long)], k: Int, rounds: Int, parts: Int) =
    onGraph(edges.toDF("src", "dst"), parts)(KCore.run(_, k, rounds))
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("k-core: path cascade peels layer by layer, triangle survives (k=2)") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    assert(peelToMap(edges, k = 2, rounds = 4, parts = 1) == Map(
      0L -> ((1L, 0L)), 4L -> ((1L, 0L)),
      1L -> ((2L, 1L)), 3L -> ((2L, 1L)),
      2L -> ((2L, 2L)),
      10L -> ((2L, -1L)), 11L -> ((2L, -1L)), 12L -> ((2L, -1L))))
  }

  test("k-core matches the driver-side reference peel and reaches fixpoint") {
    val rng = new scala.util.Random(31)
    val edges = (0 until 220).map(_ =>
      (rng.nextInt(36).toLong, rng.nextInt(36).toLong))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }.distinct
    val want = refPeel(edges, 3, 8)
    // 8 kernel rounds, each a sum of live flags; the graph's partition
    // count must not change a peel round
    for (p <- Seq(1, 3, 7)) assert(peelToMap(edges, 3, 8, p) == want, s"at $p partitions")
    // fixpoint on this graph: extra rounds change nothing
    assert(refPeel(edges, 3, 12) == want)
  }

  test("q144 walks follow edges with the content-addressed argmin choice") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.GraphQueries.queries("q144_walk_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // rebuild the adjacency independently and refold the walk contract
    val adj: Seq[(Long, Long)] = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.distinct
      .groupBy(_._1).values.toSeq.flatMap { grp =>
        val sks = grp.map(_._2).distinct
        for (a <- sks; b <- sks if a < b) yield (a, b)
      }
    val w = adj.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val inc = w.toSeq.flatMap { case ((u, v), n) => Seq((u, v, n), (v, u, n)) }
    val kept = inc.groupBy(_._1).toSeq.flatMap { case (node, cands) =>
      cands.sortBy { case (_, nbr, n) => (-n, nbr) }.take(5)
        .map { case (_, nbr, _) => (math.min(node, nbr), math.max(node, nbr)) }
    }.toSet
    val nbrs = kept.toSeq.flatMap { case (u, v) => Seq(u -> v, v -> u) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).distinct }
    val ref = nbrs.keys.toSeq.flatMap { start =>
      var cur = start
      (1 to 3).map { t =>
        cur = nbrs(cur).minBy(n => (md5hex(s"wk:$start:$t:$n"), n))
        (start, t.toLong, cur)
      }
    }.toSet
    assert(out.toSet == ref)
  }

  test("q169 negatives are true non-edges, at most 2 per source, j-ordered, deterministic") {
    val dir = "/root/testdata/sf0.001"
    def run() = graft.queries.GraphQueries.queries("q169_negative_samples")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val rows = run()
    assert(rows.nonEmpty)
    val edges = spark.read.parquet(s"$dir/orders.parquet").as("o")
      .join(spark.read.parquet(s"$dir/lineitem.parquet").as("l"),
        org.apache.spark.sql.functions.expr("l.l_orderkey = o.o_orderkey"))
      .selectExpr("o.o_custkey * 2 AS src", "l.l_suppkey * 2 + 1 AS dst")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { case (src, neg, j, rank) =>
      assert(!edges.contains((src, neg)), s"($src,$neg) is a real edge")
      assert(j >= 1 && j <= 8 && rank >= 1 && rank <= 2)
    }
    rows.groupBy(_._1).foreach { case (src, rs) =>
      assert(rs.length <= 2, s"src $src: too many negatives")
      val byRank = rs.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == (1 to rs.length), s"src $src: ranks not dense")
      val js = byRank.map(_._3)
      assert(js.zip(js.tail).forall { case (a, b) => a <= b },
        s"src $src: negatives not drawn in j order")
    }
    assert(run().toSeq == rows.toSeq)
  }

  test("q216: modularity identity per community and the rendered global Q") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.GraphQueries
      .queries("q216_modularity")(spark, dir).collect()
    assert(rows.nonEmpty)
    val m = rows.head.getLong(5)
    val qTot = rows.head.getLong(6)
    rows.foreach { r =>
      assert(r.getLong(5) == m && r.getLong(6) == qTot,
        "global columns must be constant")
      assert(r.getLong(4) ==
        4 * m * r.getLong(2) - r.getLong(3) * r.getLong(3),
        s"community ${r.getLong(0)}: q_num identity")
      assert(r.getLong(2) <= m)
      val expPpm = math.floor(1000000.0 * qTot.toDouble /
        (4.0 * m.toDouble * m.toDouble)).toLong
      assert(r.getLong(7) == expPpm)
    }
    assert(qTot <= 4 * m * m, "Q must be <= 1")
    val sizes = rows.map(_.getLong(1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b },
      "largest-first prefix")
  }

  test("q229: the neighborhood function starts exact and grows monotonically") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.GraphQueries
      .queries("q229_hyperanf")(spark, dir).collect().sortBy(_.getLong(0))
    assert(rows.length == 5, "h = 0..4")
    val n = rows.head.getLong(1)
    assert(rows.forall(_.getLong(1) == n), "node universe is constant")
    // h = 0: every ball is exactly {self}; the linear-counting branch
    // with v = m - 1 renders floor(64·ln(64/63)) = 1 per node
    assert(rows.head.getLong(2) == n, "N(0) must be exact")
    // registers only max-grow across rounds ⇒ per-node estimates are
    // nondecreasing ⇒ so is their sum (a sketch-level guarantee, not
    // a statistical one)
    val ests = rows.map(_.getLong(2))
    assert(ests.zip(ests.tail).forall { case (a, b) => a <= b })
    rows.foreach(r =>
      assert(r.getLong(3) == 1000L * r.getLong(2) / r.getLong(1)))
  }

  test("q235: exactly one effective-diameter hop, at the first 90% crossing") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.queries.GraphQueries
      .queries("q235_effective_diameter")(spark, dir)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 5)
    val nMax = rows.map(_.getLong(1)).max
    val firstHit = rows.find(r => 10 * r.getLong(1) >= 9 * nMax).get.getLong(0)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (r.getLong(0) == firstHit))
      assert(r.getLong(3) <= 1000000L)
      if (r.getLong(0) == 0) assert(r.isNullAt(2))
      else assert(r.getLong(2) >= 1000000L, "the curve never shrinks")
    }
    assert(rows.last.getLong(3) == 1000000L, "h_max reaches itself")
  }

  test("q226: assortativity is a bounded correlation with consistent moments") {
    val dir = "/root/testdata/sf0.001"
    val r = graft.queries.GraphQueries
      .queries("q226_assortativity")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    val (mm, sx, sxy, sxx) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(mm % 2 == 0, "orientations come in pairs")
    assert(row.getLong(4) == mm * sxy - sx * sx)
    assert(row.getLong(5) == mm * sxx - sx * sx)
    assert(row.getLong(5) >= 0, "variance is nonnegative")
    assert(math.abs(row.getLong(6)) <= 1000001L, "r in [-1, 1] up to rounding")
    // Cauchy–Schwarz on the symmetric moments: |num| <= den
    assert(math.abs(row.getLong(4)) <= row.getLong(5))
  }
}
