package graft.operators

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import scala.collection.mutable.ArrayBuilder

/** A prepared graph for the synchronous message-passing loops of the
  * link-analysis family ([[PageRank]] and its members, [[Bfs]],
  * [[KCore]], [[HyperAnf]], [[LabelProp]]): the Pregel layout, built
  * once and reused by every call and every round. It is the family's
  * only entry: a caller builds a graph with [[CsrGraph.apply]] (or reads
  * a memoized one) and releases it.
  *
  * Layout. The edge list is symmetrized once and hash-partitioned by
  * node into `parts` partitions (Spark's own `hashpartitioning` of a
  * long column: Murmur3 with seed 42, pmod parts). Each partition is one
  * [[CsrGraph.Block]] in compressed-sparse-row form: its sorted node
  * ids, an offsets array, and one primitive neighbour array. Edge
  * (u, v) is two adjacency rows: an OUT-row of u towards v and an
  * IN-row of v from u; a node's out-rows come first, so one split
  * index per node is the rows' direction bit. An edge frame with a
  * `w` column gives each row that integer weight (one weight array
  * beside the neighbours); without one the graph carries no weight
  * array and every row weighs 1. A neighbour is not stored by id but
  * by its SLOT in the partition's outbox: the outbox for destination
  * partition d holds one cell per distinct neighbour living in d, in
  * id order. Because every row has its reverse row at the neighbour,
  * partition d can list the same cells itself (its own nodes that have
  * a neighbour in the sender's partition, in id order), so slots
  * resolve to local indices on both sides without a routing shuffle
  * (GraphX's routing table, derived instead of exchanged).
  *
  * One round ([[propagate]]) sends along the rows an algorithm picks
  * ([[CsrGraph.Along]]): all of them (undirected), out-rows only (u → v:
  * directed PageRank, HITS's hub → authority step) or in-rows only
  * (v → u: HITS's authority → hub step). A node's state is `width`
  * Longs (lanes): 1, or [[HyperAnf]]'s m registers. It lives in one
  * flat primitive array per partition, co-partitioned with the blocks,
  * so width = array length / node count. Every sending node ships its
  * lanes over each row; the sender combines them per cell and lane
  * map-side (sum, min or max: [[CsrGraph.Combiner]]) and ships one
  * primitive array per destination partition — at most
  * width · |nodes of d| values, no keys — in ONE shuffle; a cell no row
  * of the round reaches carries the combiner's identity, so every
  * direction uses the same cells. The receiver folds the arrays into
  * its nodes and computes the next state. Nothing is broadcast or
  * sorted per round.
  *
  * The other round ([[pull]]) hands each node its neighbours' states,
  * one per adjacency row, uncombined: what [[LabelProp]]'s label
  * histogram needs, which no per-cell combiner can fold. Partition s
  * ships d the states of `in(d)` — its own nodes with a neighbour in d,
  * in id order — which are exactly d's outbox cells for s, so d copies
  * them to its cells from `outStart(s)` and row k reads its neighbour
  * at cell `slots(k)`. One shuffle, no keys, the volume of a width-1
  * [[propagate]] round.
  *
  * Exactness: the combiners are sums, mins and maxes of non-negative
  * Longs, so a result cannot depend on the partition count or message
  * order.
  * Parallel edges and self-loops count like rows of the edge list
  * (degree = Σ weight over the rows taken); rows with a null endpoint
  * or weight are dropped.
  *
  * Lifetime: the blocks are persisted (MEMORY_AND_DISK, lineage kept,
  * so a lost block is recomputed) and survive
  * `spark.catalog.clearCache()`. The owner releases them: a graph held
  * in [[graft.sources.Memo]] is released by the memo on replacement,
  * any other by its builder. Rounds persist nothing: a loop that reads
  * a driver scalar between rounds runs one job per round, and each job
  * reads the previous round's messages from their shuffle output
  * instead of recomputing them.
  */
final case class CsrGraph(spark: SparkSession, blocks: RDD[CsrGraph.Block],
                          nodes: Long) {
  import CsrGraph._

  def parts: Int = blocks.getNumPartitions

  /** Unpersists the blocks. */
  def release(): Unit = blocks.unpersist(blocking = false)

  /** `iters` synchronous rounds from `init` along the rows `along`
    * picks: in each lane l node v sends `send(state(v, l) · w, deg(v))`
    * over each such row of weight w (w = 1 on an unweighted graph;
    * deg(v) = Σ w over v's picked rows; a node without picked rows
    * sends nothing), the messages combine `by`, and v's next state is
    * `next(base(v, l), in(v, l))`. `init` and `base` are co-partitioned
    * state arrays of one width; `in(v, l)` is `by.zero` when v received
    * nothing. The returned state is lazy: one job runs all rounds. */
  private[operators] def propagate(init: RDD[Array[Long]], base: RDD[Array[Long]],
                                   iters: Int, along: Along, by: Combiner)
                                  (send: (Long, Long) => Long)
                                  (next: (Long, Long) => Long): RDD[Array[Long]] = {
    val owners = new HashPartitioner(parts) // key d → partition d
    (1 to iters).foldLeft(init) { (state, _) =>
      val out = blocks.zipPartitions(state) { (bs, ss) =>
        val b = bs.next(); val st = ss.next()
        val w = st.length / math.max(b.ids.length, 1)
        val acc = Array.fill(b.outStart(b.outStart.length - 1) * w)(by.zero)
        val m = new Array[Long](w)
        var i = 0
        while (i < b.ids.length) {
          val lo = b.lo(i, along); val hi = b.hi(i, along)
          if (lo < hi) {
            val deg = b.deg(i, along)
            var l = 0
            while (l < w) { m(l) = send(st(i * w + l), deg); l += 1 }
            var k = lo
            while (k < hi) {
              val c = b.slots(k) * w
              l = 0
              while (l < w) {
                val mk = if (b.weights == null) m(l) else send(st(i * w + l) * b.weights(k), deg)
                acc(c + l) = by(acc(c + l), mk)
                l += 1
              }
              k += 1
            }
          }
          i += 1
        }
        val me = TaskContext.getPartitionId()
        Iterator.range(0, b.outStart.length - 1)
          .filter(d => b.outStart(d + 1) > b.outStart(d))
          .map(d => d -> (me -> java.util.Arrays.copyOfRange(
            acc, b.outStart(d) * w, b.outStart(d + 1) * w)))
      }
      val msgs = new ShuffledRDD[Int, (Int, Array[Long]), (Int, Array[Long])](out, owners)
      blocks.zipPartitions(base, msgs) { (bs, as, ms) =>
        val b = bs.next(); val bv = as.next()
        val w = bv.length / math.max(b.ids.length, 1)
        val in = Array.fill(bv.length)(by.zero)
        ms.foreach { case (_, (from, vs)) =>
          val at = b.in(from)
          var j = 0
          while (j < at.length) {
            val v = at(j) * w
            var l = 0
            while (l < w) { in(v + l) = by(in(v + l), vs(j * w + l)); l += 1 }
            j += 1
          }
        }
        Iterator.single(Array.tabulate(bv.length)(v => next(bv(v), in(v))))
      }
    }
  }

  /** One pull round: node v's next state is `next` of its neighbours'
    * states, one per adjacency row of v (every row, in row order;
    * `next` owns the array and may reorder it). Width 1. Lazy. */
  private[operators] def pull(state: RDD[Array[Long]])
                             (next: Array[Long] => Long): RDD[Array[Long]] = {
    val out = blocks.zipPartitions(state) { (bs, ss) =>
      val b = bs.next(); val st = ss.next()
      val me = TaskContext.getPartitionId()
      Iterator.range(0, b.in.length).filter(d => b.in(d).nonEmpty)
        .map(d => d -> (me -> b.in(d).map(st(_))))
    }
    val msgs = new ShuffledRDD[Int, (Int, Array[Long]), (Int, Array[Long])](
      out, new HashPartitioner(parts))
    blocks.zipPartitions(msgs) { (bs, ms) =>
      val b = bs.next()
      val cells = new Array[Long](b.outStart(b.outStart.length - 1))
      ms.foreach { case (_, (from, vs)) =>
        System.arraycopy(vs, 0, cells, b.outStart(from), vs.length) }
      Iterator.single(Array.tabulate(b.ids.length)(i =>
        next(Array.tabulate(b.offsets(i + 1) - b.offsets(i))(j =>
          cells(b.slots(b.offsets(i) + j))))))
    }
  }

  /** One state array per block: each node's degree along `along`
    * (Σ weight over those rows). */
  private[operators] def degrees(along: Along): RDD[Array[Long]] =
    blocks.map(b => Array.tabulate(b.ids.length)(b.deg(_, along)))

  /** One state array per block, every cell `v`. */
  private[operators] def fill(v: Long): RDD[Array[Long]] =
    blocks.map(b => Array.fill(b.ids.length)(v))

  /** A state of `width` lanes from the `cells` (node, lane, value):
    * 0 where no cell is listed, the larger value where one repeats;
    * nodes absent from the graph are ignored. One shuffle of the cells,
    * hash-partitioned like the nodes. */
  private[operators] def load(cells: DataFrame, width: Int): RDD[Array[Long]] = {
    val p = parts
    val byOwner = cells.select(Seq("node", "lane", "value").map(col(_).cast("long")): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = Array.fill(p)(new ArrayBuilder.ofLong)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
            require(r.getLong(1) >= 0 && r.getLong(1) < width, s"lane ${r.getLong(1)} of $width")
            buf(owner(r.getLong(0), p)) += r.getLong(0) += r.getLong(1) += r.getLong(2)
          }
        }
        Iterator.range(0, p).map(d => d -> buf(d).result()).filter(_._2.nonEmpty)
      }
    blocks.zipPartitions(new ShuffledRDD[Int, Array[Long], Array[Long]](
        byOwner, new HashPartitioner(p))) { (bs, ss) =>
      val b = bs.next()
      val m = new Array[Long](b.ids.length * width)
      ss.foreach { case (_, xs) =>
        for (j <- 0 until xs.length by 3) {
          val i = java.util.Arrays.binarySearch(b.ids, xs(j))
          if (i >= 0) {
            val c = i * width + xs(j + 1).toInt
            m(c) = math.max(m(c), xs(j + 2))
          }
        }
      }
      Iterator.single(m)
    }
  }

  /** 1 for the nodes listed in `seeds` (column `node`), else 0. */
  private[operators] def mark(seeds: DataFrame): RDD[Array[Long]] =
    load(seeds.select(col("node"), lit(0).as("lane"), lit(1L).as("value")), 1)

  /** The state arrays `cols` as a (node, cols…) frame of Longs. */
  private[operators] def frame(cols: (String, RDD[Array[Long]])*): DataFrame = {
    val values = cols.map(_._2.map(Seq(_))).reduceLeft { (a, b) =>
      a.zipPartitions(b)((x, y) => Iterator.single(x.next() ++ y.next())) }
    val rows = blocks.zipPartitions(values) { (bs, vs) =>
      val b = bs.next(); val v = vs.next()
      Iterator.range(0, b.ids.length).map(i => Row.fromSeq(b.ids(i) +: v.map(_(i))))
    }
    spark.createDataFrame(rows, StructType(("node" +: cols.map(_._1))
      .map(StructField(_, LongType, nullable = false))))
  }
}

object CsrGraph {

  /** The adjacency rows a round sends along. */
  sealed trait Along
  /** Every row: the undirected graph. */
  case object All extends Along
  /** Out-rows: u sends to v for each edge (u, v). */
  case object Out extends Along
  /** In-rows: v sends to u for each edge (u, v). */
  case object In extends Along

  /** How messages combine per cell and lane, with the identity `zero`. */
  sealed abstract class Combiner(val zero: Long, f: (Long, Long) => Long) extends Serializable {
    def apply(a: Long, b: Long): Long = f(a, b)
  }
  case object Sum extends Combiner(0L, _ + _)
  case object Min extends Combiner(Long.MaxValue, math.min)
  case object Max extends Combiner(0L, math.max)

  /** One partition of the graph. Node `i` (id `ids(i)`, ids sorted) has
    * the adjacency rows `offsets(i) until offsets(i + 1)`: out-rows
    * until `mid(i)`, in-rows from there. Row k's neighbour is outbox
    * cell `slots(k)`, its weight `weights(k)` (no array on an
    * unweighted graph: every row weighs 1). The cells for destination
    * partition d are `outStart(d) until outStart(d + 1)`, one per
    * distinct neighbour living in d, in id order. `in(s)(j)` is the
    * local index of the node behind cell j of partition s's outbox
    * slice for this partition. */
  final class Block(val ids: Array[Long], val offsets: Array[Int], val mid: Array[Int],
                    val slots: Array[Int], val weights: Array[Long],
                    val outStart: Array[Int], val in: Array[Array[Int]]) extends Serializable {

    /** First of node `i`'s rows along `a`. */
    def lo(i: Int, a: Along): Int = if (a == In) mid(i) else offsets(i)

    /** One past the last of node `i`'s rows along `a`. */
    def hi(i: Int, a: Along): Int = if (a == Out) mid(i) else offsets(i + 1)

    /** Σ weight over node `i`'s rows along `a`. */
    def deg(i: Int, a: Along): Long =
      if (weights == null) hi(i, a) - lo(i, a)
      else {
        var (d, k) = (0L, lo(i, a))
        while (k < hi(i, a)) { d += weights(k); k += 1 }
        d
      }
  }

  /** The partition owning node `v`: Spark's `hashpartitioning` of a
    * long column. */
  private def owner(v: Long, parts: Int): Int = {
    val h = Murmur3_x86_32.hashLong(v, 42) % parts
    if (h < 0) h + parts else h
  }

  /** Builds the graph of the edge list `edges` (src, dst[, w]) over
    * `parts` partitions; each edge becomes the out-row of src and the
    * in-row of dst (pass an undirected edge once), weighted by `w` when
    * the frame has that column. One shuffle of the rows, then one job
    * that materializes the blocks and counts the nodes. */
  def apply(edges: DataFrame, parts: Int): CsrGraph = {
    val p = parts
    val weighted = edges.columns.contains("w")
    val cols = Seq("src", "dst") ++ (if (weighted) Seq("w") else Nil)
    val chunks = edges.select(cols.map(col(_).cast("long")): _*)
      .queryExecution.toRdd
      .mapPartitions { rows =>
        // per owner partition: interleaved (node, neighbour) pairs of
        // its out-rows and of its in-rows, then their weights
        val buf = Array.fill(p, if (weighted) 4 else 2)(new ArrayBuilder.ofLong)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1) && !(weighted && r.isNullAt(2))) {
            val (s, d) = (r.getLong(0), r.getLong(1))
            val o = buf(owner(s, p)); val i = buf(owner(d, p))
            o(0) += s += d
            i(1) += d += s
            if (weighted) { o(2) += r.getLong(2); i(3) += r.getLong(2) }
          }
        }
        Iterator.range(0, p).map(d => d -> buf(d).map(_.result()))
          .filter(c => c._2(0).nonEmpty || c._2(1).nonEmpty)
      }
    val blocks = new ShuffledRDD[Int, Array[Array[Long]], Array[Array[Long]]](
        chunks, new HashPartitioner(p))
      .mapPartitions(it => Iterator.single(block(it.map(_._2).toArray, p, weighted)),
        preservesPartitioning = true)
      .setName(s"CsrGraph[$p]")
      .persist(StorageLevel.MEMORY_AND_DISK)
    CsrGraph(edges.sparkSession, blocks,
      blocks.map(_.ids.length.toLong).fold(0L)(_ + _))
  }

  /** Sorted distinct copy of `xs`. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    for (i <- s.indices) if (i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
    java.util.Arrays.copyOf(s, n)
  }

  /** One block from the chunks its partition received (see [[apply]]):
    * rows `0 until nOut` are out-rows, the rest in-rows. */
  private def block(chunks: Array[Array[Array[Long]]], p: Int, weighted: Boolean): Block = {
    val nOut = chunks.map(_(0).length / 2).sum
    val m = nOut + chunks.map(_(1).length / 2).sum
    val (node, nbr) = (new Array[Long](m), new Array[Long](m))
    val w = if (weighted) new Array[Long](m) else null
    var (k, kw) = (0, 0)
    for (dir <- 0 to 1; c <- chunks) {
      for (j <- 0 until c(dir).length by 2) { node(k) = c(dir)(j); nbr(k) = c(dir)(j + 1); k += 1 }
      if (weighted) for (x <- c(dir + 2)) { w(kw) = x; kw += 1 }
    }
    val ids = distinctSorted(node)
    val at = node.map(java.util.Arrays.binarySearch(ids, _))
    val to = nbr.map(owner(_, p))
    val offsets = new Array[Int](ids.length + 1)
    val nOuts = new Array[Int](ids.length)
    for (r <- 0 until m) {
      offsets(at(r) + 1) += 1
      if (r < nOut) nOuts(at(r)) += 1
    }
    for (i <- ids.indices) offsets(i + 1) += offsets(i)
    val mid = Array.tabulate(ids.length)(i => offsets(i) + nOuts(i))
    // outbox cells: per destination partition, its distinct neighbours
    val byOwner = Array.fill(p)(new ArrayBuilder.ofLong)
    for (r <- 0 until m) byOwner(to(r)) += nbr(r)
    val cells = byOwner.map(b => distinctSorted(b.result()))
    val outStart = cells.scanLeft(0)(_ + _.length)
    val slots = new Array[Int](m)
    val weights = if (weighted) new Array[Long](m) else null
    val (fillOut, fillIn) = (offsets.clone(), mid.clone())
    for (r <- 0 until m) {
      val fill = if (r < nOut) fillOut else fillIn
      val k = fill(at(r))
      slots(k) = outStart(to(r)) + java.util.Arrays.binarySearch(cells(to(r)), nbr(r))
      if (weighted) weights(k) = w(r)
      fill(at(r)) += 1
    }
    // inbound cells from partition s: own nodes with a neighbour in s,
    // in id order — the cells s's outbox slice for this partition lists
    val has = Array.fill(p)(new java.util.BitSet(ids.length))
    for (r <- 0 until m) has(to(r)).set(at(r))
    val in = has.map(h => h.stream().toArray)
    new Block(ids, offsets, mid, slots, weights, outStart, in)
  }
}
