package graft.operators

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import scala.collection.mutable.ArrayBuilder

/** A prepared UNDIRECTED graph for the synchronous message-passing
  * loops ([[PageRank.run]], [[PageRank.runTrust]], [[Bfs.run]]): the
  * Pregel layout, built once and reused by every call and every round.
  *
  * Layout. The edge list is symmetrized once and hash-partitioned by
  * node into `parts` partitions (Spark's own `hashpartitioning` of a
  * long column: Murmur3 with seed 42, pmod parts). Each partition is one
  * [[CsrGraph.Block]] in compressed-sparse-row form: its sorted node
  * ids, an offsets array, and one primitive neighbour array. A
  * neighbour is not stored by id but by its SLOT in the partition's
  * outbox: the outbox for destination partition d holds one cell per
  * distinct neighbour living in d, in id order. Because the adjacency
  * is symmetric, partition d can list the same cells itself (its own
  * nodes that have a neighbour in the sender's partition, in id order),
  * so slots resolve to local indices on both sides without a routing
  * shuffle (GraphX's routing table, derived instead of exchanged).
  *
  * One round ([[propagate]]): every node sends one value to all its
  * neighbours; the sender combines them per cell map-side (sum or min)
  * and ships one primitive array per destination partition — at most
  * |nodes of d| values, no keys — in ONE shuffle; the receiver folds the
  * arrays into its nodes and computes the next state. The node state
  * lives in one primitive array per partition, co-partitioned with the
  * blocks; nothing is broadcast, nothing is sorted per round, and a
  * round's traffic is bounded by |nodes| per partition.
  *
  * Exactness: the combiners are sums and mins of non-negative Longs, so
  * a result cannot depend on the partition count or message order.
  * Parallel edges and self-loops count like rows of the symmetrized
  * edge list (degree = adjacency rows); rows with a null endpoint are
  * dropped.
  *
  * Lifetime: the blocks are persisted (MEMORY_AND_DISK, lineage kept,
  * so a lost block is recomputed) and survive
  * `spark.catalog.clearCache()`. The owner releases them: a graph held
  * in [[graft.sources.Memo]] is released by the memo on replacement;
  * [[once]] releases its throwaway graph itself.
  */
final case class CsrGraph(spark: SparkSession, blocks: RDD[CsrGraph.Block],
                          nodes: Long) {
  import CsrGraph._

  def parts: Int = blocks.getNumPartitions

  /** Unpersists the blocks. */
  def release(): Unit = blocks.unpersist(blocking = false)

  /** `iters` synchronous rounds from `init`: node v sends
    * `send(state(v), deg(v))` to each neighbour (per adjacency row),
    * the messages combine by sum (or by min when `min`), and v's next
    * state is `next(base(v), in(v))`. `init` and `base` are
    * co-partitioned state arrays (one per block); `in(v)` is the
    * combiner's identity (0, or Long.MaxValue for min) when v received
    * nothing. The returned state is lazy: one job runs all rounds. */
  private[operators] def propagate(init: RDD[Array[Long]], base: RDD[Array[Long]],
                                   iters: Int, min: Boolean)(send: (Long, Long) => Long)
                                  (next: (Long, Long) => Long): RDD[Array[Long]] = {
    val zero = if (min) Long.MaxValue else 0L
    val owners = new HashPartitioner(parts) // key d → partition d
    (1 to iters).foldLeft(init) { (state, _) =>
      val out = blocks.zipPartitions(state) { (bs, ss) =>
        val b = bs.next(); val st = ss.next()
        val acc = Array.fill(b.outStart(b.outStart.length - 1))(zero)
        var i = 0
        while (i < b.ids.length) {
          val m = send(st(i), b.offsets(i + 1) - b.offsets(i))
          var k = b.offsets(i)
          while (k < b.offsets(i + 1)) {
            val c = b.slots(k)
            acc(c) = if (min) math.min(acc(c), m) else acc(c) + m
            k += 1
          }
          i += 1
        }
        val me = TaskContext.getPartitionId()
        Iterator.range(0, b.outStart.length - 1)
          .filter(d => b.outStart(d + 1) > b.outStart(d))
          .map(d => d -> (me -> java.util.Arrays.copyOfRange(
            acc, b.outStart(d), b.outStart(d + 1))))
      }
      val msgs = new ShuffledRDD[Int, (Int, Array[Long]), (Int, Array[Long])](out, owners)
      blocks.zipPartitions(base, msgs) { (bs, as, ms) =>
        val b = bs.next(); val bv = as.next()
        val in = Array.fill(b.ids.length)(zero)
        ms.foreach { case (_, (from, vs)) =>
          val at = b.in(from)
          var j = 0
          while (j < vs.length) {
            val v = at(j)
            in(v) = if (min) math.min(in(v), vs(j)) else in(v) + vs(j)
            j += 1
          }
        }
        Iterator.single(Array.tabulate(b.ids.length)(v => next(bv(v), in(v))))
      }
    }
  }

  /** One state array per block, every cell `v`. */
  private[operators] def fill(v: Long): RDD[Array[Long]] =
    blocks.map(b => Array.fill(b.ids.length)(v))

  /** Per block, 1 for the nodes listed in `seeds` (column `node`), else
    * 0. Seeds absent from the graph are ignored. The seed ids are
    * hash-partitioned like the nodes (one shuffle of the seed list). */
  private[operators] def mark(seeds: DataFrame): RDD[Array[Long]] = {
    val p = parts
    val byOwner = seeds.select(col("node").cast("long")).queryExecution.toRdd
      .mapPartitions { rows =>
        val buf = Array.fill(p)(new ArrayBuilder.ofLong)
        rows.foreach(r => if (!r.isNullAt(0)) buf(owner(r.getLong(0), p)) += r.getLong(0))
        Iterator.range(0, p).map(d => d -> buf(d).result()).filter(_._2.nonEmpty)
      }
    blocks.zipPartitions(new ShuffledRDD[Int, Array[Long], Array[Long]](
        byOwner, new HashPartitioner(p))) { (bs, ss) =>
      val b = bs.next()
      val m = new Array[Long](b.ids.length)
      ss.foreach(_._2.foreach { s =>
        val i = java.util.Arrays.binarySearch(b.ids, s)
        if (i >= 0) m(i) = 1L
      })
      Iterator.single(m)
    }
  }

  /** `state` as a (node, [deg,] `value`) frame. */
  private[operators] def frame(state: RDD[Array[Long]], value: String,
                               withDeg: Boolean): DataFrame = {
    val rows = blocks.zipPartitions(state) { (bs, ss) =>
      val b = bs.next(); val s = ss.next()
      Iterator.range(0, b.ids.length).map { i =>
        if (withDeg) Row(b.ids(i), (b.offsets(i + 1) - b.offsets(i)).toLong, s(i))
        else Row(b.ids(i), s(i))
      }
    }
    val cols = Seq("node") ++ (if (withDeg) Seq("deg") else Nil) :+ value
    spark.createDataFrame(rows,
      StructType(cols.map(StructField(_, LongType, nullable = false))))
  }
}

object CsrGraph {

  /** One partition of the graph. Node `i` (id `ids(i)`, ids sorted) has
    * the adjacency rows `offsets(i) until offsets(i + 1)`; row k's
    * neighbour is outbox cell `slots(k)`. The cells for destination
    * partition d are `outStart(d) until outStart(d + 1)`, one per
    * distinct neighbour living in d, in id order. `in(s)(j)` is the
    * local index of the node behind cell j of partition s's outbox
    * slice for this partition. */
  final class Block(val ids: Array[Long], val offsets: Array[Int],
                    val slots: Array[Int], val outStart: Array[Int],
                    val in: Array[Array[Int]]) extends Serializable

  /** The partition owning node `v`: Spark's `hashpartitioning` of a
    * long column. */
  private def owner(v: Long, parts: Int): Int = {
    val h = Murmur3_x86_32.hashLong(v, 42) % parts
    if (h < 0) h + parts else h
  }

  /** Builds the graph of the undirected edge list `edges` (src, dst) —
    * both directions are added here, so pass each edge once — over
    * `parts` partitions. One shuffle of the symmetrized rows, then one
    * job that materializes the blocks and counts the nodes. */
  def apply(edges: DataFrame, parts: Int): CsrGraph = {
    val p = parts
    val pairs = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd
      .mapPartitions { rows =>
        // per owner partition, interleaved (node, neighbour) pairs
        val buf = Array.fill(p)(new ArrayBuilder.ofLong)
        rows.foreach { r =>
          if (!r.isNullAt(0) && !r.isNullAt(1)) {
            val (s, d) = (r.getLong(0), r.getLong(1))
            buf(owner(s, p)) += s += d
            buf(owner(d, p)) += d += s
          }
        }
        Iterator.range(0, p).map(d => d -> buf(d).result()).filter(_._2.nonEmpty)
      }
    val blocks = new ShuffledRDD[Int, Array[Long], Array[Long]](
        pairs, new HashPartitioner(p))
      .mapPartitions(it => Iterator.single(block(it.map(_._2).toArray, p)),
        preservesPartitioning = true)
      .setName(s"CsrGraph[$p]")
      .persist(StorageLevel.MEMORY_AND_DISK)
    CsrGraph(edges.sparkSession, blocks,
      blocks.map(_.ids.length.toLong).fold(0L)(_ + _))
  }

  /** Runs `f` on a graph of `edges` built for this one call (`parts` ≤ 0:
    * [[LoopSizing]] of the symmetrized row count) and returns its result
    * persisted in the session cache; the graph is released before
    * returning. The caller releases the result with
    * `spark.catalog.clearCache()` or `unpersist()`. */
  private[operators] def once(edges: DataFrame, parts: Int)
                             (f: CsrGraph => DataFrame): DataFrame = {
    val p = if (parts > 0) parts
      else LoopSizing.partitions(edges.sparkSession, 2L * edges.count())
    val g = CsrGraph(edges, p)
    try { val r = f(g).persist(); r.count(); r } finally g.release()
  }

  /** Sorted distinct copy of `xs`. */
  private def distinctSorted(xs: Array[Long]): Array[Long] = {
    val s = xs.clone()
    java.util.Arrays.sort(s)
    var n = 0
    for (i <- s.indices) if (i == 0 || s(i) != s(i - 1)) { s(n) = s(i); n += 1 }
    java.util.Arrays.copyOf(s, n)
  }

  /** One block from the interleaved (node, neighbour) pairs its
    * partition received. */
  private def block(chunks: Array[Array[Long]], p: Int): Block = {
    val m = chunks.map(_.length / 2).sum
    val (node, nbr) = (new Array[Long](m), new Array[Long](m))
    var k = 0
    for (c <- chunks; j <- 0 until c.length by 2) {
      node(k) = c(j); nbr(k) = c(j + 1); k += 1
    }
    val ids = distinctSorted(node)
    val at = node.map(java.util.Arrays.binarySearch(ids, _))
    val to = nbr.map(owner(_, p))
    val offsets = new Array[Int](ids.length + 1)
    at.foreach(i => offsets(i + 1) += 1)
    for (i <- ids.indices) offsets(i + 1) += offsets(i)
    // outbox cells: per destination partition, its distinct neighbours
    val byOwner = Array.fill(p)(new ArrayBuilder.ofLong)
    for (r <- 0 until m) byOwner(to(r)) += nbr(r)
    val cells = byOwner.map(b => distinctSorted(b.result()))
    val outStart = cells.scanLeft(0)(_ + _.length)
    val slots = new Array[Int](m)
    val fill = offsets.clone()
    for (r <- 0 until m) {
      slots(fill(at(r))) =
        outStart(to(r)) + java.util.Arrays.binarySearch(cells(to(r)), nbr(r))
      fill(at(r)) += 1
    }
    // inbound cells from partition s: own nodes with a neighbour in s,
    // in id order — the cells s's outbox slice for this partition lists
    val has = Array.fill(p)(new java.util.BitSet(ids.length))
    for (r <- 0 until m) has(to(r)).set(at(r))
    val in = has.map(h => h.stream().toArray)
    new Block(ids, offsets, slots, outStart, in)
  }
}
