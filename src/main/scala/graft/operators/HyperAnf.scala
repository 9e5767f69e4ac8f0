package graft.operators

import graft.operators.CsrGraph.{All, Max}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

/** HyperANF's register rounds (Boldi, Rosa & Vigna, WWW 2011): every
  * node carries `m` HyperLogLog registers seeded with itself, and after
  * h rounds of max-merging its neighbours' registers they sketch its
  * ball of radius h. The caller renders the seeds and reads the
  * estimates (q229).
  *
  * Scale shape: the [[CsrGraph]] kernel at width m, combining by max.
  * A round is reg'(v) = max(reg₀(v), max_{u~v} reg(u)) lane by lane:
  * the ball of radius h around v is v plus the balls of radius h − 1
  * around its neighbours, so, as in [[Bfs]], a round needs only its
  * messages and the seed. State is m registers per node however large
  * the ball (0 = empty); a round ships at most m·|nodes| values per
  * partition in ONE shuffle. Cache contract as in [[PageRank]].
  */
object HyperAnf {

  /** (node, h, regs) for every node and h = 0..`rounds`: its `m`
    * registers after h rounds from the seed cells (node, lane, value).
    * Lazy; persists nothing. */
  def run(g: CsrGraph, seeds: DataFrame, m: Int, rounds: Int): DataFrame = {
    val r0 = g.load(seeds, m)
    val states = (1 to rounds).scanLeft(r0)((r, _) =>
      g.propagate(r, r0, 1, All, Max)((x, _) => x)(math.max))
    val rows = states.zipWithIndex.map { case (st, h) =>
      g.blocks.zipPartitions(st) { (bs, ss) =>
        val (b, x) = (bs.next(), ss.next())
        Iterator.range(0, b.ids.length).map(i =>
          Row(b.ids(i), h.toLong, java.util.Arrays.copyOfRange(x, i * m, (i + 1) * m)))
      }
    }
    g.spark.createDataFrame(g.spark.sparkContext.union(rows), StructType(Seq(
      StructField("node", LongType, nullable = false),
      StructField("h", LongType, nullable = false),
      StructField("regs", ArrayType(LongType, containsNull = false), nullable = false))))
  }
}
