package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Blocked pair generation: the candidate stage of every near-dup path
  * that pairs rows only inside a shared key, never by an all-pairs
  * cross join. The MinHash title chain blocks on band buckets (q51,
  * q70, q87, q225, q239), q53 on (first token, token count) blocks,
  * q213 on dHash bands, [[KMeans.nearDup]] and q151 on k-means
  * clusters, and [[Similarity]] on hyperplane buckets probed within
  * Hamming distance 1 (q54, q88, q89, q90, q92, q249).
  *
  * The steps, written once here:
  *  - **cap** ([[Blocking.apply]]): the build side keeps the `cap`
  *    smallest ids of each key, so one boilerplate bucket contributes at
  *    most cap rows per probe row and the join stays linear in the
  *    corpus. Only the build side is capped. In a same-key self-join
  *    under `<` or `≤` this equals capping both sides: a row capped out
  *    of its key has a larger id than every kept row, so it meets no
  *    kept row in either role (ScaleSpec pins it).
  *  - **width pin** ([[pin]]), on the probe side of a self-join.
  *  - **key equi-join** with the caller's id [[Order]].
  *  - **one DISTINCT** ([[Blocks.pairs]]) when a pair can meet under
  *    several keys (bands, tables).
  *
  * Verify predicates stay with the callers, as Column expressions over
  * the pair rows; [[expand]] and [[mirror]] give verified pairs the
  * shapes the callers emit. Column names: a join output carries the
  * keys once, then every other probe column suffixed `_a` and every
  * other build column suffixed `_b`.
  *
  * Left out: q75's blocks run a salted join ([[SkewJoin]]) for their
  * compute skew, q104 drops frequent tokens instead of capping them,
  * and q56/q57/q66/q160 are uncapped top-k retrieval over a fixed probe
  * set rather than pair generation.
  */
object Blocking {

  /** The id order a pair (a, b) must satisfy: probe id against build
    * id. */
  sealed abstract class Order(val holds: (Column, Column) => Column)
  /** Unordered pairs of one set, without self pairs. */
  case object Lt extends Order(_ < _)
  /** As [[Lt]], plus every row paired with itself. */
  case object Le extends Order(_ <= _)
  /** A batch probed against a disjoint history. */
  case object Unordered extends Order((_, _) => lit(true))

  /** Keep the first `cap` rows of every key, ordered by `id` (unique
    * within a key, so the choice is deterministic). One window pass:
    * it shuffles on the key, which the pair join shuffles on anyway. */
  def cap(df: DataFrame, keys: Seq[String], id: String, cap: Int): DataFrame =
    df.withColumn("__rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col(id))))
      .where(col("__rk") <= cap).drop("__rk")

  /** The width pin of a compute-dense, byte-light pair stage. The
    * planner broadcasts the build side, so the pair verify fuses into
    * the stage that reads the probe side, and AQE's byte-based
    * coalescer ran that stage as one task (q53 at sf0.1: ~850 ms of
    * array_intersect in one task; q162's cluster verify: ~300 ms).
    * REPARTITION_BY_NUM on the row-unique id, at an env-derived width
    * that AQE does not coalesce, spreads the probe evenly; a broadcast
    * probe needs no key alignment, so block skew cannot hot-spot a
    * partition. (Repartitioning by the key does not work: the cap's
    * window already hash-partitions by it, so the optimizer drops the
    * repartition.) */
  def pin(df: DataFrame, id: String): DataFrame =
    df.repartition(math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4),
      col(id))

  /** `df` capped per key: the build side of a blocked pair join. */
  def apply(df: DataFrame, keys: Seq[String], id: String,
            cap: Int = Dedup.MaxBucket): Blocks =
    Blocks(this.cap(df, keys, id, cap), keys, id)

  /** Rows capped per key (see [[Blocking]]), keyed by `keys`, with the
    * unique row id `id`. */
  final case class Blocks(rows: DataFrame, keys: Seq[String], id: String) {

    /** Every `probe` row joined to the rows of its key (`probe` holds
      * the key columns under the same names) where `order` holds
      * between the probe id and the row id: one row per (pair, key). */
    def candidates(probe: DataFrame, order: Order): DataFrame = {
      def side(df: DataFrame, a: String): Seq[Column] =
        df.columns.toSeq.filterNot(keys.contains).map(c => col(s"$a.$c").as(s"${c}_$a"))
      probe.as("a").join(rows.as("b"),
          keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
            order.holds(col(s"a.$id"), col(s"b.$id")))
        .select(keys.map(k => col(s"b.$k").as(k)) ++ side(probe, "a") ++ side(rows, "b"): _*)
    }

    /** [[candidates]] without the keys, one row per pair: a pair that
      * can meet under several keys (`multiKey`) passes one DISTINCT. */
    def pairs(probe: DataFrame, order: Order, multiKey: Boolean): DataFrame = {
      val p = candidates(probe, order).drop(keys: _*)
      if (multiKey) p.distinct() else p
    }

    /** The same-key self-join: [[pairs]] of the rows probed by
      * themselves, the probe side behind the width [[pin]]. */
    def selfPairs(order: Order, multiKey: Boolean): DataFrame =
      pairs(pin(rows, id), order, multiKey)

    /** These blocks with their rows behind the width pin, lazily
      * localCheckpointed: for a memo whose consumers self-join them
      * again and again, as [[candidates]] or [[pairs]] with `rows` as
      * the probe, so no consumer re-runs the cap or the pin. */
    def checkpointed: Blocks = copy(rows = pin(rows, id).localCheckpoint(false))
  }

  /** Member pairs of verified representative pairs. `pairs` holds
    * `<key>_a ≤ <key>_b` and carried columns; `members` maps each
    * `member` to its `key`. A cross pair emits each member of a with
    * each member of b as (least, greatest); a self pair emits each two
    * members m < n of its key once. One join pass with no aggregation:
    * when each member has one key and each unordered key pair occurs
    * once, every unordered member pair is emitted exactly once (q51's
    * cross/self split, without a UNION that would run the pair stage
    * once per branch). Output: `<member>_a < <member>_b` and the
    * carried columns. */
  def expand(pairs: DataFrame, members: DataFrame, key: String,
             member: String): DataFrame = {
    val (ka, kb, ma, mb) = (s"${key}_a", s"${key}_b", s"${member}_a", s"${member}_b")
    pairs.join(members.select(col(key).as(ka), col(member).as(ma)), ka)
      .join(members.select(col(key).as(kb), col(member).as(mb)), kb)
      .where(col(ka) =!= col(kb) || col(ma) < col(mb))
      .select(least(col(ma), col(mb)).as(ma) +: greatest(col(ma), col(mb)).as(mb) +:
        pairs.columns.toSeq.filterNot(Set(ka, kb)).map(col): _*)
  }

  /** Both orientations of each pair (`a`, `b`, carried columns), so a
    * symmetric verify runs once per unordered pair and a per-row rollup
    * still sees every neighbour. One generator pass, not a UNION, which
    * would run the pair stage once per branch. */
  def mirror(pairs: DataFrame, a: String, b: String): DataFrame = {
    val carried = pairs.columns.toSeq.filterNot(Set(a, b))
    pairs.select(explode(array(struct(col(a).as(a), col(b).as(b)),
        struct(col(b).as(a), col(a).as(b)))).as("__m") +: carried.map(col): _*)
      .select(col(s"__m.$a").as(a) +: col(s"__m.$b").as(b) +: carried.map(col): _*)
  }
}
