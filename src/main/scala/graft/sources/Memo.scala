package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** The engine's one store for values reused ACROSS queries: the
  * reference builds its `posts` relation once per DAG run and every
  * later step reads that one table; the engine's shared frames (posts
  * proxy, title chain, purchase/kNN edge lists, the purchase
  * [[graft.operators.CsrGraph]], q118's selection manifest)
  * and driver-held models (coarse/PQ centroids, BPE merges, plane and
  * loop-partition counts, row-group counts) are computed once the same
  * way.
  *
  * The rule: ONE entry per (session, path, tag).
  *  - The entry is rebuilt when the path's fixture stamp changes, so a
  *    fixture regenerated at the same path is a miss, never a stale hit.
  *  - It is dropped when its session's SparkContext is stopped, without
  *    any call into that context (stopping it freed the blocks).
  *  - When it is replaced, it releases every frame and RDD its value
  *    holds (directly, or inside a case class, tuple or collection): a
  *    frame's persisted copy and every `localCheckpoint` RDD in its
  *    plan, an RDD's persisted blocks (a CsrGraph's). The memo OWNS
  *    those values.
  *
  * The condition: a fixture is a FLAT directory of top-level `*.parquet`
  * files (what perfbench/gen.py, scripts/make_sf1.py and
  * scripts/make_strongband.py write), or one plain file. The stamp
  * folds each such file's (name, length, mtime); files in
  * subdirectories are not seen, and a same-length rewrite inside the
  * filesystem's mtime granularity is not seen either. A path that does
  * not exist locally has a constant stamp (the entry lives until its
  * session stops).
  *
  * Builds run outside the map's locks, one at a time per entry, so a
  * build may itself call the memo (q112's loop sizing reads the
  * memoized purchase graph). Frames held here survive
  * `spark.catalog.clearCache()` only as far as their storage does:
  * `localCheckpoint` blocks and persisted RDDs are RDD-level and
  * survive it, `persist`ed frames are deregistered by it.
  */
object Memo {

  private final class Entry(val stamp: Long, build: () => Any) {
    @volatile var value: Option[Any] = None
    def get: Any = synchronized {
      value.getOrElse { val v = build(); value = Some(v); v }
    }
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Entry]

  /** The value memoized for (`s`, `path`, `tag`), built by `build` on a
    * miss (first call, or the stamp of `path` changed). */
  def apply[V](s: SparkSession, path: String, tag: String)(build: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    val st = stamp(path)
    val fresh = new Entry(st, () => build)
    var stale: Entry = null
    val e = entries.compute((s, path, tag), (_, old) =>
      if (old != null && old.stamp == st) old else { stale = old; fresh })
    if (stale != null) stale.value.foreach(release)
    e.get.asInstanceOf[V]
  }

  /** Live entries of `s` (spec surface). */
  private[graft] def entriesOf(s: SparkSession): Int =
    entries.keySet.asScala.count(_._1 eq s)

  /** Fold of (name, length, mtime) over `path` itself when it is a file,
    * else over its top-level `*.parquet` files. */
  private[graft] def stamp(path: String): Long = {
    val f = new java.io.File(
      if (path.startsWith("file:"))
        scala.util.Try(new java.net.URI(path).getPath).getOrElse(path.stripPrefix("file:"))
      else path)
    val files =
      if (f.isFile) Array(f)
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(g => g.isFile && g.getName.endsWith(".parquet"))
        .sortBy(_.getName)
    files.foldLeft(1125899906842597L) { (a, g) =>
      a * 31 + g.getName.hashCode.toLong * 1315423911L +
        g.length() * 2654435761L + g.lastModified()
    }
  }

  /** Releases every frame and RDD `v` holds: a frame's persisted copy
    * and the `localCheckpoint` RDDs in its plan, an RDD's persisted
    * blocks. */
  private def release(v: Any): Unit = v match {
    case d: Dataset[_] =>
      try {
        d.queryExecution.logical.foreach {
          case r: LogicalRDD => r.rdd.unpersist(blocking = false)
          case _ => ()
        }
        d.unpersist(blocking = false)
      } catch { case scala.util.control.NonFatal(_) => () }
    case r: RDD[_] =>
      try r.unpersist(blocking = false)
      catch { case scala.util.control.NonFatal(_) => () }
    case i: Iterable[_] => i.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
