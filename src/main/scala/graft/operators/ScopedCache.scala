package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.Memo

/** Within-query persist with bounded lifetime for library callers.
  *
  * A query that consumes one expensive expansion from two
  * differently-aggregated subtrees legitimately `persist()`s it
  * (exchange reuse cannot fire across differing partial aggregates —
  * measured on q135/q136, OPTIMIZATION_r14.md). The bench harness
  * releases those blocks with a per-query `spark.catalog.clearCache()`,
  * but a caller outside the harness (PlanDump sessions, library reuse)
  * would accumulate one cached RDD per invocation (r14 ADVICE).
  *
  * `persist(tag, df)` keeps AT MOST ONE live cached frame per
  * (session, tag), keyed on the stamp of `df.inputFiles` (Memo's
  * stamp of each file). The previous build's frame is unpersisted
  * first unless it is the same plan over the same stamp:
  *  - CacheManager keys entries by PLAN equality, so a rebuild of the
  *    same query shares the entry — unpersisting it would evict the
  *    entry about to be reused (q136's shared expansion ran twice).
  *  - A fixture rewritten at the same path gives an equal plan too,
  *    so on a new stamp the old entry must go BEFORE the persist, or
  *    the persist would silently reuse the stale blocks.
  * The previous frame's actions have necessarily completed (queries
  * are built-then-executed), so the unpersist is safe; at worst a
  * concurrent reader recomputes.
  */
object ScopedCache {

  private val last =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Seq[Long], DataFrame)]

  def persist(tag: String, df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val st = df.inputFiles.sorted.map(Memo.stamp).toSeq
    val prev = last.get((s, tag))
    if (prev != null && (prev._1 != st ||
        !prev._2.queryExecution.analyzed.sameResult(df.queryExecution.analyzed)))
      try prev._2.unpersist(false)
      catch { case scala.util.control.NonFatal(_) => () }
    val p = df.persist()
    last.put((s, tag), (st, p))
    last.keySet.removeIf(_._1.sparkContext.isStopped)
    p
  }
}
