package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Unsplittable-input fan-out (optimization guide §2.5 "input skew":
  * "one huge unsplittable file … otherwise repartition immediately
  * after the read").
  *
  * A parquet ROW GROUP is atomic to the reader, so a scan's effective
  * parallelism is its total row-group count no matter how many byte
  * splits `spark.sql.files.minPartitionNum` produces. The sf0.001–0.1
  * driver fixtures are SINGLE-row-group files: every scan runs as one
  * task, and everything between the scan and the first exchange is
  * serial (measured: q181's scan+explode+partial-agg stage = 1.44 s
  * wall / 1.41 s cpu with 32 cores idle). For queries whose pre-shuffle
  * map work dominates (token/gram/window explosion, md5-per-token
  * features), one hash repartition right after the read unlocks the
  * cores: the shuffle moves the raw rows once — bytes the stage must
  * read anyway — and the ≥10× expansion work after it runs parallel.
  * It also MOVES the first exchange below the expansion: the shuffle
  * carries the small side of the blowup (guide §2.3).
  *
  * LAYOUT-AWARE (r14, second measurement round): the sf1 fixture is
  * 25+ row groups per table, so its scans already fan out ~25-way —
  * there the same repartition is pure overhead (+0.6–1.7 s on q105/
  * q115/q175 at sf1, A/B-measured against the pre-change tree). The
  * operator therefore reads the input's total row-group count from the
  * parquet footers (one footer read per file, held in
  * graft.sources.Memo — the same metadata the scan planner touches)
  * and becomes a NO-OP when the layout can already feed at least half
  * the configured cores — exactly the guide's contract: repartition-after-read is the defense
  * for unsplittable inputs, not a blanket policy. On a production
  * many-file layout the no-op path always wins, so nothing here is
  * local-mode tuning; the widths involved all derive from
  * SPARK_GRAFT_CPUS via defaultParallelism.
  *
  * Results are unchanged either way: every consumer below a fan-out is
  * a key-partitioned aggregation/join with exact (integer/string/
  * min/max/count) merge semantics, or re-establishes its own total
  * order downstream — audited per call site, OPTIMIZATION_r14.md has
  * the list.
  */
object FanOut {

  private def rowGroups(df: DataFrame): Option[Int] = {
    val files = try df.inputFiles catch { case _: Throwable => Array.empty[String] }
    if (files.isEmpty || !files.forall(_.endsWith(".parquet"))) None
    else Some(files.map { f =>
      graft.sources.Memo(df.sparkSession, f, "rowGroups") {
        try {
          val conf = df.sparkSession.sessionState.newHadoopConf()
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRowGroups.size finally r.close()
        } catch { case scala.util.control.NonFatal(_) => Int.MaxValue }
      }
    }.foldLeft(0L)((a, b) => math.min(a + b, Int.MaxValue.toLong)).toInt)
  }

  /** Hash-repartition `df` by `key` to unlock post-scan parallelism —
    * or pass it through untouched when the file layout already feeds
    * the cores (object scaladoc). The fan width is pinned to
    * `defaultParallelism` (env-derived): a bare `repartition(col)` is
    * REPARTITION_BY_COL, which AQE's byte-based coalescer shrinks back
    * to one task precisely because a fan-out's input bytes UNDER-state
    * its downstream expansion work (measured on q181). Non-file inputs
    * (synthetic spec frames, derived views) pass through: they carry
    * their own partitioning. */
  def byKey(df: DataFrame, key: Column): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    rowGroups(df) match {
      case Some(rg) if rg < math.max(2, cores / 2) =>
        df.repartition(cores, key)
      case _ => df
    }
  }
}
