package graft

import java.nio.file.{Files, StandardCopyOption}
import graft.operators.ScopedCache

/** ScopedCache keys its one live persist per (session, tag) on the
  * stamp of the frame's input files. */
class ScopedCacheSpec extends SparkSpec {

  test("a fixture rewritten at the same path is persisted afresh, not served stale") {
    val d = tempDir("scopedcache")
    // one flat fixture file, rewritten in place as a fixture generator
    // would (outside Spark's own write path, which refreshes caches)
    def put(lo: Long, hi: Long): Unit = {
      val out = tempDir("scopedcache-out").resolve("o").toString
      spark.range(lo, hi).toDF("x").coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.move(part, d.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    def xs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq.sorted
    put(0, 3)
    val first = ScopedCache.persist("spec.rewrite", spark.read.parquet(d.toString))
    assert(xs(first) == Seq(0L, 1L, 2L))
    put(10, 15)
    val second = ScopedCache.persist("spec.rewrite", spark.read.parquet(d.toString))
    assert(xs(second) == (10L until 15L))
    // the same plan over the same files shares the live entry
    val third = ScopedCache.persist("spec.rewrite", spark.read.parquet(d.toString))
    assert(xs(third) == (10L until 15L))
    assert(third.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    second.unpersist()
  }
}
