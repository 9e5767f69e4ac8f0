package graft

import org.apache.spark.sql.functions._
import graft.operators.Sink

/** Storage-lifecycle specs: compaction, schema evolution, and a
  * Bloom-prefiltered novelty check. */
class StorageSpec extends SparkSpec {
  import spark.implicits._

  test("compact collapses many small files without changing the data") {
    val dir = tempDir("compact").toString + "/t"
    val df = (1L to 1000L).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(50).write.parquet(dir) // simulate micro-batch debris
    def parquetFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles == 50)
    Sink.compact(spark, dir)
    assert(parquetFiles < 5)
    val back = spark.read.parquet(dir).as[(Long, String)].collect().sorted
    assert(back.length == 1000 && back.head == ((1L, "row1")))
  }

  test("mergeSchema unifies evolved schemas across file generations") {
    val dir = tempDir("evolve").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/gen=1")
    Seq((2L, "b", 3.5)).toDF("id", "v", "score").write.parquet(s"$dir/gen=2")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.sorted.toSeq == Seq("gen", "id", "score", "v"))
    val rows = df.select("id", "score").as[(Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, None), (2L, Some(3.5)))) // old files null-fill
  }

  test("bloom prefilter for novelty checks has no false negatives") {
    val history = (1L to 500L).map(i => s"doc$i").toDF("h")
    val batch = (400L to 700L).map(i => s"doc$i").toDF("h")
    // build the sketch over history once (driver-side, broadcastable) —
    // at scale this pre-drops the vast already-seen majority before the
    // exact anti-join touches the shuffle
    val bloom = history.stat.bloomFilter("h", 500L, 0.03)
    val mightBeNew = batch.filter(r => !bloom.mightContain(r.getString(0)))
    val trulyNew = batch.join(history, Seq("h"), "left_anti")
    val mb = mightBeNew.as[String].collect().toSet
    val tn = trulyNew.as[String].collect().toSet
    assert(tn.size == 200) // doc501..doc700
    assert(mb.subsetOf(tn)) // no false negatives: bloom never drops a new doc
  }
}
