package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import graft.sources.Memo
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, expr, lit}

/** The one cross-query memo rule: one entry per (session, path, tag),
  * rebuilt on a new fixture stamp (releasing the frames it held),
  * dropped with its stopped session. */
class MemoSpec extends SparkSpec {

  private def tmpDir(): Path = {
    val d = tempDir("memospec")
    d
  }

  /** Writes `df` as ONE parquet file at `dir/<name>.parquet` (the flat
    * fixture layout), replacing the file if it is there. */
  private def put(dir: Path, name: String, df: DataFrame): Unit = {
    val out = tmpDir().resolve("out").toString
    df.coalesce(1).write.parquet(out)
    val part = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(n: Int): DataFrame = spark.range(n).toDF("x")

  /** A deterministic 16-dim embeddings table of `n` vectors. */
  private def embeddings(n: Int): DataFrame = spark.range(n).select(
    col("id").as("vec_id"),
    expr("transform(sequence(0, 15), i -> " +
      "CAST(((id * 7919 + i * 104729) % 1000) / 1000.0 AS FLOAT))").as("embedding"),
    lit(0).as("label"))

  /** The first `n` rows of the smallest documents fixture. */
  private def documents(n: Int): DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").orderBy("doc_id").limit(n)

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("an unchanged stamp is a hit: the build runs once") {
    val d = tmpDir()
    put(d, "t", rows(10))
    var builds = 0
    val a = Memo(spark, d.toString, "hit") { builds += 1; Array(1L, 2L) }
    val b = Memo(spark, d.toString, "hit") { builds += 1; Array(3L) }
    assert(builds == 1 && (a eq b))
    // the posts proxy is a checkpoint: the harness's clearCache leaves
    // it in place, so the next consumer gets the same frame and no job
    // rebuilds it
    put(d, "documents", documents(40))
    val before = graft.queries.PostsProxy.df(spark, d.toString)
    var after: DataFrame = null
    val jobs = jobsDuring {
      spark.catalog.clearCache()
      after = graft.queries.PostsProxy.df(spark, d.toString)
    }
    assert((before eq after) && jobs == 0, s"$jobs jobs")
  }

  test("a rewrite at the same path misses and releases the old frames") {
    val d = tmpDir()
    put(d, "t", rows(10))
    var builds = 0
    def frames = Memo(spark, d.toString, "frames") {
      builds += 1
      val p = spark.range(0, 100 + builds).selectExpr("id * 2 AS x").persist()
      val c = spark.range(0, 50 + builds).localCheckpoint(false)
      (p, c)
    }
    val before = persistentIds
    val (p1, c1) = frames
    assert(p1.count() == 101 && c1.count() == 51)
    val held = persistentIds -- before
    assert(held.size == 2, s"persisted + checkpoint RDDs, got $held")
    put(d, "t", rows(1000)) // same path, different length
    val (p2, c2) = frames
    assert(builds == 2)
    assert(p2.count() == 102 && c2.count() == 52)
    assert((held & persistentIds).isEmpty, "old entry's blocks still held")
    p2.unpersist()
    // the posts proxy's checkpoint RDD goes with a rewritten documents
    // fixture
    put(d, "documents", documents(40))
    val before2 = persistentIds
    assert(graft.queries.PostsProxy.df(spark, d.toString).count() == 40)
    val proxy = persistentIds -- before2
    assert(proxy.size == 1, s"the proxy's checkpoint RDD, got $proxy")
    put(d, "documents", documents(60))
    assert(graft.queries.PostsProxy.df(spark, d.toString).count() == 60)
    assert((proxy & persistentIds).isEmpty, "old proxy's checkpoint still held")
  }

  test("a rewrite releases the RDDs a value holds (a CsrGraph's blocks)") {
    val d = tmpDir()
    put(d, "t", rows(10))
    def held = Memo(spark, d.toString, "rdds") {
      (graft.operators.CsrGraph(spark.range(1, 20).selectExpr("id AS src", "id + 1 AS dst"), 2),
        spark.sparkContext.parallelize(1 to 5).persist())
    }
    val before = persistentIds
    val (g1, r1) = held
    assert(g1.nodes == 20 && r1.count() == 5)
    assert(persistentIds -- before == Set(g1.blocks.id, r1.id))
    put(d, "t", rows(1000))
    val (g2, r2) = held
    assert(!(g2 eq g1) && g2.nodes == 20)
    assert((Set(g1.blocks.id, r1.id) & persistentIds).isEmpty, "old entry's RDDs still held")
    g2.release()
    r2.unpersist()
  }

  test("two fixture dirs in one session never mix") {
    val (a, b) = (tmpDir(), tmpDir())
    put(a, "t", rows(10))
    put(b, "t", rows(10))
    for (_ <- 1 to 2) {
      assert(Memo(spark, a.toString, "mix")("a") == "a")
      assert(Memo(spark, b.toString, "mix")("b") == "b")
    }
  }

  test("a build may call the memo (nested builds complete)") {
    val d = tmpDir().toString
    for (i <- 0 until 64)
      assert(Memo(spark, d, s"outer$i")(Memo(spark, d, s"inner$i")(i) + 1) == i + 1)
  }

  test("coarse centroids follow a rewritten embeddings fixture (q98)") {
    val q98 = SparkEntry.queries("q98_kmeans")
    def q98rows(dir: Path): Seq[Row] = {
      val r = q98(spark, dir.toString).collect().toSeq
      spark.catalog.clearCache() // harness isolation, as in Verify/Bench
      r
    }
    val (a, b) = (tmpDir(), tmpDir())
    put(a, "embeddings", embeddings(400))
    val full = q98rows(a)
    put(a, "embeddings", embeddings(400).where("vec_id % 2 = 0"))
    put(b, "embeddings", embeddings(400).where("vec_id % 2 = 0"))
    val rewritten = q98rows(a)
    assert(rewritten.size < full.size)
    assert(rewritten == q98rows(b), "stale centroids served after the rewrite")
  }

  test("a stopped session's entries are dropped without a release") {
    val d = tmpDir().toString
    var walked = false
    val probe = new Product {
      def canEqual(o: Any): Boolean = false
      def productArity: Int = 0
      def productElement(n: Int): Any = throw new IndexOutOfBoundsException
      override def productIterator: Iterator[Any] = { walked = true; Iterator.empty }
    }
    val old = spark
    Memo(old, d, "stopped")(probe)
    assert(Memo.entriesOf(old) > 0)
    old.stop()
    val fresh = SparkSpec.session
    assert(!(fresh eq old))
    var builds = 0
    Memo(fresh, d, "stopped") { builds += 1; "rebuilt" }
    assert(builds == 1 && Memo.entriesOf(old) == 0 && !walked)
  }
}
