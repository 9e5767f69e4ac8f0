package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** DSv2 paginated-source specs: page-chain traversal, malformed-row
  * quarantine, column pruning reaching the parser. */
class PagedPostsSourceSpec extends SparkSpec {

  private def writePages(): String = {
    val dir = tempDir("pages").toString
    def w(name: String, lines: String*): Unit =
      Files.writeString(Paths.get(dir, name), lines.mkString("\n"))
    w("page-0.json",
      """{"post_id":"p1","title":"Hiring data engineer","url":"u1","author":"a1","created_utc_ms":1704067200000,"upvotes":5,"comments_text":"3 comments","subreddit":"r1"}""",
      """{"post_id":"p2","title":"ML role","url":null,"author":"a2","created_utc_ms":1704067260000,"upvotes":-1,"comments_text":"comment","subreddit":"r1"}""",
      """not json at all {{{""",
      """{"next":"page-1.json"}""")
    w("page-1.json",
      """{"title":"missing post_id so dropped","url":"u","author":"a","created_utc_ms":1,"upvotes":1,"comments_text":"c","subreddit":"r"}""",
      """{"post_id":"p3","title":"DevOps vacancy","url":"u3","author":"a3","created_utc_ms":1704067320000,"upvotes":7,"comments_text":"12 comments","subreddit":"r2"}""")
    // page-1 has no next link → scan terminates
    dir
  }

  private def read(dir: String) =
    spark.read.format("graft.sources.PagedPostsSource").option("path", dir).load()

  test("follows the page chain and quarantines malformed rows") {
    import spark.implicits._
    val df = read(writePages())
    val ids = df.select("post_id").as[String].collect().sorted.toSeq
    assert(ids == Seq("p1", "p2", "p3")) // bad JSON + missing-key rows dropped
    val p2 = df.where(col("post_id") === "p2").head()
    assert(p2.isNullAt(p2.fieldIndex("url"))) // explicit null preserved
  }

  test("column pruning reaches the reader (ReadSchema shrinks)") {
    val df = read(writePages()).select("post_id", "upvotes")
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).get
    assert(scanLine.contains("post_id#") && scanLine.contains("upvotes#"))
    assert(!scanLine.contains("title#")) // pruned before the reader
    assert(df.count() == 3)
  }

  test("cyclic next-links terminate instead of looping forever") {
    val dir = tempDir("cyc").toString
    Files.writeString(Paths.get(dir, "page-0.json"),
      """{"post_id":"p1","title":"t","url":"u","author":"a","created_utc_ms":1,"upvotes":1,"comments_text":"c","subreddit":"r"}
        |{"next":"page-1.json"}""".stripMargin)
    Files.writeString(Paths.get(dir, "page-1.json"),
      """{"post_id":"p2","title":"t","url":"u","author":"a","created_utc_ms":2,"upvotes":1,"comments_text":"c","subreddit":"r"}
        |{"next":"page-0.json"}""".stripMargin) // cycle back
    assert(read(dir).count() == 2) // each page read exactly once
  }

  test("retry option: absent page appears before retries exhaust → full read") {
    val dir = tempDir("retry").toString
    Files.writeString(Paths.get(dir, "page-0.json"),
      """{"post_id":"p1","title":"t","url":"u","author":"a","created_utc_ms":1,"upvotes":1,"comments_text":"c","subreddit":"r"}
        |{"next":"page-late.json"}""".stripMargin)
    // the linked page materializes mid-retry (a transient fetch fault)
    val writer = new Thread(() => {
      Thread.sleep(150)
      Files.writeString(Paths.get(dir, "page-late.json"),
        """{"post_id":"p2","title":"t2","url":"u","author":"a","created_utc_ms":2,"upvotes":1,"comments_text":"c","subreddit":"r"}""")
    })
    writer.start()
    try {
      val n = spark.read.format("graft.sources.PagedPostsSource")
        .option("path", dir).option("retries", "20").option("retryDelayMs", "50")
        .load().count()
      assert(n == 2) // p2 arrived through the retry loop
    } finally writer.join()
  }

  test("retry option: retries exhaust on a permanently absent page → loud failure") {
    val dir = tempDir("retryx").toString
    Files.writeString(Paths.get(dir, "page-0.json"),
      """{"post_id":"p1","title":"t","url":"u","author":"a","created_utc_ms":1,"upvotes":1,"comments_text":"c","subreddit":"r"}
        |{"next":"page-gone.json"}""".stripMargin)
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.format("graft.sources.PagedPostsSource")
        .option("path", dir).option("retries", "2").option("retryDelayMs", "10")
        .load().count()
    }
    // the IOException names the page and the attempt count
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain(e).exists(c => c.isInstanceOf[java.io.IOException] &&
      c.getMessage.contains("page-gone.json") && c.getMessage.contains("2 retries")))
    // default (retries=0) keeps snapshot semantics: absent page = end of chain
    assert(read(dir).count() == 1)
  }

  test("feeds the reference transform chain end-to-end") {
    val raw = read(writePages())
      .withColumn("created_datetime", timestamp_millis(col("created_utc_ms")))
      .drop("created_utc_ms")
    val out = graft.operators.Transform(raw, "post_id")
    // 'ML role' and 'DevOps vacancy' and 'Hiring data engineer' all pass F4
    assert(out.count() == 3)
    assert(out.columns.contains("technologies"))
  }
}
