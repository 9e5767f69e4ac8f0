package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.{Memo, Tables}

/** Deterministic posts-shaped corpus derived from the `documents` fixture.
  *
  * The reference's input is scraped Reddit job posts (reference
  * `dags/dag.py:172-292`); the driver fixtures have no such corpus, so we
  * derive one — reproducibly, in BOTH engines — from `doc_id` arithmetic.
  * Every title template targets a SURVEY.md §2 / FIXTURES.md §1 edge case
  * (currency classes, 'None'-string currency, decimal k-values, substring
  * keyword semantics, dead C++/C# keywords, priority-ordered location tiers,
  * empty-title guards). `base = doc_id % 400` makes doc_id and doc_id+400
  * exact (post_id, title) duplicates → real work for D1 dedup.
  *
  * The derivation is rendered once per dialect (Spark SQL / DuckDB SQL);
  * q01 in ReferenceQueries differentially verifies the two renderings are
  * value-identical, so all downstream queries can share the proxy.
  */
object PostsProxy {

  sealed trait Dialect
  case object SparkSql extends Dialect
  case object DuckSql extends Dialect

  /** The 12 title templates (index = doc_id % 400 % 12). */
  private val titleBranches: Seq[String] = Seq(
    "'Hiring Senior Data Engineer | Remote | $' || (80 + doc_id % 400 % 37) || 'k - ' || (120 + doc_id % 400 % 53) || 'k | Python, AWS, Kubernetes'",
    "'Job opening: Machine Learning Engineer in New York (USD ' || (90 + doc_id % 400 % 11) || '.5k - ' || (120 + doc_id % 400 % 31) || 'k) - PyTorch/SQL'",
    "'Hiring backend engineer ' || (70 + doc_id % 400 % 19) || 'k-' || (95 + doc_id % 400 % 23) || 'k london'",
    "'Question about data engineering careers'",
    "'Networking opportunity for cloud folks'",
    "'Discussion: C++ vs C# for hiring managers'",
    "'€' || (55 + doc_id % 400 % 13) || 'k-' || (75 + doc_id % 400 % 17) || 'k DevOps position, Berlin/Hybrid'",
    "'Vacancy: Research Scientist, NLP, Zurich ' || (120 + doc_id % 400 % 29) || 'k - ' || (150 + doc_id % 400 % 41) || 'k'",
    "'Data analyst role (remote, US) — sql, python, tableau'",
    "''",
    "'Work from home: fullstack developer position with react and typescript'",
    "text")

  /** SELECT producing: doc_id, post_id, title, url, author,
    * created_datetime, upvotes, comments_text, subreddit FROM documents. */
  def sql(d: Dialect): String = {
    // minutes-offset timestamp: same wall-clock result in both dialects
    val ts = d match {
      case SparkSql => "timestampadd(MINUTE, CAST(doc_id * 7 % 40320 AS INT), TIMESTAMP '2024-01-01 00:00:00')"
      case DuckSql  => "(TIMESTAMP '2024-01-01 00:00:00' + (doc_id * 7 % 40320) * INTERVAL 1 MINUTE)"
    }
    // Spark renders the branch dispatch as element_at(array(...)):
    // whole-stage codegen can split array children into separate methods,
    // while one monolithic CASE blows janino's 64 KB method limit and
    // forces interpreted fallback. DuckDB keeps the CASE — identical
    // values either way.
    val title = d match {
      case SparkSql =>
        titleBranches.mkString(
          "element_at(array(", ", ", "), CAST(doc_id % 400 % 12 AS INT) + 1)")
      case DuckSql =>
        titleBranches.init.zipWithIndex
          .map { case (b, i) => s"WHEN $i THEN $b" }
          .mkString("CASE doc_id % 400 % 12 ", " ", s" ELSE ${titleBranches.last} END")
    }
    s"""SELECT
       |  doc_id,
       |  'p' || (doc_id % 400) AS post_id,
       |  $title AS title,
       |  CASE WHEN doc_id % 400 % 10 = 0 THEN NULL ELSE 'https://example.com/post/' || (doc_id % 400) END AS url,
       |  'user' || (doc_id % 400 % 50) AS author,
       |  $ts AS created_datetime,
       |  CAST(doc_id * 17 % 500 - 50 AS INT) AS upvotes,
       |  CASE WHEN doc_id % 400 % 7 = 0 THEN 'comment' ELSE (doc_id % 400 % 97) || ' comments' END AS comments_text,
       |  'r' || (doc_id % 400 % 5) AS subreddit
       |FROM documents""".stripMargin
  }

  // One proxy per fixture, held in graft.sources.Memo as an eager
  // localCheckpoint. Two reasons:
  //  (1) codegen: even with element_at(array(...)), downstream queries fuse
  //      the 12-branch title expression into their own Sort/Project stages,
  //      and the combined method blows janino's 64 KB limit → interpreted
  //      fallback on every proxy consumer (q01–q05, q51–q53). The
  //      checkpoint's LogicalRDD is a codegen boundary: the big expression
  //      runs once, in the memo build, and consumers read Scan ExistingRDD.
  //  (2) cost: the proxy consumers share the derivation; deriving once is
  //      the same move as materializing a shared staging table on a real
  //      cluster.
  // A checkpoint, not a persist: spark.catalog.clearCache() (the harness's
  // per-operation isolation) leaves RDD-level checkpoint blocks alone, and
  // AQE plans a LogicalRDD scan as part of its consumer's stage. A
  // persisted frame's InMemoryTableScan becomes a TableCacheQueryStage of
  // its own (one job per scan), and AQE reuses no exchange above one, so
  // a self-join over a persisted proxy (q53) runs its title aggregate and
  // cap once per side.
  // The proxy is a test-fixture corpus (|documents| rows, narrow), so the
  // checkpoint's memory-and-disk blocks are safe at every driver SF.

  /** Spark-side proxy DataFrame (registers `documents` as a temp view). */
  def df(spark: SparkSession, sfDir: String): DataFrame =
    Memo(spark, sfDir, "postsProxy") {
      Tables.load(spark, sfDir, "documents").createOrReplaceTempView("documents")
      spark.sql(sql(SparkSql)).localCheckpoint()
    }

  /** DuckDB CTE prefix for oracle queries needing the proxy. */
  val duckCte: String = s"WITH posts_proxy AS (${sql(DuckSql)})"
}
