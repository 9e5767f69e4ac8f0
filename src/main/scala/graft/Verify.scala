package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Why `args` cannot be a Verify call, or None when they can. The
    * filter is the third argument: a comma in the outDir means a filter
    * went into the wrong slot, and a name outside SparkEntry.queries
    * would silently dump nothing for it. */
  def argError(args: Array[String]): Option[String] =
    if (args.length < 2 || args.length > 3)
      Some("usage: Verify <sfDir> <outDir> [query,query,...]")
    else if (args(1).contains(','))
      Some(s"outDir '${args(1)}' contains ',' (the query filter is the third argument)")
    else args.lift(2).map(_.split(',').filterNot(SparkEntry.queries.contains))
      .filter(_.nonEmpty)
      .map(bad => s"unknown queries: ${bad.mkString(",")}")

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [comma-separated query-name filter]
    argError(args).foreach { e =>
      System.err.println(s"[verify] $e")
      sys.exit(2)
    }
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // coalesce(1) is a HARNESS convenience only — the oracle compare
      // reads one file per query; fixture-sized dumps fit one task. The
      // production write path is Sink.writeShardPartitioned (parallel,
      // partitioned); never copy this single-task write into a query.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // iterative operators' persisted state outlives their lazy result
      // plan — drop it so caches never accumulate across the dump
      spark.catalog.clearCache()
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(SparkEntry.oracleSql
        .filter { case (k, _) => only.forall(_.contains(k)) }.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
