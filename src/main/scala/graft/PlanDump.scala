package graft

/** Deliverable tool (optimization rounds): dump `.explain("formatted")`
  * for named queries to files — the judge checks plan claims against
  * `plans/r<N>/<query>_{before,after}.txt`.
  *
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> q1,q2,..."
  * e.g.   sbt "runMain graft.PlanDump plans/r14 before q181_distinct_n"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = LocalSession.sfDir
    val spark = LocalSession.build()
    new java.io.File(outDir).mkdirs()
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
      try f.println(txt) finally f.close()
      spark.catalog.clearCache()
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
