package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}

/** Measurement tool (optimization rounds): run one query under a stage
  * listener and print per-stage task counts / runtimes / shuffle bytes,
  * so "where does the time go" is answered from data, not guesses
  * (spark_optimization_guide.md §1 / §7.1 — the UI is disabled in this
  * harness, so the listener stands in for the stage page).
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Probe q181_distinct_n [n]"
  * (n = timed repetitions after one warm-up; default 1; Bench's
  * LocalSession, so numbers are comparable).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val sfDir = LocalSession.sfDir
    val spark = LocalSession.build()

    case class St(job: Int, stage: Int, name: String, tasks: Int,
                  wallMs: Long, taskMs: Long, cpuMs: Long,
                  shRead: Long, shWrite: Long, records: Long)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    // stage → job from each job's own stage list: under AQE jobs
    // overlap, so "the last job started" is not the stage's job
    val jobOf = scala.collection.concurrent.TrieMap.empty[Int, Int]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.stageIds.foreach(jobOf.putIfAbsent(_, j.jobId))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages += St(jobOf.getOrElse(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(60), si.numTasks, wall,
          m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.recordsRead)
      }
    })

    val fn = SparkEntry.queries(name)
    def run(): Unit = {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    run() // warm-up (JIT, codegen, footers) — mirrors Bench
    stages.clear()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      run()
      (System.nanoTime() - t0) / 1e9
    }
    Thread.sleep(500) // let listener events drain
    println(f"%n[probe] $name%s: min ${fmtd(times.min)}%s avg " +
      s"${fmtd(times.sum / reps)} s/run ($reps reps, " +
      s"all ${times.map(fmtd).mkString(",")}), " +
      s"${stages.size} stages, ${stages.map(_.job).distinct.size} jobs")
    println(f"${"job"}%4s ${"stage"}%5s ${"tasks"}%5s ${"wallMs"}%7s " +
      f"${"taskMs"}%7s ${"cpuMs"}%7s ${"shR_KB"}%7s ${"shW_KB"}%7s ${"recs"}%9s  name")
    stages.sortBy(s => (s.job, s.stage)).foreach { s =>
      println(f"${s.job}%4d ${s.stage}%5d ${s.tasks}%5d ${s.wallMs}%7d " +
        f"${s.taskMs}%7d ${s.cpuMs}%7d ${s.shRead / 1024}%7d " +
        f"${s.shWrite / 1024}%7d ${s.records}%9d  ${s.name}%s")
    }
    val tot = stages.map(_.wallMs).sum
    println(f"[probe] stage wall sum ${tot}%d ms, task-time sum " +
      f"${stages.map(_.taskMs).sum}%d ms, cpu sum ${stages.map(_.cpuMs).sum}%d ms")
    spark.stop()
  }

  private def fmtd(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
