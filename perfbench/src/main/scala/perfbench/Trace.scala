package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for the traced run: one listener on the scheduler events
  * (jobs, stages, tasks, shuffle, spill, scan, cached blocks) and one on
  * finished query executions (Catalyst phase times). Both are fed on the
  * listener-bus thread; the driver thread reads them only after
  * [[org.apache.spark.BusDrain]] has emptied the bus, so plain fields
  * under `synchronized` are enough. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace.Counters

  private var c = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedBytes, cachedBytesPeak, cachedBlocksPeak = 0L
  // QueryExecution objects can share one phase tracker (a write reuses
  // its DataFrame's), so phases are summed once per tracker
  private val trackers =
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]())

  def counters: Counters = synchronized(c)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    jobStart.remove(e.jobId).foreach(t => jobSpans += t -> e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
    for (s <- e.stageInfo.submissionTime; f <- e.stageInfo.completionTime)
      stageSpans += s -> f
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = c.copy(tasks = c.tasks + 1, taskNs = c.taskNs + e.taskInfo.duration * 1000000L)
    if (m != null) c = c.copy(
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      scanBytes = c.scanBytes + m.inputMetrics.bytesRead,
      scanRows = c.scanRows + m.inputMetrics.recordsRead)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD) {
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cachedBytes += size - blocks.getOrElse(i.blockId.name, 0L)
      if (size > 0) blocks(i.blockId.name) = size else blocks.remove(i.blockId.name)
      cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
      cachedBlocksPeak = math.max(cachedBlocksPeak, blocks.size.toLong)
    }
  }

  /** Adds a tracker whose phases count towards the current operation:
    * a DataFrame is analyzed when it is built, but only the write
    * command that runs it reaches [[onSuccess]]. */
  def track(t: QueryPlanningTracker): Unit = synchronized(trackers.add(t))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    track(qe.tracker)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    track(qe.tracker)

  /** Starts a new operation window: resets the per-operation peaks and
    * the phase trackers. */
  def open(): Unit = synchronized {
    trackers.clear()
    cachedBytesPeak = cachedBytes
    cachedBlocksPeak = blocks.size.toLong
  }

  /** Catalyst phase seconds (analysis, optimization, planning) of every
    * query execution finished since [[open]]. */
  def phases: Map[String, Double] = synchronized {
    import scala.jdk.CollectionConverters._
    val all = trackers.asScala.toSeq.flatMap(_.phases.toSeq)
    Seq("analysis", "optimization", "planning").map(p =>
      p -> all.collect { case (`p`, s) => s.durationMs }.sum / 1e3).toMap
  }

  def memoPeak: (Long, Long) = synchronized((cachedBytesPeak, cachedBlocksPeak))

  /** Seconds of [from, to] (epoch ms) covered by jobs, and by stages. */
  def covered(from: Long, to: Long): (Double, Double) = synchronized {
    (Trace.union(jobSpans.toSeq, from, to), Trace.union(stageSpans.toSeq, from, to))
  }
}

object Trace {
  final case class Counters(
      jobs: Long, stages: Long, tasks: Long, taskNs: Long, taskCpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long,
      scanBytes: Long, scanRows: Long)

  /** Length in seconds of the union of `spans`, each clipped to [from, to]. */
  def union(spans: Seq[(Long, Long)], from: Long, to: Long): Double =
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .sortBy(_._1)
      .foldLeft((0L, from)) { case ((total, reach), (s, e)) =>
        (total + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1 / 1e3
}
