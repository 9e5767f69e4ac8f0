package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{Incremental, Sink, Transform}
import graft.queries.PostsProxy
import graft.sources.Tables

/** One benchmark run of one workload in a fresh JVM, driven by
  * `perfbench/run.py`. It runs in a per-run working directory, so the
  * engine's relative `target/...` writes and the ingest store stay there.
  *
  * Args: --config <workloads.json> --workload <name> --data <fixture dir>
  *       --seed <n> --seconds <s> --trace <0|1> --out <result json>
  *
  * The result file holds raw timings (setups, and per pass every
  * operation); run.py turns them into metrics and checks the outputs
  * this run leaves behind. Exit code 3 means the configuration is bad. */
object Main {
  val json = new ObjectMapper()

  /** The benchmark's fixed settings: `local[Cores]` and timed set-ups
    * per run. */
  val Cores = 4
  val Setups = 5

  def fail(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    sys.exit(3)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = json.readTree(new File(opt("config"))).path(opt("workload"))
    if (!w.isObject) fail(s"unknown workload '${opt("workload")}'")
    val result = new Run(w, opt("data"), opt("seed").toLong,
      opt("seconds").toDouble, opt("trace") == "1").execute()
    json.writerWithDefaultPrettyPrinter().writeValue(new File(opt("out")), result)
  }
}

final class Run(w: JsonNode, data: String, seed: Long, seconds: Double,
                traced: Boolean) {
  import Main.{json, Cores}

  private def names(field: String): Seq[String] =
    w.path(field).elements().asScala.map(_.asText).toSeq

  private val queries = names("queries")
  private val ingest = w.has("days")
  private val days = w.path("days").asInt

  locally {
    val missing = queries.filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty)
      Main.fail(s"not in SparkEntry.queries: ${missing.mkString(", ")}")
    if (!ingest && queries.isEmpty) Main.fail("read workload lists no queries")
  }

  private val out = json.createObjectNode()
  private var trace: Option[Trace] = None
  private var traceOverheadNs = 0L
  private var measureStart = System.nanoTime()

  private def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.minPartitionNum", Cores.toString)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixture warm-up: every table's footer and file index. */
  private def warm(spark: SparkSession): Unit =
    Tables.schemas.keys.toSeq.sorted.foreach(t => Tables.load(spark, data, t).count())

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Times one operation. `body` returns the seconds spent building the
    * operation's DataFrames (the query layer), the rest is execution. In
    * a traced run the listener counters are read once the bus is empty. */
  private def op(spark: SparkSession, name: String)(body: => Double): ObjectNode = {
    val node = json.createObjectNode().put("name", name)
    trace.foreach(_.open())
    val before = trace.map(_.counters)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try node.put("build_s", body).put("ok", true)
    catch { case scala.util.control.NonFatal(e) =>
      node.put("ok", false).put("error", String.valueOf(e.getMessage).take(300))
    }
    val latency = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    node.put("latency_s", latency).put("start_s", (t0 - measureStart) / 1e9)
    for (tr <- trace; c0 <- before) {
      val d0 = System.nanoTime()
      org.apache.spark.BusDrain(spark.sparkContext)
      val c1 = tr.counters
      val (jobBusy, stageBusy) = tr.covered(w0, w1)
      val (memoBytes, memoBlocks) = tr.memoPeak
      val taskS = (c1.taskNs - c0.taskNs) / 1e9
      tr.phases.foreach { case (p, s) => node.put(s"plans.${p}_s", s) }
      node.put("exec.jobs", c1.jobs - c0.jobs)
        .put("exec.stages", c1.stages - c0.stages)
        .put("exec.tasks", c1.tasks - c0.tasks)
        .put("exec.task_s", taskS)
        .put("exec.task_cpu_s", (c1.taskCpuNs - c0.taskCpuNs) / 1e9)
        .put("exec.shuffle_write_bytes", c1.shuffleWrite - c0.shuffleWrite)
        .put("exec.shuffle_read_bytes", c1.shuffleRead - c0.shuffleRead)
        .put("exec.spill_bytes", c1.spill - c0.spill)
        .put("exec.idle_core_s", math.max(0.0, Cores * stageBusy - taskS))
        .put("sources.scan_bytes", c1.scanBytes - c0.scanBytes)
        .put("sources.scan_rows", c1.scanRows - c0.scanRows)
        .put("driver.gap_s", math.max(0.0, latency - jobBusy))
        .put("memo.cached_bytes_peak", memoBytes)
        .put("memo.cached_blocks", memoBlocks)
      traceOverheadNs += System.nanoTime() - d0
    }
    // harness isolation, as in graft.Bench: persisted state of one
    // operation never pressures the next, and is never timed
    spark.catalog.clearCache()
    node
  }

  /** Runs `pass` a fixed number of times: `seconds` divided by the
    * workload's nominal pass length (`pass_s`, a warm pass on 4 cores),
    * at least once. The count does not depend on the measured speed, so
    * two commits always run the same work. Each pass records its wall
    * time, process CPU and GC time. */
  private def measure(pass: ObjectNode => Unit): Unit = {
    val passes = out.putArray("passes")
    measureStart = System.nanoTime()
    for (_ <- 1 to math.max(1, (seconds / w.path("pass_s").asDouble).toInt)) {
      val node = passes.addObject()
      traceOverheadNs = 0L
      val (c0, g0, t0) = (processCpuNs(), gcMs(), System.nanoTime())
      node.put("start_s", (t0 - measureStart) / 1e9)
      pass(node)
      node.put("wall_s", (System.nanoTime() - t0) / 1e9)
        .put("cpu_s", (processCpuNs() - c0) / 1e9)
        .put("exec.gc_s", (gcMs() - g0) / 1e3)
      if (traced) node.put("trace.overhead_s", traceOverheadNs / 1e9)
    }
  }

  /** Each query is built and run through the `noop` sink: the engine's
    * work without any output cost. */
  private def readPass(spark: SparkSession)(node: ObjectNode): Unit = {
    val ops = node.putArray("ops")
    queries.foreach { q =>
      ops.add(op(spark, q) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, data)
        val built = (System.nanoTime() - t0) / 1e9
        trace.foreach(_.track(df.queryExecution.tracker))
        noop(df)
        built
      })
    }
  }

  /** Untimed, after the window: each query once more on the same session
    * (so memos built in the window are reused), its result written as
    * parquet under `results/<name>` for run.py to check against the
    * query's DuckDB oracle. A query that fails here has no result, which
    * the check reports. */
  private def writeResults(spark: SparkSession): Unit =
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).write.mode("overwrite").parquet(s"results/$q")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $q: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }

  /** Untimed: the deliveries of every daily batch, under
    * `batches/batch=<day>`. As in the reference, run d fetches the posts
    * created from the store's high-water mark to the end of day d, an
    * inclusive range: day d's new posts, plus the earlier posts at or
    * after the mark again, with changed upvotes and comment text as a
    * re-scrape brings them. Post ids are made unique per document so the keyed
    * upsert has one row per key. */
  private def makeBatches(spark: SparkSession): Unit = {
    val posts = PostsProxy.df(spark, data)
      .withColumn("post_id", concat(lit("p"), col("doc_id")))
      .withColumn("day", datediff(to_date(col("created_datetime")), lit("2024-01-01")))
    // the latest stored post of each day: Transform decides what is stored
    val dayMax = Transform(posts, "doc_id").groupBy("day").agg(max("created_datetime"))
      .collect().map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    (0 until days).map { d =>
      // the mark run d reads: the latest post the store holds (days < d)
      val mark = dayMax.collect { case (day, t) if day < d => t }.maxByOption(_.getTime)
      val fresh = col("day") === d
      val again = mark.fold(lit(false))(m => col("day") < d && col("created_datetime") >= lit(m))
      val h = xxhash64(col("doc_id"), lit(d), lit(seed))
      posts.where(fresh || again)
        .withColumn("upvotes",
          when(fresh, col("upvotes")).otherwise(col("upvotes") + pmod(h, lit(50L)).cast("int") + 1))
        .withColumn("comments_text",
          when(fresh, col("comments_text"))
            .otherwise(concat(pmod(shiftright(h, 8), lit(300L)).cast("string"), lit(" comments"))))
        .withColumn("batch", lit(d))
    }.reduce(_ union _)
      .drop("day")
      .write.mode("overwrite").partitionBy("batch").parquet("batches")
    spark.catalog.clearCache()
  }

  private def storeFiles(store: String): Map[String, (Long, Long)] = {
    val dir = new File(store)
    if (!dir.exists) Map.empty
    else FileUtils.listFiles(dir, Array("parquet"), true).asScala
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  /** One pass of the reference's daily DAG over the first `days` batches:
    * Transform → keyed upsert into a fresh date-partitioned store →
    * the next run's high-water-mark read. The first batch creates the
    * store. Files each batch writes are counted from the store listing,
    * outside the timed window. */
  private def ingestPass(spark: SparkSession, days: Int)(node: ObjectNode): Unit = {
    val store = "store"
    FileUtils.deleteDirectory(new File(store))
    val postCols = Tables.posts.fieldNames.toSeq.map(col)
    val ops = node.putArray("ops")
    val hwms = node.putArray("hwm")
    var files = Map.empty[String, (Long, Long)]
    var bytesWritten, filesWritten, partsRewritten = 0L
    for (d <- 0 until days) {
      var upsertS, hwmS = 0.0
      ops.add(op(spark, s"batch_$d") {
        val t0 = System.nanoTime()
        val posts = Transform(spark.read.parquet(s"batches/batch=$d"), "doc_id")
          .select(postCols: _*)
        val built = (System.nanoTime() - t0) / 1e9
        trace.foreach(_.track(posts.queryExecution.tracker))
        if (d == 0) Sink.writeTimePartitioned(posts, store, "created_datetime")
        else Sink.upsertTimePartitioned(spark, store, posts, Seq("post_id"), "created_datetime")
        val t1 = System.nanoTime()
        upsertS = (t1 - t0) / 1e9
        val now = to_timestamp(lit(java.time.LocalDate.of(2024, 1, 1).plusDays(d + 1L).toString))
        val hwm = Incremental.highWaterMark(spark.read.parquet(store), "created_datetime", now)
          .collect()(0).getTimestamp(0)
        hwmS = (System.nanoTime() - t1) / 1e9
        hwms.add(hwm.toLocalDateTime.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME))
        built
      }.put("sink.upsert_s", upsertS).put("sink.hwm_s", hwmS))
      val now = storeFiles(store)
      val written = now.filter { case (p, meta) => !files.get(p).contains(meta) }
      bytesWritten += written.values.map(_._1).sum
      filesWritten += written.size
      partsRewritten += written.keys.map(new File(_).getParent).toSet.size
      files = now
    }
    val storeBytes = files.values.map(_._1).sum
    val readback = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      noop(spark.read.parquet(store))
      Incremental.highWaterMark(spark.read.parquet(store), "created_datetime",
        to_timestamp(lit("2024-02-10"))).collect()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    node.put("readback_s", readback(1))
      .put("write_amp", bytesWritten.toDouble / storeBytes)
      .put("sink.bytes_written", bytesWritten)
      .put("sink.files_written", filesWritten)
      .put("sink.partitions_rewritten", partsRewritten)
      .put("sink.store_files", files.size.toLong)
  }

  def execute(): ObjectNode = {
    // set-up: a Spark context and session (scheduler, block manager,
    // session state, extensions), then the fixture warm-up. The first one
    // is timed from JVM start, so it also holds JVM start and class
    // initialisation; it is reported on its own.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session()
    warm(spark)
    out.put("cold_setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    if (ingest) makeBatches(spark)
    val pass: ObjectNode => Unit = if (ingest) ingestPass(spark, days) else readPass(spark)
    // untimed passes first: in a fresh JVM the JIT, the generated-code
    // cache and the file caches are cold, and the first pass is markedly
    // slower than later ones
    val coldPasses = out.putArray("cold_pass_s")
    for (_ <- 1 to w.path("warmup_passes").asInt) {
      val t0 = System.nanoTime()
      pass(json.createObjectNode())
      coldPasses.add((System.nanoTime() - t0) / 1e9)
    }
    if (traced) {
      val tr = new Trace
      spark.sparkContext.addSparkListener(tr)
      trace = Some(tr)
    }
    trace.foreach(spark.listenerManager.register)
    measure(pass)
    if (ingest)
      out.put("posts_oracle_sql", SparkEntry.oracleSql("q05_transform")
        .replace(PostsProxy.duckCte, "WITH posts_proxy AS (SELECT * FROM delivered_latest)"))
    else {
      writeResults(spark)
      val oracle = out.putObject("oracle_sql")
      queries.foreach(q => oracle.put(q, SparkEntry.oracleSql.getOrElse(q, "")))
    }
    // the timed set-ups, last, on the warm JVM: each stops the context and
    // starts a new one
    val setups = out.putArray("setup_s")
    for (_ <- 1 to Main.Setups) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      warm(spark)
      setups.add((System.nanoTime() - t0) / 1e9)
    }
    spark.stop()
    out.put("peak_rss_mb", peakRssMb())
  }

  /** VmHWM of this process, in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)
    finally src.close()
  }
}
