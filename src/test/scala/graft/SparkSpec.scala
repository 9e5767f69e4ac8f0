package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; scalatest
  * runs suites sequentially in the forked test JVM). A suite reads it
  * once, so it sees the session that is live when the suite starts. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // keep the shared session alive

  private val tempDirs = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh directory under target/ named after `prefix`, deleted when
    * the test that made it ends, also when the test fails. */
  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(Paths.get("target"), prefix)
    tempDirs += d
    d
  }

  /** The number of Spark jobs `body` starts, broadcast jobs included.
    * The listener bus delivers in order: once a marker job's start
    * arrives, every job of `body` has been counted. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains("marker"))
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1)).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      tempDirs.foreach(d => FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    }
}

object SparkSpec {
  private var current: SparkSession = _

  /** The shared session, rebuilt when a spec has stopped its context
    * (MemoSpec stops one to pin the memo's stopped-session rule). */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.warehouse.dir", "target/spark-warehouse")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    current
  }
}
