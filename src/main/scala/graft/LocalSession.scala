package graft

import org.apache.spark.sql.SparkSession

/** The local session of the four command-line tools (Bench, Verify,
  * Probe, PlanDump): one set of confs, so a query Bench times runs
  * under the session Verify checks. `SPARK_GRAFT_CPUS` (default 32)
  * sizes it; `SPARK_GRAFT_SF_DIR` names the fixture dir the timing
  * tools read. */
object LocalSession {

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      // Split small fixture files down toward row-group granularity so
      // scans fan out across the cores: the fixtures are single files,
      // and the default 128 MB/4 MB split sizing reads each one as ONE
      // task — every expansion-heavy map stage (token explode, gram
      // hashing, kernel projections) then runs serial until the first
      // shuffle (measured at sf1: q181 17.95 s wall / 21.6 s cpu on 32
      // cores). On a production many-file layout these settings are
      // inert — splits are already ≤ a row group.
      .config("spark.sql.files.minPartitionNum", cpus)
      .config("spark.sql.files.openCostInBytes", (512 * 1024).toString)
      .getOrCreate()
    // ERROR, not WARN: bounded-frame window queries legitimately emit
    // "WindowExec: No Partition Defined" WARNs, and in round 8 ten of
    // those lines pushed Bench's summary out of the 2 KB stdout tail
    // its reader parses (BENCH_r08.json `parsed: null`). The tools
    // report failures themselves.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
