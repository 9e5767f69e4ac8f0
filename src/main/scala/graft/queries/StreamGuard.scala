package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, count, lit, xxhash64}
import org.apache.spark.sql.streaming.StreamingQuery

/** The guarded-setup protocol: a query's one-time physical setup (a
  * restart-spanning stream, a layout write) runs ONCE per (input
  * content, protocol version), so repeat Verify/Bench invocations pay
  * one cheap read-back instead of a re-run.
  *
  *  - The setup lives under `target/<tag>/<fixture dir name>`.
  *  - Its marker file `_GRAFT_INPUT_FINGERPRINT` holds
  *    `<version>:<count>:<bit_xor(xxhash64(all columns))>` of the
  *    input frame (xor is order-independent and wrap-free; a sum of
  *    full-range hashes overflows int64). A fixture regeneration or a
  *    version bump changes it.
  *  - A marker that does not match means a stale or partial attempt:
  *    the directory is wiped (loudly — a half-wiped directory would let
  *    stale files survive under renamed batch dirs), then the setup
  *    runs.
  *  - The setup must complete or throw. The marker is written only
  *    after it returns, so a failed or timed-out run is re-attempted
  *    on the next call, never cached.
  */
private[graft] object StreamGuard {

  private val runs = new java.util.concurrent.atomic.AtomicLong

  /** Setups started in this JVM (Bench discards a sample that ran one). */
  def setupsRun: Long = runs.get

  /** Runs `setup(path)` unless the marker under `path` already records
    * the fingerprint of `input`; returns `path`. */
  def ensure(tag: String, dir: String, version: String, input: DataFrame)
      (setup: String => Unit): String = {
    val path = s"target/$tag/${new java.io.File(dir).getName}"
    val row = input.agg(count(lit(1)).cast("string"),
      bit_xor(xxhash64(input.columns.map(c => input.col(s"`$c`")).toSeq: _*))
        .cast("string")).head
    val fp = s"$version:${row.getString(0)}:${row.getString(1)}"
    val marker = new java.io.File(path, "_GRAFT_INPUT_FINGERPRINT").toPath
    val current = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == fp
    if (!current) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory)
          Option(f.listFiles()) // null on an IO error mid-walk
            .getOrElse(sys.error(s"cannot list $f while wiping stale run"))
            .foreach(rm)
        if (!f.delete() && f.exists())
          sys.error(s"cannot delete $f while wiping stale run")
      }
      rm(new java.io.File(path))
      runs.incrementAndGet()
      setup(path)
      java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
    }
    path
  }

  /** The restart-spanning drop loop: for each drop in order, append it
    * to `$path/in`, start `stream` over a file source reading that
    * directory, and [[await]] it. The caller's stream keeps one
    * checkpoint, so each start resumes from the offsets the previous
    * one committed and must process only the new drop's files. */
  def streamDrops(path: String, drops: DataFrame*)
      (stream: DataFrame => StreamingQuery): Unit = {
    val in = s"$path/in"
    drops.foreach { d =>
      d.write.mode("append").parquet(in)
      await(stream(d.sparkSession.readStream.schema(d.schema).parquet(in)))
    }
  }

  /** Awaits one setup stream to drain (AvailableNow) and stops it. A
    * timed-out run FAILS the setup — control flow must never reach the
    * marker write with a partial streamed output. */
  def await(q: StreamingQuery): Unit =
    try {
      if (!q.awaitTermination(600000L))
        sys.error("streamed setup timed out after 600s")
    } finally q.stop()
}
