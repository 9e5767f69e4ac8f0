package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ST2/A1: the reference's self-managed watermark (`get_date_range`,
  * reference `dags/dag.py:144-170`): resume offset = MAX(created_datetime)
  * over the last `windowDays` of the sink, falling back to
  * `now - coldStartDays` on an empty window.
  *
  * `now` is an explicit parameter, never `current_timestamp()` — the
  * differential oracle needs determinism (SURVEY.md §7.5.4), and at scale a
  * pinned batch boundary is what you want anyway (re-runs are reproducible).
  *
  * Scale: on a sink partitioned by date (a frame with [[Sink.DateCol]],
  * as [[Sink.writeTimePartitioned]] writes it), the window's implied
  * `dt >= to_date(lower)` joins the exact timestamp predicate, so the
  * read is pruned to ~`windowDays` + 1 partitions before the scan (the
  * reference's index-assisted MAX, O2/O6); the MAX itself is a
  * partial-agg → single-row exchange.
  */
object Incremental {

  /** `now`: the pinned batch boundary (e.g. `to_timestamp(lit("2024-02-10
    * 00:00:00"))` — parsed in the session time zone, so UTC-safe). The
    * partition bound `to_date(lower)` is taken in the session time zone
    * too, the zone [[Sink]] derived each row's `dt` in: the pruning is
    * exact only while writer and reader share it. */
  def highWaterMark(sink: DataFrame, tsCol: String, now: Column,
                    windowDays: Int = 30, coldStartDays: Int = 7): DataFrame = {
    val lower = now - expr(s"INTERVAL $windowDays DAYS")
    val fallback = now - expr(s"INTERVAL $coldStartDays DAYS")
    val window = col(tsCol) >= lower
    sink.where(
        if (sink.columns.contains(Sink.DateCol))
          col(Sink.DateCol) >= to_date(lower) && window
        else window)
      .agg(coalesce(max(col(tsCol)), fallback).as("high_water_mark"))
  }

  /** F1: inclusive time-range batch filter (reference `dags/dag.py:227`). */
  def rangeFilter(df: DataFrame, tsCol: String, from: Column, to: Column): DataFrame =
    df.where(col(tsCol).between(from, to))
}
