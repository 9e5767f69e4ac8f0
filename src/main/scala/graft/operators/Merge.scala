package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SNK1: keyed upsert (reference `dags/dag.py:380-421`: per-row
  * `INSERT ... ON CONFLICT (post_id) DO UPDATE` — last-writer-wins on key).
  *
  * Spark has no MERGE on vanilla sinks, so the relational restatement is
  * updates ∪ (target ⟕anti updates): every key present in `updates`
  * replaces the target row wholesale, new keys append (SURVEY.md §2.1).
  * Idempotent: merge(merge(t, u), u) == merge(t, u) — the reference's
  * effectively-once guarantee (ST4).
  *
  * Scale: the anti join shuffles both sides on the key once. When `updates`
  * is a micro-batch (the reference's O(100) rows/day against a years-deep
  * target), Catalyst/AQE broadcasts it and the target is never shuffled —
  * the plan degenerates to a scan + broadcast-anti-join + union, which is
  * the right 100 TB shape. [[Sink.upsertTimePartitioned]] bounds the
  * target side too: it hands in only the touched days of a
  * date-partitioned store and rewrites only those days.
  */
object Merge {

  /** Last-writer-wins keyed upsert. `updates` must be unique per key
    * (dedup upstream, as the reference's PK insert order implies). */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    val kept = target.join(updates.select(keys.map(col): _*), keys, "left_anti")
    kept.select(cols.map(col): _*)
      .unionByName(updates.select(cols.map(col): _*))
  }

  /** Snapshot diff — the change-data-capture companion of [[upsert]]/
    * [[scd2Upsert]]: given two versions of a keyed table, emit one row
    * per difference, classified `added` (key only in new), `removed`
    * (key only in old), or `changed` (key in both, any shared non-key
    * column differing under IS DISTINCT FROM — so null→value and
    * value→null are changes but null→null is not). Unchanged keys
    * emit NOTHING, which is what makes the operator useful: the
    * output is diff-sized, and old + diff reconstructs new exactly
    * (pinned as a spec property).
    *
    * Scale shape: ONE hash-equi full-outer join on the key — both
    * sides shuffle once, AQE handles key skew, no window, no
    * secondary pass; the column comparison is a codegen'd row-local
    * predicate. At 100 TB this is the minimal movement any
    * cross-version diff needs; a storage format with a commit log
    * (Delta/Iceberg CDF) avoids the join only by having journaled
    * the changes at write time.
    *
    * Output: key columns (coalesced across sides), `change_type`, and
    * `old_<c>` / `new_<c>` for every shared non-key column. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String]): DataFrame = {
    val compareCols =
      oldDf.columns.filterNot(keys.contains).filter(newDf.columns.contains).toSeq
    val o = oldDf.withColumn("_old", lit(1)).alias("ol")
    val n = newDf.withColumn("_new", lit(1)).alias("nw")
    val cond = keys.map(k => col(s"ol.$k") <=> col(s"nw.$k")).reduce(_ && _)
    val changed = compareCols.map(c => !(col(s"ol.$c") <=> col(s"nw.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    o.join(n, cond, "full_outer")
      .withColumn("change_type",
        when(col("ol._old").isNull, lit("added"))
          .when(col("nw._new").isNull, lit("removed"))
          .when(changed, lit("changed")))
      .where(col("change_type").isNotNull)
      .select(keys.map(k => coalesce(col(s"ol.$k"), col(s"nw.$k")).as(k)) ++
        Seq(col("change_type")) ++
        compareCols.flatMap(c =>
          Seq(col(s"ol.$c").as(s"old_$c"), col(s"nw.$c").as(s"new_$c"))): _*)
  }

  /** SCD2 (history-preserving) variant of [[upsert]] — the dimension-
    * history companion the reference's ON CONFLICT sink discards: a
    * changed key CLOSES its current row (`valid_to` = `batchTs`,
    * `is_current` = false) and appends the new version; an unchanged or
    * untouched key passes through. `dim` must already carry the SCD2
    * bookkeeping columns (`valid_from`, `valid_to`, `is_current`);
    * `updates` carries the business columns only, unique per key.
    *
    * An update equal to the key's current business row is a NO-OP (no
    * version churn), which also makes the operator idempotent:
    * applying the same batch twice changes nothing — the history
    * analog of the upsert's effectively-once contract (spec-pinned).
    *
    * Scale: one key-equi join of the CURRENT slice against the batch
    * (micro-batch → broadcast, closed history rows never join) plus
    * unions; no window, no shuffle of the history. */
  def scd2Upsert(dim: DataFrame, updates: DataFrame, keys: Seq[String],
                 batchTs: java.sql.Timestamp): DataFrame = {
    val cols = dim.columns.toSeq
    val business = cols.filterNot(
      Seq("valid_from", "valid_to", "is_current").contains)
    val valueCols = business.filterNot(keys.contains)
    val closed = dim.where(!col("is_current"))
    val current = dim.where(col("is_current"))
    // pair each current row with its (possibly absent) update; the
    // explicit marker distinguishes "no update" from "update to null"
    val u = updates.select(business.map(c =>
        col(c).as(if (keys.contains(c)) c else s"__u_$c")): _*)
      .withColumn("__has_u", lit(true))
    val paired = current.join(u, keys, "left")
    val isChanged = coalesce(col("__has_u"), lit(false)) &&
      valueCols.map(c => !(col(c) <=> col(s"__u_$c"))).reduce(_ || _)
    val changed = paired.where(isChanged)
    val closedNow = changed.select(
      (business.map(col) :+ col("valid_from")
        :+ lit(batchTs).as("valid_to") :+ lit(false).as("is_current")): _*)
    val stillCurrent = paired.where(!isChanged).select(cols.map(col): _*)
    val newVersions = changed.select(
      (keys.map(col) ++ valueCols.map(c => col(s"__u_$c").as(c))
        :+ lit(batchTs).as("valid_from")
        :+ lit(null).cast("timestamp").as("valid_to")
        :+ lit(true).as("is_current")): _*)
    // brand-new keys (no current row) insert as first versions
    val inserts = updates.join(current.select(keys.map(col): _*), keys, "left_anti")
      .select((business.map(col) :+ lit(batchTs).as("valid_from")
        :+ lit(null).cast("timestamp").as("valid_to")
        :+ lit(true).as("is_current")): _*)
    closed.select(cols.map(col): _*)
      .unionByName(stillCurrent)
      .unionByName(closedNow.select(cols.map(col): _*))
      .unionByName(newVersions.select(cols.map(col): _*))
      .unionByName(inserts.select(cols.map(col): _*))
  }
}
