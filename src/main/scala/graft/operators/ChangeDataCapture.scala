package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-data-capture operators: collapse a change log to current state,
  * MERGE it into a target, and build SCD Type-2 dimension history.
  *
  * The reference loads dimensions and facts incrementally from operational
  * extracts (main.py:49-69 key-scan + append); these operators are the
  * general form a user needs once the upstream emits updates and deletes,
  * not just inserts — the standard warehouse change-apply surface.
  *
  * Scale notes (100 TB):
  *  - `applyChangeLog` aggregates with max(struct(...)), NOT a window:
  *    map-side partial aggregation reduces each key to one row per mapper
  *    before the shuffle, so shuffle volume is ~|keys|, not |changes|. A
  *    row_number window would shuffle and sort every change row.
  *  - `mergeUpsert` touches the target only with a left-anti join on the
  *    (usually small) changed-key set — broadcastable, so the 100 TB
  *    target is never shuffled.
  *  - `scd2` is two window passes over the SAME (key, ts) partitioning +
  *    ordering; Catalyst reuses one Exchange/Sort for both.
  */
object ChangeDataCapture {

  /** Latest change per key, keys + FULL payload including the op column
    * — the one aggregation [[applyChangeLog]] and [[latestDeletes]] both
    * derive from, exposed so a caller applying both (the per-micro-batch
    * CDC merge, [[graft.streaming.CdcApply]]) can materialize it ONCE
    * instead of running the identical groupBy/max pass twice. */
  def latestState(changes: DataFrame, keyCols: Seq[String],
                  seqCols: Seq[String]): DataFrame = {
    val payload = changes.columns.filterNot(keyCols.contains).toSeq
    // Struct comparison is lexicographic by field position: seq columns
    // first, remaining payload as the deterministic tie-break.
    val ordered = struct((seqCols ++ payload.filterNot(seqCols.contains)).map(col): _*)
    changes.groupBy(keyCols.map(col): _*)
      .agg(max(ordered).as("__last"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"__last.`$c`").as(c)): _*)
  }

  /** Latest state per key from a change log.
    *
    * `changes` carries `keyCols`, totally-ordering `seqCols` (e.g. a log
    * sequence number; ties broken deterministically by the remaining
    * payload columns), an `opCol` whose value `deleteOp` marks deletion,
    * and arbitrary payload. Keys whose LATEST op is a delete are absent
    * from the snapshot; `opCol` itself is dropped.
    */
  def applyChangeLog(changes: DataFrame, keyCols: Seq[String], seqCols: Seq[String],
                     opCol: String, deleteOp: String = "D"): DataFrame =
    latestState(changes, keyCols, seqCols)
      .filter(col(opCol) =!= lit(deleteOp))
      .drop(opCol)

  /** Keys whose LATEST change is a delete — the delete set
    * [[applyChangeLog]] drops silently, exposed for storage-level
    * appliers ([[graft.etl.ManifestTable.transactionalMerge]]) that
    * must erase those keys from the persisted table. Same
    * max(struct(...)) shape: shuffle volume is ~|keys|. */
  def latestDeletes(changes: DataFrame, keyCols: Seq[String],
                    seqCols: Seq[String], opCol: String,
                    deleteOp: String = "D"): DataFrame =
    latestState(changes, keyCols, seqCols)
      .filter(col(opCol) === lit(deleteOp))
      .select(keyCols.map(col): _*)

  /** MERGE: apply a change log onto a target snapshot. The target must
    * have exactly the columns `applyChangeLog` emits (keys + seq +
    * payload-without-op). Untouched target rows pass through via a
    * left-anti join on the changed-key set (broadcast when small);
    * inserted/updated keys take their latest non-delete change; deleted
    * keys vanish.
    */
  def mergeUpsert(target: DataFrame, changes: DataFrame, keyCols: Seq[String],
                  seqCols: Seq[String], opCol: String, deleteOp: String = "D"): DataFrame = {
    val latest = applyChangeLog(changes, keyCols, seqCols, opCol, deleteOp)
    val changedKeys = changes.select(keyCols.map(col): _*).distinct()
    target.join(changedKeys, keyCols, "left_anti").unionByName(latest)
  }

  /** SCD Type-2 history from a change-event stream: one row per run of
    * identical `trackedCols` values per key, with half-open
    * [valid_from, valid_to) validity and an `is_current` flag on the open
    * run. Events must be unique per (key, ts) — pre-aggregate upstream
    * (ties in ts would make run boundaries order-dependent).
    */
  def scd2(events: DataFrame, keyCols: Seq[String], tsCol: String,
           trackedCols: Seq[String]): DataFrame = {
    val keyW = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tsCol).asc)
    val tracked = struct(trackedCols.map(col): _*)
    events
      .withColumn("__prev", lag(tracked, 1).over(keyW))
      // a row opens a new run iff it's the first event or any tracked
      // value changed; lag+filter collapses consecutive duplicates
      .filter(col("__prev").isNull || col("__prev") =!= tracked)
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(keyW))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("__prev", tsCol)
  }
}
