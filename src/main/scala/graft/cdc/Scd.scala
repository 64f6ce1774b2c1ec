package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension materialization from a change stream — the
  * state-reconstruction layer the reference's event store implies
  * (`docs/design.md:163-198` persists every change; consumers then need
  * "what did the row look like at time T", which neither the raw stream
  * nor the latest-state snapshot answers). Two derived shapes:
  *
  *  - `history` (SCD Type 2): one row per VERSION, carrying
  *    `valid_from` = the change's timestamp, `valid_to` = the next
  *    change's timestamp for the same key (NULL while current), and
  *    `is_current`. A delete closes its predecessor's interval without
  *    opening one (the deleted version row is dropped; its closing
  *    effect survives via lead() BEFORE the filter).
  *  - `asOf`: the point-in-time snapshot — each key's version whose
  *    interval covers T (half-open [from, to): a version is visible AT
  *    its own change instant, replaced exactly at its successor's).
  *
  * Scale: one shuffle on the key columns, then a narrow per-key lead();
  * no self-join, no driver state. At 100 TB the history write
  * partitions/buckets by key (`Bucketing`) so `asOf` and key lookups
  * prune; the window never materializes more than a key's versions per
  * task. Ties at one timestamp are ordered by `tieCol` (the stream's
  * total order within a key — event id / binlog position), which makes
  * both outputs deterministic.
  */
object Scd {

  /** A malformed changelog row with a NULL op must surface as a version,
    * not vanish: `col =!= "d"` is NULL (filtered out) for NULL input, so
    * every delete filter in this file spells out the non-delete branch.
    */
  private def notDelete(opCol: String): Column =
    col(opCol).isNull || col(opCol) =!= "d"

  /** SCD Type-2 history. `changes` must carry the key, timestamp, op
    * ('c'/'u'/'d') and payload columns; every input column is preserved
    * on the version rows, plus (valid_from, valid_to, is_current).
    * A NULL op is treated as a non-delete (the row becomes a version).
    */
  def history(changes: DataFrame, keyCols: Seq[String], tsCol: String,
              tieCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "history needs at least one key column")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    changes
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      // a delete's own row is not a version — but it has already closed
      // its predecessor via lead() above
      .filter(notDelete(opCol))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time snapshot over a `history` frame: versions whose
    * half-open [valid_from, valid_to) interval covers `t`.
    */
  def asOf(history: DataFrame, t: Column): DataFrame =
    history.filter(col("valid_from") <= t &&
      (col("valid_to").isNull || col("valid_to") > t))

  /** CURRENT state materialized straight from a change stream — the
    * MERGE INTO / latest-wins upsert shape (each key's last change wins;
    * a key whose last change is a delete is absent). This is `history`
    * restricted to `is_current`, but expressed as a max_by aggregation
    * instead of a window: one shuffle, and the per-group state is ONE
    * row (the current winner), not the key's version list — the right
    * plan when history is not wanted.
    */
  def latest(changes: DataFrame, keyCols: Seq[String], tsCol: String,
             tieCol: String, opCol: String): DataFrame = {
    require(keyCols.nonEmpty, "latest needs at least one key column")
    val payload = struct(changes.columns.map(col): _*)
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(col(tsCol), col(tieCol))).as("_winner"))
      .select(col("_winner.*"))
      .filter(notDelete(opCol))
  }

  /** STREAMING state maintenance — `latest` under the `BatchTables`
    * discipline (the changelog → state-table materialization run
    * incrementally): each batch contributes its per-key winners —
    * INCLUDING delete tombstones, which must persist so a late-arriving
    * older change cannot resurrect a deleted key — to its own
    * `_batch_id` partition (dynamic overwrite → a replayed batch
    * rewrites exactly its prior rows), and `stateFromTable` re-runs the
    * same max_by over all partitions before dropping tombstones. The
    * merge is a per-key MAX over (ts, tie): idempotent under row
    * duplication (the HLL crash contract — even the compaction crash
    * window returns correct state), out-of-order batches need no
    * special casing, and compaction folds history to one winner row per
    * key (tombstones retained — dropping them is a caller-policy
    * horizon decision, not the operator's).
    */
  def mergeBatchLatest(batch: DataFrame, keyCols: Seq[String], tsCol: String,
                       tieCol: String, table: String, path: String,
                       batchId: Long): Unit =
    graft.operators.BatchTables.writeBatch(
      winners(batch, keyCols, tsCol, tieCol), batchId, table, path)

  /** The latest-wins merge: each key's max-(ts, tie) row over every column
    * but `_batch_id`, tombstones included. The batch write, the read and
    * the compaction all apply it.
    */
  private def winners(rows: DataFrame, keyCols: Seq[String], tsCol: String,
                      tieCol: String): DataFrame = {
    val t = rows.drop("_batch_id")
    val payload = struct(t.columns.map(col): _*)
    t.groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(col(tsCol), col(tieCol))).as("_winner"))
      .select(col("_winner.*"))
  }

  /** Current state over everything the maintained table has absorbed:
    * per-key max over all batch partitions, tombstones dropped at read.
    */
  def stateFromTable(spark: org.apache.spark.sql.SparkSession,
                     table: String, keyCols: Seq[String], tsCol: String,
                     tieCol: String, opCol: String): DataFrame =
    winners(spark.table(table), keyCols, tsCol, tieCol)
      .filter(notDelete(opCol))

  /** Fold batches `0..upToBatchId` into one consolidated partition of
    * per-key winners (tombstones included).
    */
  def compactState(spark: org.apache.spark.sql.SparkSession, table: String,
                   upToBatchId: Long, keyCols: Seq[String], tsCol: String,
                   tieCol: String): (Int, Int) =
    graft.operators.BatchTables.compactBatchPartitions(spark, table,
      upToBatchId, winners(_, keyCols, tsCol, tieCol))

  /** INCREMENTAL SCD2 history maintenance — `history` under the
    * `BatchTables` discipline, so a 100 TB dimension never re-windows its
    * full change stream per refresh. What persists per batch: the batch's
    * change rows — INCLUDING delete tombstones, which must stay so a
    * later repair window still sees the closing change — with
    * (valid_from, valid_to) assigned by the within-batch per-key lead().
    * Those intervals are CORRECT for any key whose changes all live in
    * one partition, and are repaired at read time for the others:
    * `historyFromTable` re-windows ONLY keys present in the
    * un-consolidated (positive) partitions — everything the last
    * compaction folded passes through with its stored intervals, no
    * window — which makes the read cost O(full table scan + touched
    * keys' versions), never a global re-sort. Out-of-order batches need
    * no special casing: the repair window re-orders a touched key's
    * ENTIRE change set by (ts, tie), so a late batch whose changes land
    * inside an old closed interval splits it correctly. Replay-safe: a
    * re-run of batch N dynamic-overwrites exactly its own partition.
    * Like CMS (and unlike the latest-wins max-merge), interval
    * assignment is NOT duplication-idempotent for untouched keys, so
    * the compaction crash window (the one contract in
    * `BatchTables.compactBatchPartitions`) can show duplicate version
    * rows; the repair path dedups by (key, ts, tie) and is immune.
    */
  def mergeBatchHistory(batch: DataFrame, keyCols: Seq[String], tsCol: String,
                        tieCol: String, table: String, path: String,
                        batchId: Long): Unit = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    val rows = batch
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
    graft.operators.BatchTables.writeBatch(rows, batchId, table, path)
  }

  /** The maintained table's SCD2 history over every absorbed batch:
    * stored intervals pass through untouched except for keys present in
    * un-consolidated partitions, whose change sets re-window (the only
    * keys whose cross-partition adjacency can be stale). Equals one-shot
    * `history` over the concatenated changes — the gate's contract.
    */
  def historyFromTable(spark: org.apache.spark.sql.SparkSession,
                       table: String, keyCols: Seq[String], tsCol: String,
                       tieCol: String, opCol: String): DataFrame = {
    val t = spark.table(table)
    val touched = t.filter(col("_batch_id") >= 0)
      .select(keyCols.map(col): _*).distinct()
    val untouched = t.join(touched, keyCols, "left_anti")
    val repaired = rewindow(t.join(touched, keyCols, "left_semi"),
      keyCols, tsCol, tieCol)
    untouched.unionByName(repaired)
      .filter(notDelete(opCol))
      .withColumn("is_current", col("valid_to").isNull)
      .drop("_batch_id")
  }

  /** The history merge: change rows deduped by (key, ts, tie) and
    * re-windowed, so each version closes at its successor's timestamp.
    * The read applies it to the touched keys, the compaction to all.
    */
  private def rewindow(rows: DataFrame, keyCols: Seq[String], tsCol: String,
                       tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    rows.dropDuplicates(keyCols :+ tsCol :+ tieCol)
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
  }

  /** Fold batches `0..upToBatchId` into one consolidated partition whose
    * stored intervals are globally correct (one re-window per compaction,
    * amortized over every window-free read until the next one).
    * Tombstones retained — a future late change re-windows against them.
    */
  def compactHistory(spark: org.apache.spark.sql.SparkSession, table: String,
                     upToBatchId: Long, keyCols: Seq[String], tsCol: String,
                     tieCol: String): (Int, Int) =
    graft.operators.BatchTables.compactBatchPartitions(spark, table,
      upToBatchId, rewindow(_, keyCols, tsCol, tieCol))

  /** Snapshot DIFF between two points in time, derived from ONE history
    * pass: which keys were added, removed, or changed between `t1` and
    * `t2` (t1 < t2). A key "changes" when its covering version differs;
    * version identity = the `tieCol` of the covering row. Returns the
    * key columns + `change` ∈ {added, removed, changed} + both versions'
    * tie ids (NULL on the absent side) — the audit shape "what happened
    * to the table between the two nightly snapshots" without storing
    * either snapshot.
    */
  def snapshotDiff(history: DataFrame, keyCols: Seq[String], tieCol: String,
                   t1: Column, t2: Column): DataFrame = {
    val a = asOf(history, t1).select(
      keyCols.map(col) :+ col(tieCol).as("_v1"): _*)
    val b = asOf(history, t2).select(
      keyCols.map(col) :+ col(tieCol).as("_v2"): _*)
    a.join(b, keyCols, "full_outer")
      .withColumn("change",
        when(col("_v1").isNull, "added")
          .when(col("_v2").isNull, "removed")
          .when(col("_v1") =!= col("_v2"), "changed"))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change") :+
        col("_v1").as("version_before") :+ col("_v2").as("version_after"): _*)
  }

  /** SCD Type-3: current state plus, per tracked attribute, the most
    * recent PRIOR value that differs from the current one
    * (`<attr>_prev`, NULL when the attribute never changed) — the
    * "current + previous" reporting shape between Type-1's overwrite and
    * Type-2's full history. Keys whose last change is a delete are
    * absent (the `latest` contract); delete rows contribute no previous
    * values (they are not versions — the `history` contract).
    *
    * Differing is null-safe (`IS DISTINCT FROM`): a NULL-valued version
    * before a non-NULL current IS a change, and its NULL is then
    * indistinguishable from never-changed in `<attr>_prev` — callers
    * needing that distinction want Type-2 history, not Type-3.
    *
    * Plan: one window pass pins each row against its key's final change
    * (ONE key shuffle; the groupBy that follows reuses the window's
    * hash partitioning), then per attribute a conditional `max` over
    * (ts, tie, value) structs picks the newest differing prior version.
    * Output is one row per live key — state-shaped, not history-shaped.
    */
  def scd3(changes: DataFrame, keyCols: Seq[String], tsCol: String,
           tieCol: String, opCol: String,
           attrCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "scd3 needs at least one key column")
    require(attrCols.nonEmpty, "scd3 needs at least one tracked attribute")
    val wAll = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pinned = changes
      .withColumn("_cur_op", last(col(opCol)).over(wAll))
      .withColumn("_cur_ts", last(col(tsCol)).over(wAll))
      .withColumn("_cur_tie", last(col(tieCol)).over(wAll))
      .withColumns(attrCols.map(a =>
        s"_cur_$a" -> last(col(a)).over(wAll)).toMap)
    val isPriorVersion = notDelete(opCol) &&
      struct(col(tsCol), col(tieCol)) <
        struct(col("_cur_ts"), col("_cur_tie"))
    val payload = struct(changes.columns.map(col): _*)
    val prevAggs = attrCols.map { a =>
      max(when(isPriorVersion && !(col(a) <=> col(s"_cur_$a")),
        struct(col(tsCol), col(tieCol), col(a).as("v"))))
        .getField("v").as(s"${a}_prev")
    }
    pinned
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(payload, struct(col(tsCol), col(tieCol))).as("_cur"),
        prevAggs: _*)
      .filter(col("_cur." + opCol).isNull || col("_cur." + opCol) =!= "d")
      .select(keyCols.map(col) ++
        attrCols.map(a => col(s"_cur.$a").as(a)) ++
        Seq(col(s"_cur.$tieCol").as(tieCol), col(s"_cur.$tsCol").as(tsCol)) ++
        attrCols.map(a => col(s"${a}_prev")): _*)
  }
}
