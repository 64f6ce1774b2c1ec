package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.FreqItems

/** Streaming maintenance for the SpaceSaving frequent-items sketch — the
  * `BatchTables` state discipline (HLL registers, CMS counters, quantile
  * histograms, profiler level-1) applied to the fourth sketch family.
  *
  * What persists per batch: the batch summary's (item, cnt, err) entries
  * PLUS one metadata row (item = NULL) carrying the batch's stream total
  * and its minimum counter (0 while the batch summary never filled). The
  * metadata is what makes the read-time combine correct: merging
  * summaries (Agarwal et al.) charges an item ABSENT from a batch that
  * batch's minimum counter as both estimate and error — so the n-way
  * merge in `summaryFromTable` is a grid of (distinct items × batch
  * metadata), a left join back to the entries, two sums, and a
  * deterministic top-m cut (est desc, item asc). Bounds
  * (`lb <= true <= est`) and the total/m tracking guarantee survive, the
  * same contract as the in-heap pairwise merge (property-pinned in the
  * stream spec; in the no-eviction regime the table summary is EXACTLY
  * the one-shot summary).
  *
  * Rows carry `_src_batch` (the writing batch's id) SEPARATELY from the
  * `_batch_id` partition column: compaction normalizes `_batch_id`
  * before the consolidate callback runs, but the combine needs per-batch
  * identity — consolidation folds per-`_src_batch` summaries into one
  * (entries + one metadata row with summed totals and the merged
  * summary's own minimum). Like CMS, the merge is NOT
  * duplication-idempotent: the crash window between the consolidated
  * insert and the source sweep shows inflated counts until the
  * convergence re-run.
  */
object FreqItemsState {

  /** Persist one batch's summary into `table` (created on first use at
    * `path`). Replay-safe: a re-run of the same `batchId` dynamic-
    * overwrites its own partition.
    */
  def mergeBatch(batch: DataFrame, itemCol: String, m: Int, table: String,
                 path: String, batchId: Long): Unit = {
    val one = batch.agg(
      count(col(itemCol)).as("_total"),
      FreqItems.freq_items(col(itemCol), m).as("_sk"))
      .localCheckpoint(true) // one row; shared by entries + metadata
    val entries = one.select(explode(col("_sk")).as("e"))
      .select(col("e.item").as("item"), col("e.est").as("cnt"),
        (col("e.est") - col("e.lb")).as("err"))
    // the summary's minimum counter = the LAST entry's est (output is
    // est-descending) — but only once the summary filled; else 0
    val meta = one.select(
      lit(null).cast(entries.schema("item").dataType).as("item"),
      col("_total").as("cnt"),
      when(size(col("_sk")) === m, element_at(col("_sk"), -1).getField("est"))
        .otherwise(lit(0L)).as("err"))
    val rows = entries.unionByName(meta)
      .withColumn("_src_batch", lit(batchId))
    BatchTables.writeBatch(rows, batchId, table, path)
  }

  /** The n-way mergeable-summaries combine over every per-batch summary
    * the table holds: (item, est, lb) with the top-m deterministic cut.
    */
  def summaryFromTable(spark: SparkSession, table: String,
                       m: Int): DataFrame = {
    val t = spark.table(table)
    val meta = t.filter(col("item").isNull)
      .select(col("_src_batch"), col("err").as("b_min"))
    val entries = t.filter(col("item").isNotNull)
      .select(col("_src_batch"), col("item"), col("cnt"), col("err"))
    val grid = entries.select(col("item")).distinct()
      .crossJoin(broadcast(meta))
    grid.join(entries, Seq("_src_batch", "item"), "left")
      .select(col("item"),
        coalesce(col("cnt"), col("b_min")).as("c"),
        coalesce(col("err"), col("b_min")).as("e"))
      .groupBy(col("item"))
      .agg(sum(col("c")).as("est"), sum(col("e")).as("err"))
      .orderBy(col("est").desc, col("item"))
      .limit(m)
      .select(col("item"), col("est"), (col("est") - col("err")).as("lb"))
  }

  /** Total stream length the table has absorbed (for total/m thresholds). */
  def totalFromTable(spark: SparkSession, table: String): Long =
    spark.table(table).filter(col("item").isNull)
      .agg(coalesce(sum(col("cnt")), lit(0L))).head.getLong(0)

  /** Fold batches `0..upToBatchId` into one consolidated partition whose
    * rows are the MERGED summary (entries + one metadata row: summed
    * totals, the merged summary's own minimum counter).
    */
  def compactSummary(spark: SparkSession, table: String, upToBatchId: Long,
                     m: Int): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId, { df =>
      val meta = df.filter(col("item").isNull)
        .select(col("_src_batch"), col("err").as("b_min"))
      val totals = df.filter(col("item").isNull)
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("t"))
      val entries = df.filter(col("item").isNotNull)
        .select(col("_src_batch"), col("item"), col("cnt"), col("err"))
      val target = df.select(col("_batch_id")).limit(1)
      val merged = entries.select(col("item")).distinct()
        .crossJoin(broadcast(meta))
        .join(entries, Seq("_src_batch", "item"), "left")
        .select(col("item"),
          coalesce(col("cnt"), col("b_min")).as("c"),
          coalesce(col("err"), col("b_min")).as("e"))
        .groupBy(col("item"))
        .agg(sum(col("c")).as("cnt"), sum(col("e")).as("err"))
        .orderBy(col("cnt").desc, col("item"))
        .limit(m)
      val itemType = entries.schema("item").dataType
      val newMin = merged
        .agg(count(lit(1)).as("n"), min(col("cnt")).as("mn"))
        .select(when(col("n") === m, col("mn")).otherwise(lit(0L)).as("mn"))
      val newMeta = totals.crossJoin(broadcast(newMin))
        .select(lit(null).cast(itemType).as("item"),
          col("t").as("cnt"), col("mn").as("err"))
      merged.select(col("item"), col("cnt"), col("err"))
        .unionByName(newMeta)
        .crossJoin(broadcast(target))
        .withColumn("_src_batch", col("_batch_id"))
        .select(df.columns.map(col): _*)
    })
}
