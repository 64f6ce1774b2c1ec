package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retraction-based materialized-view maintenance — the general form of
  * O-24's incrementally maintained aggregations (reference
  * `docs/design.md:808-826` materialized views; `docs/cdc-guide.md:134-151`
  * envelope before/after images).
  *
  * `Metrics.mergeBatchDaily` maintains an APPEND-ONLY aggregate: every event
  * adds, nothing ever subtracts. Real CDC envelopes carry updates and
  * deletes, and a downstream SUM/COUNT view has to retract the old image
  * when a row changes groups ("user moved from the purchase band to the
  * error band") or dies. This operator implements the standard
  * retraction algebra over before/after images:
  *
  *  - after image present (op c/r/u) → `(+measure, +1)` into after's group;
  *  - before image present (op u/d)  → `(−measure, −1)` into before's group.
  *
  * Per changelog row both contributions emit from ONE pass (a two-element
  * `explode`, codegen'd, nulls filtered), then ONE hash aggregation with
  * map-side partial combine reduces a changelog of any size to |groups|
  * delta rows. The contributions telescope: summed over a key's whole
  * history they leave exactly the latest live image — so the maintained
  * view equals the view recomputed over current state, which is precisely
  * what the DuckDB oracle checks (`cdc_mv_retract`).
  *
  * 100 TB posture: deltas are additive and commutative, so batches may
  * arrive in any order, partial aggregates merge without coordination,
  * and the `BatchTables` compaction collapse is a plain SUM — the same
  * merge algebra as CMS. An update that moves a row between groups costs
  * two delta rows, never a rescan of either group. State size is
  * O(groups), independent of changelog length.
  *
  * Contract: the changelog must carry TRUE before images (what Debezium
  * emits when the source's full row mode is on). A before image whose
  * prior state was already dead must be null (no double retraction);
  * `EventsAsChangeLog.retractable` shows the construction from an ordered
  * event log.
  */
object Retract {

  /** Per-group delta vector `(…group fields…, d_n, d_sum)` from one
    * changelog batch. `groupOf` / `measureOf` map an IMAGE struct column
    * (`before` or `after`) to the view's group key and its additive
    * BIGINT measure. A struct-typed group expands into its fields
    * (composite keys); a scalar group is wrapped automatically into a
    * single `group` column — the final star-expansion needs a struct, so
    * the wrap happens here instead of surfacing as an opaque
    * AnalysisException at the caller.
    */
  def mvDeltas(changelog: DataFrame,
               groupOf: Column => Column,
               measureOf: Column => Column): DataFrame = {
    val gType = changelog.select(groupOf(col("after")).as("_g"))
      .schema("_g").dataType
    val group: Column => Column =
      if (gType.isInstanceOf[org.apache.spark.sql.types.StructType]) groupOf
      else img => struct(groupOf(img).as("group"))
    val contribs = array(
      when(col("after").isNotNull,
        struct(group(col("after")).as("g"),
          measureOf(col("after")).cast("long").as("m"), lit(1L).as("c"))),
      when(col("before").isNotNull,
        struct(group(col("before")).as("g"),
          (-measureOf(col("before")).cast("long")).as("m"), lit(-1L).as("c"))))
    changelog
      .select(explode(contribs).as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("x.g").as("g"))
      .agg(sum(col("x.c")).as("d_n"), sum(col("x.m")).as("d_sum"))
      .select(col("g.*"), col("d_n"), col("d_sum"))
  }

  /** Absorb one changelog batch into the maintained MV table (BatchTables
    * discipline: the batch's deltas land in its own `_batch_id` partition
    * via dynamic overwrite, so a crash-replayed batch rewrites exactly its
    * prior rows).
    */
  def mergeBatchMv(changelog: DataFrame,
                   groupOf: Column => Column,
                   measureOf: Column => Column,
                   table: String, path: String, batchId: Long): Unit = {
    graft.operators.BatchTables.writeBatch(
      mvDeltas(changelog, groupOf, measureOf), batchId, table, path)
  }

  /** The maintained view: sum the delta vectors across every absorbed
    * batch; groups whose live count has returned to zero drop out (their
    * keys all died or moved away — the retractions cancelled the adds).
    */
  def mvFromTable(spark: SparkSession, table: String): DataFrame = {
    val t = spark.table(table)
    val groupCols = t.columns.filterNot(c =>
      c == "d_n" || c == "d_sum" || c == "_batch_id").map(col).toIndexedSeq
    t.groupBy(groupCols: _*)
      .agg(sum(col("d_n")).as("n"), sum(col("d_sum")).cast("long").as("total"))
      .filter(col("n") > 0)
  }

  /** Fold batches `0..upToBatchId` into one consolidated partition; the
    * collapse is the SUM merge (crash window between insert and sweep
    * shows doubled deltas until the convergence re-run — same contract as
    * `CountMin.compactSketch`).
    */
  def compactMv(spark: SparkSession, table: String, upToBatchId: Long): (Int, Int) =
    graft.operators.BatchTables.compactBatchPartitions(spark, table,
      upToBatchId, { df =>
        val groupCols = df.columns.filterNot(c =>
          c == "d_n" || c == "d_sum").map(col).toIndexedSeq
        df.groupBy(groupCols: _*)
          .agg(sum(col("d_n")).as("d_n"), sum(col("d_sum")).as("d_sum"))
          .select(df.columns.map(col).toIndexedSeq: _*)
      })
}
