package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Group-wise bivariate statistics (covariance, Pearson correlation, OLS
  * slope/intercept, R²) from EXACT integer moments — the
  * sufficient-statistic pattern every SQL engine's corr / regr_* family
  * implements, built here with this engine's replayability discipline.
  *
  * Why not `corr()`/`covar_samp()` directly: those accumulate floating
  * co-moments whose value depends on partial-aggregation ORDER — a
  * different partition layout flips low bits, so results are neither
  * run-reproducible nor cross-engine gateable. Here the inputs are
  * integer-quantized (cents, counts — the repo's money discipline), the
  * five sufficient statistics Σx, Σy, Σxy, Σx², Σy² and n are exact
  * BIGINT sums (commutative — any layout, any engine, same bits), and
  * the statistics are a FIXED expression over those exact integers cast
  * to double: each IEEE op is correctly rounded, so two engines running
  * the same expression tree produce identical doubles. No rounding
  * needed anywhere in the gate.
  *
  * Mergeability falls out for free: the moment vector is additive, so
  * partial aggregates combine map-side (Catalyst's two-phase sum) and
  * persisted per-day moment rows merge by plain sum — the same
  * incremental-maintenance shape as every sketch family here
  * ([[BatchTables]]), but lossless.
  *
  * Overflow bound: Σxy ≤ n·max|x|·max|y| must stay under 2^63 — at
  * x ≤ 2^7 (quantities) and y ≤ 2^31 (prices in cents) that allows
  * n ≤ 2^25 per... per NOTHING — the sums are over the whole group, so
  * size the quantization so max|x·y| · group_rows < 2^63 (cents ×
  * two-digit quantities hold to ~10^9 rows/group; beyond that, quantize
  * coarser or split the group — documented, not silently wrong, since
  * ANSI mode or a checked sum surfaces the overflow rather than wrapping).
  */
object Moments {

  /** Per-group: n plus corr, OLS slope/intercept (y on x), and R², from
    * exact integer moment sums of the BIGINT columns `xCol`/`yCol`.
    * Rows where either side is NULL are excluded (SQL corr semantics).
    * Degenerate groups (zero variance on either side) yield NULL corr/r2;
    * zero x-variance also NULLs slope/intercept.
    */
  def bivariateStats(df: DataFrame, groupCols: Seq[String],
                     xCol: String, yCol: String): DataFrame =
    statsFromMoments(moments(df, groupCols, xCol, yCol), groupCols)

  /** The six sufficient statistics per group — the PERSISTABLE form:
    * moment vectors are additive, so per-batch moment rows merge by
    * plain column-wise sum ([[mergeBatch]]) and any union of moment
    * frames closes back to statistics via [[statsFromMoments]], no
    * raw-data rescan. The lossless cousin of the sketch families.
    */
  def moments(df: DataFrame, groupCols: Seq[String],
              xCol: String, yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    df.filter(x.isNotNull && y.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
  }

  /** Column-wise sum of moment frames (same group columns): the merge. */
  def mergeMoments(m: DataFrame, groupCols: Seq[String]): DataFrame =
    m.groupBy(groupCols.map(col): _*)
      .agg(sum(col("n")).as("n"),
        sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
        sum(col("sxy")).as("sxy"), sum(col("sxx")).as("sxx"),
        sum(col("syy")).as("syy"))

  /** Persist one batch's per-group moment vector into `table` under the
    * [[BatchTables]] discipline. SUM-merge family (like CMS/freq-items):
    * replay-safe via dynamic overwrite of the batch's own partition; the
    * crash window between a compaction insert and its source sweep shows
    * doubled moments until the convergence re-run — same documented
    * asymmetry as the other sum families.
    */
  def mergeBatch(batch: DataFrame, groupCols: Seq[String], xCol: String,
                 yCol: String, table: String, path: String,
                 batchId: Long): Unit = {
    BatchTables.writeBatch(moments(batch, groupCols, xCol, yCol),
      batchId, table, path)
  }

  /** Statistics over everything the table has absorbed: sum the stored
    * per-batch moments, close to corr/slope/intercept/r2 — EXACTLY the
    * one-shot result (integer sums are associative), never a rescan.
    */
  def statsFromTable(spark: org.apache.spark.sql.SparkSession,
                     table: String, groupCols: Seq[String]): DataFrame =
    statsFromMoments(mergeMoments(spark.table(table), groupCols), groupCols)

  /** Fold batches `0..upToBatchId` into one consolidated partition. */
  def compactMoments(spark: org.apache.spark.sql.SparkSession,
                     table: String, upToBatchId: Long,
                     groupCols: Seq[String]): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      df => mergeMoments(df, groupCols :+ "_batch_id")
        .select(df.columns.map(col): _*))

  /** Close a moment frame to the statistics (see [[bivariateStats]]). */
  def statsFromMoments(m: DataFrame, groupCols: Seq[String]): DataFrame = {
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double")
    val syD = col("sy").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * syD
    val denx = nD * col("sxx").cast("double") - sxD * sxD
    val deny = nD * col("syy").cast("double") - syD * syD
    val slope = when(denx > 0, num / denx)
    val corr = when(denx > 0 && deny > 0, num / sqrt(denx * deny))
    m.select(groupCols.map(col) :+ col("n") :+
      corr.as("corr") :+
      slope.as("slope") :+
      when(denx > 0, (syD - slope * sxD) / nD).as("intercept") :+
      when(denx > 0 && deny > 0, corr * corr).as("r2"): _*)
  }
}
