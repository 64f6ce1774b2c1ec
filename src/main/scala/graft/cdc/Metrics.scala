package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operational metrics (O-22/O-23; reference `docs/design.md:808-826`,
  * `docs/system-design.md:395-400`).
  *
  * Two forms:
  *  - `observe(...)`: zero-cost counters riding the existing job (no extra
  *    scan) — events.published.total analog, read via QueryExecutionListener
  *    or StreamingQueryProgress.
  *  - aggregation queries: per-type counts and latency percentiles as
  *    first-class DataFrames (the "materialized view" analog, O-24).
  */
object Metrics {

  /** Attach published/failed counters to a domain-event stream. */
  def observed(events: DataFrame, name: String = "cdc_metrics"): DataFrame =
    events.observe(
      name,
      count(lit(1)).as("events_published_total"),
      // DISTINCT aggregates are not allowed in observed metrics; HLL is
      // exact at event-type cardinality anyway
      approx_count_distinct(col("eventType")).as("event_types_seen"),
      max(col("timestamp")).as("max_event_time"))

  /** CDC lag / end-to-end latency percentiles per minute window (O-23):
    * processing ts vs event ts.
    */
  def latency(events: DataFrame,
              eventTime: String = "timestamp",
              processedTime: String = "processed_at"): DataFrame =
    events
      .withColumn("lag_ms",
        (unix_millis(col(processedTime)) - unix_millis(col(eventTime))).cast("double"))
      .groupBy(window(col(eventTime), "1 minute").as("w"))
      .agg(
        count(lit(1)).as("n"),
        percentile_approx(col("lag_ms"), lit(0.5), lit(10000)).as("p50_ms"),
        percentile_approx(col("lag_ms"), lit(0.95), lit(10000)).as("p95_ms"),
        max(col("lag_ms")).as("max_ms"))
      .select(col("w.start").as("minute"), col("n"),
        col("p50_ms"), col("p95_ms"), col("max_ms"))

  /** Daily event volumes by category (the capacity-table materialized view,
    * docs/system-design.md:334-339).
    */
  def dailyVolumes(events: DataFrame): DataFrame =
    events.groupBy(
      to_date(col("timestamp")).as("day"),
      col("eventCategory"))
      .agg(count(lit(1)).as("n"))

  /** INCREMENTALLY MAINTAINED daily metrics — the materialized-view
    * aggregation run as a `BatchTables` state family, so the capacity
    * table is maintained by the stream that writes the event store (one
    * source scan, same crash discipline) instead of a nightly rescan.
    * Per batch: the batch's (day, event_type) partial aggregates land in
    * the batch's own `_batch_id` partition (dynamic overwrite — a
    * replayed batch rewrites exactly its prior rows); reads sum across
    * partitions. A SUM-merge family like CMS; its compaction crash
    * window is the one contract in `BatchTables.compactBatchPartitions`.
    */
  def mergeBatchDaily(batch: DataFrame, day: org.apache.spark.sql.Column,
                      eventType: org.apache.spark.sql.Column,
                      cents: org.apache.spark.sql.Column,
                      table: String, path: String, batchId: Long): Unit = {
    val rows = batch
      .groupBy(day.as("day"), eventType.as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(cents).cast("long").as("cents"))
    graft.operators.BatchTables.writeBatch(rows, batchId, table, path)
  }

  /** The daily-metrics merge: (day, event_type) partials summed. The
    * read and the compaction both apply it.
    */
  private def mergeDaily(t: DataFrame): DataFrame =
    t.groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).cast("long").as("cents"))

  /** The maintained table's daily metrics over every absorbed batch. */
  def dailyFromTable(spark: org.apache.spark.sql.SparkSession,
                     table: String): DataFrame =
    mergeDaily(spark.table(table))

  /** Fold batches `0..upToBatchId` into one consolidated partition. */
  def compactDaily(spark: org.apache.spark.sql.SparkSession, table: String,
                   upToBatchId: Long): (Int, Int) =
    graft.operators.BatchTables.compactBatchPartitions(spark, table,
      upToBatchId, mergeDaily)
}
