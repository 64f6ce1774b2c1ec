package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Columnar sinks (O-6/O-7/O-10/O-11): the ClickHouse-MergeTree and
  * JetStream layers re-expressed as partitioned, sorted parquet.
  *
  *  - Event store (`hr_events`, docs/design.md:169-183): PARTITION BY month,
  *    ORDER BY (event_type, event_timestamp, aggregate_id) →
  *    `partitionBy(event_month)` + `sortWithinPartitions` — gives downstream
  *    readers partition pruning + run-length-friendly sort order, the same
  *    physical win MergeTree buys.
  *  - Retention sweep (O-7): drop partitions older than max_age
  *    (stream.json:9-13) — a metadata operation, never a scan.
  */
object Sinks {

  def writeEventStore(events: DataFrame, path: String,
                      mode: SaveMode = SaveMode.Append): Unit =
    events
      .withColumn("event_month", date_format(col("timestamp"), "yyyyMM"))
      // range partitioning keeps write parallelism when one month is hot
      // (repartition(month) would funnel the live month through one task)
      .repartitionByRange(col("event_month"), col("eventType"),
        col("timestamp"), col("aggregateId"))
      .sortWithinPartitions(col("eventType"), col("timestamp"), col("aggregateId"))
      .write.mode(mode)
      .partitionBy("event_month")
      .parquet(path)

  /** Retention sweep (max_age, discard=old): drop month partitions strictly
    * older than `maxAgeMonths` relative to `nowMs`. Purely partition-level —
    * no data read.
    */
  def sweepRetention(path: String, maxAgeMonths: Int, nowMs: Long,
                     partitionCol: String = "event_month"): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMM")
    val cutoff = java.time.Instant.ofEpochMilli(nowMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
      .minusMonths(maxAgeMonths.toLong).withDayOfMonth(1)
    // Hadoop FileSystem API, not java.io.File: the sweep must work on
    // whatever scheme the store lives on (HDFS, S3A, local), and the
    // recursive delete removes nested files the flat listing would miss.
    val root = new Path(path)
    val fs = root.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val dropped = fs.listStatus(root)
      .filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(s"$partitionCol="))
      .filter { d =>
        val month = d.getPath.getName.stripPrefix(s"$partitionCol=")
        scala.util.Try(
          java.time.YearMonth.parse(month, fmt).atDay(1)
            .isBefore(cutoff)).getOrElse(false)
      }
    dropped.foreach(d => fs.delete(d.getPath, true))
    dropped.map(_.getPath.getName).toSeq
  }

  /** Small-file compaction for a micro-batch sink (layout
    * `<partitionCol>=V/_batch_id=N/part-*.parquet`, as written by
    * `streaming.Pipeline.writeBatchIdempotent`): every streaming trigger
    * lands its own `_batch_id` partition, so a long-lived pipeline
    * accumulates thousands of small files per month — the classic
    * MergeTree-merge / table-format OPTIMIZE job, re-expressed.
    *
    * Merges all batches `0 <= id <= upToBatchId` into one consolidated
    * batch partition `_batch_id = -(upToBatchId+1)` (negative = compacted
    * marker; keeps the partition column numeric and the horizon readable),
    * re-sorted by `sortCols` for MergeTree-style physical order.
    *
    * Crash-safe without a transaction log, the same
    * at-least-once-then-idempotent discipline as the pipeline itself:
    *  1. write the consolidated partition (a dynamic-overwrite job — commits
    *     atomically at job end, so its existence implies completeness);
    *  2. only then delete the source batch directories.
    * A crash between 1 and 2 leaves duplicates visible; RE-RUNNING
    * compaction — with the SAME `upToBatchId` or any later one — converges:
    * the committed horizon is re-derived from the existing negative
    * partitions (`max(-id - 1)`), batches at or below it are EXCLUDED from
    * the consolidation read (their rows are already committed in an earlier
    * negative partition) while their leftover source dirs still get
    * deleted. Without that exclusion, an advancing-horizon re-run after a
    * crash would re-read leftovers into the new consolidated partition and
    * duplicate rows permanently.
    * Only compact batches strictly below the streaming checkpoint's
    * committed horizon: a batch the running query may still replay must
    * keep its own partition.
    *
    * Returns (filesBefore, filesAfter) under the affected batch dirs.
    */
  def compactBatches(spark: org.apache.spark.sql.SparkSession, path: String,
                     partitionCol: String, sortCols: Seq[String],
                     upToBatchId: Long): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return (0, 0)
    val compactedId = -(upToBatchId + 1)

    def batchDirs(pred: Long => Boolean): Seq[Path] =
      fs.listStatus(root).toSeq
        .filter(d => d.isDirectory && d.getPath.getName.startsWith(s"$partitionCol="))
        .flatMap(d => fs.listStatus(d.getPath).toSeq)
        .filter(_.isDirectory)
        .map(_.getPath)
        .filter { p =>
          p.getName.startsWith("_batch_id=") &&
            scala.util.Try(p.getName.stripPrefix("_batch_id=").toLong)
              .toOption.exists(pred)
        }

    def countFiles(dirs: Seq[Path]): Int =
      dirs.map(d => fs.listStatus(d).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_"))).sum

    val sources = batchDirs(id => id >= 0 && id <= upToBatchId)
    if (sources.isEmpty) return (0, 0)
    val filesBefore = countFiles(sources)

    // committed compaction horizon: every batch <= horizon already lives in
    // some negative partition, whatever upToBatchId that run used
    val committedHorizon = batchDirs(_ < 0)
      .flatMap(p => scala.util.Try(
        -p.getName.stripPrefix("_batch_id=").toLong - 1).toOption)
      .foldLeft(-1L)(math.max)
    val alreadyCompacted = batchDirs(_ == compactedId).nonEmpty
    if (!alreadyCompacted && committedHorizon < upToBatchId) {
      val data = spark.read.parquet(path)
        .filter(col("_batch_id")
          .between(committedHorizon + 1, upToBatchId)) // partition-pruned
        .drop("_batch_id")
      graft.streaming.Pipeline.writeBatchIdempotent(
        data, path, compactedId, Seq(partitionCol), sortCols)
    }
    sources.foreach(p => fs.delete(p, true))
    (filesBefore, countFiles(batchDirs(_ == compactedId)))
  }
}
