package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery for `_batch_id`-partitioned catalog tables — the
  * incremental-state discipline the streaming dedup gate established
  * (`TextDedup.dedupGateBatch`) and every state family reuses:
  *
  *  - per-batch rows land in the batch's OWN partition through
  *    [[writeBatch]], the one writer of every `_batch_id` table. Each
  *    table declares dynamic partition overwrite once, at creation
  *    ([[ensureBatchTable]]), so a crash-replayed batch rewrites exactly
  *    its prior write and table contents are exactly-once, whatever the
  *    session's own overwrite mode and however many writers share it;
  *  - per-batch partitions are periodically folded into one consolidated
  *    negative partition (`compactBatchPartitions`) so file count does
  *    not grow with stream age — each state family supplies its own
  *    `consolidate` collapse (full-row dedup for sketch-row tables,
  *    register-wise max for HLL, counter-wise sum for CMS).
  */
private[graft] object BatchTables {

  /** The catalog OPTION every `_batch_id` table carries from creation.
    * An overwrite-mode `insertInto` takes its partition-overwrite mode
    * from the table's own options, else from the session (STATIC by
    * default); a writer `.option` on `insertInto` is ignored. Without it
    * the insert TRUNCATES every other partition of the table.
    */
  private val OverwriteOption = "partitionOverwriteMode"

  /** Serializes compactions only, in this JVM: two runs over one table
    * must not overlap (see [[compactBatchPartitions]]). Writes take no
    * lock — each insert's overwrite mode comes from its table, not from
    * shared session state. A write beside a compaction is no new race:
    * the streaming pipeline's writers already ran lock-free beside
    * compaction.
    */
  private val compactionLock = new Object

  /** No-op. Kept for callers written when dynamic overwrite was a session
    * setting (the benchmark harness's traced step-wise path still calls
    * it): every `_batch_id` table now declares the mode itself, so there
    * is nothing to pin and no session setting is touched.
    */
  private[graft] def pinDynamicOverwrite(spark: SparkSession): Unit = ()

  private def metadata(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  private def requireDynamicOverwrite(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String): Unit =
    require(meta.storage.properties.exists { case (k, v) =>
      k.equalsIgnoreCase(OverwriteOption) && v.equalsIgnoreCase("dynamic") },
      s"table $table was created without OPTIONS ('$OverwriteOption'=" +
        "'dynamic'): an overwrite insert would truncate every other " +
        "_batch_id partition — re-create it through BatchTables")

  /** Create `table` at `path`, partitioned by `_batch_id` and declaring
    * dynamic partition overwrite, from an empty frame with the state's
    * schema (`configure` adds creation-only write options — bucketing,
    * sort). If the table already exists, one catalog lookup verifies it
    * carries the overwrite option and that the caller's `path` matches
    * its location: `path` only takes effect at creation, and a caller
    * pointing an existing table name at a DIFFERENT path would silently
    * keep writing to the old location.
    */
  private[graft] def ensureBatchTable(
      empty: DataFrame, table: String, path: String,
      configure: org.apache.spark.sql.DataFrameWriter[Row] =>
        org.apache.spark.sql.DataFrameWriter[Row] = identity): Unit = {
    val spark = empty.sparkSession
    val existing =
      try Some(metadata(spark, table))
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None
      }
    existing match {
      case None =>
        configure(empty.write.option("path", path)
          .option(OverwriteOption, "dynamic").partitionBy("_batch_id"))
          .saveAsTable(table)
      case Some(meta) =>
        requireDynamicOverwrite(meta, table)
        val at = new org.apache.hadoop.fs.Path(meta.location)
        val fs = at.getFileSystem(spark.sessionState.newHadoopConf())
        val requested = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
        require(fs.makeQualified(at) == requested,
          s"table $table already exists at ${fs.makeQualified(at)}, " +
            s"not at the requested path $requested — drop the table or pass its path")
    }
  }

  /** Write one batch's `rows` into partition `_batch_id = batchId` of
    * `table` (created at `path` on first use), replacing whatever an
    * earlier run of the same batch wrote there and leaving every other
    * partition untouched. `_batch_id` is appended as the last column.
    */
  private[graft] def writeBatch(rows: DataFrame, batchId: Long,
                                table: String, path: String): Unit = {
    val tagged = rows.withColumn("_batch_id", lit(batchId))
    ensureBatchTable(tagged.limit(0), table, path)
    tagged.write.mode("overwrite").insertInto(table)
  }

  /** Fold all batches `0 <= id <= upToBatchId` AND every previously
    * consolidated (negative) partition into ONE partition
    * `_batch_id = -(upToBatchId+1)`, collapsing rows with `consolidate`
    * (applied AFTER `_batch_id` is normalized to the target). Every write
    * goes THROUGH the table (`insertInto`) so creation-time layout
    * (bucketing) survives compaction. Because prior consolidations are
    * re-merged, the steady state is exactly one negative partition.
    *
    * Crash safety: (1) consolidated rows are staged to a scratch path
    * outside the table root (partition discovery never sees it); (2) the
    * staged rows are inserted via dynamic partition overwrite — atomic at
    * job commit; (3) only then are source partitions deleted. A crash
    * between (2) and (3) leaves duplicate rows visible until the re-run
    * (which sees the consolidated partition, skips the rewrite, and
    * sweeps the sources); what those duplicates DO to a reader depends on
    * the state's merge algebra — see each caller's contract
    * (`TextDedup.compactGateIndex`, `Hll.compactRegisters`,
    * `CountMin.compactSketch`).
    *
    * Only compact batches strictly below the streaming checkpoint's
    * committed horizon: a batch the running query may still replay must
    * keep its own partition (a replay dynamic-overwrites it). Calling
    * with an `upToBatchId` BELOW an already-committed horizon is a no-op
    * returning (0, 0) — re-consolidating would regress the horizon and a
    * later replay of batches between the two horizons would duplicate.
    *
    * Concurrency: runs for the SAME table must not overlap — compactions
    * in this JVM are serialized (`compactionLock`), and the staging-dir
    * sweep only removes dirs whose horizon is at or below the committed
    * one. Cross-JVM concurrent compaction of one table is NOT supported.
    *
    * Returns (filesBefore, filesAfter) under the affected partitions.
    */
  private[graft] def compactBatchPartitions(
      spark: SparkSession, table: String, upToBatchId: Long,
      consolidate: DataFrame => DataFrame): (Int, Int) =
    compactionLock.synchronized {
      import org.apache.hadoop.fs.Path
      val meta = metadata(spark, table)
      requireDynamicOverwrite(meta, table)
      val root = new Path(meta.location)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(root)) return (0, 0)
      val compactedId = -(upToBatchId + 1)

      def batchDirs(pred: Long => Boolean): Seq[Path] =
        fs.listStatus(root).toSeq
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
      def dropPartitions(dirs: Seq[Path]): Unit = {
        dirs.foreach { p =>
          val id = p.getName.stripPrefix("_batch_id=")
          // catalog first (no-op where partitions are filesystem-
          // discovered), then the data; refreshTable below re-syncs
          // discovery caches
          scala.util.Try(spark.sql(
            s"ALTER TABLE $table DROP IF EXISTS PARTITION (_batch_id=$id)"))
          fs.delete(p, true)
        }
      }

      val committedHorizon = batchDirs(_ < 0)
        .flatMap(p => scala.util.Try(
          -p.getName.stripPrefix("_batch_id=").toLong - 1).toOption)
        .foldLeft(-1L)(math.max)
      // horizon-regression guard: a caller replaying an OLD compaction
      // request must not fold the committed history into a less-negative
      // partition (re-running AT the horizon is the crash-cleanup path
      // and proceeds — alreadyCompacted skips the rewrite, leftovers are
      // swept)
      if (upToBatchId < committedHorizon) return (0, 0)

      // sweep staging dirs leaked by a crash after insertInto committed
      // but before cleanup (the consolidation block is skipped on that
      // re-run, so nothing else would ever delete them). Only dirs at or
      // below the committed horizon are provably leaked — a higher-
      // horizon dir could be a concurrent run's live staging area.
      fs.listStatus(root.getParent).toSeq
        .map(_.getPath)
        .filter { p =>
          val name = p.getName
          name.startsWith(s"${root.getName}_compact_") &&
            name.endsWith("_staging") &&
            scala.util.Try(name.stripPrefix(s"${root.getName}_compact_")
              .stripSuffix("_staging").toLong)
              .toOption.exists(_ <= committedHorizon)
        }
        .foreach(p => fs.delete(p, true))

      val sources = batchDirs(id => id >= 0 && id <= upToBatchId)
      val superseded = batchDirs(id => id < 0 && id != compactedId)
      if (sources.isEmpty && superseded.isEmpty) return (0, 0)
      val filesBefore = countFiles(sources ++ superseded)

      val alreadyCompacted = batchDirs(_ == compactedId).nonEmpty
      if (!alreadyCompacted) {
        // visible name: it lives OUTSIDE the table root (partition
        // discovery never lists it), and a dot/underscore prefix would
        // make Spark's own reader treat it as hidden
        val staging = new Path(root.getParent,
          s"${root.getName}_compact_${upToBatchId}_staging")
        // stage 1: consolidated rows to scratch (read is path-based and
        // the write target is a different path — no table self-read
        // conflict). The read spans ALL prior consolidations and
        // in-horizon batches; _batch_id is normalized BEFORE the
        // caller's collapse so crash-leftover copies merge by the
        // state's own algebra.
        consolidate(
          spark.read.parquet(root.toString)
            .filter(col("_batch_id") <= upToBatchId) // partition-pruned
            .withColumn("_batch_id", lit(compactedId)))
          .write.mode("overwrite").parquet(staging.toString)
        // stage 2: through the table, so creation-time layout stays valid
        spark.read.parquet(staging.toString)
          .write.mode("overwrite")
          .insertInto(table)
        fs.delete(staging, true)
      }
      dropPartitions(sources ++ superseded)
      spark.catalog.refreshTable(table)
      (filesBefore, countFiles(batchDirs(_ == compactedId)))
    }
}
