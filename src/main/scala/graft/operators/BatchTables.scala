package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *    negative partition (`compactBatchPartitions`, the one compaction
  *    engine) so file count does not grow with stream age. The engine
  *    owns `_batch_id`: it normalizes it before the fold, re-tags the
  *    folded rows with the consolidated id and puts them in table column
  *    order. A state family supplies only its merge — the same function
  *    its read applies (register-wise max for HLL, counter-wise sum for
  *    CMS, full-row dedup for the gate index).
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

  private def ident(spark: SparkSession, table: String) =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  private def metadata(spark: SparkSession, table: String) =
    spark.sessionState.catalog.getTableMetadata(ident(spark, table))

  private def requireDynamicOverwrite(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable,
      table: String): Unit =
    require(meta.storage.properties.exists { case (k, v) =>
      k.equalsIgnoreCase(OverwriteOption) && v.equalsIgnoreCase("dynamic") },
      s"table $table was created without OPTIONS ('$OverwriteOption'=" +
        "'dynamic'): an overwrite insert would truncate every other " +
        "_batch_id partition — re-create it through BatchTables")

  /** Create `table` at `path` with `schema` (whose last column is
    * `_batch_id`), partitioned by `_batch_id` and declaring dynamic
    * partition overwrite, by one catalog DDL that runs no Spark job;
    * `bucketing` is the creation-only layout (bucket and in-bucket sort
    * columns). If the table already exists, one catalog lookup verifies it
    * carries the overwrite option and that the caller's `path` matches its
    * location: `path` only takes effect at creation, and a caller pointing
    * an existing table name at a DIFFERENT path would silently keep
    * writing to the old location. A table the catalog lost (a new JVM on
    * the in-memory catalog) while `path` still holds its `_batch_id=`
    * partitions is re-registered over them by the same DDL, its
    * partitions recovered.
    */
  private[graft] def ensureBatchTable(
      spark: SparkSession, schema: StructType, table: String, path: String,
      bucketing: Option[BucketSpec] = None): Unit = {
    val existing =
      try Some(metadata(spark, table))
      catch {
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException => None
      }
    existing match {
      case None =>
        val dir = new Path(path)
        val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
        def names(cs: Seq[String]) =
          cs.map(c => s"`${c.replace("`", "``")}`").mkString(", ")
        val layout = bucketing.fold("") { b =>
          s"CLUSTERED BY (${names(b.bucketColumnNames)}) " +
            (if (b.sortColumnNames.isEmpty) ""
             else s"SORTED BY (${names(b.sortColumnNames)}) ") +
            s"INTO ${b.numBuckets} BUCKETS "
        }
        val location = fs.makeQualified(dir).toString.replace("'", "\\'")
        // an absent location makes the DDL's relation lookup log a
        // FileNotFoundException stack trace at WARN
        fs.mkdirs(dir)
        spark.sql(s"CREATE TABLE $table (${schema.toNullable.toDDL}) " +
          s"USING parquet PARTITIONED BY (_batch_id) $layout" +
          s"LOCATION '$location' OPTIONS ('$OverwriteOption'='dynamic')")
        // this session may still cache the relation of an earlier table of
        // the same name, dropped through another session: writes would
        // resolve it and land under the old location
        spark.sessionState.catalog.invalidateCachedTable(ident(spark, table))
        if (fs.exists(dir) && fs.listStatus(dir)
            .exists(_.getPath.getName.startsWith("_batch_id=")))
          spark.sql(s"ALTER TABLE $table RECOVER PARTITIONS")
      case Some(meta) =>
        requireDynamicOverwrite(meta, table)
        val at = new Path(meta.location)
        val fs = at.getFileSystem(spark.sessionState.newHadoopConf())
        val requested = fs.makeQualified(new Path(path))
        require(fs.makeQualified(at) == requested,
          s"table $table already exists at ${fs.makeQualified(at)}, " +
            s"not at the requested path $requested — drop the table or pass its path")
    }
  }

  /** The columns of a state frame other than `valueCols` and `_batch_id`:
    * the group key of a family whose compaction is not handed it.
    */
  private[graft] def keyColumns(t: DataFrame, valueCols: String*): Seq[String] =
    t.columns.toSeq.filterNot(c => c == "_batch_id" || valueCols.contains(c))

  /** Write one batch's `rows` into partition `_batch_id = batchId` of
    * `table` (created at `path` on first use), replacing whatever an
    * earlier run of the same batch wrote there and leaving every other
    * partition untouched. `_batch_id` is appended as the last column.
    */
  private[graft] def writeBatch(rows: DataFrame, batchId: Long,
                                table: String, path: String): Unit = {
    val tagged = rows.withColumn("_batch_id", lit(batchId))
    ensureBatchTable(rows.sparkSession, tagged.schema, table, path)
    tagged.write.mode("overwrite").insertInto(table)
  }

  /** Fold the committed consolidation and every batch above its horizon
    * up to `upToBatchId` into ONE partition `_batch_id = -(upToBatchId+1)`,
    * collapsing rows with `consolidate`, the family's merge. The engine
    * owns `_batch_id`: `consolidate` sees the read with `_batch_id`
    * normalized to the target id, may group without it or drop it, and
    * its output is re-tagged with the target id and selected in table
    * column order (`insertInto` matches columns by position). Every write
    * goes THROUGH the table (`insertInto`) so creation-time layout
    * (bucketing) survives compaction. Because the committed
    * consolidation is re-merged, the steady state is exactly one
    * negative partition.
    *
    * The committed horizon is re-derived on every run from the negative
    * partitions present (`max(-id - 1)`, -1 when there are none). The
    * consolidation read is the committed partition plus the batches in
    * `(committedHorizon, upToBatchId]` — nothing else. Rows of a source
    * batch at or below the horizon already live in the committed
    * partition, and so do a superseded negative partition's, so such
    * leftovers are swept without being read.
    *
    * Crash safety — the one contract every state family shares:
    * (1) consolidated rows are staged to a scratch path outside the table
    * root (partition discovery never sees it); (2) the staged rows are
    * inserted via dynamic partition overwrite — atomic at job commit, so
    * the new partition's existence implies it is complete; (3) only then
    * are the sources and the superseded consolidation deleted. A crash
    * between (2) and (3) leaves both visible: a reader of a SUM-merge
    * family (CMS, histograms, metrics, moments, ...) overcounts, one of a
    * MAX- or set-merge family (HLL registers, the gate index) does not.
    * The next run at this or any higher horizon sweeps the leftovers
    * without reading them, so convergence never depends on `consolidate`
    * absorbing duplicate rows.
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
        // conflict). The read is the committed consolidation plus the
        // batches above its horizon (partition-pruned; with no
        // consolidation yet, the committed id is 0, inside the range);
        // _batch_id is normalized before the family's merge and re-tagged
        // after it, then the table's column order is restored.
        val id = col("_batch_id")
        consolidate(
          spark.read.parquet(root.toString)
            .filter(id === -(committedHorizon + 1) ||
              id.between(committedHorizon + 1, upToBatchId))
            .withColumn("_batch_id", lit(compactedId)))
          .withColumn("_batch_id", lit(compactedId))
          .select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
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
