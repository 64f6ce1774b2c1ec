package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Shared machinery for `_batch_id`-partitioned catalog tables — the
  * incremental-state discipline the streaming dedup gate established
  * (`TextDedup.dedupGateBatch`) and the sketch maintenance paths
  * (`Hll.mergeBatch`, `CountMin.mergeBatch`) reuse:
  *
  *  - per-batch rows land in the batch's OWN partition via dynamic
  *    partition overwrite, so a crash-replayed batch rewrites exactly its
  *    prior write and table contents are exactly-once;
  *  - per-batch partitions are periodically folded into one consolidated
  *    negative partition (`compactBatchPartitions`) so file count does
  *    not grow with stream age — each state family supplies its own
  *    `consolidate` collapse (full-row dedup for sketch-row tables,
  *    register-wise max for HLL, counter-wise sum for CMS).
  */
private[graft] object BatchTables {

  /** `insertInto` a catalog table honors only the SESSION
    * partitionOverwriteMode (the per-write option applies to path-based
    * saves only) — without `dynamic`, an overwrite-mode insert TRUNCATES
    * every other partition. Scoped set-and-restore, serialized through
    * one library-wide lock so two writers on the same session cannot
    * interleave their set/restore windows. The lock cannot protect
    * NON-library overwrite-mode partition writes racing on the same
    * session — callers running such writes concurrently should give the
    * stateful operator its own session (`spark.newSession()` shares the
    * catalog), the same isolation `streaming.Pipeline.run` uses.
    */
  private val overwriteModeLock = new Object
  private val overwriteModeKey = "spark.sql.sources.partitionOverwriteMode"

  /** Sessions whose partitionOverwriteMode is pinned `dynamic` FOREVER
    * (weak keys: a pin must not keep a finished pipeline's session
    * alive). Only membership here authorizes the lock-free fast path —
    * merely OBSERVING `dynamic` on the session does not: that reading
    * could be a concurrent slow-path caller's transient set, and when
    * its finally-restore reverts the mode mid-body, a lock-free
    * overwrite insert would run in STATIC mode and truncate every other
    * partition of the table (the round-12 TOCTOU).
    */
  private val pinnedDynamic = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Pin `spark`'s partitionOverwriteMode to `dynamic` permanently and
    * register it for the lock-free fast path. Taken under the library
    * lock so no in-flight slow-path set/restore window can straddle the
    * pin (its saved `prev` would otherwise revert the pin on restore);
    * after the pin, every slow-path window on this session saves and
    * restores `dynamic`, so the mode can never leave `dynamic` again —
    * which is exactly what makes the fast path race-free.
    * `streaming.Pipeline.run` pins its own cloned session once at start
    * so its N maintenance writers run CONCURRENTLY (serialized, five
    * state tables pay the sum of the hooks instead of their max —
    * measured in round 12, see git history).
    */
  private[graft] def pinDynamicOverwrite(spark: SparkSession): Unit =
    overwriteModeLock.synchronized {
      spark.conf.set(overwriteModeKey, "dynamic")
      pinnedDynamic.put(spark, java.lang.Boolean.TRUE)
    }

  private[graft] def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    // fast path ONLY for permanently-pinned sessions (see pinnedDynamic)
    if (pinnedDynamic.containsKey(spark)) body
    else overwriteModeLock.synchronized {
      val prev = spark.conf.getOption(overwriteModeKey)
      spark.conf.set(overwriteModeKey, "dynamic")
      try body
      finally prev.fold(spark.conf.unset(overwriteModeKey))(
        spark.conf.set(overwriteModeKey, _))
    }
  }

  /** Create `table` at `path`, partitioned by `_batch_id`, from an empty
    * frame with the state's schema (`configure` adds creation-only write
    * options — bucketing, sort). If the table already exists, verify the
    * caller's `path` matches its location: `path` only takes effect at
    * creation, and a caller pointing an existing table name at a
    * DIFFERENT path would silently keep writing to the old location.
    */
  private[graft] def ensureBatchTable(
      empty: DataFrame, table: String, path: String,
      configure: org.apache.spark.sql.DataFrameWriter[Row] =>
        org.apache.spark.sql.DataFrameWriter[Row] = identity): Unit = {
    val spark = empty.sparkSession
    if (!spark.catalog.tableExists(table)) {
      configure(empty.write.option("path", path).partitionBy("_batch_id"))
        .saveAsTable(table)
    } else {
      val existing = new org.apache.hadoop.fs.Path(java.net.URI.create(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
          .location.toString))
      val fs = existing.getFileSystem(spark.sessionState.newHadoopConf())
      val requested = fs.makeQualified(new org.apache.hadoop.fs.Path(path))
      require(fs.makeQualified(existing) == requested,
        s"table $table already exists at ${fs.makeQualified(existing)}, " +
          s"not at the requested path $requested — drop the table or pass its path")
    }
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
    * Concurrency: runs for the SAME table must not overlap — the run is
    * serialized against other library writes in this JVM (shared lock),
    * and the staging-dir sweep only removes dirs whose horizon is at or
    * below the committed one. Cross-JVM concurrent compaction of one
    * table is NOT supported.
    *
    * Returns (filesBefore, filesAfter) under the affected partitions.
    */
  private[graft] def compactBatchPartitions(
      spark: SparkSession, table: String, upToBatchId: Long,
      consolidate: DataFrame => DataFrame): (Int, Int) =
    overwriteModeLock.synchronized {
      import org.apache.hadoop.fs.Path
      val root = new Path(java.net.URI.create(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(table))
          .location.toString))
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
        withDynamicOverwrite(spark) {
          spark.read.parquet(staging.toString)
            .write.mode("overwrite")
            .insertInto(table)
        }
        fs.delete(staging, true)
      }
      dropPartitions(sources ++ superseded)
      spark.catalog.refreshTable(table)
      (filesBefore, countFiles(batchDirs(_ == compactedId)))
    }
}
