package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SplitMix64.{leading_zeros64, splitmix64}

/** HyperLogLog distinct-count sketch (Flajolet et al. 2007), built from
  * scratch on the declarative plan — the 100 TB cardinality primitive:
  * "how many distinct users/tokens/urls per group" without the exact
  * `count(DISTINCT …)` shuffle, whose per-group state is the full value
  * set. Here the state is 2^p registers per group (p=12 → 4 KB), the
  * aggregation is an ordinary groupBy max — fully parallel, skew-immune —
  * and the relative error is the classic 1.04/√m (~1.6% at p=12).
  *
  * Built on `splitmix64` (codegen, ANSI-safe) rather than xxhash64 so the
  * DuckDB oracle replays the WHOLE sketch — hash, bucket split, rank,
  * register max, harmonic mean, linear-counting branch — in SQL and the
  * estimate gates EXACTLY (floating error bounded by round(,4): the only
  * transcendentals are pow(2,-k), exact in IEEE, and the ln of the
  * linear-counting branch, covered by the perplexity precedent).
  *
  * Spark's own `approx_count_distinct` is the production alternative;
  * this exists because an engine claiming sketch coverage should own the
  * math (and because approx_count_distinct's HLL++ bias tables cannot be
  * replayed relationally, so it can never sit under the exactness gate).
  *
  * Estimator: raw E = α_m·m²/Σ2^(−rho_j) with empty registers counting
  * 2^0; small-range (E ≤ 2.5m, V empty registers > 0) switches to linear
  * counting m·ln(m/V). The 64-bit-hash large-range correction is omitted
  * (it matters past ~2^57 distinct values). No sparse mode — at the
  * scales this engine targets the dense register block is the steady
  * state anyway.
  */
object Hll {

  /** Per-group HLL registers: `groupCols` + (bucket, rho). Exposed so
    * registers can be PERSISTED and merged across partitions/days — HLL
    * merge is register-wise max, i.e. another groupBy max over this
    * frame — before `estimateFromRegisters` turns them into a number.
    */
  def registers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in 4..16, got $p")
    // typed key derivation ([[SketchKeys]]): a bare cast("long") nulls
    // string keys silently and the registers would report 0 distinct
    val h = splitmix64(SketchKeys.longKey(df, valueCol))
    val bucket = shiftrightunsigned(h, 64 - p)
    // rank over the remaining 64-p bits, shifted to the top; w == 0
    // (all-zero suffix) caps at 64-p+1 via the least()
    val rho = least(leading_zeros64(shiftleft(h, p)) + 1, lit(64 - p + 1))
    df.filter(col(valueCol).isNotNull) // count(DISTINCT) semantics: NULLs don't count
      .select(groupCols.map(col) :+ bucket.as("bucket") :+ rho.as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Merge register frames built with the SAME p: register-wise max — the
    * HLL union. Feed it the `unionByName` of any number of frames (days,
    * partitions, audience segments); the result is ANOTHER register frame,
    * so merges compose and `estimateFromRegisters` closes it. This is the
    * whole 100 TB contract: a segment's registers are 2^p rows persisted
    * once, and any union's estimate costs a groupBy max over frames — no
    * raw-data rescan.
    */
  def mergeRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame =
    regs.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))

  /** Collapse a register frame to one estimate per group. */
  def estimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
                            p: Int = 12): DataFrame = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val agg = regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_v_present"),
        sum(pow(lit(2.0), -col("rho"))).as("_hsum"))
    val zeros = lit(m.toDouble) - col("_v_present")
    val harm = zeros + col("_hsum") // absent registers contribute 2^0 = 1
    val rawE = lit(alpha * m) * lit(m.toDouble) / harm
    val est = when(rawE <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(rawE)
    agg.select(groupCols.map(col) :+ est.as("estimate"): _*)
  }

  /** One-shot: distinct-`valueCol` estimate per `groupCols` group. */
  def estimate(df: DataFrame, groupCols: Seq[String], valueCol: String,
               p: Int = 12): DataFrame =
    estimateFromRegisters(registers(df, groupCols, valueCol, p), groupCols, p)

  /** STREAMING register maintenance — the `foreachBatch` body that keeps a
    * PERSISTED register table current as events arrive (the production
    * shape of "daily distinct users over 100 TB": per-batch registers
    * merged into a durable frame, never a batch rescan of history). The
    * `TextDedup.dedupGateBatch` state discipline applied to sketches:
    *
    *  - the batch's register frame lands in its own `_batch_id` partition
    *    through `BatchTables.writeBatch`, so a crash-replayed batch
    *    rewrites exactly its prior write — table contents are
    *    exactly-once and `estimateFromTable` is byte-identical across a
    *    replay (spec-pinned in `SketchStreamSpec`);
    *  - reads merge at query time (`registersFromTable` = groupBy max
    *    over all partitions), so a reader never blocks a writer;
    *  - `compactRegisters` folds history into one ~4 KB-per-group
    *    partition, keeping state size independent of stream age.
    *
    * The table is created (partitioned, at `registersPath`) on first use.
    */
  def mergeBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
                 registersTable: String, registersPath: String,
                 batchId: Long, p: Int = 12): Unit = {
    BatchTables.writeBatch(registers(batch, groupCols, valueCol, p),
      batchId, registersTable, registersPath)
  }

  /** The maintained table's merged register frame (per-batch partitions
    * collapsed by register-wise max) — composes with `mergeRegisters` /
    * `estimateFromRegisters` like any other frame.
    */
  def registersFromTable(spark: org.apache.spark.sql.SparkSession,
                         registersTable: String,
                         groupCols: Seq[String]): DataFrame =
    mergeRegisters(spark.table(registersTable).drop("_batch_id"), groupCols)

  /** Distinct-count estimates over EVERYTHING the maintained table has
    * absorbed — two aggregates over ≤ (groups × 2^p × batches) register
    * rows, no raw-data scan.
    */
  def estimateFromTable(spark: org.apache.spark.sql.SparkSession,
                        registersTable: String, groupCols: Seq[String],
                        p: Int = 12): DataFrame =
    estimateFromRegisters(
      registersFromTable(spark, registersTable, groupCols), groupCols, p)

  /** CUMULATIVE distinct counts along an ordered dimension — "uniques to
    * date" per day/hour/version, the query that is infeasible exactly at
    * scale (exact state is O(periods × values): every period must
    * remember every value ever seen) but costs O(periods × 2^p) through
    * the register algebra: per-period registers, densified onto the
    * (period × observed-bucket) grid (bounded by 2^p, never by data),
    * then a running register-wise max along the period order — a window
    * over register FRAMES, with the raw data scanned exactly once.
    * Returns (orderCol, estimate) per period.
    */
  def cumulativeEstimate(df: DataFrame, orderCol: String, valueCol: String,
                         p: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bounded (periods × ≤2^p rows) and read by THREE consumers (period
    // list, bucket list, the grid join) — materialize once so the raw
    // scan + register aggregation never re-run (round-5 shared-scan rule)
    val regs = registers(df, Seq(orderCol), valueCol, p)
      .localCheckpoint(true)
    // dense (period × bucket) grid so a bucket last touched long ago
    // still reaches every later period's cumulative frame
    val grid = regs.select(col(orderCol)).distinct()
      .crossJoin(regs.select(col("bucket")).distinct())
    val w = Window.partitionBy(col("bucket")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.join(regs, Seq(orderCol, "bucket"), "left")
      .withColumn("rho", max(col("rho")).over(w))
      .filter(col("rho").isNotNull)
    estimateFromRegisters(cum, Seq(orderCol), p)
  }

  /** Fold batches `0..upToBatchId` (plus prior consolidations) into one
    * negative partition, collapsing registers by group-wise max — after
    * compaction the table holds ≤ groups × 2^p rows for the whole
    * compacted history, the "state independent of cardinality" posture.
    *
    * Crash note: because HLL merge is register-wise MAX — idempotent
    * under row duplication — even the crash window of
    * `BatchTables.compactBatchPartitions`, where duplicate rows are
    * visible, returns CORRECT estimates from `estimateFromTable` (see
    * `CountMin.compactSketch` for the one-sided SUM contrast). Only
    * compact batches strictly below the streaming checkpoint's committed
    * horizon.
    */
  def compactRegisters(spark: org.apache.spark.sql.SparkSession,
                       registersTable: String,
                       upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, registersTable, upToBatchId,
      df => mergeRegisters(df, BatchTables.keyColumns(df, "bucket", "rho")))
}
