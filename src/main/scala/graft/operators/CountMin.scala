package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SplitMix64.splitmix64Seeded

/** Count-Min sketch (Cormode & Muthukrishnan 2005) on the declarative
  * plan — the heavy-hitter / frequency primitive next to `Hll`'s
  * cardinality: per-value count estimates from d·w counters instead of a
  * full `groupBy(value).count()` whose state is one row PER DISTINCT
  * VALUE. At 100 TB the sketch is what you keep (d=4, w=2¹⁰ → 32 KB) and
  * merge across days — counter-wise SUM, i.e. another groupBy sum — while
  * the exact table is what you can't.
  *
  * Every estimate OVERCOUNTS or is exact, never undercounts (each row's
  * counter holds the value's true count plus whatever collided into the
  * cell; min over rows takes the least-contaminated one) — the classic
  * one-sided guarantee, spec-pinned. All integers end to end: the hash
  * rows are `splitmix64(v + r·GAMMA)` (codegen, wrapping adds in
  * generated Java), columns are the top `widthLog2` bits, counters are
  * longs — so the DuckDB oracle replays the sketch EXACTLY, no rounding
  * anywhere.
  */
object CountMin {

  private val Gamma = 0x9e3779b97f4a7c15L

  /** The (row, col) cell for `v` in hash row `r`. */
  private def cell(v: Column, r: Int, widthLog2: Int): Column =
    shiftrightunsigned(splitmix64Seeded(v.cast("long"), r * Gamma),
      64 - widthLog2)

  /** Build the sketch: (row, col, cnt) — d·w counters, one shuffle on the
    * (row, col) key (uniform by construction). Merge sketches across
    * batches/days by unioning the frames and summing per (row, col).
    */
  def sketch(df: DataFrame, valueCol: String, depth: Int = 4,
             widthLog2: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(widthLog2 >= 1 && widthLog2 <= 30,
      s"widthLog2 must be in 1..30, got $widthLog2")
    df.filter(col(valueCol).isNotNull) // NULL is not a countable value
      .select(explode(array(Seq.tabulate(depth) { r =>
        struct(lit(r).as("row"),
          cell(col(valueCol), r, widthLog2).as("col"))
      }: _*)).as("cell"))
      .groupBy(col("cell.row").as("row"), col("cell.col").as("col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge sketch frames built with the SAME (depth, widthLog2):
    * counter-wise sum over the `unionByName` of the frames — the CMS
    * union. Exact, not approximate-on-approximate: the merged counters
    * equal the one-shot sketch's over the concatenated data (each cell's
    * count is additive over disjoint inputs), so daily 32 KB sketches sum
    * into weekly/monthly ones with zero extra error — the mergeability
    * `evt_cms_merge` gates.
    */
  def mergeSketches(sketches: DataFrame): DataFrame =
    sketches.groupBy(col("row"), col("col"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point-estimate the counts of `queries`' `valueCol` values against a
    * sketch built with the SAME (depth, widthLog2): min over the d
    * counters the value hashes to; a (row, col) cell absent from the
    * sketch frame means nothing ever hashed there → 0.
    */
  def pointEstimates(sk: DataFrame, queries: DataFrame, valueCol: String,
                     depth: Int = 4, widthLog2: Int = 10): DataFrame = {
    val cells = queries
      .select(col(valueCol).as("_v"))
      .filter(col("_v").isNotNull)
      .distinct()
      .select(col("_v"), explode(array(Seq.tabulate(depth) { r =>
        struct(lit(r).as("row"), cell(col("_v"), r, widthLog2).as("col"))
      }: _*)).as("cell"))
      .select(col("_v"), col("cell.row").as("row"), col("cell.col").as("col"))
    // the sketch is <= d·2^widthLog2 rows (32 KB at the defaults) — always
    // broadcast-able by construction; the hint makes that the plan, not an
    // AQE rescue
    cells
      .join(broadcast(sk), Seq("row", "col"), "left")
      .groupBy(col("_v").as(valueCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** AMS-style join-size estimate from two CMS sketches built with the
    * SAME (depth, widthLog2) over the join key: min over the d hash rows
    * of the counter inner product Σ_col A[r,col]·B[r,col] (Alon, Matias &
    * Szegedy 1996 for the inner-product view; Cormode & Muthukrishnan
    * 2005 §4.2 for the CMS form). One-sided like the point estimate:
    * every row's inner product equals the TRUE equi-join cardinality
    * Σ_v fA(v)·fB(v) plus nonnegative collision cross-terms, so the
    * estimate overcounts or is exact, never undercounts — spec-pinned.
    *
    * This is the planner primitive at 100 TB: join cardinality between
    * two tables estimated from two 32 KB maintained sketches (the
    * `mergeBatch` family keeps them current per micro-batch), no scan of
    * either side at decision time. Products and row sums are computed in
    * DECIMAL(38,0) — exact far past the ~n_a·n_b/2^widthLog2 magnitudes
    * involved; the returned BIGINT is NULL in the astronomically-over-2^63
    * regime instead of silently wrong (an explicit range guard — an ANSI
    * session would otherwise turn the narrowing cast into a runtime
    * error, which is the wrong failure for a planner STATISTIC). Size the
    * width so n_a·n_b/2^widthLog2 < 2^63 (w=2^20 covers 10^12-row sides).
    *
    * Both sketch frames are ≤ d·2^widthLog2 rows; the join is
    * broadcast by construction. Rows with no colliding cells at all
    * contribute inner product 0 (the `spark.range(depth)` left join), so
    * disjoint key sets estimate 0, not "min over nothing".
    */
  def joinSizeEstimate(skA: DataFrame, skB: DataFrame,
                       depth: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val prods = skA.select(col("row"), col("col"), col("cnt").as("_ca"))
      .join(broadcast(skB.select(col("row"), col("col"), col("cnt").as("_cb"))),
        Seq("row", "col"))
      .groupBy(col("row"))
      .agg(sum(col("_ca").cast(dec) * col("_cb").cast(dec)).as("ip"))
    val m = min(coalesce(col("ip"), lit(0).cast(dec)))
    skA.sparkSession.range(depth).toDF("row")
      .join(broadcast(prods), Seq("row"), "left")
      .agg(when(m <= lit(Long.MaxValue).cast(dec), m.cast("long"))
        .otherwise(lit(null).cast("long")).as("cms_join_est"))
  }

  /** STREAMING counter maintenance — `Hll.mergeBatch`'s discipline for the
    * frequency sketch: each micro-batch's (row, col, cnt) frame lands in
    * its own `_batch_id` partition through `BatchTables.writeBatch`
    * (crash-replay rewrites, never appends — double-counting a replayed
    * batch is the CMS failure mode, since counters SUM), and reads merge
    * at query time. Table created (partitioned, at `sketchPath`) on first
    * use.
    */
  def mergeBatch(batch: DataFrame, valueCol: String, sketchTable: String,
                 sketchPath: String, batchId: Long, depth: Int = 4,
                 widthLog2: Int = 10): Unit = {
    BatchTables.writeBatch(sketch(batch, valueCol, depth, widthLog2),
      batchId, sketchTable, sketchPath)
  }

  /** The maintained table's merged sketch (per-batch partitions collapsed
    * by counter-wise sum) — feeds `pointEstimates` like a one-shot
    * sketch, and equals it exactly over the same data.
    */
  def sketchFromTable(spark: org.apache.spark.sql.SparkSession,
                      sketchTable: String): DataFrame =
    mergeSketches(spark.table(sketchTable).drop("_batch_id"))

  /** Fold batches `0..upToBatchId` (plus prior consolidations) into one
    * negative partition by counter-wise sum — steady-state table size is
    * d·2^widthLog2 rows (32 KB of counters at the defaults) regardless of
    * stream age.
    *
    * Crash note: in the crash window of
    * `BatchTables.compactBatchPartitions`, duplicate rows are visible and
    * `sketchFromTable` sums them — estimates in that window can
    * OVERCOUNT beyond the usual CMS collision error, but never undercount
    * (the sketch's one-sided guarantee survives the crash window).
    * Contrast `Hll.compactRegisters`, whose max-merge is idempotent and
    * correct even mid-crash. Only compact batches strictly below the
    * streaming checkpoint's committed horizon.
    */
  def compactSketch(spark: org.apache.spark.sql.SparkSession,
                    sketchTable: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, sketchTable, upToBatchId,
      mergeSketches)
}
