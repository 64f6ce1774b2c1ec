package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable quantile sketch — an HDR-histogram-style log-bucketed
  * histogram (Tene's HdrHistogram layout: power-of-two exponent ranges,
  * each split into 2^m linear sub-buckets), built on the declarative
  * plan. Completes the sketch family: HLL answers "how many distinct",
  * Count-Min answers "how often", this answers "what is p95/p99" —
  * per group, over 100 TB, with per-group state bounded by the VALUE
  * RANGE (≤ 64·2^m counters, ~2k rows at m=5) instead of the data size
  * that exact `percentile` sorting needs.
  *
  * The sketch is a (bucket → count) frame. Everything about it is
  * integer arithmetic — bucket ids come from bit length + shifts, never
  * ln/log2 (whose float rounding at power-of-two boundaries would differ
  * across engines) — so the DuckDB oracle replays the WHOLE estimator
  * relationally and the gate compares EXACTLY: `length(bin(v))-1` is the
  * exponent in both engines, sub-bucket and upper-bound math is shifts
  * and integer division, and the final rank pick is a cumulative sum.
  *
  * Merge algebra: counter-wise SUM (like Count-Min, unlike HLL's
  * idempotent max) — `mergeHistograms(a ∪ b)` over the same `m` is
  * bucket-wise addition and EQUALS the one-shot histogram over the
  * concatenated data exactly, not approximately. The gated query
  * (`evt_quantile_sketch`) goes through the merge path against a
  * one-shot oracle, so mergeability is driver-checked, not just
  * spec-pinned.
  *
  * Error contract: a value v in exponent range [2^e, 2^(e+1)) lands in a
  * sub-bucket of width ≤ 2^(e-m)+1, and the reported quantile is the
  * bucket's inclusive upper bound — so estimates are biased HIGH by at
  * most one bucket width: exact rank semantics over values rounded up by
  * ≤ max(1, v·2^-m) (3.1% at the default m=5). Spark's own
  * `approx_percentile` (GK) is the built-in alternative; it is neither
  * relationally replayable nor partition-mergeable as a persisted frame,
  * which is exactly what the gate and the batch-table path need.
  *
  * Values must be positive longs — callers pre-scale (the gated query
  * uses `floor(value·100)` cents; a latency pipeline would use micros).
  * NULLs and values < 1 are excluded, mirroring what an exact
  * `percentile(x) FILTER (x >= 1)` would see.
  */
object Quantiles {

  /** Default sub-bucket bits: 2^-5 ≈ 3.1% worst-case relative error. */
  val DefaultSubBucketBits = 5

  private def pow2(e: Column): Column =
    call_function("shiftleft", lit(1L), e.cast("int"))

  private def intDiv(a: Column, b: Column): Column =
    call_function("div", a, b)

  /** Bucket id of a positive long: `(e << m) | sub` where
    * e = bitLength(v)-1 (the power-of-two exponent, via `bin()` string
    * length — exact where floor(log2) is not) and sub is the top m
    * mantissa bits: (v − 2^e) div 2^(e−m) for e ≥ m (division, not an
    * up-shift, so the top exponents don't wrap 64 bits — Long.MaxValue
    * buckets correctly), or ((v − 2^e)·2^m) div 2^e for e < m (operands
    * < 2^(2m), overflow-free). Total order on buckets = total order on
    * value ranges, so rank queries are a cumulative sum in bucket order.
    */
  def bucketOf(v: Column, m: Int = DefaultSubBucketBits): Column = {
    val e = (length(bin(v)) - 1).cast("int")
    val p = pow2(e)
    val sub = when(e >= m, intDiv(v - p, pow2(e - m)))
      .otherwise(intDiv(shiftleft(v - p, m), p))
    (shiftleft(e.cast("long"), m) + sub).as("bucket")
  }

  /** Inclusive upper bound of a bucket's value range — the quantile
    * estimate surface. For e ≥ m the sub-bucket width divides evenly:
    * u = (2^e − 1) + (sub+1)·2^(e-m) (summed in that order: the top
    * bucket's bound is exactly Long.MaxValue, and p + increment first
    * would wrap). For e < m the width is fractional and the bound is
    * 2^e + ceil((sub+1)·2^e / 2^m) − 1, computed on values < 2^(2m) —
    * tiny, overflow-free.
    */
  def upperBoundOf(bucket: Column, m: Int = DefaultSubBucketBits): Column = {
    val e = shiftrightunsigned(bucket, m).cast("int")
    val sub = bucket.bitwiseAND(lit((1L << m) - 1))
    val p = pow2(e)
    val wide = p - 1 + (sub + 1) * pow2(e - m)
    val narrow = p + intDiv((sub + 1) * p + lit((1L << m) - 1), lit(1L << m)) - 1
    when(e >= m, wide).otherwise(narrow)
  }

  /** Per-group histogram: `groupCols` + (bucket, cnt) over positive
    * values of `valueCol`. One scan, one partial-aggregated shuffle of
    * ≤ groups × 64·2^m counter rows — the map-side combine does the
    * compression, so the exchange volume is sketch-sized regardless of
    * input size.
    */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                m: Int = DefaultSubBucketBits): DataFrame = {
    require(m >= 1 && m <= 12, s"sub-bucket bits must be in 1..12, got $m")
    val v = col(valueCol).cast("long")
    df.filter(v.isNotNull && v >= 1)
      .select(groupCols.map(col) :+ bucketOf(v, m).as("bucket"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge histogram frames built with the SAME m: bucket-wise counter
    * sum — exactly the one-shot histogram of the concatenated inputs.
    * Feed it the `unionByName` of any number of frames (days, partitions,
    * shards); the result is another histogram frame, so merges compose.
    */
  def mergeHistograms(hists: DataFrame, groupCols: Seq[String]): DataFrame =
    hists.groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Collapse a histogram to per-group quantile estimates: one row per
    * group with `n` (total count) and one column per requested
    * (name, q) — the inclusive upper bound of the first bucket whose
    * cumulative count reaches rank ceil(q·n).
    *
    * The window runs over HISTOGRAM rows (≤ groups × 64·2^m, thousands at
    * most), not data rows — cumulative-sum-over-sketch is driver-cheap at
    * any data scale, which is the point of sketching first.
    */
  def quantilesFromHistogram(hist: DataFrame, groupCols: Seq[String],
                             qs: Seq[(String, Double)],
                             m: Int = DefaultSubBucketBits): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    val grp = Window.partitionBy(groupCols.map(col): _*)
    val cum = hist
      .withColumn("_cum", sum(col("cnt")).over(grp.orderBy(col("bucket"))))
      .withColumn("_n", sum(col("cnt")).over(grp))
      .withColumn("_ub", upperBoundOf(col("bucket"), m))
    val picks = qs.map { case (name, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile $name=$q out of (0,1]")
      min(when(col("_cum") >= ceil(lit(q) * col("_n").cast("double")),
        col("_ub"))).as(name)
    }
    cum.groupBy(groupCols.map(col): _*)
      .agg(max(col("_n")).as("n"), picks: _*)
  }

  /** One-shot: per-group quantiles of `valueCol` via the sketch. */
  def quantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                qs: Seq[(String, Double)],
                m: Int = DefaultSubBucketBits): DataFrame =
    quantilesFromHistogram(histogram(df, groupCols, valueCol, m),
      groupCols, qs, m)

  /** STREAMING histogram maintenance — the `foreachBatch` body that keeps
    * a persisted per-group histogram current (the `Hll.mergeBatch` /
    * `CountMin.mergeBatch` discipline, third verse): the batch's
    * histogram lands in its own `_batch_id` partition via dynamic
    * partition overwrite, so a crash-replayed batch REWRITES its prior
    * write — counters sum on read, and double-counting a replayed batch
    * is this sketch's failure mode exactly as it is CMS's. Table created
    * (partitioned, at `histPath`) on first use.
    */
  def mergeBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
                 histTable: String, histPath: String, batchId: Long,
                 m: Int = DefaultSubBucketBits): Unit = {
    BatchTables.writeBatch(histogram(batch, groupCols, valueCol, m),
      batchId, histTable, histPath)
  }

  /** The maintained table's merged histogram (per-batch partitions
    * collapsed by counter-wise sum) — feeds `quantilesFromHistogram`
    * like a one-shot histogram, and equals it exactly over the same
    * data.
    */
  def histogramFromTable(spark: org.apache.spark.sql.SparkSession,
                         histTable: String,
                         groupCols: Seq[String]): DataFrame =
    mergeHistograms(spark.table(histTable).drop("_batch_id"), groupCols)

  /** Fold batches `0..upToBatchId` (plus prior consolidations) into one
    * negative partition by counter-wise sum — steady-state table size is
    * ≤ groups × 64·2^m rows for the whole compacted history.
    *
    * Crash note: a SUM-merge family like `CountMin.compactSketch` —
    * the crash window of `BatchTables.compactBatchPartitions` doubles
    * the leftover counts, shifting quantile estimates toward whichever
    * buckets duplicated. Only compact batches strictly below the
    * streaming checkpoint's committed horizon.
    */
  def compactHistogram(spark: org.apache.spark.sql.SparkSession,
                       histTable: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, histTable, upToBatchId,
      df => mergeHistograms(df, BatchTables.keyColumns(df, "bucket", "cnt")))
}
