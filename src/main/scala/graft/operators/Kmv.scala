package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.SplitMix64.splitmix64
import graft.functions.TopK.topk_structs

/** KMV / theta distinct-count sketch (Bar-Yossef et al. 2002; the
  * bottom-k member of the DataSketches theta family) — the set-ALGEBRA
  * sketch beside [[Hll]]'s set-UNION sketch.
  *
  * Why a second cardinality sketch: HLL registers only merge by max —
  * union. Its intersection story is inclusion–exclusion (`evt_hll_overlap`),
  * whose ABSOLUTE error is that of the union estimate, so the RELATIVE
  * error on a small overlap of two large audiences explodes
  * (|A∩B| = εN is estimated ± 1.6%·N, i.e. ± 100% of itself at ε ≈ 1.6%).
  * A KMV sketch keeps the k smallest distinct hash VALUES — a uniform
  * sample of the hashed universe below a per-sketch threshold θ — so two
  * sketches intersect directly: count the common values below
  * θ = min(θ_A, θ_B) and divide by θ. The error then scales with the
  * intersection's own sample, the standard theta-sketch guarantee.
  *
  * State is k longs per group (k=256 → 2 KB), the build is one distinct
  * + one bounded-heap aggregate ([[graft.functions.TopK.topk_structs]]
  * — ≤ k structs per group per map task through the shuffle, never a
  * per-group sort), and merge = union of sketch rows → bottom-k again,
  * so sketches persist and compose like every other mergeable summary
  * in this engine.
  *
  * Exactness contract (the DuckDB gate): the hash is `splitmix64`
  * shifted to [0, 2^63) — all-integer and replayed verbatim in SQL; the
  * only doubles are the final (k−1)·2^63/u_k estimates, deterministic
  * IEEE division of exactly-representable operands, bounded by
  * round(,4) in the gate. A sketch with fewer than k values IS its set
  * (θ = 1, "exact mode"): estimates and intersections degrade to exact
  * counts, matching the theta-sketch definition.
  *
  * Scale: the distinct is the same shuffle class as Hll.registers; the
  * heap aggregate is map-combined. Sketch frames are k rows per group —
  * any pairwise overlap matrix over persisted sketches costs joins of
  * k-row frames, never a raw-data rescan.
  */
object Kmv {

  /** 2^63 as an exact double — the normalization denominator. */
  private val Two63 = 9223372036854775808.0

  /** Exact-mode threshold sentinel: a sketch holding its whole set
    * compares every candidate true (u ≤ 2^63−1 always).
    */
  private val ExactTheta = Long.MaxValue

  /** Per-group bottom-k sketch: `groupCols` + `u` (the k smallest
    * distinct hash values in [0, 2^63)), ≤ k rows per group. NULL values
    * don't count (count-distinct semantics). The bounded struct heap
    * orders by (−u as double, u): the double is order-monotonic in u and
    * the exact-long tie-break resolves rounding collisions, so the kept
    * set is exactly the k smallest longs.
    */
  def sketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
             k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // typed key derivation ([[SketchKeys]]): a bare cast("long") nulls
    // string keys silently and the sketch would report 0 distinct
    val u = shiftrightunsigned(splitmix64(SketchKeys.longKey(df, valueCol)), 1)
    val dist = df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ u.as("_u"): _*)
      .distinct()
    dist.groupBy(groupCols.map(col): _*)
      .agg(topk_structs(-col("_u").cast("double"), col("_u"), k).as("_top"))
      .select(groupCols.map(col) :+ explode(col("_top.payload")).as("u"): _*)
  }

  /** Union of sketch frames built with the same k: dedup values, keep
    * the bottom k again. The result is another sketch frame, so merges
    * compose across days/partitions/segments without rescanning data.
    */
  def mergeSketches(sk: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    sk.select(groupCols.map(col) :+ col("u"): _*)
      .distinct()
      .groupBy(groupCols.map(col): _*)
      .agg(topk_structs(-col("u").cast("double"), col("u"), k).as("_top"))
      .select(groupCols.map(col) :+ explode(col("_top.payload")).as("u"): _*)

  /** Collapse a sketch frame to one distinct-count estimate per group:
    * exact count below k values, else the classic (k−1)/θ with
    * θ = u_k / 2^63.
    */
  def estimateFromSketch(sk: DataFrame, groupCols: Seq[String],
                         k: Int): DataFrame =
    sk.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("_c"), max(col("u")).as("_uk"))
      .select(groupCols.map(col) :+
        when(col("_c") < k, col("_c").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Two63) /
            col("_uk").cast("double")).as("estimate"): _*)

  /** Persist one batch's per-group sketch into `table` under the
    * [[BatchTables]] discipline (replay-safe dynamic overwrite of the
    * batch's own `_batch_id` partition). Unlike CMS/freq-items' SUM
    * merges, the KMV combine (distinct + bottom-k) is
    * duplication-IDEMPOTENT — the favorable max-merge crash asymmetry:
    * a replayed batch or a crash mid-compaction can never inflate the
    * estimate, only re-present the same values.
    */
  def mergeBatch(batch: DataFrame, groupCols: Seq[String], valueCol: String,
                 k: Int, table: String, path: String, batchId: Long): Unit = {
    BatchTables.writeBatch(sketch(batch, groupCols, valueCol, k),
      batchId, table, path)
  }

  /** The sketch of everything the table has absorbed: the n-way merge
    * over every persisted per-batch sketch — k rows per group read, no
    * raw-data rescan.
    */
  def sketchFromTable(spark: org.apache.spark.sql.SparkSession,
                      table: String, groupCols: Seq[String],
                      k: Int): DataFrame =
    mergeSketches(spark.table(table), groupCols, k)

  /** Fold batches `0..upToBatchId` into one consolidated partition
    * holding the merged sketch (convergent AND idempotent — see
    * `mergeBatch`).
    */
  def compactSketch(spark: org.apache.spark.sql.SparkSession,
                    table: String, upToBatchId: Long, groupCols: Seq[String],
                    k: Int): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      df => mergeSketches(df, groupCols :+ "_batch_id", k)
        .select(df.columns.map(col): _*))

  /** The pairwise overlap MATRIX over a keyed sketch frame
    * (`segCol` + `u`, one sketch per segment) — the workflow the
    * persisted-sketch pitch rests on, executed: every unordered segment
    * pair's intersection estimate from k-row frames alone, never a
    * raw-data rescan. One self equi-join on `u` (candidates), one
    * broadcast of the per-segment thetas, and a left join back to the
    * (segments × segments)/2 grid so empty intersections keep their zero
    * row. Output per pair (seg_a < seg_b): n_cand, theta_long (integer-
    * exact core) and est_intersect.
    */
  def pairwiseIntersections(sk: DataFrame, segCol: String,
                            k: Int): DataFrame = {
    val st = sk.groupBy(col(segCol))
      .agg(count(lit(1)).as("_c"), max(col("u")).as("_uk"))
      .select(col(segCol).as("_seg"),
        when(col("_c") < k, lit(ExactTheta)).otherwise(col("_uk")).as("_th"))
    val pairs = st.select(col("_seg").as("seg_a"), col("_th").as("_tha"))
      .crossJoin(st.select(col("_seg").as("seg_b"), col("_th").as("_thb")))
      .filter(col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        least(col("_tha"), col("_thb")).as("theta_long"))
    val cand = sk.select(col(segCol).as("seg_a"), col("u"))
      .join(sk.select(col(segCol).as("seg_b"), col("u")), "u")
      .filter(col("seg_a") < col("seg_b"))
      .join(broadcast(pairs), Seq("seg_a", "seg_b"))
      .filter(col("u") < col("theta_long"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("n_cand"))
    val thetaNorm = when(col("theta_long") === ExactTheta, lit(1.0))
      .otherwise(col("theta_long").cast("double") / lit(Two63))
    pairs.join(cand, Seq("seg_a", "seg_b"), "left")
      .na.fill(0L, Seq("n_cand"))
      .select(col("seg_a"), col("seg_b"), col("n_cand"), col("theta_long"),
        (col("n_cand").cast("double") / thetaNorm).as("est_intersect"))
  }

  /** Intersection estimate of two single-set sketch frames (columns:
    * just `u`), k shared. θ = min over both sides (exact-mode sides
    * contribute θ = 1); candidates are the common values below θ;
    * estimate = |candidates| / θ_norm. Output one row:
    * (n_cand BIGINT, theta_long BIGINT, est_intersect DOUBLE).
    * Everything before the final division is exact integer work.
    */
  def intersectEstimate(skA: DataFrame, skB: DataFrame, k: Int): DataFrame = {
    def thetaOf(sk: DataFrame): DataFrame =
      sk.agg(count(lit(1)).as("_c"), max(col("u")).as("_uk"))
        .select(when(col("_c") < k, lit(ExactTheta))
          .otherwise(col("_uk")).as("_th"))
    val theta = thetaOf(skA).crossJoin(thetaOf(skB).withColumnRenamed("_th", "_thb"))
      .select(least(col("_th"), col("_thb")).as("theta_long"))
    val thetaNorm = when(col("theta_long") === ExactTheta, lit(1.0))
      .otherwise(col("theta_long").cast("double") / lit(Two63))
    skA.select(col("u")).join(skB.select(col("u")), "u")
      .crossJoin(broadcast(theta))
      .filter(col("u") < col("theta_long"))
      .groupBy(col("theta_long"))
      .agg(count(lit(1)).as("n_cand"))
      // an empty candidate set drops the group entirely — restore the
      // zero row so callers always see exactly one row
      .unionByName(theta.select(col("theta_long"), lit(0L).as("n_cand")))
      .groupBy(col("theta_long"))
      .agg(max(col("n_cand")).as("n_cand"))
      .select(col("n_cand"), col("theta_long"),
        (col("n_cand").cast("double") / thetaNorm).as("est_intersect"))
  }

  /** A-not-B difference estimate — the third theta-sketch set operation
    * (union = [[mergeSketches]], intersection = [[intersectEstimate]]):
    * est |A \ B| from the two sketches alone. Same construction as the
    * intersection — θ = min(θ_A, θ_B), then count A's retained values
    * below θ that B does NOT hold (an anti-join of two k-row frames) and
    * divide by θ_norm. Valid for the same reason the intersection is:
    * below min-θ BOTH sketches hold their side's complete hashed sample,
    * so "in A's sample and absent from B's sample" ⇔ "in A \ B and
    * sampled". Error scales with the difference's own sample. Output one
    * row: (n_cand BIGINT, theta_long BIGINT, est_diff DOUBLE); exact
    * mode (both sides under k) degrades to the exact |A \ B|.
    */
  def differenceEstimate(skA: DataFrame, skB: DataFrame, k: Int): DataFrame = {
    def thetaOf(sk: DataFrame): DataFrame =
      sk.agg(count(lit(1)).as("_c"), max(col("u")).as("_uk"))
        .select(when(col("_c") < k, lit(ExactTheta))
          .otherwise(col("_uk")).as("_th"))
    val theta = thetaOf(skA).crossJoin(thetaOf(skB).withColumnRenamed("_th", "_thb"))
      .select(least(col("_th"), col("_thb")).as("theta_long"))
    val thetaNorm = when(col("theta_long") === ExactTheta, lit(1.0))
      .otherwise(col("theta_long").cast("double") / lit(Two63))
    skA.select(col("u"))
      .join(skB.select(col("u")), Seq("u"), "left_anti")
      .crossJoin(broadcast(theta))
      .filter(col("u") < col("theta_long"))
      .groupBy(col("theta_long"))
      .agg(count(lit(1)).as("n_cand"))
      .unionByName(theta.select(col("theta_long"), lit(0L).as("n_cand")))
      .groupBy(col("theta_long"))
      .agg(max(col("n_cand")).as("n_cand"))
      .select(col("n_cand"), col("theta_long"),
        (col("n_cand").cast("double") / thetaNorm).as("est_diff"))
  }
}
