package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ShingleMd5Expr.shingleMd5

/** Dataset-level resemblance sketch — one-permutation MinHash (Li,
  * Owen & Zhang's one-permutation hashing, NIPS'12; Broder's resemblance
  * estimator underneath) at CORPUS granularity: each corpus (a source, a
  * dump, a day's crawl) is summarized by k = 16^slotChars slot minima
  * over its word-shingle md5 universe, and any pair's shingle-set
  * Jaccard is estimated from the two signatures alone.
  *
  * This is the set-similarity member of the sketch family (HLL =
  * cardinality, CMS = frequency, Quantiles = ranks): the 100 TB use is
  * corpus auditing — "how much does this crawl overlap that one / last
  * month's?" — where exact shingle intersection is a cross-corpus join
  * of everything, and the sketch answer costs two 256-row frames.
  * Merge algebra is slot-wise MIN: idempotent and commutative (HLL-max's
  * twin), so shard/day signatures compose and crash-window duplicates
  * are harmless.
  *
  * One permutation, not k: the slot is the hash's own hex prefix, so one
  * scan and one map-side-combined shuffle of ≤ corpora × k rows builds
  * the signature — no k× explode. Estimator: Ĵ = |{slots: min_a =
  * min_b}| / |{slots: both present}| — each jointly-occupied slot's
  * minimum is a uniform sample of A ∪ B restricted to that slot, so the
  * mins agree iff the sample lands in A ∩ B; binomial sd ≈
  * √(J(1−J)/k) (~3% at k=256, J=0.5). Everything is md5 arithmetic both
  * engines own, so the DuckDB oracle replays the WHOLE estimator and the
  * gate compares exactly.
  */
object CorpusSketch {

  /** Default slot-prefix width: 2 hex chars → 256 slots. */
  val DefaultSlotHexChars = 2

  /** Exploded (corpus, shingle-md5) pairs — distinct within a document
    * (the codegen expression dedupes), not across documents; every
    * downstream consumer aggregates by min, for which duplicates are
    * invisible.
    */
  def shingleHashes(df: DataFrame, corpusCol: String, textCol: String,
                    n: Int = 3): DataFrame =
    df.filter(col(textCol).isNotNull)
      .select(col(corpusCol), explode(shingleMd5(col(textCol), n)).as("h"))

  /** Per-corpus signature: (corpusCol, slot, min_h) — the slot's
    * lexicographic minimum shingle md5. ≤ 16^slotChars rows per corpus;
    * the groupBy's map-side combine collapses the exploded shingle
    * stream to sketch size before the exchange.
    */
  def signature(df: DataFrame, corpusCol: String, textCol: String,
                slotChars: Int = DefaultSlotHexChars,
                n: Int = 3): DataFrame = {
    require(slotChars >= 1 && slotChars <= 4,
      s"slotChars must be in 1..4, got $slotChars")
    shingleHashes(df, corpusCol, textCol, n)
      .groupBy(col(corpusCol), substring(col("h"), 1, slotChars).as("slot"))
      .agg(min(col("h")).as("min_h"))
  }

  /** Merge signature frames built with the SAME slotChars/n: slot-wise
    * min — idempotent, so shard signatures compose in any order and
    * duplicated rows (crash windows, re-sent shards) cannot perturb the
    * result. The merge of per-shard signatures EQUALS the one-shot
    * signature of the concatenated corpora.
    */
  def mergeSignatures(sigs: DataFrame, corpusCol: String): DataFrame =
    sigs.groupBy(col(corpusCol), col("slot"))
      .agg(min(col("min_h")).as("min_h"))

  /** Pairwise Jaccard estimates between every two corpora in a signature
    * frame: (src_a, src_b, slots_both, slots_equal, est_jaccard). A
    * self-join of sketch-sized frames on the slot key — cost is
    * corpora² × slots rows, independent of data size, which is the whole
    * point.
    */
  def pairwiseJaccard(sig: DataFrame, corpusCol: String): DataFrame = {
    val a = sig.select(col(corpusCol).as("src_a"), col("slot"),
      col("min_h").as("_ha"))
    val b = sig.select(col(corpusCol).as("src_b"), col("slot"),
      col("min_h").as("_hb"))
    a.join(b, Seq("slot")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("slots_both"),
        sum(when(col("_ha") === col("_hb"), 1L).otherwise(0L))
          .as("slots_equal"))
      .withColumn("est_jaccard",
        round(col("slots_equal").cast("double") /
          col("slots_both").cast("double"), 6))
  }

  /** One-shot: pairwise corpus Jaccard estimates straight from data. */
  def estimateJaccard(df: DataFrame, corpusCol: String, textCol: String,
                      slotChars: Int = DefaultSlotHexChars,
                      n: Int = 3): DataFrame =
    pairwiseJaccard(signature(df, corpusCol, textCol, slotChars, n), corpusCol)

  /** STREAMING signature maintenance — the `Hll.mergeBatch` discipline
    * with min for max: per-batch signatures land in their own `_batch_id`
    * partition (dynamic overwrite, replay rewrites in place), reads merge
    * by slot-wise min, and because min is idempotent even the
    * compaction crash window (duplicate rows visible) returns correct
    * estimates — the HLL-side crash contract, not the CMS one.
    */
  def mergeBatch(batch: DataFrame, corpusCol: String, textCol: String,
                 sigTable: String, sigPath: String, batchId: Long,
                 slotChars: Int = DefaultSlotHexChars, n: Int = 3): Unit = {
    BatchTables.writeBatch(signature(batch, corpusCol, textCol, slotChars, n),
      batchId, sigTable, sigPath)
  }

  /** The maintained table's merged signature frame. */
  def signatureFromTable(spark: org.apache.spark.sql.SparkSession,
                         sigTable: String, corpusCol: String): DataFrame =
    mergeSignatures(spark.table(sigTable).drop("_batch_id"), corpusCol)

  /** Fold batches `0..upToBatchId` into one negative partition by
    * slot-wise min — steady state ≤ corpora × 16^slotChars rows. Same
    * crash note as `Hll.compactRegisters`: min-merge is idempotent, so
    * mid-crash duplicate visibility never changes an estimate.
    */
  def compactSignature(spark: org.apache.spark.sql.SparkSession,
                       sigTable: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, sigTable, upToBatchId,
      df => df.groupBy(df.columns.filterNot(_ == "min_h").map(col): _*)
        .agg(min(col("min_h")).as("min_h"))
        .select(df.columns.map(col): _*))
}
