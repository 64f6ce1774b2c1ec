package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling — DSIR (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling"): given
  * a huge RAW corpus and a small TARGET corpus (the distribution you want
  * more of — wiki-like text, a domain slice), estimate per-document
  * importance weights w(x) = p_target(x)/p_raw(x) under hashed n-gram
  * bag-of-features models, then resample raw documents with probability
  * ∝ w. This is the standard published recipe for "make the pretraining
  * mix look like the target" and the model-free sibling of the
  * [[LangModel]] perplexity filter (which scores against ONE corpus
  * rather than reweighting between two).
  *
  * Features: word unigrams ∪ bigrams hashed into `buckets` buckets (the
  * paper's hashed n-gram features). Both distributions are add-one
  * smoothed multinomials over buckets, so
  *
  *   log w(x) = Σ_b m_b(x) · [ ln((ct_b+1)/(Nt+B)) − ln((cr_b+1)/(Nr+B)) ]
  *
  * with m_b(x) the document's bucket counts, ct/cr the target/raw bucket
  * totals, Nt/Nr the gram totals and B the bucket count.
  *
  * Determinism: the bucket hash is the md5-hex32 prefix (replayable in
  * any engine, the corpus-wide hashing idiom), counts are exact BIGINTs,
  * and the only floats are the fixed IEEE log-ratio expression and its
  * per-doc sum — an ln-class, order-sensitive-in-the-last-ulp value,
  * released under the round(,6) discipline like every ln-derived gate.
  *
  * Scale shape: ONE text scan explodes grams to map-side-combined
  * (doc, bucket, m) rows; the bucket stats tables are ≤ B rows (B =
  * 4096 default) — broadcast to the per-doc join, so scoring is one scan
  * + one broadcast join + one groupBy(doc) regardless of corpus size.
  * The target corpus is scanned once for its own B-row table. Resampling
  * runs through the bounded-heap TopK aggregate (at most k structs per
  * map task cross the shuffle — no global sort at 100 TB) using the
  * GUMBEL top-k equivalence: top-k by (log w + Gumbel) ~ sampling
  * without replacement ∝ w (Efraimidis-Spirakis keys log(u)/w overflow
  * e^±logw for log-scale weights; Gumbel keys never leave log space).
  * Draws are keyed md5-hex52 uniforms on (seed, doc id) — fixed seed
  * replays bit-exactly (the deterministic-sampling idiom; a production
  * run draws the seed fresh).
  */
object Dsir {

  val DefaultBuckets = 4096

  /** Stable feature bucket of a gram: first 8 md5 hex chars as an
    * integer, mod `buckets` — replays in SQL as
    * `('0x' || substring(md5(gram), 1, 8))::BIGINT % buckets`.
    */
  def bucketOf(gram: Column, buckets: Int): Column =
    conv(substring(md5(gram), 1, 8), 16, 10).cast("long") % buckets

  /** One text scan → (id?, bucket, m) hashed-gram counts. `idCol` absent
    * (None) collapses to corpus-level (bucket, m) totals map-side.
    */
  private def bucketCounts(df: DataFrame, idCol: Option[String],
                           textCol: String, buckets: Int): DataFrame = {
    val w = split(col(textCol), " ", -1)
    // multiplicities matter (they scale each gram's log-ratio term), so
    // explode the unigram and bigram arrays separately and union the rows
    val uni = df.select(idCol.map(col).toSeq :+
      explode(w).as("gram"): _*)
    val bi = df.select(idCol.map(col).toSeq :+
      explode(Curation.wordGrams(w, 2)).as("gram"): _*)
    val rows = uni.union(bi)
      .select(idCol.map(col).toSeq :+
        bucketOf(col("gram"), buckets).as("b"): _*)
    val keys = idCol.toSeq :+ "b"
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("m"))
  }

  /** The shared scoring tail: per-doc Σ m·log-ratio over the B-row
    * (b, cr, ct) stats frame — ONE broadcast join + one groupBy(doc).
    * Shared verbatim by the one-shot and the maintained-state form, so
    * same-stats scoring is bit-exact BY CONSTRUCTION (the bm25Score
    * discipline).
    */
  private def scoreBuckets(db: DataFrame, idCol: String, stats: DataFrame,
                           buckets: Int): DataFrame = {
    val totals = stats.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"))
    // the fixed IEEE log-ratio, shared verbatim with the oracle
    val lr =
      log((col("ct") + lit(1.0)) / (col("nt") + lit(buckets.toDouble))) -
        log((col("cr") + lit(1.0)) / (col("nr") + lit(buckets.toDouble)))
    db.join(broadcast(stats), Seq("b"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(sum(col("m")).cast("bigint").as("n_grams"),
        round(sum(col("m").cast("double") * lr), 6).as("logw"))
  }

  /** Per-raw-document DSIR log-importance weight:
    * (doc_id, n_grams, logw) with logw rounded to 6 decimals (ln class).
    * `target` needs only its text column. The bucket stats join is FULL
    * outer: a bucket only the target speaks still contributes its mass
    * to Nt (it cannot join any raw doc row, so only the totals see it).
    */
  def importanceWeights(raw: DataFrame, idCol: String, textCol: String,
                        target: DataFrame, targetTextCol: String,
                        buckets: Int = DefaultBuckets): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val db = bucketCounts(raw, Some(idCol), textCol, buckets)
      .localCheckpoint(true)
    val cr = db.groupBy(col("b")).agg(sum(col("m")).as("cr"))
    val ct = bucketCounts(target, None, targetTextCol, buckets)
      .withColumnRenamed("m", "ct")
    val stats = cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    scoreBuckets(db, idCol, stats, buckets)
  }

  /** Append one delta batch's bucket counts to the MAINTAINED DSIR state
    * (the BatchTables SUM-merge discipline shared with the BM25 and
    * moment state families): one `_batch_id` partition of
    * (b, cr, ct) rows — raw-gram counts from `rawBatch`, target-gram
    * counts from `targetBatch` (absent = zero; the target corpus can
    * grow on its own schedule). Idempotent per batch id: a replay
    * dynamic-overwrites its own partition byte-identically.
    */
  def dsirMergeBatch(rawBatch: DataFrame, textCol: String,
                     targetBatch: Option[DataFrame], targetTextCol: String,
                     table: String, path: String, batchId: Long,
                     buckets: Int = DefaultBuckets): Unit = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val spark = rawBatch.sparkSession
    val cr = bucketCounts(rawBatch, None, textCol, buckets)
      .withColumnRenamed("m", "cr")
    val ct = targetBatch match {
      case Some(t) => bucketCounts(t, None, targetTextCol, buckets)
        .withColumnRenamed("m", "ct")
      case None => spark.emptyDataFrame
        .select(lit(0L).as("b"), lit(0L).as("ct")).limit(0)
    }
    val rows = cr.join(ct, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("ct"), lit(0L)).as("ct"))
    BatchTables.writeBatch(rows, batchId, table, path)
  }

  /** Fold batches `0..upToBatchId` into one consolidated partition:
    * per-bucket (Σcr, Σct). SUM-merge is not duplication-idempotent —
    * the crash window between the consolidated insert and the source
    * sweep shows inflated counts until the convergence re-run (the CMS
    * contract shared by every SUM-merge family).
    */
  def dsirCompactState(spark: org.apache.spark.sql.SparkSession,
                       table: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId, df =>
      df.groupBy(col("b"), col("_batch_id"))
        .agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))
        .select(col("b"), col("cr"), col("ct"), col("_batch_id")))

  /** Importance weights with the bucket statistics read from the
    * maintained state table instead of recomputed: the ≤ B-row stats
    * frame folds the table's batches with exact BIGINT sums and
    * broadcasts; the only corpus touch is the gram scan of the docs
    * being scored. When `docs` is the corpus the state absorbed, the
    * output is [[importanceWeights]] VERBATIM (shared scoring chain,
    * exact-integer stats — spec-pinned bit equality; the
    * `doc_dsir_state` gate reuses the one-shot oracle). Scoring a SLICE
    * keeps the GLOBAL distributions — the query-service semantics.
    */
  def dsirWeightsFromState(docs: DataFrame, idCol: String, textCol: String,
                           table: String,
                           buckets: Int = DefaultBuckets): DataFrame = {
    val spark = docs.sparkSession
    val stats = spark.table(table)
      .groupBy(col("b"))
      .agg(sum(col("cr")).as("cr"), sum(col("ct")).as("ct"))
    val db = bucketCounts(docs, Some(idCol), textCol, buckets)
    scoreBuckets(db, idCol, stats, buckets)
  }

  /** Sample k documents without replacement with probability ∝ exp(logw)
    * via Gumbel top-k: key = round(logw + (−ln(−ln(u))), 6), u the
    * md5-hex52 uniform on (seed, id). The key rounds to 6 BEFORE the heap
    * (the ln discipline applied to the ordering, not just the output) so
    * an oracle's `row_number() OVER (ORDER BY key DESC, id ASC) <= k`
    * replays the selection — TopKStructsAgg implements exactly that total
    * order. Output (rnk, doc_id, gkey).
    */
  def resample(weights: DataFrame, idCol: String, logwCol: String,
               k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(seed.nonEmpty, "an empty seed defeats the keyed-draw contract")
    val hex52 = substring(
      md5(concat(lit(seed), col(idCol).cast("string"))), 1, 13)
    val u = (conv(hex52, 16, 10).cast("double") + lit(0.5)) /
      lit(4503599627370496.0) // 2^52
    val key = round(col(logwCol).cast("double") - log(-log(u)), 6)
    weights
      .agg(graft.functions.TopK.topk_structs(key, col(idCol), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("bigint").as("rnk"),
        col("col.payload").as(idCol),
        col("col.score").as("gkey"))
  }
}
