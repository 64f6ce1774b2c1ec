package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Statistical language-model quality scoring — the model-based filter of
  * the CCNet/KenLM family (Wenzek et al. 2020 filter CommonCrawl by LM
  * perplexity; Gopher and Llama keep the same signal): train an add-one
  * smoothed word-BIGRAM model on the corpus itself, then score every
  * document by its cross-entropy under that model. Documents far from the
  * corpus distribution (spam, gibberish, boilerplate) score high.
  *
  *   P(w2 | w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)
  *
  * with c(w1 w2) the corpus bigram occurrence count, c(w1 ·) the count of
  * w1 as a bigram prefix (so the conditional sums to 1 over the closed
  * vocabulary) and V the corpus unigram vocabulary size.
  *
  * Scale shape: ONE text scan explodes bigrams into per-doc (gram,
  * multiplicity) rows — partial-aggregated map-side, then checkpointed so
  * the three consumers (global bigram counts, prefix counts, per-doc
  * scoring) share the materialization instead of re-reading the corpus.
  * The bigram-count join is equality-keyed on the gram (Zipf-hot grams are
  * single-row on the count side — AQE skew split handles the fan-in); the
  * prefix-count and vocabulary tables are vocabulary-sized, orders of
  * magnitude below the corpus, and broadcast. The only other corpus scan
  * is the one-column vocabulary count (map-side partial count-distinct).
  * No driver loop, no UDF: `ln` and the weighted sums are codegen.
  *
  * The model also exists as MAINTAINED STATE ([[lmMergeBatch]] /
  * [[lmCompactState]] / [[bigramPerplexityFromState]]) — the production
  * shape for a filter that scores a stream against a reference corpus:
  * the counts are SUM-merged `_batch_id` partitions (the BM25/FreqItems
  * idiom), and scoring reads state + ONE gram scan of only the documents
  * being scored. The 100 TB reference corpus is never rescanned per call.
  */
object LangModel {

  /** Per-doc bigram multiplicities: (doc_id, gram, w1, m). The one corpus
    * gram scan both forms share; m is an exact small integer in a double.
    */
  private def docGrams(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val w = split(col(textCol), " ", -1)
    docs
      .select(col(idCol).as("doc_id"),
        explode(Curation.wordGrams(w, 2)).as("gram"))
      .select(col("doc_id"), col("gram"),
        substring_index(col("gram"), " ", 1).as("w1"))
      .groupBy(col("doc_id"), col("gram"), col("w1"))
      .agg(count(lit(1)).cast("double").as("m"))
  }

  /** The shared scoring tail: per-doc Σ m·ln((c2+1)/(c1+V)) → (ce, ppl).
    * Both the one-shot and the from-state form run THIS chain, so their
    * IEEE arithmetic is identical by construction; they differ only in
    * where the count frames come from. Left joins + exact-zero coalesce:
    * over the corpus the counts were built from, every gram/prefix hits
    * (the coalesce is the identity), while a NEW document scored from
    * state degrades smoothly to the add-one floor (c2 = 0, c1 = 0)
    * instead of silently dropping its unseen grams.
    */
  private def scoreGrams(docs: DataFrame, idCol: String, grams: DataFrame,
                         bigramCounts: DataFrame, prefixCounts: DataFrame,
                         vocab: DataFrame): DataFrame = {
    val scored = grams
      .join(bigramCounts, Seq("gram"), "left")
      .join(broadcast(prefixCounts), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("m") * log(
          (coalesce(col("c2"), lit(0.0)) + 1.0) /
            (coalesce(col("c1"), lit(0.0)) + col("vocab")))).as("logp"),
        sum(col("m")).cast("bigint").as("n_bigrams"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(round(-col("logp") / col("n_bigrams"), 4), lit(0.0)).as("ce"),
        coalesce(round(exp(-col("logp") / col("n_bigrams")), 4), lit(0.0))
          .as("ppl"))
  }

  /** Per-document bigram cross-entropy and perplexity under the corpus
    * add-one bigram model: (doc_id, n_bigrams, ce, ppl), `ce` in nats,
    * `ppl = exp(ce)`, both rounded to 4 decimals (the sums are
    * order-unstable in the last ulp; 4 decimals is ~1e9 ulps of margin).
    * Documents with fewer than two words score ce = ppl = 0.
    */
  def bigramPerplexity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = docGrams(docs, idCol, textCol).localCheckpoint(true)
    val bigramCounts = grams.groupBy(col("gram")).agg(sum(col("m")).as("c2"))
    val prefixCounts = grams.groupBy(col("w1")).agg(sum(col("m")).as("c1"))
    val vocab = docs
      .select(explode(split(col(textCol), " ", -1)).as("word"))
      .agg(countDistinct(col("word")).cast("double").as("vocab"))
    scoreGrams(docs, idCol, grams, bigramCounts, prefixCounts, vocab)
  }

  /** Absorb one corpus delta batch into the maintained LM state table:
    * bigram rows (gram, w1, cnt) — exact BIGINT occurrence counts — and
    * word rows (word, cnt) carrying the unigram vocabulary (word rows
    * make V = countDistinct(word) exact across any batch split, which a
    * SUM over per-batch distinct counts could never give). One row kind
    * per column group, NULLs marking the other (the BM25 metadata-row
    * idiom); the whole batch is ONE gram scan + one word scan of the
    * delta only. Idempotent per `_batch_id` (dynamic partition
    * overwrite): a replay rewrites the same partition.
    */
  def lmMergeBatch(batch: DataFrame, idCol: String, textCol: String,
                   table: String, path: String, batchId: Long): Unit = {
    val w = split(col(textCol), " ", -1)
    val bigrams = batch
      .select(explode(Curation.wordGrams(w, 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("gram"), substring_index(col("gram"), " ", 1).as("w1"),
        lit(null).cast("string").as("word"), col("cnt"))
    val words = batch
      .select(explode(w).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit(null).cast("string").as("gram"),
        lit(null).cast("string").as("w1"), col("word"), col("cnt"))
    BatchTables.writeBatch(bigrams.unionByName(words), batchId, table, path)
  }

  /** Fold batches `0..upToBatchId` of a [[lmMergeBatch]] table into one
    * consolidated partition: bigram rows SUM per gram, word rows SUM per
    * word — one aggregate, since a row's NULLs mark its kind. A SUM-merge
    * family; its crash window is the one contract in
    * `BatchTables.compactBatchPartitions`.
    */
  def lmCompactState(spark: SparkSession, table: String,
                     upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      _.groupBy(col("gram"), col("w1"), col("word"))
        .agg(sum(col("cnt")).as("cnt")))

  /** Score `docs` under the bigram model held in the maintained state
    * table: c2/c1 from exact BIGINT sums over the bigram rows, V from
    * countDistinct over the word rows, then the SHARED [[scoreGrams]]
    * chain — when `docs` is the corpus the state absorbed, the output is
    * the one-shot [[bigramPerplexity]] verbatim (same counts as exact
    * integers, same IEEE chain; the `doc_lm_state` gate reuses the
    * one-shot oracle). Scoring a NEW document keeps the reference-corpus
    * statistics — the CCNet filter semantics: the stream is judged
    * against the reference model, and unseen grams take the add-one
    * floor rather than perturbing the model. The only corpus-sized work
    * is the gram scan of the documents BEING SCORED; the state read is
    * vocabulary-sized.
    */
  def bigramPerplexityFromState(docs: DataFrame, idCol: String,
                                textCol: String, table: String): DataFrame = {
    val st = docs.sparkSession.table(table)
    val bigramCounts = st.filter(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(sum(col("cnt")).cast("double").as("c2"))
    val prefixCounts = st.filter(col("gram").isNotNull)
      .groupBy(col("w1"))
      .agg(sum(col("cnt")).cast("double").as("c1"))
    val vocab = st.filter(col("word").isNotNull)
      .agg(countDistinct(col("word")).cast("double").as("vocab"))
    scoreGrams(docs, idCol, docGrams(docs, idCol, textCol),
      bigramCounts, prefixCounts, vocab)
  }

  /** Bigram NOVELTY of `docs` against the reference corpus held in the
    * maintained state table: per document the exact count of bigram
    * OCCURRENCES whose gram the reference has never seen, and the novelty
    * ratio unseen/n_bigrams (round-6; one division of exact integers —
    * deterministic). High novelty against a trusted reference flags
    * machine-garbled or out-of-distribution text; LOW novelty of a held
    * -out eval set against the TRAINING state is the memorization /
    * contamination smell (the n-gram-overlap check of Brown et al. 2020
    * §4, run from state instead of a corpus rescan). Documents with
    * fewer than two words score 0 / NULL ratio.
    *
    * Shape: ONE gram scan of the docs being scored, left-joined against
    * the vocabulary-sized (gram → seen) state projection; the reference
    * corpus is never touched. Exact integers everywhere — the gate
    * replays the join in SQL verbatim.
    */
  def noveltyFromState(docs: DataFrame, idCol: String, textCol: String,
                       table: String): DataFrame = {
    val seen = docs.sparkSession.table(table)
      .filter(col("gram").isNotNull)
      .groupBy(col("gram"))
      .agg(sum(col("cnt")).as("c2"))
      .filter(col("c2") > 0L)
      .select(col("gram"), lit(1L).as("seen"))
    val grams = docGrams(docs, idCol, textCol)
      .join(seen, Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast("bigint").as("n_bigrams"),
        sum(when(col("seen").isNull, col("m")).otherwise(lit(0.0)))
          .cast("bigint").as("unseen"))
    docs.select(col(idCol).as("doc_id"))
      .join(grams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("unseen"), lit(0L)).as("unseen"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0L,
          round(coalesce(col("unseen"), lit(0L)).cast("double") /
            col("n_bigrams").cast("double"), 6)).as("novelty"))
  }
}
