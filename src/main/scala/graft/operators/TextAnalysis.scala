package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (builder brief):
  * language identification, quality scoring, BPE-ish token counting, and
  * winnowing document fingerprints. All native Catalyst expressions —
  * column-in/column-out, codegen-friendly, no UDFs — so they run at scan
  * speed over 100 TB of documents.
  */
object TextAnalysis {

  /** Tiny per-language stopword profiles (the classic cheap n-gram/stopword
    * language-ID heuristic). Deliberately small: the operator's job is the
    * Spark-side shape (profile scoring entirely inside codegen); swapping in
    * bigger profiles is data, not code.
    */
  val stopwordProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "in", "that", "it", "was", "with"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "dans", "une", "pour"),
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "mit", "ein", "nicht", "auf"))

  private def words(text: Column): Column =
    split(lower(text), "\\s+")

  private def stopwordHits(text: Column, stops: Seq[String]): Column =
    size(filter(words(text),
      w => array_contains(array(stops.map(lit): _*), w)))

  /** Ratio of CJK characters — scripts identify zh/ja directly. */
  def cjkRatio(text: Column): Column =
    (length(regexp_replace(text, "[^\\u4e00-\\u9fff\\u3040-\\u30ff]", ""))
      .cast("double") / greatest(length(text), lit(1)).cast("double"))

  /** Cheap language ID: argmax of per-language stopword density, with a CJK
    * script override. Returns a language code or "und" when nothing scores.
    * Codegen expression (graft.functions.LangIdExpr) — the Column
    * formulation below re-splits the text per language and runs four
    * interpreted filter() HOFs per row; `langIdReference` keeps it as the
    * equality oracle.
    */
  def langId(text: Column): Column =
    graft.functions.LangId.lang_id(text)

  /** Reference HOF formulation of langId (interpreted; tests only). */
  def langIdReference(text: Column): Column = {
    val n = greatest(size(words(text)), lit(1)).cast("double")
    val scored = array(stopwordProfiles.toSeq.sortBy(_._1).map {
      case (lang, stops) =>
        struct((stopwordHits(text, stops).cast("double") / n).as("score"),
          lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored) // struct compare: score first, lang tiebreak
    when(cjkRatio(text) > 0.3, lit("zh"))
      .when(best.getField("score") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** Punctuation density over all characters. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Alphabetic density (a-z after lowering) — gibberish/noise detector. */
  def alphaRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[^a-z]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** English-stopword density — a fluency proxy for quality filters. */
  def stopRatio(text: Column): Column =
    stopwordHits(text, stopwordProfiles("en")).cast("double") /
      greatest(size(words(text)), lit(1)).cast("double")

  def meanWordLen(text: Column): Column =
    (length(text) - size(words(text)) + 1).cast("double") /
      greatest(size(words(text)), lit(1)).cast("double")

  /** Composite quality score in [0,1] (Gopher/C4-style heuristics folded to
    * one number): long-enough docs with natural word lengths, some
    * punctuation and mostly alphabetic text score high.
    */
  def qualityScore(text: Column): Column = {
    val nTok = size(words(text)).cast("double")
    val lenOk = least(nTok / 50.0, lit(1.0)) // ramps to 1 at 50 tokens
    val wordLenOk = when(meanWordLen(text).between(3.0, 10.0), 1.0).otherwise(0.3)
    val alphaOk = least(alphaRatio(text) / 0.6, lit(1.0))
    round((lenOk * 0.3 + wordLenOk * 0.3 + alphaOk * 0.4), 6)
  }

  /** PRE-token count: alternating letter runs, digit runs and single
    * non-alnum marks (an ASCII-safe approximation of GPT-2 pre-tokenization;
    * identical regex semantics in Spark and DuckDB for oracle parity).
    * The real learned-merge tokenizer built on this boundary rule is
    * `operators.Bpe` — the `doc_bpe_tokens` query uses that.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** Winnowing fingerprint (Schleimer et al., SIGMOD'03): hash every k-char
    * gram (md5, lexicographic compare), take the minimum of each sliding
    * window of `w` gram hashes, de-duplicate. Guarantees any shared
    * substring of length ≥ k+w-1 yields a shared fingerprint — the standard
    * plagiarism/near-copy detector. Implemented as a codegen expression
    * with primitive loops (graft.functions.WinnowingFingerprintExpr); the
    * HOF formulation runs interpreted and is ~6× slower.
    */
  def winnowingFingerprint(text: Column, k: Int = 8, w: Int = 4): Column =
    graft.functions.WinnowingFingerprintExpr.winnow(text, k, w)

  /** Super-fingerprints: 64-bit keys over `s` consecutive recorded window
    * minima (Broder super-shingles over the winnowing sequence) — one key
    * witnesses a shared run of ~ k+w−1+(s−1)(w+1)/2 chars, the
    * strong-evidence unit `TextDedup.substringClusters` builds star edges
    * from. See `graft.functions.Winnow.superFingerprint`.
    */
  def winnowingSuperFingerprint(text: Column, k: Int = 8, w: Int = 4,
                                s: Int = 12): Column =
    graft.functions.WinnowingSuperExpr.winnowSuper(text, k, w, s)

  /** Per-document top-k TF-IDF terms — keyword extraction over the corpus:
    * tf = in-doc occurrence count, idf = ln(N / df) with df the number of
    * documents containing the term; rank by (tfidf desc, term asc) so ties
    * are deterministic. Output: (doc_id, rnk, term, tfidf), rnk 1..k.
    *
    * Scale shape: ONE explode scan aggregates to per-(doc, term) counts
    * (map-side partial), checkpointed so the document-frequency table and
    * the scoring join share it; the df join is equality-keyed on the term
    * (uniform — Zipf-hot terms are one row on the df side, AQE splits the
    * fan-in), and the corpus size N is a broadcast one-row aggregate. The
    * final per-doc ranking runs through the bounded-heap
    * `TopKStructsAgg` (`functions.TopK.topk_structs`): at most k
    * (score, term) entries per doc per map task cross the shuffle and no
    * per-group sort ever runs — the window-rank idiom this replaced
    * shuffled every (doc, term, tf) row full-width and sorted each doc's
    * whole term list (plan-asserted windowless in TextAnalysisSpec). The
    * aggregate's tie-break (score desc, payload asc) is exactly the
    * window's (tfidf desc, term asc), so the output rows are identical.
    */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, idCol: String,
                textCol: String, k: Int = 3): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tfc = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(true)
    val dfc = tfc.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df")) // tfc is distinct per doc
    val n = docs.agg(count(lit(1)).cast("double").as("n"))
    val score = col("tf") * log(col("n") / col("df"))
    tfc.join(dfc, Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopK.topk_structs(score, col("term"), k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"), (col("pos") + 1).cast("bigint").as("rnk"),
        col("col.payload").as("term"),
        round(col("col.score"), 6).as("tfidf"))
  }

  /** Okapi BM25 (Robertson et al., TREC-3) of every document against a
    * FIXED query term set — the lexical-retrieval scorer beside the
    * dense (`AnnIndex`) path: query-relevance ranking for targeted
    * curation ("score the corpus against benchmark prompts") and the
    * lexical leg of hybrid retrieval (`Fusion.rrfFuse`).
    *
    * Shape: one explode scan filtered to the query terms (a handful of
    * rows per doc survive the scan filter — at 100 TB the scan is the
    * cost and it is one pass), one broadcast term-df frame, one
    * broadcast 1-row corpus stat, zero windows.
    *
    * Exactness discipline: tf/df/dl/N are exact BIGINT counts; idf is
    * the Lucene-style nonnegative `ln((N − df + 0.5)/(df + 0.5) + 1)`;
    * avgdl is ONE division of exact integers. Per-term contributions
    * land in FIXED columns (one `sum(when(term = t))` each — adding
    * exact zeros, so partial-aggregation order cannot move a bit) and
    * add in query order: both engines run the identical IEEE chain, so
    * callers rank on the RAW double (the emb_top_pairs discipline) and
    * round only for output.
    */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "empty query term set")
    require(queryTerms.distinct == queryTerms, "duplicate query terms")
    val base = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ", -1).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      .localCheckpoint(true) // shared by the stat pass and the tf pass
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = termFrequencies(base, queryTerms)
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfc, stats, queryTerms, k1, b)
  }

  /** (doc_id, dl, term, tf) for the query terms — the one filtered
    * explode pass shared by the one-shot and the maintained-state
    * scorers.
    */
  private def termFrequencies(base: org.apache.spark.sql.DataFrame,
                              queryTerms: Seq[String]): org.apache.spark.sql.DataFrame =
    base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))

  /** The BM25 IEEE chain over (tf, df, stats) — ONE definition, so the
    * one-shot and state-backed scorers are bit-identical by
    * construction. `dfc` is (term, df BIGINT); `stats` one row
    * (n BIGINT, sdl BIGINT).
    */
  private def bm25Score(tf: org.apache.spark.sql.DataFrame,
                        dfc: org.apache.spark.sql.DataFrame,
                        stats: org.apache.spark.sql.DataFrame,
                        queryTerms: Seq[String], k1: Double,
                        b: Double): org.apache.spark.sql.DataFrame = {
    val idf = log((col("n").cast("double") - col("df").cast("double")
      + 0.5) / (col("df").cast("double") + 0.5) + 1.0)
    val norm = col("tf") + lit(k1) * (lit(1.0 - b) +
      lit(b) * col("dl").cast("double") /
        (col("sdl").cast("double") / col("n").cast("double")))
    val contrib = idf * (col("tf") * lit(k1 + 1.0)) / norm
    val perTerm = queryTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, contrib).otherwise(0.0)).as(s"_s$i")
    }
    tf.join(broadcast(dfc), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(perTerm.head, perTerm.tail: _*)
      .select(col("doc_id"),
        queryTerms.indices.map(i => col(s"_s$i"))
          .reduce(_ + _).as("bm25"))
  }

  /** MAINTAINED BM25 corpus statistics — the one-shot [[bm25]] recomputes
    * df/dl/N per call and localCheckpoints the full tokenized corpus:
    * right for a single pass, wrong for a query service over a GROWING
    * corpus (VERDICT r12 #6). This is the `BatchTables` SUM-merge family
    * (the `Hll`/`Checks` discipline) for the two BM25 sufficient
    * statistics:
    *
    *   - (term, df) — documents containing the term, per batch;
    *   - ONE metadata row (term = NULL, the `FreqItemsState` idiom)
    *     carrying the batch's (n docs, Σ document length).
    *
    * A query then scores from the table + ONE filtered scan of the docs
    * being ranked ([[bm25FromState]]) — the 100 TB corpus is never
    * re-tokenized for its global statistics. Contract: delta ingest —
    * each document lands in exactly ONE batch (duplicated docs would
    * double df/n, same as every SUM-merge family); a replayed `batchId`
    * dynamic-overwrites its own partition, so crash/replay is
    * exactly-once.
    */
  def bm25MergeBatch(batch: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, table: String, path: String,
                     batchId: Long): Unit = {
    val base = batch
      .select(col(idCol).as("doc_id"), split(col(textCol), " ", -1).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      .localCheckpoint(true) // shared by the df pass and the stat pass
    val entries = base
      .select(col("doc_id"), explode(col("w")).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
      .select(col("term"), col("df"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("sdl"))
    val meta = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .select(lit(null).cast("string").as("term"),
        lit(null).cast("long").as("df"), col("n"), col("sdl"))
    BatchTables.writeBatch(entries.unionByName(meta), batchId, table, path)
  }

  /** Fold batches `0..upToBatchId` of a [[bm25MergeBatch]] table into one
    * consolidated partition: per-term df sums, metadata rows sum (n, Σdl)
    * — one aggregate per term, the metadata rows' NULL term their own
    * group. A SUM-merge family; its crash window is the one contract in
    * `BatchTables.compactBatchPartitions`.
    */
  def bm25CompactState(spark: org.apache.spark.sql.SparkSession,
                       table: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      _.groupBy(col("term"))
        .agg(sum(col("df")).as("df"), sum(col("n")).as("n"),
          sum(col("sdl")).as("sdl")))

  /** BM25 of `docs` against `queryTerms` with the corpus statistics read
    * from the maintained state table instead of recomputed: the global
    * (df, N, Σdl) come from exact BIGINT sums over the table's batches
    * (a few KB after the query-term filter — broadcast by construction),
    * and the only corpus touch is ONE filtered explode scan of the docs
    * being ranked. When `docs` is the corpus the state absorbed, the
    * output is the one-shot [[bm25]] VERBATIM (shared [[bm25Score]]
    * chain, exact-integer statistics — spec-pinned bit equality; the
    * `doc_bm25_state` gate reuses the one-shot oracle). Scoring a SLICE
    * of the corpus keeps the GLOBAL statistics — the semantics a query
    * service wants, and what the one-shot form cannot give a slice.
    */
  def bm25FromState(docs: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, queryTerms: Seq[String],
                    table: String, k1: Double = 1.2,
                    b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "empty query term set")
    require(queryTerms.distinct == queryTerms, "duplicate query terms")
    val spark = docs.sparkSession
    val st = spark.table(table)
    val stats = st.filter(col("term").isNull)
      .agg(sum(col("n")).as("n"), sum(col("sdl")).as("sdl"))
    val dfc = st.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val base = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ", -1).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    bm25Score(termFrequencies(base, queryTerms), dfc, stats, queryTerms,
      k1, b)
  }

  /** Zipf rank-frequency fit — the corpus-health audit every curation run
    * wants beside per-doc quality scores: natural text follows
    * freq ∝ rank^s with s ≈ −1 (Zipf 1949); template/boilerplate/spam
    * corpora bend the curve (|s| collapses or the fit degrades), so the
    * fitted slope and r² are a one-row drift alarm for an ingestion feed.
    * OLS of ln(freq) on ln(rank) over the top-`topN` terms (rank =
    * row_number by freq DESC, term ASC — a deterministic total order),
    * plus the exact corpus counts the fit was made from.
    *
    * Output (1 row): `terms` = ranks actually fitted, `vocab` = distinct
    * words, `tokens` = total words (exact BIGINTs), `slope`, `intercept`,
    * `r2` (round-6; the moment sums over ≤ topN small doubles carry
    * ~1e-12 absolute error against a 1e-6 rounding grid — the ln
    * discipline). Corpora with a single distinct frequency rank set
    * (fewer than 2 fitted terms, or zero x-variance) return NULL fit
    * columns rather than 0/0.
    *
    * Scale shape: ONE word-explode scan partial-aggregated to the
    * vocabulary-sized count table; the top-N cut is a bounded window on
    * that table (rank over ~vocab rows, never the corpus), and the fit
    * itself is six sums over ≤ topN rows. Nothing data-sized shuffles
    * twice.
    */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, idCol: String,
              textCol: String, topN: Int = 500): org.apache.spark.sql.DataFrame = {
    val counts = docs
      .select(explode(split(col(textCol), " ", -1)).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("f"))
    zipfFromCounts(counts, topN)
  }

  /** [[zipfFit]] from the MAINTAINED bigram-LM state table instead of a
    * corpus scan: the state's (word, cnt) vocabulary rows SUM to exactly
    * the one-shot word counts, so the fit matches the one-shot at the
    * round-6 grid (shared tail over identical exact counts; the ln
    * discipline absorbs partial-agg sum order) and the
    * corpus-health audit costs a vocabulary-sized state read — the
    * drift-dashboard shape: refresh the slope/r² after every absorbed
    * batch without ever rescanning the corpus.
    */
  def zipfFromState(spark: org.apache.spark.sql.SparkSession, table: String,
                    topN: Int = 500): org.apache.spark.sql.DataFrame = {
    val counts = spark.table(table)
      .filter(col("word").isNotNull)
      .groupBy(col("word"))
      .agg(sum(col("cnt")).as("f"))
      .filter(col("f") > 0L)
    zipfFromCounts(counts, topN)
  }

  private def zipfFromCounts(rawCounts: org.apache.spark.sql.DataFrame,
                             topN: Int): org.apache.spark.sql.DataFrame = {
    require(topN >= 2, s"topN must be >= 2, got $topN")
    val counts = rawCounts
      .localCheckpoint(true) // shared by the fit and the exact totals
    // top-N first (TakeOrderedAndProject — distributed, per-partition
    // heaps), THEN the rank window over the ≤ topN survivors: the
    // unpartitioned window never sees more than topN rows even when the
    // vocabulary is 100M types
    val ranked = counts
      .orderBy(col("f").desc, col("word").asc)
      .limit(topN)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("f").desc, col("word").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    val fit = ranked.agg(
        count(lit(1)).as("terms"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("terms"),
        (col("terms") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("terms") * col("sxx") - col("sx") * col("sx")).as("vx"),
        (col("terms") * col("syy") - col("sy") * col("sy")).as("vy"),
        col("sx"), col("sy"))
      .select(col("terms"),
        when(col("terms") >= 2 && col("vx") > 0.0,
          round(col("num") / col("vx"), 6)).as("slope"),
        when(col("terms") >= 2 && col("vx") > 0.0,
          round((col("sy") - (col("num") / col("vx")) * col("sx")) /
            col("terms"), 6)).as("intercept"),
        when(col("terms") >= 2 && col("vx") > 0.0 && col("vy") > 0.0,
          round(col("num") * col("num") / (col("vx") * col("vy")), 6))
          .as("r2"))
    val totals = counts.agg(count(lit(1)).as("vocab"), sum(col("f")).as("tokens"))
    fit.crossJoin(totals)
      .select(col("terms"), col("vocab"), col("tokens"),
        col("slope"), col("intercept"), col("r2"))
  }
}
