package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor search over an embedding column
  * (`array<float>`) — the 100 TB similarity-search path (builder brief).
  *
  * Two bucketed strategies, both of which turn the O(n) full scan (or the
  * O(n²) all-pairs product) into equality-bucketed candidate joins followed
  * by exact cosine rerank:
  *
  *  - `lshTopK`: L independent random-hyperplane sign-hash tables of K bits
  *    each; a vector lands in L buckets, candidates = vectors sharing ANY
  *    bucket with the query. Hyperplanes are Rademacher (±1) matrices
  *    derived deterministically from a literal seed, embedded as array
  *    literals — the whole signature is native `zip_with`/`aggregate`
  *    expressions inside codegen, no UDFs.
  *  - `ivfTopK`: inverted-file search over a coarse quantizer. Centroids
  *    come from a label/cluster column (or any precomputed assignment);
  *    the query probes the `nprobe` nearest centroids and searches only
  *    those partitions. At scale the centroid table is tiny (broadcast)
  *    and each probe is a partition-pruned scan.
  *
  * Exact brute-force top-k (`knn_cosine_topk` in graft.queries.Corpus)
  * remains the correctness baseline: Spark's TakeOrderedAndProject already
  * makes it a distributed partial-top-k, so approximate variants must beat
  * it on candidate volume (asserted in tests), not just wall-clock.
  */
object AnnIndex {

  /** Deterministic Rademacher hyperplane matrix: tables × bits × dim of ±1,
    * from splitmix64 on a literal seed — reproducible across sessions.
    */
  private def hyperplanes(tables: Int, bits: Int, dim: Int, seed: Long): Array[Array[Array[Double]]] = {
    var x = seed
    def next(): Long = { // splitmix64
      x += 0x9e3779b97f4a7c15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(tables, bits, dim)(if ((next() & 1L) == 0L) -1.0 else 1.0)
  }

  private def dotWithSigns(v: Column, signs: Array[Double]): Column =
    // codegen VecDot against the literal hyperplane row — the HOF
    // (aggregate/zip_with) equivalent runs interpreted and boxes every
    // element, dominating signature cost
    graft.functions.VecDot.vec_dot(v, typedLit(signs.toSeq))

  /** Bucket id per table: K sign bits packed into one INT.
    *
    * REFERENCE formulation (tables × bits separate VecDot expressions):
    * correct, but the generated projection blows past codegen method-size
    * limits at 16×8 and the stage falls back to interpreted eval. Query
    * paths use the fused `LshBucketsExpr` (bit-identical — asserted in
    * AnnIndexSpec); this stays as its equality oracle.
    */
  def bucketCols(v: Column, tables: Int = 16, bits: Int = 8, dim: Int = 64,
                 seed: Long = 42L): Seq[Column] = {
    val planes = hyperplanes(tables, bits, dim, seed)
    (0 until tables).map { t =>
      (0 until bits).map { b =>
        when(dotWithSigns(v, planes(t)(b)) > 0, 1 << b).otherwise(0)
      }.reduce(_ + _).as(s"bucket_$t")
    }
  }

  /** All bucket ids as one array<int> (fused codegen path). */
  def bucketArray(v: Column, tables: Int = 16, bits: Int = 8, dim: Int = 64,
                  seed: Long = 42L): Column =
    graft.functions.LshBuckets.lsh_buckets(v, tables, bits, dim, seed)

  /** Top-k nearest to `queryId`'s vector by cosine, searching only LSH
    * bucket collisions. Returns (vec_id, sim).
    */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int = 10,
              tables: Int = 16, bits: Int = 8, dim: Int = 64): DataFrame = {
    val keyed = embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        posexplode(bucketArray(col(vecCol), tables, bits, dim)).as(Seq("t", "bucket")))
    val queryBuckets = keyed.filter(col("vec_id") === queryId)
      .select(col("t"), col("bucket"), col("v").as("qv"))
    keyed.filter(col("vec_id") =!= queryId)
      .join(broadcast(queryBuckets), Seq("t", "bucket"))
      .groupBy("vec_id") // a candidate may collide in several tables
      .agg(first(col("v")).as("v"), first(col("qv")).as("qv"))
      .select(col("vec_id"),
        round(VectorMath.cosine(col("v"), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** BATCHED LSH top-k: one pass answers every query in `queryIds` (ids of
    * CORPUS members — an external vector set would bucket through the same
    * `bucketArray` and join identically, but is not parameterized here) —
    * the realistic serving shape: queries and corpus bucket ONCE each,
    * candidates come from one equality join on (table, bucket), and
    * per-query top-k is a partial-aggregating window, never a per-query
    * scan. Returns (query_id, vec_id, sim, rank) with rank 1..k.
    *
    * Scale: corpus side shuffles once on the bucket key; the query side is
    * usually small (broadcast). A query never matches itself.
    */
  def lshTopKBatch(embeddings: DataFrame, idCol: String, vecCol: String,
                   queryIds: Seq[Long], k: Int = 10,
                   tables: Int = 16, bits: Int = 8, dim: Int = 64): DataFrame = {
    require(queryIds.nonEmpty, "lshTopKBatch needs at least one query id")
    import org.apache.spark.sql.expressions.Window
    val keyed = embeddings
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        posexplode(bucketArray(col(vecCol), tables, bits, dim)).as(Seq("t", "bucket")))
    val queryBuckets = keyed.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"),
        col("v").as("qv"))
    val scored = keyed
      .join(broadcast(queryBuckets), Seq("t", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id") // a candidate may collide in several tables
      .agg(first(col("v")).as("v"), first(col("qv")).as("qv"))
      .select(col("query_id"), col("vec_id"),
        round(VectorMath.cosine(col("v"), col("qv")), 6).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Candidate count for a query under the LSH index (reduction metric). */
  def lshCandidateCount(embeddings: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, tables: Int = 16, bits: Int = 8,
                        dim: Int = 64): Long = {
    val keyed = embeddings
      .select(col(idCol).as("vec_id"),
        posexplode(bucketArray(col(vecCol), tables, bits, dim)).as(Seq("t", "bucket")))
    val queryBuckets = keyed.filter(col("vec_id") === queryId).drop("vec_id")
    keyed.filter(col("vec_id") =!= queryId)
      .join(broadcast(queryBuckets), Seq("t", "bucket"))
      .select("vec_id").distinct().count()
  }

  /** True IVF coarse quantizer without a label crutch: deterministic
    * Lloyd's k-means over the embedding column. Init = the vectors at k
    * evenly-strided ids (data-independent and replayable); each iteration
    * assigns every vector to its nearest centroid (broadcast k×dim
    * centroid table, codegen VecDot distances) and recomputes means via
    * posexplode + per-(cluster, dim) partial aggregation — no cluster's
    * vectors ever collect into one task, so the build scales exactly like
    * `centroids`. Returns (label, centroid) rows compatible with
    * `ivfTopK`'s quantizer input.
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1, s"need k >= 1 and iters >= 1")
    val pts = embeddings.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val n = pts.count()
    require(n >= k, s"k=$k exceeds corpus size $n")
    val stride = math.max(n / k, 1)
    var cents = pts
      .filter(pmod(col("_id"), lit(stride)) === 0 && col("_id") < stride * k)
      .select((col("_id") / stride).cast("int").as("label"),
        col("_v").cast("array<double>").as("centroid"))
      .localCheckpoint(true)
    // the strided init assumes DENSE 0-based ids (the corpus convention);
    // fail loudly on sparse/offset id spaces instead of silently building
    // an index with fewer clusters than asked for
    val seeded = cents.count()
    require(seeded == k,
      s"strided init found $seeded of $k seed ids — kmeansCentroids needs " +
        s"dense 0-based ids in $idCol (ids 0, $stride, ..., ${stride * (k - 1)})")
    for (_ <- 1 to iters) {
      // nearest centroid by cosine; label tiebreak keeps it deterministic
      val assigned = kmeansAssign(pts, "_id", "_v", cents)
      cents = assigned
        .select(col("label"), posexplode(col("_v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("label"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("centroid"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Nearest-centroid assignment: (id, vec, label) rows ready for
    * `ivfTopK`'s label-partitioned search. Broadcast centroids, one pass.
    */
  def kmeansAssign(embeddings: DataFrame, idCol: String, vecCol: String,
                   cents: DataFrame): DataFrame = {
    // internal names: the corpus may carry its own `label` column
    val c = cents.select(col("label").as("_km_label"),
      col("centroid").as("_km_centroid"))
    embeddings.select(col(idCol), col(vecCol))
      .join(broadcast(c))
      .withColumn("_d",
        VectorMath.cosine(col(vecCol), col("_km_centroid")))
      .groupBy(col(idCol))
      .agg(max_by(col("_km_label"), struct(col("_d"), -col("_km_label")))
        .as("label"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), col("label"))
  }

  /** IVF centroids from a cluster/label column: one mean vector per label.
    * Scale path: posexplode + per-(label, dim) partial-aggregated mean —
    * never collects a label's vectors into one task.
    */
  def centroids(embeddings: DataFrame, labelCol: String, vecCol: String): DataFrame =
    embeddings
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("label"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("centroid"))

  /** PERSIST the IVF index — the index-table discipline
    * (`TextDedup.bandedIndex`, `SimHash.segmentIndex`) for the ANN family:
    * k-means centroids + per-vector assignments written ONCE as catalog
    * tables, so serving queries stop paying the build (`ivfTopK`
    * recomputes centroids per query — right for gates, wrong for a
    * serving path).
    *
    * Layout choice, deliberate: the assignments table is PARTITIONED by
    * `label`, not bucketed. The probe pattern reads `nprobe` of `k`
    * labels; partition-level file pruning makes the scan touch only those
    * directories (asserted via the scan's dynamic-pruning filter in
    * `AnnIndexSpec`), which is strictly stronger than what bucketing
    * offers here — the probe join's small side (per-query probe labels)
    * broadcasts, so there is never an index-side shuffle for bucketing to
    * save; what scales is reading nprobe/k of the FILES. Centroids land
    * in `<indexTable>_centroids` (k rows — always broadcastable).
    */
  def ivfIndex(embeddings: DataFrame, idCol: String, vecCol: String,
               k: Int, indexTable: String, indexPath: String,
               iters: Int = 5): Unit = {
    val spark = embeddings.sparkSession
    val cents = kmeansCentroids(embeddings, idCol, vecCol, k, iters)
    kmeansAssign(embeddings, idCol, vecCol, cents)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        lit(0L).as("_seq"), col("label"))
      .write.mode("overwrite").option("path", indexPath)
      .partitionBy("label").saveAsTable(indexTable)
    // build-time staleness floor per label: the 5th-percentile cosine of
    // a member to its own centroid, computed off the just-written table
    // (one cheap re-read, never a recompute of the assignment lineage).
    // `indexStaleness` compares live vectors against it — the rebuild
    // trigger once appends drift away from the frozen centroids.
    val c = cents.select(col("label"), col("centroid"))
    val p05 = spark.table(indexTable)
      .join(broadcast(c), Seq("label"))
      .select(col("label"),
        VectorMath.cosine(col("v"), col("centroid")).as("_csim"))
      .groupBy(col("label"))
      .agg(percentile(col("_csim"), lit(0.05)).as("csim_p05"))
    cents.join(p05, Seq("label"))
      .write.mode("overwrite").option("path", s"${indexPath}_centroids")
      .saveAsTable(s"${indexTable}_centroids")
  }

  /** Append a DELTA of new vectors to a persisted `ivfIndex` — the
    * re-ingest shape for the ANN family (`incrementalAgainstIndex` /
    * `hammingAgainstIndex` for text and Hamming fingerprints): the delta
    * is assigned against the FROZEN centroid table (broadcast, one pass
    * over the delta only) and appended into the label-partitioned
    * assignments, so ingest cost is O(delta), never a rebuild or an
    * index rescan (the append job's plan touches only the delta and the
    * k-row centroid table — spec-asserted). Centroids deliberately do
    * NOT move: serving indexes refresh centroids on a rebuild cadence,
    * not per ingest, or recall drifts silently. A search after the
    * append sees old + new vectors through the same partition-pruned
    * probes.
    */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession,
                    indexTable: String, delta: DataFrame,
                    idCol: String, vecCol: String, seq: Long = 1L): Unit = {
    val cents = spark.table(s"${indexTable}_centroids")
    // append-mode insertInto only adds files to the delta's partitions —
    // no overwrite semantics in play.
    // `seq` is the ingest generation (monotone per caller — a batch id):
    // a RE-EMBEDDED id must pair its append with `deleteFromIndex` at a
    // seq at or above the old row's, or the stale vector — possibly in a
    // different label partition the search never probes — stays live.
    kmeansAssign(delta, idCol, vecCol, cents)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        lit(seq).as("_seq"), col("label"))
      .write.mode("append").insertInto(indexTable)
  }

  /** DELETE vectors from a persisted index — the missing half of the
    * ingest lifecycle (text/Hamming gate indexes already re-admit; a
    * removed or re-embedded vector here would otherwise stay searchable
    * forever). Deletes are TOMBSTONE rows in a side log
    * (`<indexTable>_deletes`: vec_id, _seq), never a partition rewrite
    * on the ingest path: O(ids) per call, and the search/staleness reads
    * apply the log as one broadcast join (the log is the small side by
    * construction — folding it into the label partitions is a rebuild-
    * cadence decision, same as moving centroids). A tombstone kills
    * every index row of that id with `_seq` at or below it, so
    * delete-then-reappend at a higher seq reintroduces the id cleanly.
    */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
                      indexTable: String, ids: Seq[Long], seq: Long): Unit = {
    val s2 = spark
    import s2.implicits._
    val rows = ids.map(i => (i, seq)).toDF("vec_id", "_seq")
    val delT = s"${indexTable}_deletes"
    if (spark.catalog.tableExists(delT))
      rows.write.mode("append").insertInto(delT)
    else rows.write.saveAsTable(delT)
  }

  /** The index's LIVE rows: tombstoned ids dropped via one broadcast
    * join against the delete log (absent log = the identity).
    */
  private[operators] def liveIndex(spark: org.apache.spark.sql.SparkSession,
                                   indexTable: String): DataFrame = {
    val idx = spark.table(indexTable)
    val delT = s"${indexTable}_deletes"
    if (!spark.catalog.tableExists(delT)) idx
    else {
      val dels = spark.table(delT).groupBy(col("vec_id"))
        .agg(max(col("_seq")).as("_del_seq"))
      idx.join(broadcast(dels), Seq("vec_id"), "left")
        .filter(col("_del_seq").isNull || col("_del_seq") < col("_seq"))
        .drop("_del_seq")
    }
  }

  /** Staleness of a persisted index under its FROZEN centroids: the
    * fraction of live vectors whose cosine to their assigned centroid
    * sits below the build-time 5th-percentile floor (`csim_p05`). At
    * build time this reads ~0.05 by construction; appends that drift
    * from the frozen quantizer push it up — the rebuild trigger.
    * Returns one row: (n_live, n_stale, stale_frac).
    */
  def indexStaleness(spark: org.apache.spark.sql.SparkSession,
                     indexTable: String): DataFrame = {
    val cents = spark.table(s"${indexTable}_centroids")
      .select(col("label"), col("centroid"), col("csim_p05"))
    liveIndex(spark, indexTable)
      .join(broadcast(cents), Seq("label"))
      .select(when(VectorMath.cosine(col("v"), col("centroid")) <
        col("csim_p05"), 1L).otherwise(0L).as("_stale"))
      .agg(count(lit(1)).as("n_live"), sum(col("_stale")).as("n_stale"))
      .withColumn("stale_frac",
        col("n_stale").cast("double") / col("n_live"))
  }

  /** Batched top-k against a PERSISTED `ivfIndex`: per query, rank the
    * (broadcast) centroid table by cosine, probe the `nprobe` best
    * labels, rerank candidates exactly. Returns
    * (query_id, vec_id, sim, rank), rank 1..k — `lshTopKBatch`'s output
    * shape. A corpus-member query never matches itself.
    *
    * Plan shape (spec-asserted): the probe frame broadcasts, so the index
    * scan joins WITHOUT an exchange, and the broadcast join key being the
    * partition column lets dynamic partition pruning cut the scan to the
    * probed labels' files — the only shuffle in the query is the final
    * per-query top-k window over candidates (~nprobe/k of the corpus).
    * `nprobe >= k` (full probe) reproduces exact brute-force top-k.
    */
  def searchAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                         indexTable: String, queries: DataFrame,
                         qidCol: String, qvecCol: String, k: Int = 10,
                         nprobe: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tombstoned ids never surface (one broadcast join, no label shuffle)
    val idx = liveIndex(spark, indexTable)
    val cents = spark.table(s"${indexTable}_centroids")
    val q = queries.select(col(qidCol).as("query_id"), col(qvecCol).as("qv"))
    val pw = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("label")) // label tiebreak: deterministic probes
    val probes = q.join(broadcast(cents))
      .select(col("query_id"), col("qv"), col("label"),
        VectorMath.cosine(col("centroid"), col("qv")).as("csim"))
      .withColumn("_r", row_number().over(pw))
      .filter(col("_r") <= nprobe)
      .select(col("query_id"), col("qv"), col("label"))
    val rw = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("vec_id"))
    idx.join(broadcast(probes), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VectorMath.cosine(col("v"), col("qv")), 6).as("sim"))
      .withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
  }

  /** Top-k by cosine probing only the `nprobe` nearest centroids' labels. */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
              labelCol: String, queryId: Long, k: Int = 10,
              nprobe: Int = 3): DataFrame = {
    val cents = centroids(embeddings, labelCol, vecCol)
    val qv = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv"))
    val probed = cents.join(broadcast(qv))
      .select(col("label"),
        VectorMath.cosine(col("centroid"), col("qv")).as("csim"))
      .orderBy(col("csim").desc, col("label")) // label tiebreak: deterministic probes
      .limit(nprobe)
      .select("label")
    embeddings.filter(col(idCol) =!= queryId)
      .join(broadcast(probed), embeddings(labelCol) === probed("label"))
      .join(broadcast(qv))
      .select(col(idCol).as("vec_id"),
        round(VectorMath.cosine(col(vecCol), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }
}
