package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-only scale-up generator (round 6): materializes an N× copy of an
  * sf dir's documents/embeddings/events tables for the scale sweep —
  * NOT correctness data (the driver's oracle gate stays on the driver-
  * generated sf dirs; this exists to measure that per-query time scales
  * ~linearly where the plans claim it should).
  *
  * Each copy is made DISJOINT from the others so the workload keeps the
  * source distribution instead of planting cross-copy duplicate clusters:
  *  - documents: every word gets a per-copy suffix → zero cross-copy
  *    shingle overlap; each copy contributes its own planted near-dup
  *    pairs, so pair counts scale ×N, not ×N².
  *  - embeddings: ids offset; one dimension nudged by a per-copy epsilon
  *    (cross-copy cosines shift off the planted-duplicate thresholds).
  *  - events: user ids offset per copy → per-user session/as-of structure
  *    preserved, key cardinality ×N.
  *
  * Usage: ScaleDataGen <srcSfDir> <outDir> <copies>
  */
object ScaleDataGen {
  // id offsets stay DENSE (stride = max id + 1): PQ's strided codebook
  // init validates dense 0-based vec_ids, and dense ids keep id-derived
  // structure (mod-block tiling, stratified md5 keys) distribution-true
  private def stride(df: DataFrame, idCol: String): Long =
    df.agg(max(col(idCol))).head.getLong(0) + 1L

  private def copiesOf(copies: Int)(mk: Int => DataFrame): DataFrame =
    (0 until copies).map(mk).reduce(_ unionByName _)

  /** `copies` disjoint copies of `src`'s documents table: ids offset by a
    * dense stride and every word suffixed per copy, so no shingle is shared
    * across copies and each copy keeps only its own planted near-dups.
    */
  def documents(spark: SparkSession, src: String, copies: Int): DataFrame = {
    val docs = Tables(spark, src, "documents")
    val docStride = stride(docs, "doc_id")
    copiesOf(copies) { c =>
      docs.select(
        (col("doc_id") + lit(c * docStride)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " ", -1),
          w => concat(w, lit(s"_$c")))).as("text"),
        col("lang"), col("source"))
    }.withColumn("n_chars", length(col("text")).cast("bigint"))
  }

  def main(args: Array[String]): Unit = {
    val Array(src, out, copiesS) = args.take(3)
    val copies = copiesS.toInt
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val union = copiesOf(copies) _
    documents(spark, src, copies)
      .repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables(spark, src, "embeddings")
    val embStride = stride(emb, "vec_id")
    union { c =>
      emb.select(
        (col("vec_id") + lit(c * embStride)).as("vec_id"),
        transform(col("embedding"),
          (v, i) => when(i === 0, v + lit(c * 1e-3f)).otherwise(v))
          .as("embedding"),
        col("label"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val ev = Tables(spark, src, "events")
    val evStride = stride(ev, "event_id")
    val userStride = stride(ev, "user_id")
    union { c =>
      ev.select(
        (col("event_id") + lit(c * evStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(c * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    // Relational star schema (round 11, for the sf1 certification sweep):
    // each copy is a disjoint sub-database — every surrogate key offsets
    // by its own dense stride, and the foreign keys offset by the
    // REFERENCED table's stride so joins stay copy-local (join
    // selectivity, orphan rates and group sizes keep the source
    // distribution; nothing joins across copies). nation/region are
    // fixed-size shared dimensions and copy through verbatim, so
    // nationkey references stay valid. c_name gets the documents-style
    // per-copy suffix: the sorted-neighborhood ER queries would
    // otherwise see 10 identical copies of every name as dist-0 pairs —
    // a different (quadratic-in-copies) workload than the source's.
    val cust = Tables(spark, src, "customer")
    val custStride = stride(cust, "c_custkey")
    union { c =>
      cust.select(
        (col("c_custkey") + lit(c * custStride)).as("c_custkey"),
        concat(col("c_name"), lit(s"_$c")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")

    val supp = Tables(spark, src, "supplier")
    val suppStride = stride(supp, "s_suppkey")
    union { c =>
      supp.select(
        (col("s_suppkey") + lit(c * suppStride)).as("s_suppkey"),
        concat(col("s_name"), lit(s"_$c")).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/supplier.parquet")

    val part = Tables(spark, src, "part")
    val partStride = stride(part, "p_partkey")
    union { c =>
      part.select(
        (col("p_partkey") + lit(c * partStride)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/part.parquet")

    val ord = Tables(spark, src, "orders")
    val ordStride = stride(ord, "o_orderkey")
    union { c =>
      ord.select(
        (col("o_orderkey") + lit(c * ordStride)).as("o_orderkey"),
        (col("o_custkey") + lit(c * custStride)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/orders.parquet")

    val li = Tables(spark, src, "lineitem")
    union { c =>
      li.select(
        (col("l_orderkey") + lit(c * ordStride)).as("l_orderkey"),
        (col("l_partkey") + lit(c * partStride)).as("l_partkey"),
        (col("l_suppkey") + lit(c * suppStride)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    Seq("nation", "region").foreach { t =>
      Tables(spark, src, t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }

    println(s"[scale] wrote ${copies}x of $src to $out")
    spark.stop()
  }
}
