package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Readers for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under the given scale-factor directory.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // round-16 (tail fixed-overhead audit): every Tables() call used to
  // re-infer the parquet schema — a footer read + file listing per call,
  // paid by every query (and 2-4× by multi-table queries) before any row
  // moves. The schema is memoized per file VERSION — path, modification
  // time and length, from one getFileStatus — and handed to the reader
  // explicitly, so a table rewritten in the same JVM is re-inferred
  // instead of read through its stale schema. This caches metadata only —
  // never rows or results; the scan itself re-reads the parquet on every
  // execution exactly as before.
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long),
      org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts has shifted parquet encodings across driver generations:
    // TIMESTAMP(NANOS) (which Spark 4 refuses to read as a timestamp —
    // read as raw nanos and floor-truncate to micros, exactly DuckDB's
    // epoch_us on the same column), and timestamp[us] with
    // isAdjustedToUTC=false (TIMESTAMP_NTZ — cast to the session-UTC
    // TIMESTAMP, which preserves the stored micros and matches DuckDB's
    // naive reading). Either way downstream code sees TimestampType.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = new Path(s"$dir/$name.parquet")
    val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path)
    val schema = schemaCache.computeIfAbsent(
      (st.getPath.toString, st.getModificationTime, st.getLen),
      _ => spark.read.parquet(path.toString).schema)
    val df = spark.read.schema(schema).parquet(path.toString)
    val nanosFixed =
      if (df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType))
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else df
    nanosFixed.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(nanosFixed)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampType)))
  }
}
