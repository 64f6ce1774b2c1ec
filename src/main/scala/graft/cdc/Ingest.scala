package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest/merge semantics the source database provides in DDL and the
  * engine must re-express (SURVEY §2.6, §7.4; `sql/init-db.sql:96-113`):
  * `INSERT IGNORE` (insert-if-absent on a unique key), AUTO_INCREMENT
  * surrogate keys, and `DEFAULT CURRENT_TIMESTAMP` /
  * `ON UPDATE CURRENT_TIMESTAMP` column defaults.
  *
  * All operators take explicit `nowMs` — never wall-clock inside the plan —
  * so replays are deterministic (the same idempotency discipline as the
  * streaming sinks).
  */
object Ingest {

  /** INSERT IGNORE: rows whose unique key already exists are dropped, as
    * are duplicate keys WITHIN the incoming batch (first by `orderCol`
    * wins, matching row-order semantics of the SQL script). One left-anti
    * broadcast/shuffle join on the key — no full-table rewrite.
    */
  def insertIgnore(existing: DataFrame, incoming: DataFrame,
                   keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val firstPerKey = incoming
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    firstPerKey.join(existing.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
  }

  /** AUTO_INCREMENT: assign dense ids continuing from the existing
    * maximum, in `orderCol` order. Dense assignment is inherently a
    * global order, but NEVER a global window (`row_number().over(
    * Window.orderBy(...))` funnels the whole batch through one task):
    * the `Pack.packBins` discipline instead — range-partition on the
    * order key (partitions are globally ordered; equal keys land
    * together), count rows per partition, exclusive-prefix those counts
    * (ONE ROW PER PARTITION — a metadata stage, not a data stage), and
    * add each partition's broadcast offset to its local row_number. The
    * ranged frame materializes once so the count pass and the assign
    * pass see the SAME sampled range boundaries. For fact loads where
    * contiguity is not required, `autoIncrementSparse` below skips even
    * the range shuffle.
    */
  def autoIncrement(df: DataFrame, idCol: String, startFrom: Long,
                    orderCol: String): DataFrame = {
    val ranged = df.repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    val offsets = ranged.groupBy(col("_pid"))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_offset", coalesce(
        sum(col("_n")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_offset"))
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
    ranged.join(broadcast(offsets), Seq("_pid"))
      .withColumn(idCol,
        (row_number().over(w) + col("_offset") + startFrom).cast("int"))
      .drop("_pid")
  }

  /** Scalable surrogate keys: unique and increasing but non-contiguous
    * (partition-offset + local index), no global sort, no shuffle.
    */
  def autoIncrementSparse(df: DataFrame, idCol: String, startFrom: Long): DataFrame =
    df.withColumn(idCol, (monotonically_increasing_id() + startFrom + 1).cast("bigint"))

  /** Upsert with MySQL timestamp semantics (`ON UPDATE CURRENT_TIMESTAMP`):
    *  - new keys are inserted with created_at = updated_at = now,
    *  - existing keys whose compared columns changed take the incoming
    *    values, keep created_at, and get updated_at = now,
    *  - unchanged rows pass through untouched.
    * One full-outer join on the key; at scale this is the standard
    * copy-on-write merge (pair with partition pruning on the key range).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             compareCols: Seq[String], nowMs: Long): DataFrame = {
    val now = timestamp_millis(lit(nowMs))
    val e = existing.withColumn("_in_e", lit(true)).alias("e")
    val i = incoming.withColumn("_in_i", lit(true)).alias("i")
    val joined = e.join(i, keys.toSeq, "full_outer")
    val isInsert = col("e._in_e").isNull
    // `changed` must require presence on the incoming side: an existing row
    // absent from the batch has all-NULL incoming columns, and an unguarded
    // `!(e.c <=> i.c)` would fire on every such row, rewriting updated_at
    // across the whole table on every incremental merge.
    val changed = col("i._in_i").isNotNull && coalesce(
      compareCols.map(c => !(col(s"e.$c") <=> col(s"i.$c"))).reduceLeft(_ || _),
      lit(false))
    val dataCols = existing.columns.filterNot(keys.contains)
    val picked = keys.map(col) ++ dataCols.map {
      case c if !incoming.columns.contains(c) && c != "created_at" && c != "updated_at" =>
        col(s"e.$c").as(c) // engine-managed column (e.g. surrogate id)
      case "created_at" =>
        when(isInsert, now).otherwise(col("e.created_at")).as("created_at")
      case "updated_at" =>
        when(isInsert || changed, now).otherwise(col("e.updated_at")).as("updated_at")
      case c =>
        // Incoming values win outright for inserted/changed rows — including
        // explicit NULLs, matching ON DUPLICATE KEY UPDATE (a coalesce here
        // would silently refuse non-null -> NULL transitions).
        when(isInsert || changed, col(s"i.$c")).otherwise(col(s"e.$c")).as(c)
    }
    joined.select(picked: _*)
  }
}
