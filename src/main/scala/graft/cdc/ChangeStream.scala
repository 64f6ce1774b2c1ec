package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core envelope operators: unwrap (O-12), subject routing (O-6),
  * serialization (O-18), include-filtering (O-3), snapshot bootstrap (O-2).
  * All are `DataFrame => DataFrame` so they compose identically in batch and
  * streaming plans and Catalyst optimizes across them.
  */
object ChangeStream {

  /** `HCM.CDC.HR.<db>.<table>` — application.properties:12 + README.md:117. */
  def subjectCol(prefix: String = "HCM.CDC.HR"): Column =
    concat_ws(".", lit(prefix), col("source.db"), col("source.table"))

  /** ExtractNewRecordState (O-12): flatten the envelope to the after image.
    * With `dropTombstones = false`, delete events survive as rows whose data
    * columns are null (the Debezium `drop.tombstones=false` semantics,
    * docs/design.md:59-62).
    */
  def unwrap(envelopes: DataFrame, dropTombstones: Boolean = true): DataFrame = {
    val base = if (dropTombstones) envelopes.filter(col("after").isNotNull) else envelopes
    base.select(col("after.*"), col("op"), col("ts_ms"))
  }

  /** Serialize to the wire format: JSON key (primary key) + JSON value
    * (application.properties:26-27), plus the routing subject.
    */
  def serialize(envelopes: DataFrame, keyColumns: Seq[String]): DataFrame = {
    val keyStruct = struct(keyColumns.map(k => col(s"after.$k").as(k)): _*)
    val delKeyStruct = struct(keyColumns.map(k => col(s"before.$k").as(k)): _*)
    envelopes.select(
      when(col("after").isNotNull, to_json(keyStruct))
        .otherwise(to_json(delKeyStruct)).as("key"),
      to_json(struct(col("before"), col("after"), col("source"), col("op"), col("ts_ms"))).as("value"),
      subjectCol().as("subject"),
      col("ts_ms"))
  }

  /** Initial snapshot (O-2): current table state emitted as op='r' envelopes
    * ahead of the stream (docs/cdc-guide.md:147).
    */
  def snapshot(state: DataFrame, db: String, table: String, snapshotTsMs: Long): DataFrame = {
    val img = struct(state.columns.map(col): _*)
    state.select(
      lit(null).cast(state.schema).as("before"),
      img.as("after"),
      struct(
        lit("1.0").as("version"),
        lit("graft").as("connector"),
        lit("HCM.CDC.HR").as("name"),
        lit(snapshotTsMs).as("ts_ms"),
        lit(db).as("db"),
        lit(table).as("table")).as("source"),
      lit("r").as("op"),
      lit(snapshotTsMs).as("ts_ms"))
  }

  /** Parse wire-format JSON values back into typed envelopes (O-18 inverse).
    * Schema is always explicit — never inferred (SURVEY.md §1.4).
    */
  def deserialize(wire: DataFrame, table: org.apache.spark.sql.types.StructType): DataFrame =
    wire.select(from_json(col("value"), Schemas.envelope(table)).as("e"))
      .select(col("e.*"))
}
