package graft.cdc

import org.apache.spark.sql.types._

/** Schemas for the HR domain (reference: `sql/init-db.sql`) and the
  * Debezium-style change-event envelope (`docs/cdc-guide.md:134-151`).
  *
  * Type mapping decisions (SURVEY.md §1.2):
  *  - DECIMAL(12,2) for money — never Double.
  *  - MariaDB TIME (`check_in_time`) → StringType "HH:mm:ss" (no Spark TIME).
  *  - TIMESTAMP → TimestampType (session timezone UTC).
  */
object Schemas {

  val employees: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("employee_number", StringType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("position_id", StringType),
    StructField("department_id", IntegerType),
    StructField("manager_id", IntegerType),
    StructField("salary", DecimalType(12, 2)),
    StructField("hire_date", DateType),
    StructField("status", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val departments: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("name", StringType),
    StructField("parent_department_id", IntegerType),
    StructField("manager_id", IntegerType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val positions: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("title", StringType),
    StructField("level", StringType),
    StructField("salary_min", DecimalType(12, 2)),
    StructField("salary_max", DecimalType(12, 2)),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val salaryChanges: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("employee_id", IntegerType),
    StructField("old_salary", DecimalType(12, 2)),
    StructField("new_salary", DecimalType(12, 2)),
    StructField("reason", StringType),
    StructField("effective_date", DateType),
    StructField("approved_by", IntegerType),
    StructField("created_at", TimestampType)))

  val leaveRequests: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("employee_id", IntegerType),
    StructField("leave_type", StringType),
    StructField("start_date", DateType),
    StructField("end_date", DateType),
    StructField("status", StringType),
    StructField("approved_by", IntegerType),
    StructField("reason", StringType),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType)))

  val attendanceRecords: StructType = StructType(Seq(
    StructField("id", IntegerType),
    StructField("employee_id", IntegerType),
    StructField("attendance_date", DateType),
    StructField("check_in_time", StringType),
    StructField("check_out_time", StringType),
    StructField("status", StringType),
    StructField("notes", StringType),
    StructField("created_at", TimestampType)))

  /** table name -> row schema, for every captured table. Spec-only tables
    * (`bonuses`, `stock_grants` — docs/design.md:272-274) get minimal
    * schemas so their rules are executable.
    */
  val tables: Map[String, StructType] = Map(
    "employees" -> employees,
    "departments" -> departments,
    "positions" -> positions,
    "salary_changes" -> salaryChanges,
    "leave_requests" -> leaveRequests,
    "attendance_records" -> attendanceRecords,
    "bonuses" -> StructType(Seq(
      StructField("id", IntegerType),
      StructField("employee_id", IntegerType),
      StructField("amount", DecimalType(12, 2)),
      StructField("reason", StringType),
      StructField("awarded_date", DateType),
      StructField("created_at", TimestampType))),
    "stock_grants" -> StructType(Seq(
      StructField("id", IntegerType),
      StructField("employee_id", IntegerType),
      StructField("shares", IntegerType),
      StructField("grant_date", DateType),
      StructField("vesting_months", IntegerType),
      StructField("created_at", TimestampType))))

  /** One row schema holding every column of `rows` (table -> row schema),
    * in first-seen order, so one `from_json` can parse envelopes of all
    * those tables. A column two tables declare with different types fails
    * loudly, naming the column and both tables: there is no type one parse
    * could give it for both.
    */
  def union(rows: Seq[(String, StructType)]): StructType = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, (String, StructField)]
    for ((t, row) <- rows; f <- row.fields) seen.get(f.name) match {
      case Some((t0, f0)) =>
        require(f0.dataType == f.dataType,
          s"column ${f.name} is ${f0.dataType.simpleString} in $t0 but " +
            s"${f.dataType.simpleString} in $t: the tables cannot share one parse")
      case None => seen(f.name) = (t, f)
    }
    StructType(seen.values.map(_._2).toSeq)
  }

  val source: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("connector", StringType),
    StructField("name", StringType),
    StructField("ts_ms", LongType),
    StructField("db", StringType),
    StructField("table", StringType)))

  /** Debezium envelope for one table's change events. */
  def envelope(table: StructType): StructType = StructType(Seq(
    StructField("before", table, nullable = true),
    StructField("after", table, nullable = true),
    StructField("source", source),
    StructField("op", StringType),
    StructField("ts_ms", LongType)))

  /** Domain-event envelope (`docs/system-design.md:189-209`). `payload` is
    * JSON text so heterogeneous rule outputs union into one stream; the
    * structured form exists per-rule before serialization.
    */
  val domainEvent: StructType = StructType(Seq(
    StructField("eventId", StringType),
    StructField("eventType", StringType),
    StructField("eventCategory", StringType),
    StructField("timestamp", TimestampType),
    StructField("aggregateId", StringType),
    StructField("aggregateType", StringType),
    StructField("version", StringType),
    StructField("payload", StringType),
    StructField("metadata", StructType(Seq(
      StructField("source", StringType),
      StructField("causationId", StringType),
      StructField("correlationId", StringType),
      StructField("userId", StringType)))),
    StructField("subject", StringType)))
}
