package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The pattern-match transformer rule set (O-13/O-14) — CDC envelope →
  * domain event. Rule tables: reference `docs/design.md:247-277`,
  * `docs/system-design.md:159-186`; predicate logic `docs/design.md:283-322`
  * and `docs/system-design.md:213-227`.
  *
  * Every predicate is a pure column expression, so the whole rule engine
  * stays inside whole-stage codegen and Catalyst can fuse the N rule branches
  * over one shared scan. Dispatch by (table, op) is part of each rule's
  * filter; the engine unions the per-rule outputs (flatMap semantics:
  * one input event may fire several rules, `docs/design.md:628-650`).
  */
final case class TransformerRule(
    eventType: String,
    eventCategory: String,
    aggregateType: String,
    table: String,
    op: String,
    /** Extra predicate over `before`/`after` (beyond table+op dispatch). */
    predicate: Column,
    /** Aggregate id expression (string). */
    aggregateId: Column,
    /** Event-specific business payload (struct; serialized to JSON), built
      * from the rule table's own row schema: a full after-image payload
      * lists that table's columns, in its order, even when the envelope
      * carries a wider multi-table row.
      */
    payload: StructType => Column,
    enabled: Boolean = true) {

  /** Outbound subject per the reference's subject table
    * (docs/system-design.md:159-186; scheme docs/design.md:600-605).
    */
  def subject: String = Rules.subjects.getOrElse(
    eventType,
    s"events.hr.$eventCategory.${eventType.toLowerCase}")

  /** Full dispatch predicate: (table, op) routing + the business predicate. */
  def fires: Column =
    col("source.table") === table && col("op") === op && predicate

  /** The domain-event output as ONE struct column (Schemas.domainEvent
    * shape), so N rules can be evaluated in a single projection over a
    * single scan (see `Rules.applyTables`). `row`: this rule table's own
    * row schema.
    */
  def outputStruct(row: StructType): Column = struct(
    // Deterministic id = idempotency key (docs/system-design.md:367):
    // stable across replays, which makes the at-least-once sink
    // effectively exactly-once after dedup.
    md5(concat_ws("|", lit(eventType), aggregateId, col("ts_ms"))).as("eventId"),
    lit(eventType).as("eventType"),
    lit(eventCategory).as("eventCategory"),
    timestamp_millis(col("ts_ms")).as("timestamp"),
    aggregateId.cast("string").as("aggregateId"),
    lit(aggregateType).as("aggregateType"),
    lit("1.0").as("version"),
    to_json(payload(row)).as("payload"),
    struct(
      lit("hr-event-publisher").as("source"),
      concat_ws("|", col("source.table"), col("op"), col("ts_ms")).as("causationId"),
      lit(null).cast("string").as("correlationId"),
      lit(null).cast("string").as("userId")).as("metadata"),
    lit(subject).as("subject"))

  /** Apply to one table's envelope DataFrame → domain events (0..n rows). */
  def apply(envelopes: DataFrame): DataFrame =
    envelopes.filter(fires)
      .select(outputStruct(Rules.afterRow(envelopes)).as("_e"))
      .select(col("_e.*"))
}

object Rules {

  /** Subject per event type — docs/system-design.md:159-186 verbatim;
    * spec-gap types (DataUpdated, StockGranted) follow the same scheme.
    */
  val subjects: Map[String, String] = Map(
    "EmployeeHired" -> "events.hr.employee.hired",
    "EmployeePromoted" -> "events.hr.employee.promoted",
    "EmployeeTerminated" -> "events.hr.employee.terminated",
    "EmployeeTransferred" -> "events.hr.employee.transferred",
    "EmployeeDataUpdated" -> "events.hr.employee.updated",
    "DepartmentCreated" -> "events.hr.org.department.created",
    "DepartmentRestructured" -> "events.hr.org.department.restructured",
    "ManagerAssigned" -> "events.hr.org.manager.assigned",
    "TeamCompositionChanged" -> "events.hr.org.team.changed",
    "SalaryAdjusted" -> "events.hr.compensation.salary.adjusted",
    "BonusAwarded" -> "events.hr.compensation.bonus.awarded",
    "StockGranted" -> "events.hr.compensation.stock.granted",
    "LeaveRequested" -> "events.hr.attendance.leave.requested",
    "LeaveApproved" -> "events.hr.attendance.leave.approved",
    "AttendanceMarked" -> "events.hr.attendance.marked")

  private def ch(field: String): Column = // null-safe "field changed"
    !(col(s"before.$field") <=> col(s"after.$field"))

  /** A payload of fixed business fields. */
  private def fields(cs: Column*): StructType => Column = _ => struct(cs: _*)

  /** The full after image under `key`, rebuilt from the table's own
    * columns so its JSON bytes do not depend on how wide the envelope's
    * `after` struct is.
    */
  private def afterImage(key: String): StructType => Column = row =>
    struct(when(col("after").isNotNull,
      struct(row.fieldNames.toIndexedSeq.map(f =>
        col("after").getField(f).as(f)): _*)).as(key))

  /** The row schema of an envelope frame's `after` image. */
  private[cdc] def afterRow(envelopes: DataFrame): StructType =
    envelopes.schema("after").dataType.asInstanceOf[StructType]

  /** The full rule set, in evaluation order. */
  val all: Seq[TransformerRule] = Seq(
    TransformerRule("EmployeeHired", "employee", "Employee",
      "employees", "c", lit(true),
      col("after.id"),
      afterImage("employee")),

    TransformerRule("EmployeePromoted", "employee", "Employee",
      "employees", "u",
      ch("position_id") && col("after.salary") > col("before.salary") &&
        col("after.status") === "active",
      col("after.id"),
      fields(
        col("after.id").as("employeeId"),
        col("before.position_id").as("previousPositionId"),
        col("after.position_id").as("newPositionId"),
        col("before.salary").as("previousSalary"),
        col("after.salary").as("newSalary"))),

    TransformerRule("EmployeeTerminated", "employee", "Employee",
      "employees", "u",
      col("before.status") === "active" && col("after.status") === "terminated",
      col("after.id"),
      fields(
        col("after.id").as("employeeId"),
        col("after.hire_date").as("hireDate"),
        col("after.department_id").as("departmentId"))),

    TransformerRule("EmployeeTransferred", "employee", "Employee",
      "employees", "u",
      ch("department_id") && !ch("position_id"),
      col("after.id"),
      fields(
        col("after.id").as("employeeId"),
        col("before.department_id").as("fromDepartmentId"),
        col("after.department_id").as("toDepartmentId"))),

    TransformerRule("EmployeeDataUpdated", "employee", "Employee",
      "employees", "u",
      // "other employee updates": none of the specific lifecycle rules fired.
      // Each sub-predicate is coalesced to false before negation: the source
      // leaves salary/status nullable (init-db.sql), and under three-valued
      // logic a NULL comparand would make the negation NULL and silently
      // drop the event from every rule instead of falling through here.
      !coalesce(ch("position_id") && col("after.salary") > col("before.salary") &&
        col("after.status") === "active", lit(false)) &&
        !coalesce(col("before.status") === "active" &&
          col("after.status") === "terminated", lit(false)) &&
        !coalesce(ch("department_id") && !ch("position_id"), lit(false)),
      col("after.id"),
      afterImage("employee")),

    TransformerRule("DepartmentCreated", "org", "Department",
      "departments", "c", lit(true),
      col("after.id"),
      afterImage("department")),

    TransformerRule("DepartmentRestructured", "org", "Department",
      "departments", "u", ch("parent_department_id"),
      col("after.id"),
      fields(
        col("after.id").as("departmentId"),
        col("before.parent_department_id").as("previousParentId"),
        col("after.parent_department_id").as("newParentId"))),

    TransformerRule("ManagerAssigned", "org", "Department",
      "departments", "u", ch("manager_id"),
      col("after.id"),
      fields(
        col("after.id").as("departmentId"),
        col("before.manager_id").as("previousManagerId"),
        col("after.manager_id").as("newManagerId"))),

    TransformerRule("SalaryAdjusted", "compensation", "Employee",
      "salary_changes", "c", lit(true),
      col("after.employee_id"),
      fields(
        col("after.employee_id").as("employeeId"),
        col("after.old_salary").as("oldSalary"),
        col("after.new_salary").as("newSalary"),
        col("after.reason").as("reason"),
        col("after.effective_date").as("effectiveDate"))),

    TransformerRule("BonusAwarded", "compensation", "Employee",
      "bonuses", "c", lit(true),
      col("after.employee_id"),
      afterImage("bonus")),

    TransformerRule("StockGranted", "compensation", "Employee",
      "stock_grants", "c", lit(true),
      col("after.employee_id"),
      afterImage("grant")),

    TransformerRule("LeaveRequested", "attendance", "LeaveRequest",
      "leave_requests", "c", lit(true),
      col("after.id"),
      fields(
        col("after.id").as("leaveRequestId"),
        col("after.employee_id").as("employeeId"),
        col("after.leave_type").as("leaveType"),
        col("after.start_date").as("startDate"),
        col("after.end_date").as("endDate"),
        col("after.reason").as("reason"))),

    TransformerRule("LeaveApproved", "attendance", "LeaveRequest",
      "leave_requests", "u",
      col("before.status") =!= "approved" && col("after.status") === "approved",
      col("after.id"),
      fields(
        col("after.id").as("leaveRequestId"),
        col("after.employee_id").as("employeeId"),
        col("after.approved_by").as("approvedBy"))),

    TransformerRule("AttendanceMarked", "attendance", "AttendanceRecord",
      "attendance_records", "c", lit(true),
      col("after.id"),
      fields(
        col("after.id").as("attendanceRecordId"),
        col("after.employee_id").as("employeeId"),
        col("after.attendance_date").as("attendanceDate"),
        col("after.status").as("status"))))

  def byEventType(t: String): TransformerRule = all.find(_.eventType == t).get

  /** Tables that at least one enabled rule reads, in rule order. */
  def tables: Seq[String] = all.filter(_.enabled).map(_.table).distinct

  /** An empty domain-event frame. */
  def noEvents(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.domainEvent)

  /** Every table's rules in ONE pass over a multi-table envelope frame.
    * `envelopes` types `before`/`after` as the union of the row schemas in
    * `rows` (`Schemas.union`) and carries the wire's ledger `table` column.
    * A row runs only the rules of the table it is filed under (a `CASE` on
    * `table`): an envelope whose `source.table` names another table fires
    * nothing, as it would if every table were parsed on its own, and no
    * row pays for the other tables' guards. Each payload is built from its
    * table's own row schema in `rows`.
    *
    * Why a `CASE` and not one flat array of guarded rules: the generator's
    * code for every table lands in one JVM method, past HotSpot's
    * 8000-byte JIT limit (15.7k bytes for the daily mix's 11 rules), so it
    * runs interpreted and its per-row cost is the bytecode it executes.
    * The dispatch cut transform time ~20% against a flat array on a
    * 200k-event daily-mix wire (4 cores).
    */
  def applyTables(envelopes: DataFrame,
                  rows: Seq[(String, StructType)]): DataFrame = {
    val byTable = rows.flatMap { case (t, row) =>
      outputs(all.filter(r => r.enabled && r.table == t), row)
        .map(o => (col("table") === t, o))
    }
    explodeEvents(envelopes, byTable.headOption.map { case (c, o) =>
      byTable.tail.foldLeft(when(c, o)) { case (acc, (c2, o2)) => acc.when(c2, o2) }
    })
  }

  /** The array of `rules`' guarded output structs; None without rules
    * (e.g. "positions": captured but no rules).
    */
  private[cdc] def outputs(rules: Seq[TransformerRule], row: StructType): Option[Column] =
    if (rules.isEmpty) None
    else Some(array(rules.map(r => when(r.fires, r.outputStruct(row))): _*))

  /** One generator evaluates the guarded output structs, `explode` flattens
    * them, and a null filter drops the non-firing branches (flatMap
    * semantics, docs/design.md:628-650); no outputs → an empty stream.
    * Exactly ONE scan of the envelope source regardless of rule count — a
    * per-rule union would re-read the source once per rule (N× read
    * amplification at 100 TB, since Spark does not dedupe scans across
    * batch union branches).
    *
    * Deliberately `explode` + `isNotNull`, NOT `array_compact`:
    * `array_compact` is a higher-order function (`ArrayFilter`), a
    * `CodegenFallback` — wrapping the rule array in it forces the whole
    * subtree (md5 event ids, to_json payloads, every `when` guard) into
    * interpreted evaluation, measured at ~0.7 ms/row vs ~0.1 ms/row for
    * the codegen'd Generate + Filter form (round 4 stage bisection, see
    * git history).
    */
  private[cdc] def explodeEvents(envelopes: DataFrame,
                                 outputs: Option[Column]): DataFrame =
    outputs.fold(noEvents(envelopes.sparkSession))(o =>
      envelopes
        .select(explode(o).as("_e"))
        .filter(col("_e").isNotNull)
        .select(col("_e.*")))
}
