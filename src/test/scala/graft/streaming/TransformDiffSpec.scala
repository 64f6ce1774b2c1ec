package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Union}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.cdc.{ChangeStream, Fixtures, Rules, SchemaHistory, Schemas, TestRules}
import graft.sources.Ledger

/** Differential check of the single-pass multi-table `Pipeline.transform`
  * against the naive per-table form it replaced: filter the wire to one
  * table → parse with that table's schema (or its schema history) → that
  * table's rules → union. The naive form lives only here. Rows compare as
  * full JSON, payload bytes included, over generated multi-table ledgers
  * with adversarial envelopes.
  */
class TransformDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cut = Fixtures.T0 + 500000L

  /** v1 wrote the salary as `sal` and carried a `nickname` that v2 drops. */
  private val employeesHistory = SchemaHistory.History("employees", Seq(
    SchemaHistory.Version(1, 0L, StructType(Schemas.employees.fields.map(f =>
      if (f.name == "salary") f.copy(name = "sal") else f) :+
      Schemas.employees("email").copy(name = "nickname"))),
    SchemaHistory.Version(2, cut, Schemas.employees,
      renames = Map("sal" -> "salary"))))

  /** Rule outputs whose payload is the whole after image, under this key. */
  private val imageKeys = Map("EmployeeHired" -> "employee",
    "EmployeeDataUpdated" -> "employee", "DepartmentCreated" -> "department",
    "BonusAwarded" -> "bonus", "StockGranted" -> "grant")

  /** The rules with full-image payloads taken straight from the parsed
    * `after` struct, as they were before payloads were rebuilt per table.
    */
  private val naiveRules = Rules.all.map(r => imageKeys.get(r.eventType)
    .fold(r)(k => r.copy(payload = _ => struct(col("after").as(k)))))

  private def naive(wire: DataFrame, tables: Seq[String],
                    histories: Map[String, SchemaHistory.History]): DataFrame =
    tables.filter(t => Rules.all.exists(_.table == t)).map { t =>
      val byTable = wire.filter(col("table") === t)
      val envelopes = histories.get(t).fold(
        ChangeStream.deserialize(byTable, Schemas.tables(t)))(h =>
        SchemaHistory.deserializeEvolved(byTable, h).drop("schema_version"))
      TestRules.applyAll(envelopes, t, naiveRules)
    }.reduce(_.unionByName(_))

  private def rows(df: DataFrame): Seq[String] =
    df.select(to_json(struct(df.columns.toSeq.map(col): _*))).collect()
      .map(_.getString(0)).toSeq.sorted

  private def q(s: String) = "\"" + s + "\""
  private def opt[A](r: Random, p: Double)(v: => A): String =
    if (r.nextDouble() < p) "null" else v.toString
  private def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private val stamp = q("2024-06-10T05:33:20Z")
  private def day(r: Random) = q(f"2024-0${1 + r.nextInt(9)}-1${r.nextInt(10)}")
  private def money(r: Random) = s"${40000 + r.nextInt(8) * 5000}.00"
  private def pick(r: Random, xs: String*) = xs(r.nextInt(xs.length))

  /** One row image of `table`; employees rows before `cut` use v1 names. */
  private def image(table: String, r: Random, id: Int, ts: Long): String =
    table match {
      case "employees" =>
        val salary = opt(r, 0.2)(money(r))
        obj(Seq("id" -> id.toString, "employee_number" -> q(s"EMP$id"),
          "first_name" -> q("F"), "last_name" -> q(s"L$id"),
          "email" -> q(s"e$id@company.com"),
          "position_id" -> opt(r, 0.1)(q(pick(r, "IC1", "IC2", "IC3"))),
          "department_id" -> opt(r, 0.1)(1 + r.nextInt(3)),
          "manager_id" -> opt(r, 0.5)(1 + r.nextInt(3)),
          (if (ts < cut) "sal" else "salary") -> salary,
          "hire_date" -> day(r),
          "status" -> opt(r, 0.2)(q(pick(r, "active", "terminated", "on_leave"))),
          "created_at" -> stamp, "updated_at" -> stamp) ++
          (if (ts < cut) Seq("nickname" -> q(s"n$id")) else Nil) ++
          // a stray field another table declares with a clashing value:
          // only that field may fail in the union parse
          (if (r.nextDouble() < 0.1) Seq("amount" -> q("n/a")) else Nil): _*)
      case "departments" =>
        Fixtures.dept(id % 5, s"D$id",
          parent = opt(r, 0.4)(1 + r.nextInt(3)),
          managerId = opt(r, 0.4)(1 + r.nextInt(3)))
      case "positions" =>
        Fixtures.pos(s"IC${id % 5}", "Engineer", money(r), money(r))
      case "salary_changes" =>
        obj("id" -> id.toString, "employee_id" -> (1 + r.nextInt(5)).toString,
          "old_salary" -> money(r), "new_salary" -> opt(r, 0.2)(money(r)),
          "reason" -> q("review"), "effective_date" -> day(r),
          "approved_by" -> opt(r, 0.5)(1), "created_at" -> stamp)
      case "leave_requests" =>
        obj("id" -> (id % 7).toString, "employee_id" -> "2",
          "leave_type" -> q("vacation"), "start_date" -> day(r),
          "end_date" -> day(r),
          "status" -> opt(r, 0.2)(q(pick(r, "pending", "approved"))),
          "approved_by" -> opt(r, 0.5)(1), "reason" -> q("rest"),
          "created_at" -> stamp, "updated_at" -> stamp)
      case "attendance_records" =>
        obj("id" -> id.toString, "employee_id" -> (1 + r.nextInt(5)).toString,
          "attendance_date" -> day(r), "check_in_time" -> q("09:00:00"),
          "check_out_time" -> opt(r, 0.3)(q("17:30:00")),
          "status" -> q(pick(r, "present", "late")), "notes" -> opt(r, 0.7)(q("n")),
          "created_at" -> stamp)
      case "bonuses" =>
        obj("id" -> id.toString, "employee_id" -> "3", "amount" -> money(r),
          "reason" -> opt(r, 0.3)(q("q3")), "awarded_date" -> day(r),
          "created_at" -> stamp)
      case "stock_grants" =>
        obj("id" -> id.toString, "employee_id" -> "4",
          "shares" -> (10 * (1 + r.nextInt(9))).toString, "grant_date" -> day(r),
          "vesting_months" -> opt(r, 0.3)(48), "created_at" -> stamp)
    }

  private val ledgerTables = Seq("employees", "departments", "positions",
    "salary_changes", "leave_requests", "attendance_records", "bonuses",
    "stock_grants")

  /** A two-segment ledger per table. Envelopes: c/u/d with null before
    * images on creates (and on some updates), null salaries and statuses,
    * in-segment resends of the previous line, employee images carrying a
    * stray `amount` string, a `positions` dir (no rules), and misfiled
    * envelopes whose `source.table` names another table than their ledger
    * dir (at least one per segment).
    */
  private def writeLedger(seed: Long): String = {
    val root = Files.createTempDirectory("diffledger").toString
    val r = new Random(seed)
    var ts = Fixtures.T0
    var id = 0
    for (dir <- ledgerTables; seg <- 1 to 2) {
      val lines = (0 until 30).flatMap { i =>
        ts += 1 + r.nextInt(40000)
        id += 1
        val table =
          if (i == 0 || r.nextDouble() < 0.05)
            ledgerTables.filterNot(_ == dir)(r.nextInt(ledgerTables.size - 1))
          else dir
        val op = pick(r, "c", "c", "u", "u", "u", "d")
        val before =
          if (op == "c" || r.nextDouble() < 0.1) "null" else image(table, r, id, ts)
        val after = if (op == "d") "null" else image(table, r, id, ts)
        val line = Fixtures.env(table, op, before, after, ts)
        if (r.nextDouble() < 0.1) Seq(line, line) else Seq(line)
      }
      Ledger.writeSegment(root, "hrdb", dir, f"$seg%06d.jsonl", lines)
    }
    root
  }

  test("single-pass transform equals the per-table reference, row for row " +
      "and payload byte for byte, on generated multi-table ledgers") {
    for (seed <- Seq(11L, 12L, 13L)) {
      val wire = spark.read.format("graft-changelog")
        .option("path", writeLedger(seed)).load()
      val cases: Seq[(Option[Seq[String]], Map[String, SchemaHistory.History])] =
        Seq(
          (None, Map.empty),
          (Some(Seq("employees", "departments", "positions", "bonuses")),
            Map.empty),
          (None, Map("employees" -> employeesHistory)))
      for ((present, histories) <- cases) withClue(
          s"seed $seed, tables $present, histories ${histories.keys}: ") {
        val got = rows(Pipeline.transform(wire, present, histories))
        val want = rows(naive(wire, present.getOrElse(ledgerTables), histories))
        assert(got.size > 100)
        assert(got == want)
        val types = got.map(j => j.split("\"eventType\":\"")(1).takeWhile(_ != '"'))
        if (present.isEmpty) assert(types.toSet.size >= 12, types.distinct)
      }
    }
  }

  test("the history decode surfaces v1 names and dropped fields in the " +
      "full-image payload") {
    val wire = spark.read.format("graft-changelog")
      .option("path", writeLedger(11L)).load()
    val hired = Pipeline.transform(wire, None,
        Map("employees" -> employeesHistory))
      .filter(col("eventType") === "EmployeeHired" &&
        col("timestamp") < timestamp_millis(lit(cut)))
      .select(col("payload")).collect().map(_.getString(0))
    assert(hired.nonEmpty)
    assert(hired.forall(_.contains("\"nickname\":\"n")), hired.head)
    assert(hired.exists(_.contains("\"salary\":")), hired.head)
  }

  test("one parse and one generator for every table, no union") {
    val wire = spark.read.format("graft-changelog")
      .option("path", writeLedger(11L)).load()
    val plan = Pipeline.transform(wire).queryExecution.optimizedPlan
    assert(plan.collect { case u: Union => u }.isEmpty)
    assert(plan.collect { case g: Generate => g }.size == 1)
    val parses = plan.flatMap(_.expressions.flatMap(_.collect {
      case j: JsonToStructs => j
    }))
    assert(parses.size == 1, plan.treeString)
  }
}
