package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** One ledger segment: an immutable file of envelope lines for one table. */
final case class Segment(table: String, lines: Seq[String])

/** Seeded generator of Debezium-style envelopes for the HR schema. It
  * computes, independently of the engine, the domain events each envelope
  * must produce under the rule engine's id contract
  * `md5(eventType|aggregateId|ts_ms)`, and which of them the validator must
  * dead-letter. Timestamps advance strictly per envelope, so the only
  * repeated event ids are the deliberate in-segment resends.
  */
final class Load(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private var tsMs = 1718000000000L // 2024-06-10T06:13:20Z
  private var nextRowId = 1

  /** Event ids that must reach the store and the publish tree. */
  val expected = mutable.HashSet.empty[String]
  /** Aggregate ids of the valid backlog events (one Scd-latest row each). */
  val backlogAggregates = mutable.HashSet.empty[String]
  private var inBacklog = false
  var deadLetters = 0
  var envelopes = 0L

  private def md5(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private def expect(eventType: String, aggregateId: Int, ts: Long,
                     valid: Boolean = true): Unit =
    if (valid) {
      expected += md5(s"$eventType|$aggregateId|$ts")
      if (inBacklog) backlogAggregates += aggregateId.toString
    } else deadLetters += 1

  private def env(table: String, op: String, before: String, after: String,
                  ts: Long): String = {
    envelopes += 1
    s"""{"before":$before,"after":$after,"source":{"version":"1.0",""" +
      s""""connector":"graft","name":"HCM.CDC.HR","ts_ms":$ts,"db":"hrdb",""" +
      s""""table":"$table"},"op":"$op","ts_ms":$ts}"""
  }

  private def tick(): Long = { tsMs += 1 + rnd.nextInt(40); tsMs }
  private def rowId(): Int = { nextRowId += 1; nextRowId }
  private val created = "\"2024-06-10T05:33:20Z\""

  private def emp(id: Int, pos: String = "IC2", dept: Int = 1,
                  salary: String = "90000.00", status: String = "active",
                  email: String = ""): String =
    s"""{"id":$id,"employee_number":"EMP$id","first_name":"F$id",""" +
      s""""last_name":"L$id","email":"e$id$email@company.com",""" +
      s""""position_id":"$pos","department_id":$dept,"manager_id":null,""" +
      s""""salary":$salary,"hire_date":"2023-01-15","status":"$status",""" +
      s""""created_at":$created,"updated_at":$created}"""

  /** Skewed employee id: a few hot aggregates take most payroll changes. */
  private def hotEmployee(pool: Int): Int =
    1 + (pool * math.pow(rnd.nextDouble(), 3.0)).toInt

  private def attendance(): String = {
    val ts = tick(); val id = rowId()
    expect("AttendanceMarked", id, ts)
    env("attendance_records", "c", "null",
      s"""{"id":$id,"employee_id":${1 + rnd.nextInt(5000)},""" +
        s""""attendance_date":"2024-06-10","check_in_time":"09:0${rnd.nextInt(10)}:00",""" +
        s""""check_out_time":"17:30:00","status":"present","notes":null,""" +
        s""""created_at":$created}""", ts)
  }

  /** One employees update; `kind` picks which single rule fires. */
  private def employeeUpdate(id: Int, kind: Int): String = {
    val ts = tick()
    val (before, after, eventType) = kind match {
      case 0 => (emp(id, pos = "IC2", salary = "90000.00"),
        emp(id, pos = "IC3", salary = "120000.00"), "EmployeePromoted")
      case 1 => (emp(id, dept = 1), emp(id, dept = 2 + rnd.nextInt(3)),
        "EmployeeTransferred")
      case 2 => (emp(id), emp(id, status = "terminated"), "EmployeeTerminated")
      case _ => (emp(id), emp(id, email = ".new"), "EmployeeDataUpdated")
    }
    expect(eventType, id, ts)
    env("employees", "u", before, after, ts)
  }

  /** A promotion whose new salary is negative: the rule fires and the
    * validator must dead-letter the event.
    */
  private def negativePromotion(id: Int): String = {
    val ts = tick()
    expect("EmployeePromoted", id, ts, valid = false)
    env("employees", "u", emp(id, pos = "IC2", salary = "-5000.00"),
      emp(id, pos = "IC3", salary = "-100.00"), ts)
  }

  private def hire(): String = {
    val ts = tick(); val id = 100000 + rowId()
    expect("EmployeeHired", id, ts)
    env("employees", "c", "null", emp(id), ts)
  }

  private def leave(): String = {
    val ts = tick(); val id = rowId()
    val row = (status: String) =>
      s"""{"id":$id,"employee_id":${1 + rnd.nextInt(5000)},""" +
        s""""leave_type":"vacation","start_date":"2024-06-17",""" +
        s""""end_date":"2024-06-24","status":"$status","approved_by":null,""" +
        s""""reason":"r","created_at":$created,"updated_at":$created}"""
    if (rnd.nextInt(10) < 7) {
      expect("LeaveRequested", id, ts)
      env("leave_requests", "c", "null", row("pending"), ts)
    } else {
      expect("LeaveApproved", id, ts)
      env("leave_requests", "u", row("pending"), row("approved"), ts)
    }
  }

  private def department(): String = {
    val ts = tick(); val id = rowId()
    val row = (mgr: String) =>
      s"""{"id":$id,"name":"D$id","parent_department_id":1,""" +
        s""""manager_id":$mgr,"created_at":$created,"updated_at":$created}"""
    if (rnd.nextBoolean()) {
      expect("DepartmentCreated", id, ts)
      env("departments", "c", "null", row("null"), ts)
    } else {
      expect("ManagerAssigned", id, ts)
      env("departments", "u", row("1"), row("2"), ts)
    }
  }

  private def salaryChange(employee: Int): String = {
    val ts = tick(); val id = rowId()
    expect("SalaryAdjusted", employee, ts)
    env("salary_changes", "c", "null",
      s"""{"id":$id,"employee_id":$employee,"old_salary":90000.00,""" +
        s""""new_salary":${95000 + rnd.nextInt(5000)}.00,"reason":"payroll",""" +
        s""""effective_date":"2024-06-30","approved_by":null,""" +
        s""""created_at":$created}""", ts)
  }

  private def bonus(employee: Int): String = {
    val ts = tick(); val id = rowId()
    expect("BonusAwarded", employee, ts)
    env("bonuses", "c", "null",
      s"""{"id":$id,"employee_id":$employee,"amount":${1000 + rnd.nextInt(9000)}.00,""" +
        s""""reason":"payroll","awarded_date":"2024-06-30",""" +
        s""""created_at":$created}""", ts)
  }

  /** `n` envelopes in the reference's daily mix (docs/system-design.md:
    * 334-339): ~97% attendance creates, ~2% employees creates/updates,
    * ~1% leave requests, ~0.2% departments — one segment per table.
    */
  def dailyTick(n: Int): Seq[Segment] = {
    val byTable = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
    def add(t: String, line: String): Unit =
      byTable.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += line
    for (_ <- 0 until n) {
      val u = rnd.nextInt(1000)
      if (u < 968) add("attendance_records", attendance())
      else if (u < 988) add("employees",
        if (rnd.nextBoolean()) hire()
        else employeeUpdate(1 + rnd.nextInt(5000), rnd.nextInt(4)))
      else if (u < 998) add("leave_requests", leave())
      else add("departments", department())
    }
    byTable.toSeq.map { case (t, ls) => Segment(t, ls.toSeq) }
  }

  /** A warm-up tick with every table of the daily mix present. */
  def everyTable(): Seq[Segment] = Seq(
    Segment("attendance_records", (1 to 50).map(_ => attendance())),
    Segment("employees", Seq(hire(), employeeUpdate(1, 0), employeeUpdate(2, 3))),
    Segment("leave_requests", Seq(leave(), leave(), leave())),
    Segment("departments", Seq(department(), department())))

  /** A payroll-run backlog (docs/system-design.md:329's peak): employees
    * updates (promotions, transfers, terminations, data updates) on skewed
    * ids, salary changes and bonuses, cut into `perSegment`-line segments.
    * ~2% of envelopes are resent in the same segment (at-least-once
    * retries) and ~0.5% are negative-salary promotions.
    */
  def payrollBacklog(events: Int, perSegment: Int,
                     pool: Int = 20000): Seq[Segment] = {
    val lines = Map(
      "employees" -> mutable.ArrayBuffer.empty[String],
      "salary_changes" -> mutable.ArrayBuffer.empty[String],
      "bonuses" -> mutable.ArrayBuffer.empty[String])
    inBacklog = true
    for (_ <- 0 until events) {
      val u = rnd.nextInt(1000)
      val (t, line) =
        if (u < 5) ("employees", negativePromotion(hotEmployee(pool)))
        else if (u < 500) ("employees",
          employeeUpdate(hotEmployee(pool), Seq(0, 0, 0, 1, 1, 2, 3, 3, 3, 3)(rnd.nextInt(10))))
        else if (u < 800) ("salary_changes", salaryChange(hotEmployee(pool)))
        else ("bonuses", bonus(hotEmployee(pool)))
      val buf = lines(t)
      buf += line
      if (u >= 5 && rnd.nextInt(1000) < 20) {
        buf += line
        envelopes += 1
      }
    }
    inBacklog = false
    Seq("bonuses", "employees", "salary_changes").flatMap { t =>
      lines(t).grouped(perSegment).map(ls => Segment(t, ls.toSeq))
    }
  }
}

/** A ledger root on local disk: `<root>/hrdb/<table>/<seq>.jsonl`. */
final class LedgerDir(val root: Path) {
  private val counts = mutable.HashMap.empty[String, Int]

  /** Write one segment atomically (hidden temp name, then rename), so the
    * source never lists a half-written file. Returns the dir key and the
    * segment's 1-based position in that dir.
    */
  def append(s: Segment): (String, Int) = {
    val dir = root.resolve("hrdb").resolve(s.table)
    Files.createDirectories(dir)
    val n = counts.getOrElse(s.table, 0) + 1
    counts(s.table) = n
    val tmp = dir.resolve(f".$n%08d.tmp")
    Files.write(tmp, s.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(f"$n%08d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    (s"hrdb/${s.table}", n)
  }
}
