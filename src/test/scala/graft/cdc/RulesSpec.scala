package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class RulesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def eventTypes(table: String, rows: Seq[String]): Seq[String] = {
    val envs = Fixtures.parse(spark, table, rows)
    TestRules.applyAll(envs, table).select("eventType")
      .collect().map(_.getString(0)).toSeq.sorted
  }

  test("hire fires on employee insert") {
    assert(eventTypes("employees",
      Seq(Fixtures.env("employees", "c", "null", Fixtures.emp(), Fixtures.T0)))
      == Seq("EmployeeHired"))
  }

  test("promotion fires on position change + salary increase, active") {
    assert(eventTypes("employees", Seq(Fixtures.promotionFiring))
      == Seq("EmployeePromoted"))
  }

  test("promotion does not fire when salary decreases") {
    val got = eventTypes("employees", Seq(Fixtures.promotionNotFiring))
    assert(!got.contains("EmployeePromoted"))
    assert(got == Seq("EmployeeDataUpdated")) // falls through to 'other update'
  }

  test("termination fires on active->terminated only") {
    assert(eventTypes("employees", Seq(Fixtures.terminationFiring))
      == Seq("EmployeeTerminated"))
    val not = eventTypes("employees", Seq(Fixtures.terminationNotFiring))
    assert(!not.contains("EmployeeTerminated"))
  }

  test("transfer fires on dept change with position unchanged") {
    assert(eventTypes("employees", Seq(Fixtures.transferFiring))
      == Seq("EmployeeTransferred"))
    val not = eventTypes("employees", Seq(Fixtures.transferNotFiring))
    assert(!not.contains("EmployeeTransferred"))
  }

  test("salary-only update is EmployeeDataUpdated, not promotion") {
    val rows = Seq(Fixtures.env("employees", "u",
      Fixtures.emp(), Fixtures.emp(salary = "95000.00"), Fixtures.T0 + 10))
    assert(eventTypes("employees", rows) == Seq("EmployeeDataUpdated"))
  }

  test("department rules: created / restructured / manager assigned") {
    val created = Seq(Fixtures.env("departments", "c", "null",
      Fixtures.dept(4, "Platform"), Fixtures.T0))
    assert(eventTypes("departments", created) == Seq("DepartmentCreated"))

    val restructured = Seq(Fixtures.env("departments", "u",
      Fixtures.dept(3, "Sales"), Fixtures.dept(3, "Sales", parent = "1"), Fixtures.T0))
    assert(eventTypes("departments", restructured) == Seq("DepartmentRestructured"))

    val mgr = Seq(Fixtures.env("departments", "u",
      Fixtures.dept(1, "Engineering"),
      Fixtures.dept(1, "Engineering", managerId = "3"), Fixtures.T0))
    assert(eventTypes("departments", mgr) == Seq("ManagerAssigned"))
  }

  test("leave approved fires only on transition to approved") {
    val lr = (status: String) =>
      s"""{"id":7,"employee_id":2,"leave_type":"vacation","start_date":"2024-07-01",
         |"end_date":"2024-07-05","status":"$status","approved_by":1,
         |"reason":"r","created_at":"2024-06-10T05:33:20Z",
         |"updated_at":"2024-06-10T05:33:20Z"}""".stripMargin.replaceAll("\n", "")
    val fires = Seq(Fixtures.env("leave_requests", "u", lr("pending"), lr("approved"), Fixtures.T0))
    assert(eventTypes("leave_requests", fires) == Seq("LeaveApproved"))
    val not = Seq(Fixtures.env("leave_requests", "u", lr("approved"), lr("approved"), Fixtures.T0))
    assert(eventTypes("leave_requests", not).isEmpty)
  }

  test("deterministic eventId: same input, same id across runs") {
    val envs = Fixtures.parse(spark, "employees", Seq(Fixtures.promotionFiring))
    val id1 = TestRules.applyAll(envs, "employees").select("eventId").collect().head.getString(0)
    val id2 = TestRules.applyAll(envs, "employees").select("eventId").collect().head.getString(0)
    assert(id1 == id2 && id1.nonEmpty)
  }

  test("domain envelope carries the reference subject names") {
    assert(Rules.byEventType("EmployeePromoted").subject == "events.hr.employee.promoted")
    assert(Rules.byEventType("ManagerAssigned").subject == "events.hr.org.manager.assigned")
    assert(Rules.byEventType("SalaryAdjusted").subject == "events.hr.compensation.salary.adjusted")
  }
}

class UnionSchemaSpec extends AnyFunSuite {
  import org.apache.spark.sql.types._

  test("a column two tables type differently fails loudly, naming it and " +
      "both tables") {
    val a = StructType(Seq(StructField("id", IntegerType),
      StructField("code", StringType)))
    val b = StructType(Seq(StructField("id", IntegerType),
      StructField("code", LongType)))
    val ex = intercept[IllegalArgumentException] {
      Schemas.union(Seq("alpha" -> a, "beta" -> b))
    }
    assert(ex.getMessage.contains("code") && ex.getMessage.contains("alpha") &&
      ex.getMessage.contains("beta"), ex.getMessage)
  }

  test("the shipped rule tables agree on their shared columns; positions " +
      "(String id, no rules) stays out of the merge") {
    val rows = Rules.tables.map(t => t -> Schemas.tables(t))
    assert(Rules.tables.toSet == Set("employees", "departments",
      "salary_changes", "bonuses", "stock_grants", "leave_requests",
      "attendance_records"))
    val union = Schemas.union(rows)
    for ((t, row) <- rows; f <- row.fields)
      assert(union(f.name).dataType == f.dataType, s"$t.${f.name}")
    assert(union.fieldNames.distinct.length == union.fieldNames.length)
    val ex = intercept[IllegalArgumentException] {
      Schemas.union(rows :+ ("positions" -> Schemas.positions))
    }
    assert(ex.getMessage.contains("id") && ex.getMessage.contains("positions"))
  }
}

class LedgerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("test-cdc.sh replay matches the declared event ledger") {
    val byTable = Fixtures.crudScenario(spark)
    val ledger = byTable.map { case (t, df) =>
      t -> df.groupBy("op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    // scripts/test-cdc.sh:148-151
    assert(ledger("employees") == Map("c" -> 1L, "u" -> 1L, "d" -> 1L))
    assert(ledger("salary_changes") == Map("c" -> 1L, "d" -> 1L))
    assert(ledger("leave_requests") == Map("c" -> 1L, "d" -> 1L))
  }

  test("full pipeline over the scenario yields the expected domain events") {
    val domain = TestRules.applyAll(Fixtures.crudScenario(spark))
    val got = domain.select("eventType").collect().map(_.getString(0)).toSeq.sorted
    assert(got == Seq("EmployeeDataUpdated", "EmployeeHired",
      "LeaveRequested", "SalaryAdjusted"))
  }

  test("unwrap preserves tombstones when asked") {
    val envs = Fixtures.crudScenario(spark)("employees")
    assert(ChangeStream.unwrap(envs, dropTombstones = true).count() == 2)
    val withTombstones = ChangeStream.unwrap(envs, dropTombstones = false)
    assert(withTombstones.count() == 3)
    assert(withTombstones.filter(col("id").isNull).count() == 1)
  }

  test("serialize emits key/value JSON + subject") {
    val envs = Fixtures.crudScenario(spark)("employees")
    val wire = ChangeStream.serialize(envs, Seq("id")).collect()
    assert(wire.forall(_.getString(0) == """{"id":999}"""))
    assert(wire.forall(r => r.getAs[String]("subject") == "HCM.CDC.HR.hrdb.employees"))
  }

  test("snapshot bootstrap emits op='r' for each seed row") {
    val snap = ChangeStream.snapshot(
      Fixtures.seedEmployees(spark), "hrdb", "employees", Fixtures.T0)
    assert(snap.count() == 3)
    assert(snap.select("op").distinct().collect().map(_.getString(0)).toSeq == Seq("r"))
    assert(snap.filter(col("before").isNotNull).count() == 0)
  }
}
