package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class FieldDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salary update explodes into exactly the changed fields") {
    val envs = Fixtures.parse(spark, "employees", Seq(
      Fixtures.env("employees", "u",
        Fixtures.emp(), Fixtures.emp(salary = "95000.00"), Fixtures.T0)))
    val audit = FieldDiff.audit(envs).collect()
    assert(audit.map(_.getAs[String]("field_name")).toSet == Set("salary"))
    val row = audit.head
    assert(row.getAs[String]("old_value") == "90000.00")
    assert(row.getAs[String]("new_value") == "95000.00")
    assert(row.getAs[String]("operation") == "UPDATE")
    assert(row.getAs[String]("entity_type") == "employees")
    assert(row.getAs[String]("entity_id") == "999")
  }

  test("insert diffs every non-null field from null") {
    val envs = Fixtures.parse(spark, "employees", Seq(
      Fixtures.env("employees", "c", "null", Fixtures.emp(), Fixtures.T0)))
    val audit = FieldDiff.audit(envs)
    // every field of the after image is non-null except manager_id
    assert(audit.count() == Schemas.employees.fields.length - 1)
    assert(audit.filter(col("old_value").isNotNull).count() == 0)
  }
}

class ValidateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("valid events pass, broken events go to dead-letter with reason") {
    val good = TestRules.applyAll(Fixtures.crudScenario(spark))
    val broken = good.withColumn("aggregateId",
      when(col("eventType") === "EmployeeHired", lit(null).cast("string"))
        .otherwise(col("aggregateId")))
    val split = Validate.split(broken)
    assert(split.valid.count() == good.count() - 1)
    val dl = split.deadLetter.collect()
    assert(dl.length == 1)
    assert(dl.head.getAs[String]("reason") == "structural")
  }

  test("unparseable payload is structural dead-letter") {
    val good = TestRules.applyAll(Fixtures.crudScenario(spark))
    val broken = good.withColumn("payload", lit("{not json"))
    assert(Validate.split(broken).deadLetter.count() == good.count())
  }
}

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bulk-1000 with duplicates: in-window dropped, out-of-window kept") {
    import spark.implicits._
    // F-4: 1000 events; 50 duplicate keys re-published 30s later (inside the
    // 120s window); 5 re-published 10min later (outside). Expect 1005 out.
    val base = (1 to 1000).map(i => (s"evt$i", Fixtures.T0 + i * 1000L))
    val inWin = (1 to 50).map(i => (s"evt$i", Fixtures.T0 + i * 1000L + 30000L))
    val outWin = (1 to 5).map(i => (s"evt$i", Fixtures.T0 + i * 1000L + 600000L))
    val df = (base ++ inWin ++ outWin)
      .toDF("eventId", "ts_ms")
      .withColumn("timestamp", timestamp_millis(col("ts_ms")))
    val deduped = Dedup.batchWindowed(df, Seq("eventId"))
    assert(deduped.count() == 1005)
    // and exact-first keeps exactly one per key
    assert(Dedup.exactFirst(df, Seq("eventId")).count() == 1000)
  }

  test("anchored semantics match a sequential reference on 20 random key streams") {
    import spark.implicits._
    // seeded pseudo-random event streams; reference = per-key sequential
    // scan with an explicit anchor — the definition of the semantics
    def refAnchored(times: Seq[Long], windowUs: Long): Seq[Long] = {
      var anchor = Long.MinValue
      times.sorted.filter { t =>
        if (anchor == Long.MinValue || t - anchor > windowUs) { anchor = t; true }
        else false
      }
    }
    val rnd = new scala.util.Random(1234L)
    val data = (1 to 20).flatMap { k =>
      var t = 0L
      (1 to 50).map { _ =>
        t += rnd.nextInt(90000) // gaps 0..90s, window 120s -> rich chaining
        (s"key$k", t * 1000L)   // micros
      }
    }
    val df = data.toDF("eventId", "us")
      .withColumn("timestamp", timestamp_micros(col("us")))
    val got = Dedup.batchWindowed(df, Seq("eventId"))
      .select("eventId", "us").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = data.groupBy(_._1).view
      .mapValues(v => refAnchored(v.map(_._2), 120000000L)).toMap
    assert(got == want)
  }

  test("chained duplicates anchor on the KEPT event, not the previous row") {
    import spark.implicits._
    // t=0s,100s,200s,230s: anchored semantics keeps 0s (anchor), drops 100s
    // (within 120s of anchor), keeps 200s (beyond window -> new anchor),
    // drops 230s (within 120s of the 200s anchor). A lag-based filter would
    // wrongly drop 200s too (it is only 100s after the dropped 100s row).
    val df = Seq(
      ("k1", 0L), ("k1", 100000L), ("k1", 200000L), ("k1", 230000L),
      ("k2", 50000L))
      .toDF("eventId", "ms")
      .withColumn("timestamp", timestamp_millis(col("ms") + Fixtures.T0))
    val kept = Dedup.batchWindowed(df, Seq("eventId"))
      .select("eventId", "ms").as[(String, Long)].collect().toSet
    assert(kept == Set(("k1", 0L), ("k1", 200000L), ("k2", 50000L)))
  }
}

class RuleDispatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("applyAll on a table with no rules yields an empty domain-event frame") {
    val envs = Fixtures.parse(spark, "positions", Seq(
      Fixtures.env("positions",
        "c", "null", Fixtures.pos("IC9", "Distinguished", "300000", "400000"),
        Fixtures.T0)))
    val out = TestRules.applyAll(envs, "positions")
    assert(out.count() == 0)
    assert(out.schema == Schemas.domainEvent)
  }

  test("rule engine reads the source exactly once for all rules") {
    val out = java.nio.file.Files.createTempDirectory("envstore").toString
    Fixtures.crudScenario(spark)("employees").write.mode("overwrite").parquet(out)
    val envs = spark.read.parquet(out)
    val events = TestRules.applyAll(envs, "employees")
    val scans = events.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1,
      s"expected 1 scan for ${Rules.all.count(_.table == "employees")} rules, got ${scans.length}")
    // c fires EmployeeHired, u (salary-only change) falls through to
    // EmployeeDataUpdated, d fires nothing
    assert(events.select("eventType").collect().map(_.getString(0)).sorted.toSeq
      == Seq("EmployeeDataUpdated", "EmployeeHired"))
  }

  test("NULL salary update falls through to EmployeeDataUpdated, not dropped") {
    // position changed + salary NULL: the promotion predicate is NULL, and
    // without coalesce its negation would be NULL too — the event would fire
    // no rule at all. Reference classifies it as "other UPDATE operations".
    val nullSalaryBefore = Fixtures.emp(salary = "null")
    val nullSalaryAfter =
      Fixtures.emp(posId = "IC3", salary = "null")
    val envs = Fixtures.parse(spark, "employees", Seq(
      Fixtures.env("employees", "u", nullSalaryBefore, nullSalaryAfter, Fixtures.T0)))
    val fired = TestRules.applyAll(envs, "employees")
      .select("eventType").collect().map(_.getString(0)).toSet
    assert(fired == Set("EmployeeDataUpdated"))
  }
}

class EnrichSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("promotion enriched with position titles and department name") {
    val envs = Fixtures.parse(spark, "employees", Seq(Fixtures.promotionFiring))
    val events = TestRules.applyAll(envs, "employees")
      .filter(col("eventType") === "EmployeePromoted")
    val enriched = Enrich.promotions(events,
      Fixtures.seedPositions(spark), Fixtures.seedDepartments(spark),
      Fixtures.seedEmployees(spark)).collect().head
    assert(enriched.getAs[String]("previousPositionTitle") == "Senior Engineer")
    assert(enriched.getAs[String]("newPositionTitle") == "Staff Engineer")
    assert(enriched.getAs[String]("departmentName") == "Engineering")
  }

  test("termination enrichment computes tenure in months") {
    val envs = Fixtures.parse(spark, "employees", Seq(Fixtures.terminationFiring))
    val events = TestRules.applyAll(envs, "employees")
      .filter(col("eventType") === "EmployeeTerminated")
    val t = Enrich.terminations(events).collect().head
    // hire 2024-06-10 (fixture default), term 2024-06-10 => 0 months
    assert(t.getAs[Int]("tenureMonths") == 0)
  }

  test("org distance over the hierarchy") {
    import spark.implicits._
    // Engineering(1) -> Platform(4) -> Infra(5); Sales(3) root.
    val depts = Seq(
      (1, "Engineering", None: Option[Int]),
      (3, "Sales", None: Option[Int]),
      (4, "Platform", Some(1)),
      (5, "Infra", Some(4)))
      .toDF("id", "name", "parent_department_id")
    val dist = Enrich.orgDistance(depts)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(dist((1, 1)) == 0)
    assert(dist((1, 4)) == 1)
    assert(dist((1, 5)) == 2)
    assert(dist((4, 5)) == 1)
    assert(dist((1, 3)) == 2) // via virtual common root
    assert(dist((5, 3)) == 4)
  }

  test("dept paths fail loudly, naming maxDepth, on a cyclic hierarchy " +
      "or one deeper than maxDepth") {
    import spark.implicits._
    // 1 is a root; 2 -> 3 -> 2 never resolves
    val cyclic = Seq((1, None: Option[Int]), (2, Some(3)), (3, Some(2)))
      .toDF("id", "parent_department_id")
    // a chain 1 <- 2 <- ... <- 6 needs 5 rounds to reach its root
    val chain = (1 to 6).map(i => (i, if (i == 1) None else Some(i - 1)))
      .toDF("id", "parent_department_id")
    for ((depts, maxDepth) <- Seq((cyclic, 20), (chain, 4))) {
      val e = intercept[IllegalArgumentException](
        Enrich.deptPaths(depts, maxDepth).collect())
      assert(e.getMessage.contains(s"maxDepth = $maxDepth"), e.getMessage)
    }
    assert(Enrich.deptPaths(chain, 5).collect()
      .map(r => r.getInt(0) -> r.getInt(2)).toMap ===
      (1 to 6).map(i => i -> i).toMap)
  }

  test("PII masking: salary hashed, email partially masked") {
    val df = Fixtures.seedEmployees(spark)
    val masked = Mask(df).collect().head
    assert(masked.getAs[String]("email") == "j***@company.com")
    assert(masked.getAs[String]("salary").length == 64) // sha2-256 hex
  }
}
