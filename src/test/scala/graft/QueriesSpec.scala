package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class QueriesSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // GATE-OUTPUT TYPE RULE (round-15, after the r14 driver reds): gate
  // outputs are BIGINT / STRING / bounded-round DOUBLE / narrow decimal
  // only; wide integers cross the gate as base-10^18 BIGINT limbs or
  // canonical strings. A DECIMAL wider than 18 digits in an OUTPUT
  // schema is one driver-DuckDB upgrade away from a hash mismatch
  // (the r14 q45/q46 lesson) — internal wide-decimal arithmetic is fine.
  private val wideDecimalExempt = Set("probe_decimal_out") // the probe IS the experiment

  /** The session catalog's tables and the `graft_*` entries of the JVM's
    * temp dir: what a query's scratch state would leave behind.
    */
  private def scratchLeftovers(): (Set[String], Set[String]) = {
    val catalog = spark.sessionState.catalog
    val tables = catalog.listDatabases().flatMap(catalog.listTables(_))
      .map(_.unquotedString).toSet
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    (tables, tmp.list().filter(_.startsWith("graft_")).toSet)
  }

  test("every query runs on sf0.001; no wide-decimal output columns") {
    val (tablesBefore, dirsBefore) = scratchLeftovers()
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      withClue(s"query $name: ") {
        assert(df.count() >= 0)
        if (!wideDecimalExempt(name)) {
          val wide = df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[
                org.apache.spark.sql.types.DecimalType] &&
              f.dataType.asInstanceOf[
                org.apache.spark.sql.types.DecimalType].precision > 18 =>
              s"${f.name}: ${f.dataType.simpleString}"
          }
          assert(wide.isEmpty,
            s"wide-decimal output columns (gate-output type rule): " +
              wide.mkString(", "))
        }
      }
    }
    val (tablesAfter, dirsAfter) = scratchLeftovers()
    assert(tablesAfter -- tablesBefore === Set.empty[String],
      "catalog tables left behind")
    assert(dirsAfter -- dirsBefore === Set.empty[String],
      "temp dirs left behind")
  }

  test("every query has an oracle") {
    // Full coverage since round 4: even knn_lsh_topk (approximate by
    // construction but deterministic) replicates its splitmix64 hyperplanes
    // and bucket assignment in SQL.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing oracle SQL: $noOracle")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("full-pipeline plan: dimension join broadcasts, no cartesian product") {
    val plan = graft.queries.CdcAnalog.queries("cdc_full_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("Cartesian"), plan.take(2000))
    assert(!plan.contains("UDF"), plan.take(2000))
  }

  test("round-5 query plans: no cartesian products, broadcasts where expected") {
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    Seq("doc_source_card", "q13_setops", "knn_hard_negatives",
      "doc_quality_bins", "evt_anomaly_daily", "q11_rollup_revenue",
      "q12_moving_avg", "doc_mix_budget", "doc_chunks").foreach { q =>
      val p = plan(q)
      withClue(s"$q: ") {
        assert(!p.contains("CartesianProduct"), p.take(1500))
        assert(!p.contains("BroadcastNestedLoop") ||
          // single-row bounds/stats frames legitimately broadcast-nest
          Seq("doc_quality_bins", "evt_anomaly_daily", "knn_hard_negatives",
            "doc_source_card").contains(q), p.take(1500))
      }
    }
    // the one-row broadcast frames really broadcast
    assert(plan("doc_quality_bins").contains("Broadcast"))
    assert(plan("doc_mix_budget").contains("BroadcastHashJoin"))
  }

  test("cdc_ledger ops partition the stream") {
    import spark.implicits._
    val ledger = graft.queries.CdcAnalog.queries("cdc_ledger")(spark, sf)
      .as[(String, Long)].collect().toMap
    val total = Tables(spark, sf, "events").count()
    assert(ledger.keySet == Set("c", "u", "d"))
    assert(ledger.values.sum == total)
  }
}

class SubjectSpec extends AnyFunSuite {
  import graft.functions.Subject.matches

  test("literal match") {
    assert(matches("HCM.CDC.HR.hrdb.employees", "HCM.CDC.HR.hrdb.employees"))
    assert(!matches("HCM.CDC.HR.hrdb.employees", "HCM.CDC.HR.hrdb.positions"))
  }
  test("star matches exactly one token") {
    assert(matches("HCM.CDC.HR.hrdb.employees", "HCM.CDC.HR.*.*"))
    assert(!matches("HCM.CDC.HR.hrdb", "HCM.CDC.HR.*.*"))
    assert(!matches("HCM.CDC.HR.hrdb.employees.extra", "HCM.CDC.HR.*.*"))
  }
  test("gt matches one or more trailing tokens") {
    assert(matches("HCM.CDC.HR.hrdb.employees", "HCM.>"))
    assert(matches("HCM.x", "HCM.>"))
    assert(!matches("HCM", "HCM.>"))
    assert(!matches("OTHER.CDC", "HCM.>"))
  }
  test("prefix-only pattern does not match longer subject") {
    assert(!matches("HCM.CDC.HR", "HCM.CDC"))
  }
}
