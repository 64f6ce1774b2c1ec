package graft.cdc

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class MetricsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("observe() counters ride the job and surface via listener (O-22)") {
    val events = TestRules.applyAll(Fixtures.crudScenario(spark))
    @volatile var observed: Map[String, Any] = Map.empty
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qe.observedMetrics.get("cdc_metrics").foreach { row =>
          observed = row.getValuesMap(row.schema.fieldNames.toSeq)
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val total = Metrics.observed(events).count() // one action, zero extra scans
      // listener fires asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (observed.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      assert(observed.get("events_published_total").contains(total))
      assert(observed("event_types_seen").asInstanceOf[Long] >= 3L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("latency percentiles per minute window (O-23)") {
    import spark.implicits._
    // 1-minute window with known lags: 100..1000 ms
    val events = (1 to 10).map { i =>
      (Fixtures.T0 + i, Fixtures.T0 + i + i * 100L)
    }.toDF("ev_ms", "proc_ms")
      .select(timestamp_millis($"ev_ms").as("timestamp"),
        timestamp_millis($"proc_ms").as("processed_at"))
    val rows = Metrics.latency(events).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n") == 10)
    assert(r.getAs[Double]("max_ms") == 1000.0)
    assert(r.getAs[Double]("p50_ms") >= 400.0 && r.getAs[Double]("p50_ms") <= 600.0)
    assert(r.getAs[Double]("p95_ms") >= 900.0)
  }

  test("daily volumes materialized view (O-24)") {
    import spark.implicits._
    val events = TestRules.applyAll(Fixtures.crudScenario(spark))
    val vols = Metrics.dailyVolumes(events)
      .collect().map(r => r.getAs[String]("eventCategory") -> r.getAs[Long]("n")).toMap
    // crud scenario: employee (Hired + DataUpdated), compensation
    // (SalaryAdjusted), attendance (LeaveRequested)
    assert(vols == Map("employee" -> 2L, "compensation" -> 1L, "attendance" -> 1L))
  }

  test("maintained daily metrics: a (day, event_type) group split across " +
      "two batches reads as the one-shot aggregate, before and after " +
      "compaction") {
    import spark.implicits._
    val t = "graft_metrics_daily_split"
    val path = java.nio.file.Files.createTempDirectory("metrics_daily").toString
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // (day, eventType, cents) per batch: day 1's A and day 2's B span
    // both batches with different counts, so a merge other than a sum
    // (max, min, any row) reads a different n or cents
    val batches = Seq(
      Seq((1, "A", 100L), (1, "A", 250L), (1, "B", 5L), (2, "B", 7L)),
      Seq((1, "A", 40L), (2, "B", 1L), (2, "B", 2L), (2, "B", 3L), (3, "C", 9L)))
      .map(_.toDF("d", "eventType", "cents")
        .select(timestamp_millis($"d" * 86400000L + Fixtures.T0).as("timestamp"),
          $"eventType", $"cents"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("day", "event_type", "n", "cents").collect().map(_.toString).sorted.toSeq
    try {
      batches.zipWithIndex.foreach { case (b, i) =>
        Metrics.mergeBatchDaily(b, to_date($"timestamp"), $"eventType",
          $"cents", t, path, i.toLong)
      }
      val want = rows(batches.reduce(_ union _)
        .groupBy(to_date($"timestamp").as("day"), $"eventType".as("event_type"))
        .agg(count(lit(1)).as("n"), sum($"cents").cast("long").as("cents")))
      assert(want.size == 4)
      assert(rows(Metrics.dailyFromTable(spark, t)) == want)
      Metrics.compactDaily(spark, t, 1L)
      assert(spark.table(t).select("_batch_id").distinct().as[Long].collect()
        .toSeq == Seq(-2L))
      assert(rows(Metrics.dailyFromTable(spark, t)) == want)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
  }
}
