package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryProbeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  // AQE off: its re-plans depend on which stage finishes first, and
  // q34_kcore's job count varied 22-24 over repeated AQE runs. Planned up
  // front, the count is a function of the plan and the fixpoint rounds.
  private lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  // a different count means the query's plan or its fixpoint loop changed
  // shape; the fixpoint queries cover the k-core peel, the HyperBall
  // rounds, the power loop with its observed dangling mass, the SCC trim
  // and phase loops, and the Brandes sweeps; cdc_daily_metrics_state is
  // the one benchmarked query that compacts a `_batch_id` table;
  // doc_dedup_gate and evt_kmv_state pin where a scratch-backed query
  // materializes (its result once, plus evt_kmv_state's reused sketch)
  private val expectedJobs = Seq("q34_kcore" -> 8L, "q36_skew_join" -> 16L,
    "q45_hyperball_incr" -> 14L, "q16_pagerank_dangling" -> 10L,
    "q47_scc" -> 29L, "q46_betweenness" -> 4L,
    "cdc_daily_metrics_state" -> 9L, "doc_dedup_gate" -> 23L,
    "evt_kmv_state" -> 10L)

  expectedJobs.foreach { case (name, jobs) =>
    test(s"QueryProbe.measure: $name costs $jobs jobs, the same on two " +
        "consecutive runs") {
      val first = QueryProbe.measure(spark, sf, name)
      val second = QueryProbe.measure(spark, sf, name)
      assert(first.jobs === jobs)
      assert(second.jobs === first.jobs)
    }
  }

  test("QueryProbe.measure rejects an undeclared query name") {
    intercept[IllegalArgumentException](
      QueryProbe.measure(spark, sf, "no_such_query"))
  }
}
