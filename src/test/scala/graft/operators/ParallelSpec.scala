package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ParallelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("both: returns both results, each side under its own job group") {
    val sc = spark.sparkContext
    def group() = sc.getLocalProperty("spark.jobGroup.id")
    val callerGroup = group()
    val ((ga, na), (gb, nb)) = Parallel.both(sc)(
      (group(), spark.range(10).count()), (group(), spark.range(20).count()))
    assert(na === 10L && nb === 20L)
    assert(ga != null && gb != null && ga != gb)
    assert(ga != callerGroup && gb != callerGroup)
    assert(group() == callerGroup, "the caller keeps its own job group")
  }

  test("both: a failure cancels the sibling's jobs, present and future, " +
      "and is rethrown once both sides stopped") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    val e = intercept[IllegalStateException] {
      Parallel.both(sc)(
        { Thread.sleep(500); throw new IllegalStateException("boom") },
        // submits job after job until its group is cancelled; the time
        // bound turns a missing cancellation into a failure, not a hang
        { while (elapsedS < 60) spark.range(1000).count(); "finished" })
    }
    assert(e.getMessage === "boom")
    assert(elapsedS < 30, "the sibling must stop once its group is cancelled")
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
  }
}
