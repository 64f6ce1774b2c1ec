package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}

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

  test("all: more bodies than cores all run at once") {
    // one body more than the cores: each counts the latch down and waits
    // for all the others, so a body that queues for a thread behind the
    // waiting ones starts only once one of them times out
    val n = Runtime.getRuntime.availableProcessors + 1
    val started = new CountDownLatch(n)
    val met = Parallel.all(spark.sparkContext)(Seq.fill(n)(() => {
      started.countDown()
      started.await(20, TimeUnit.SECONDS)
    }))
    assert(met === Seq.fill(n)(true))
  }
}
