package graft.operators

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.SparkContext
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** Two independent Spark computations overlapped on driver threads. */
private[graft] object Parallel {

  /** Run `a` and `b` on two driver threads, each under its own Spark job
    * group, and wait for BOTH. The first side to fail cancels the other's
    * job group, its running and its future jobs, so no Spark work outlives
    * the call; that first failure is rethrown once both sides have
    * stopped.
    */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) = {
    val tag = java.util.UUID.randomUUID.toString
    val (groupA, groupB) = (s"graft-both-$tag-a", s"graft-both-$tag-b")
    val firstFailure = new AtomicReference[Throwable]()
    // a Promise, not Future.apply, which leaves its future incomplete on a
    // fatal error: every failure must cancel the sibling and end the wait
    def run[T](group: String, sibling: String, body: => T) = {
      val p = Promise[T]()
      ExecutionContext.global.execute { () =>
        sc.setJobGroup(group, "graft: one of two overlapped computations",
          interruptOnCancel = true)
        try p.success(body)
        catch {
          case t: Throwable =>
            if (firstFailure.compareAndSet(null, t))
              sc.cancelJobGroupAndFutureJobs(sibling)
            p.failure(t)
        } finally sc.clearJobGroup()
      }
      p.future
    }
    val fa = run(groupA, groupB, a)
    val fb = run(groupB, groupA, b)
    val ra = Try(Await.result(fa, Duration.Inf))
    val rb = Try(Await.result(fb, Duration.Inf))
    (ra, rb) match {
      case (Success(x), Success(y)) => (x, y)
      case _ => throw firstFailure.get
    }
  }
}
