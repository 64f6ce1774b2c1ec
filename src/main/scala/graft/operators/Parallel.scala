package graft.operators

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.SparkContext
import scala.concurrent.{Await, ExecutionContext, Promise}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Independent Spark computations overlapped on driver threads. */
private[graft] object Parallel {

  /** Run every body on its own driver thread, each under its own Spark job
    * group, and wait for ALL of them. The first body to fail cancels every
    * other body's job group, its running and its future jobs, so no Spark
    * work outlives the call; that first failure is rethrown once every body
    * has stopped.
    */
  def all[A](sc: SparkContext)(bodies: Seq[() => A]): Seq[A] = {
    val tag = java.util.UUID.randomUUID.toString
    val groups = bodies.indices.map(i => s"graft-par-$tag-$i")
    val firstFailure = new AtomicReference[Throwable]()
    // a Promise, not Future.apply, which leaves its future incomplete on a
    // fatal error: every failure must cancel the siblings and end the wait
    val futures = bodies.zip(groups).map { case (body, group) =>
      val p = Promise[A]()
      ExecutionContext.global.execute { () =>
        sc.setJobGroup(group, "graft: one of several overlapped computations",
          interruptOnCancel = true)
        try p.success(body())
        catch {
          case t: Throwable =>
            if (firstFailure.compareAndSet(null, t))
              groups.filter(_ != group).foreach(sc.cancelJobGroupAndFutureJobs)
            p.failure(t)
        } finally sc.clearJobGroup()
      }
      p.future
    }
    val results = futures.map(f => Try(Await.result(f, Duration.Inf)))
    if (results.forall(_.isSuccess)) results.map(_.get)
    else throw firstFailure.get
  }

  /** [[all]] for two computations of different result types. */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) =
    all[Any](sc)(Seq(() => a, () => b)) match {
      case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B])
    }
}
