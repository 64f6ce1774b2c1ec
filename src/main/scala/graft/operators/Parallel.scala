package graft.operators

import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.{JobExecutionStatus, SparkContext}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.Try

/** Independent Spark computations overlapped on driver threads. */
private[graft] object Parallel {

  /** Run every body at once, each on a driver thread of its own for the
    * call's duration (a shared pool sized to the core count would queue a
    * body beyond it behind the others' blocking waits), each under its own
    * Spark job group, and wait for ALL of them. The first body to fail
    * cancels every other body's job group, its running and its future jobs,
    * so no Spark work outlives the call; that first failure is rethrown once
    * every body has stopped and the status tracker shows none of their jobs
    * running.
    */
  def all[A](sc: SparkContext)(bodies: Seq[() => A]): Seq[A] = {
    val tag = java.util.UUID.randomUUID.toString
    val groups = bodies.indices.map(i => s"graft-par-$tag-$i")
    val firstFailure = new AtomicReference[Throwable]()
    // a Promise completed in a catch-all: every failure, fatal errors
    // included, must cancel the siblings and end the wait
    val futures = bodies.zip(groups).map { case (body, group) =>
      val p = Promise[A]()
      val th = new Thread(() => {
        sc.setJobGroup(group, "graft: one of several overlapped computations",
          interruptOnCancel = true)
        try p.success(body())
        catch {
          case t: Throwable =>
            if (firstFailure.compareAndSet(null, t))
              groups.filter(_ != group).foreach(sc.cancelJobGroupAndFutureJobs)
            p.failure(t)
        } finally sc.clearJobGroup()
      }, group)
      th.setDaemon(true)
      th.start()
      p.future
    }
    val results = futures.map(f => Try(Await.result(f, Duration.Inf)))
    if (results.forall(_.isSuccess)) results.map(_.get)
    else {
      // a cancelled job (an AQE stage in flight) can outlive its body, and
      // the status tracker sees its end only once the listener bus delivers
      // it: wait, bounded, until it shows none of this call's jobs running
      val st = sc.statusTracker
      def running = groups.exists(st.getJobIdsForGroup(_).exists(id =>
        st.getJobInfo(id).exists(_.status == JobExecutionStatus.RUNNING)))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (running && System.nanoTime() < deadline) Thread.sleep(10)
      throw firstFailure.get
    }
  }

  /** [[all]] for two computations of different result types. */
  def both[A, B](sc: SparkContext)(a: => A, b: => B): (A, B) =
    all[Any](sc)(Seq(() => a, () => b)) match {
      case Seq(x, y) => (x.asInstanceOf[A], y.asInstanceOf[B])
    }
}
