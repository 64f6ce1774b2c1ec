package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task counters taken from a `SparkListener` on the
  * `SparkContext`. Every event is kept with its wall-clock time, so a
  * caller can ask for the totals inside any time window (a span). The
  * benchmark's client is sequential, so a window holds exactly the work
  * its span started.
  */
final class Layers extends SparkListener {
  import Layers.Task

  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += e.time }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    val t =
      if (m == null) Task(i.launchTime, i.finishTime, 0, 0, 0, 0, 0, 0)
      else Task(i.launchTime, i.finishTime, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    synchronized { tasks += t }
  }

  /** Totals for work that started inside `[from, to]` (epoch ms). */
  def window(sc: SparkContext, from: Long, to: Long): Counts = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val ts = tasks.filter(t => t.launch >= from && t.launch <= to).toSeq
      Counts(
        jobs = jobs.count(t => t >= from && t <= to),
        stages = stages.count(t => t >= from && t <= to),
        tasks = ts.size,
        executorRunMs = ts.map(_.runMs).sum,
        shuffleBytes = ts.map(_.shuffleWrite).sum,
        inputBytes = ts.map(_.input).sum,
        inputRecords = ts.map(_.records).sum,
        outputBytes = ts.map(_.output).sum,
        spillBytes = ts.map(_.spill).sum,
        noTaskShare = idleShare(ts.map(t => (t.launch, t.finish)), from, to))
    }
  }

  /** Share of `[from, to]` during which no task ran. */
  private def idleShare(intervals: Seq[(Long, Long)], from: Long,
                        to: Long): Double = {
    val span = math.max(1L, to - from)
    var busy = 0L
    var cur = from
    for ((s, e) <- intervals.sortBy(_._1)) {
      val lo = math.max(s, cur)
      val hi = math.min(e, to)
      if (hi > lo) { busy += hi - lo; cur = hi }
    }
    1.0 - busy.toDouble / span
  }
}

object Layers {
  private final case class Task(launch: Long, finish: Long, runMs: Long,
                                shuffleWrite: Long, input: Long,
                                records: Long, output: Long, spill: Long)
}

final case class Counts(jobs: Int, stages: Int, tasks: Int,
                        executorRunMs: Long, shuffleBytes: Long,
                        inputBytes: Long, inputRecords: Long,
                        outputBytes: Long, spillBytes: Long,
                        noTaskShare: Double) {
  def asMap: Map[String, Double] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> executorRunMs / 1000.0,
    "shuffle_bytes" -> shuffleBytes.toDouble,
    "input_bytes" -> inputBytes.toDouble,
    "input_records" -> inputRecords.toDouble,
    "output_bytes" -> outputBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble,
    "no_task_share" -> noTaskShare)
}
