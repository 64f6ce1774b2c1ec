package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Query-cost probe (runMain): the Spark jobs and wall time one declared
  * query costs end to end. Job counts are immune to host weather (a fused
  * convergence action is exactly one job fewer per round), so they are the
  * before/after metric for plan and fixpoint work; wall time is printed
  * beside them for context. Under AQE the count can move by a job or two
  * between runs of one query, because a re-plan depends on which stage
  * finishes first; compare single counts with that in mind. Pointed at a
  * `ScaleDataGen` output directory, the same probe measures scale sweeps.
  * Usage:
  *   Test/runMain graft.QueryProbe <sfDir> <q1,q2,...>
  * Prints one line per query: QUERY <name> jobs=<count> wall_ms=<ms>.
  */
object QueryProbe {

  final case class Cost(jobs: Long, wallMs: Long)

  /** Run `name` once untimed (codegen, schema inference and class loading
    * stay out of the numbers), then once more counted and timed, both
    * through a noop sink. Every job the second run starts counts, including
    * the jobs an iterative builder runs before it returns its frame.
    */
  def measure(spark: SparkSession, sfDir: String, name: String): Cost = {
    val build = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no such query: $name"))
    def runOnce(): Unit =
      build(spark, sfDir).write.format("noop").mode("overwrite").save()
    val sc = spark.sparkContext
    runOnce()
    TestBus.drain(sc)
    val jobs = new AtomicLong(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      runOnce()
      val wallMs = (System.nanoTime() - t0) / 1000000
      TestBus.drain(sc)
      Cost(jobs.get(), wallMs)
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val c = measure(spark, sfDir, name)
      println(s"QUERY $name jobs=${c.jobs} wall_ms=${c.wallMs}")
    }
    spark.stop()
  }
}
