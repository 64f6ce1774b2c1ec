package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, layers: Layers, trace: Option[Trace],
                     seed: Long, seconds: Int, work: Path, cores: Int)

/** What one workload run measured: end-to-end metrics, per-layer numbers,
  * and how many of its operations were attempted and failed.
  */
final case class Outcome(e2e: Map[String, Double], layer: Map[String, Double],
                         attempted: Long, failed: Long, notes: Seq[String])

/** JVM side of the benchmark (see perfbench/run.py, which builds this,
  * generates the query tables and checks the oracle).
  *
  * Usage: graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *        <work dir> <result json> [<table dir>]
  */
object Main {
  private val t0 = System.nanoTime()

  /** Progress line with the elapsed run time, for the run log. */
  def phase(what: String): Unit =
    System.err.println(f"[phase] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $what")

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, resultS) = args.take(6)
    val work = Paths.get(workS)
    val cores = Runtime.getRuntime.availableProcessors()
    val steal0 = Util.stealS()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    phase("spark session up")
    val layers = new Layers
    spark.sparkContext.addSparkListener(layers)
    val trace = if (traceS == "1") Some(new Trace(spark.sparkContext, layers)) else None
    val ctx = Ctx(spark, layers, trace, seedS.toLong, secondsS.toInt, work, cores)
    try {
      val out = workload match {
        case "cdc" => Cdc.run(ctx)
        case "query_mix" =>
          val data = args.lift(6).getOrElse(sys.error("query_mix needs a table dir"))
          QueryMix.run(ctx, data, work.resolve("oracle-out"))
        case other => sys.error(s"unknown workload $other")
      }
      phase("workload done")
      val layer = out.layer ++ Map(
        "host.steal_s" -> (Util.stealS() - steal0),
        "loadgen.late_ms_p95" -> out.layer.getOrElse("loadgen.late_ms_p95", 0.0))
      val e2e = out.e2e + ("peak_rss_mb" -> Util.peakRssMb())
      trace.foreach(t => Files.write(work.resolve("spans.json"), t.toJson.getBytes(UTF_8)))
      val report = trace.map(t => Report.spans(t)).getOrElse("")
      Files.write(Paths.get(resultS), Json.obj(
        "workload" -> workload, "e2e" -> e2e, "layer" -> layer,
        "attempted" -> out.attempted, "failed" -> out.failed,
        "notes" -> out.notes, "span_report" -> report).text.getBytes(UTF_8))
    } finally {
      spark.stop()
      phase("spark stopped")
    }
    // a finished streaming run can leave non-daemon threads behind that
    // hold the JVM open for many seconds after the work is done
    sys.exit(0)
  }
}

/** Per-span-name totals of a traced run: calls, total and self time, and
  * the listener counts attributed to the spans.
  */
object Report {
  def spans(t: Trace): String = {
    val rows = t.spans.groupBy(_.name).toSeq.map { case (name, ss) =>
      val c = ss.map(_.counts)
      (name, ss.size, ss.map(_.ms).sum, ss.map(t.selfMs).sum,
        c.map(_.jobs).sum, c.map(_.stages).sum, c.map(_.tasks).sum,
        c.map(_.shuffleBytes).sum)
    }.sortBy(-_._3)
    val head = f"${"span"}%-30s ${"calls"}%6s ${"total_ms"}%10s ${"self_ms"}%10s " +
      f"${"jobs"}%6s ${"stages"}%7s ${"tasks"}%7s ${"shuffle_B"}%11s"
    (head +: rows.map { case (n, k, tot, self, j, s, ts, sh) =>
      f"$n%-30s $k%6d $tot%10.1f $self%10.1f $j%6d $s%7d $ts%7d $sh%11d"
    }).mkString("\n")
  }
}
