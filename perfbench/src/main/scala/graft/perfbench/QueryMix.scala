package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** `query_mix`: one sequential client runs declared queries over the
  * generated tables, pass after pass until the measuring time is used up.
  * The fixpoint group is driver-job-bound and is what an iterative-operator
  * driver would move; the one-pass group is its control inside the same
  * workload. Each query's rows are written as parquet (a few KB), so the
  * timed pass also yields what the DuckDB oracle checks: a fresh JVM's
  * first pass takes about half a minute on a 4-core host, too long to run
  * a second, untimed pass per measurement.
  */
object QueryMix {
  val Fixpoint: Seq[String] = Seq("q34_kcore", "q45_hyperball_incr")
  val OnePass: Seq[String] = Seq("q36_skew_join", "cdc_daily_metrics_state")
  val All: Seq[String] = Fixpoint ++ OnePass
  val Inputs: Seq[String] =
    Seq("customer", "supplier", "part", "orders", "lineitem", "events")

  /** One query, its rows written where the DuckDB oracle reads them. */
  private def runQuery(ctx: Ctx, data: String, out: Path, q: String): Unit =
    SparkEntry.queries(q)(ctx.spark, data)
      .write.mode("overwrite").parquet(out.resolve(q).toString)

  def run(ctx: Ctx, data: String, out: Path): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val notes = mutable.ArrayBuffer.empty[String]
    // set-up: read every input table through the engine's reader
    val setupS = (1 to Cdc.Setups).map(_ =>
      Util.timed(Inputs.foreach(t => Tables(spark, data, t).count()))._2)
    Main.phase("query set-ups done")

    // a fixed order: in a fresh JVM the first queries pay the warm-up, so
    // a permuted order would move that cost between queries run to run
    val order = All
    val deadline = System.currentTimeMillis() + ctx.seconds * 1000L
    final case class Pass(wall: Double, cpu: Double,
                          byQuery: Map[String, (Double, Counts)])
    val passes = mutable.ArrayBuffer.empty[Pass]
    var attempted, failed = 0L
    do {
      val cpu0 = Util.processCpuS()
      val byQuery = order.map { q =>
        val from = System.currentTimeMillis()
        val (ok, s) = Util.timed(scala.util.Try(ctx.trace.fold(
          runQuery(ctx, data, out, q))(_.span("SparkEntry.queries", q)(
            runQuery(ctx, data, out, q)))))
        attempted += 1
        ok.failed.foreach { e =>
          failed += 1
          notes += s"$q threw: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        }
        q -> (s, ctx.layers.window(sc, from, System.currentTimeMillis()))
      }.toMap
      passes += Pass(byQuery.values.map(_._1).sum, Util.processCpuS() - cpu0, byQuery)
    } while (System.currentTimeMillis() < deadline)

    Main.phase(s"${passes.size} query passes done")
    Files.write(out.resolve("oracle_sql.json"), Json.obj(
      All.map(q => q -> SparkEntry.oracleSql.getOrElse(q, null)): _*).text
      .getBytes(UTF_8))

    def med(f: Pass => Double) = Util.median(passes.map(f).toSeq)
    def sum(p: Pass, qs: Seq[String], f: Counts => Double) =
      qs.map(q => f(p.byQuery(q)._2)).sum
    val e2e = Map(
      "setup_s" -> Util.median(setupS),
      "publish_latency_p50_ms" ->
        med(p => Util.pct(p.byQuery.values.map(_._1 * 1000).toSeq, 0.5)),
      "publish_latency_p95_ms" ->
        med(p => Util.pct(p.byQuery.values.map(_._1 * 1000).toSeq, 0.95)),
      "drain_events_per_s" -> med(p => sum(p, All, _.inputRecords) / p.wall),
      "suite_wall_s" -> med(_.wall),
      "process_cpu_s" -> med(_.cpu),
      "stored_bytes_per_input_byte" -> med(p =>
        sum(p, All, _.outputBytes) / math.max(1.0, sum(p, All, _.inputBytes))))

    def group(prefix: String, qs: Seq[String]): Map[String, Double] = {
      // busy-weighted idle share over the group's queries
      def idle(p: Pass) = qs.map(q => p.byQuery(q)._2.noTaskShare * p.byQuery(q)._1).sum /
        math.max(1e-9, qs.map(q => p.byQuery(q)._1).sum)
      Map(
        s"$prefix.wall_s" -> med(p => qs.map(q => p.byQuery(q)._1).sum),
        s"$prefix.jobs" -> med(sum(_, qs, _.jobs)),
        s"$prefix.stages" -> med(sum(_, qs, _.stages)),
        s"$prefix.tasks" -> med(sum(_, qs, _.tasks)),
        s"$prefix.shuffle_bytes" -> med(sum(_, qs, _.shuffleBytes)),
        s"$prefix.input_bytes" -> med(sum(_, qs, _.inputBytes)),
        s"$prefix.spill_bytes" -> med(sum(_, qs, _.spillBytes)),
        s"$prefix.executor_run_s" -> med(sum(_, qs, _.executorRunMs / 1000.0)),
        s"$prefix.no_task_share" -> med(idle))
    }
    val perQuery = All.flatMap { q =>
      Seq(s"query.$q.wall_s" -> med(_.byQuery(q)._1),
        s"query.$q.jobs" -> med(_.byQuery(q)._2.jobs.toDouble),
        s"query.$q.shuffle_bytes" -> med(_.byQuery(q)._2.shuffleBytes.toDouble))
    }
    Outcome(e2e, group("operators", Fixpoint) ++ group("queries", OnePass) ++
      perQuery + ("query_mix.passes" -> passes.size.toDouble),
      attempted, failed, notes.toSeq)
  }
}
