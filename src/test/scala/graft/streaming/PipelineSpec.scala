package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.cdc.{ChangeStream, Dedup, Fixtures, Rules, Schemas}
import graft.sources.Ledger

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("full pipeline: ledger -> rules -> store-then-publish, batch-idempotent") {
    val (ledger, root, ckpt) = (tmp("sink"), tmp("store"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger)
    val q = Pipeline.run(spark, ledger, root, ckpt)
    q.awaitTermination(120000)
    val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
    // crud scenario fires: EmployeeHired, EmployeeDataUpdated (salary-only
    // update), SalaryAdjusted, LeaveRequested = 4 domain events
    assert(stored.count() == 4)
    assert(stored.select("eventType").distinct().count() == 4)
    val published = Pipeline.readPublished(spark, root)
    assert(published.select("eventId").distinct().count() == 4)
    // store is month-partitioned under the hood
    assert(new java.io.File(root, "_sink=store/_pkey=202406").exists())
    // publish fans out per subject
    assert(Option(new java.io.File(root, "_sink=publish").listFiles())
      .getOrElse(Array.empty).exists(_.getName.startsWith("_pkey=")))
  }

  test("crash between store and publish: restart yields no loss and no dups") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger)
    val boom = new AtomicInteger(0)
    // first attempt at any batch: data committed, then crash before the
    // publish marker
    val q1 = Pipeline.run(spark, ledger, root, ckpt,
      failpoint = _ => if (boom.getAndIncrement() == 0)
        throw new RuntimeException("simulated crash between commit and marker"))
    intercept[Exception] { q1.awaitTermination(120000) }
    // store has the batch; nothing is publish-VISIBLE — the ordering invariant
    assert(spark.read.parquet(Pipeline.storeDir(root)).count() > 0)
    assert(Pipeline.readPublished(spark, root).count() == 0,
      "nothing may be publish-visible before the marker commits")

    // restart on the same checkpoint: the batch replays, overwrites its own
    // _batch_id partitions (no dup) and arms the marker
    val q2 = Pipeline.run(spark, ledger, root, ckpt)
    q2.awaitTermination(120000)
    val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
    assert(stored.count() == 4, "replay must not duplicate store rows")
    assert(stored.select("eventId").distinct().count() == 4)
    val published = Pipeline.readPublished(spark, root)
    assert(published.count() == 4, "publish completes on replay")
    assert(published.select("eventId").distinct().count() == 4)
  }

  test("maintenance hooks: state tables land exactly-once alongside the " +
      "event store across a crash/replay") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val st = tmp("state")
    Ledger.writeCrudScenario(ledger)
    val stateT = "graft_pipe_state"
    val dailyT = "graft_pipe_daily"
    Seq(stateT, dailyT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      // two state families ride the stream: latest-wins per aggregate and
      // the daily-metrics materialized view — both BatchTables-idempotent
      val hooks: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
        (b, id) => graft.cdc.Scd.mergeBatchLatest(b, Seq("aggregateId"),
          "timestamp", "eventId", stateT, s"$st/latest", id),
        (b, id) => graft.cdc.Metrics.mergeBatchDaily(b,
          to_date(col("timestamp")), col("eventType"), lit(0L),
          dailyT, s"$st/daily", id))
      // crash after the data commit, before the marker (hooks trail the
      // publish since round 13, so none have run yet): the replay
      // re-runs the sink AND every hook — dynamic overwrite must not
      // double either
      val boom = new AtomicInteger(0)
      val q1 = Pipeline.run(spark, ledger, root, ckpt,
        failpoint = _ => if (boom.getAndIncrement() == 0)
          throw new RuntimeException("simulated crash after maintenance"),
        maintenance = hooks)
      intercept[Exception] { q1.awaitTermination(120000) }
      val q2 = Pipeline.run(spark, ledger, root, ckpt, maintenance = hooks)
      q2.awaitTermination(120000)

      val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
      assert(stored.count() == 4)
      // daily metrics FROM THE MAINTAINED TABLE equal a one-shot aggregate
      // of the final store — a doubled replay would inflate n
      val got = graft.cdc.Metrics.dailyFromTable(spark, dailyT)
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = stored.groupBy(to_date(col("timestamp")).as("day"),
          col("eventType").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want, s"maintained daily metrics diverge: $got vs $want")
      assert(got.toSeq.map(_._3).sum == 4)
      // latest-wins state per aggregate equals the one-shot reduction of
      // the store ("eventType" as op: no domain event is a tombstone)
      val state = graft.cdc.Scd.stateFromTable(spark, stateT,
        Seq("aggregateId"), "timestamp", "eventId", "eventType")
        .select(col("aggregateId"), col("eventId")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      val oneShot = graft.cdc.Scd.latest(stored, Seq("aggregateId"),
        "timestamp", "eventId", "eventType")
        .select(col("aggregateId"), col("eventId")).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state == oneShot && state.nonEmpty)
    } finally {
      Seq(stateT, dailyT).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("crash BETWEEN publish and maintenance: the batch is already " +
      "consumer-visible, and the replay converges the state tables " +
      "exactly-once (the round-13 publish-first window)") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val st = tmp("state")
    Ledger.writeCrudScenario(ledger)
    val dailyT = "graft_pipe_daily_pp"
    spark.sql(s"DROP TABLE IF EXISTS $dailyT")
    try {
      val hooks: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
        (b, id) => graft.cdc.Metrics.mergeBatchDaily(b,
          to_date(col("timestamp")), col("eventType"), lit(0L),
          dailyT, s"$st/daily", id))
      // crash in the NEW window: marker armed, hooks not yet run
      val boom = new AtomicInteger(0)
      val q1 = Pipeline.run(spark, ledger, root, ckpt,
        maintenance = hooks,
        postPublishFailpoint = _ => if (boom.getAndIncrement() == 0)
          throw new RuntimeException("simulated crash between publish and maintenance"))
      intercept[Exception] { q1.awaitTermination(120000) }
      // publish-first contract: the batch IS consumer-visible already...
      assert(Pipeline.readPublished(spark, root)
        .select("eventId").distinct().count() == 4,
        "publish must be visible before maintenance runs")
      // ...while the state table lags (crash before the hook) — the
      // documented bounded-by-one-batch freshness lag
      assert(!spark.catalog.tableExists(dailyT) ||
        spark.table(dailyT).isEmpty,
        "no hook ran, so no state rows may exist yet")

      // restart on the same checkpoint: offsets never committed, the
      // batch replays — store/publish rewrite their own partitions and
      // the hook lands its state exactly once
      val q2 = Pipeline.run(spark, ledger, root, ckpt, maintenance = hooks)
      q2.awaitTermination(120000)
      val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
      assert(stored.count() == 4, "replay must not duplicate store rows")
      assert(Pipeline.readPublished(spark, root)
        .select("eventId").distinct().count() == 4)
      val got = graft.cdc.Metrics.dailyFromTable(spark, dailyT)
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = stored.groupBy(to_date(col("timestamp")).as("day"),
          col("eventType").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(got == want && got.toSeq.map(_._3).sum == 4,
        s"state must converge on replay: $got vs $want")
    } finally spark.sql(s"DROP TABLE IF EXISTS $dailyT")
  }

  test("a fatal error in one maintenance hook fails the batch and cancels " +
      "the sibling hook's Spark jobs") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger)
    val t0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - t0) / 1e9
    val hooks: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
      (_, _) => {
        Thread.sleep(500)
        throw new StackOverflowError("simulated fatal error in a hook")
      },
      // submits job after job until its group is cancelled; the time bound
      // ends it should the cancellation never come
      (b, _) => while (elapsedS < 60) b.sparkSession.range(1000).count())
    val q = Pipeline.run(spark, ledger, root, ckpt, maintenance = hooks)
    // a hook escaping the wait would leave the batch, and the query,
    // running forever: the bounded wait turns that into a failure
    val e = try intercept[StreamingQueryException](q.awaitTermination(30000))
      finally q.stop()
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[StackOverflowError]), e)
    org.apache.spark.TestBus.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("follower maintenance (maintainFromStore): respects the publish " +
      "watermark, converges to the one-shot, and re-runs are idempotent") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val st = tmp("state")
    val wm = tmp("wm")
    Ledger.writeCrudScenario(ledger)
    val dailyT = "graft_pipe_daily_fw"
    spark.sql(s"DROP TABLE IF EXISTS $dailyT")
    try {
      val hooks: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
        (b, id) => graft.cdc.Metrics.mergeBatchDaily(b,
          to_date(col("timestamp")), col("eventType"), lit(0L),
          dailyT, s"$st/daily", id))
      // crash between data commit and marker: store rows exist on disk
      // but nothing is PUBLISHED — the follower must touch nothing
      val boom = new AtomicInteger(0)
      val q1 = Pipeline.run(spark, ledger, root, ckpt,
        failpoint = _ => if (boom.getAndIncrement() == 0)
          throw new RuntimeException("simulated crash before marker"))
      intercept[Exception] { q1.awaitTermination(120000) }
      assert(Pipeline.maintainedWatermark(spark, wm) === -1L)
      assert(Pipeline.maintainFromStore(spark, root, hooks, wm) === 0L,
        "unpublished batches must not be maintained")
      assert(!spark.catalog.tableExists(dailyT) ||
        spark.table(dailyT).isEmpty)

      // restart: the batch replays (identical content — deterministic
      // replan), publishes; the follower now catches up
      Pipeline.run(spark, ledger, root, ckpt).awaitTermination(120000)
      assert(Pipeline.maintainFromStore(spark, root, hooks, wm) >= 1L)
      assert(Pipeline.maintainedWatermark(spark, wm) ===
        Pipeline.publishedBatchIds(spark, root).max)
      val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
      def daily() = graft.cdc.Metrics.dailyFromTable(spark, dailyT)
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      val want = stored.groupBy(to_date(col("timestamp")).as("day"),
          col("eventType").as("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("day").cast("string"), col("event_type"), col("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(daily() == want && want.toSeq.map(_._3).sum == 4)

      // caught-up pass is a no-op
      assert(Pipeline.maintainFromStore(spark, root, hooks, wm) === 0L)
      // a lost follower watermark re-runs every batch as an idempotent
      // rewrite: state unchanged
      assert(new java.io.File(wm, "_maintained").delete())
      assert(Pipeline.maintainFromStore(spark, root, hooks, wm) >= 1L)
      assert(daily() == want, "watermark-loss re-run must be a rewrite")
    } finally spark.sql(s"DROP TABLE IF EXISTS $dailyT")
  }

  test("neither Pipeline.run nor maintainFromStore sets the partition " +
      "overwrite mode on any session") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val (st, wm) = (tmp("state"), tmp("wm"))
    Ledger.writeCrudScenario(ledger)
    val tables = Seq("graft_pipe_mode_latest", "graft_pipe_mode_daily",
      "graft_pipe_mode_latest_fw", "graft_pipe_mode_daily_fw")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    // set at all, not merely set to its default
    def modeSet(s: org.apache.spark.sql.SparkSession): Boolean =
      s.sessionState.conf.getAllConfs.contains(key)
    val caller = spark.newSession()
    assert(!modeSet(caller))
    // the sessions the hooks ran on: the pipeline's own clone and the
    // follower's caller
    val hookSessions = java.util.concurrent.ConcurrentHashMap
      .newKeySet[org.apache.spark.sql.SparkSession]()
    def hooks(latest: String, daily: String)
        : Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
      (b, id) => {
        hookSessions.add(b.sparkSession)
        graft.cdc.Scd.mergeBatchLatest(b, Seq("aggregateId"), "timestamp",
          "eventId", latest, s"$st/$latest", id)
      },
      (b, id) => {
        hookSessions.add(b.sparkSession)
        graft.cdc.Metrics.mergeBatchDaily(b, to_date(col("timestamp")),
          col("eventType"), lit(0L), daily, s"$st/$daily", id)
      })
    try {
      Pipeline.run(caller, ledger, root, ckpt,
        maintenance = hooks(tables(0), tables(1))).awaitTermination(120000)
      assert(!hookSessions.isEmpty && !hookSessions.contains(caller))
      assert(caller.table(tables(1)).count() > 0)
      assert(Pipeline.maintainFromStore(caller, root,
        hooks(tables(2), tables(3)), wm) >= 1L)
      assert(hookSessions.contains(caller))
      assert(caller.table(tables(3)).count() == caller.table(tables(1)).count())
      hookSessions.forEach(s => assert(!modeSet(s),
        s"a hook session has $key=${s.conf.getOption(key)}"))
      assert(!modeSet(caller))
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("drift monitor rides the pipeline: a Quantiles maintenance hook keeps " +
      "the histogram table, and driftFromTable across batch ranges equals the " +
      "one-shot drift — through a crash/replay") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val st = tmp("state")
    Ledger.writeCrudScenario(ledger)
    val histT = "graft_pipe_hist"
    spark.sql(s"DROP TABLE IF EXISTS $histT")
    try {
      // per-batch capture of exactly what the hook histogrammed, so the
      // one-shot reference below is built from the same rows; a replayed
      // batch overwrites its entry with identical content (rules pure)
      val perBatch = scala.collection.concurrent.TrieMap
        .empty[Long, Seq[(String, Long)]]
      val hook: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, id) => {
        val withV = b.withColumn("v",
          pmod(unix_millis(col("timestamp")), lit(86400000L)) + 1L)
        graft.operators.Quantiles.mergeBatch(withV, Seq("eventType"), "v",
          histT, s"$st/hist", id)
        perBatch(id) = withV.select(col("eventType"), col("v")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      val boom = new AtomicInteger(0)
      val q1 = Pipeline.run(spark, ledger, root, ckpt,
        maxFilesPerTrigger = Some(1),
        failpoint = _ => if (boom.getAndIncrement() == 0)
          throw new RuntimeException("simulated crash after maintenance"),
        maintenance = Seq(hook))
      intercept[Exception] { q1.awaitTermination(120000) }
      val q2 = Pipeline.run(spark, ledger, root, ckpt,
        maxFilesPerTrigger = Some(1), maintenance = Seq(hook))
      q2.awaitTermination(120000)

      val ids = perBatch.keySet.toSeq.sorted
      assert(ids.size >= 2, s"need 2+ batches to compare, got $ids")
      val (aIds, bIds) = (Seq(ids.head), ids.tail)
      import spark.implicits._
      def oneShot(sel: Seq[Long]) =
        sel.flatMap(perBatch).toDF("eventType", "v")
      // integer statistics must be bit-identical to the one-shot drift
      // over the same rows (ks is one division of those integers)
      def ints(df: org.apache.spark.sql.DataFrame) =
        df.select(col("eventType"), col("n_a"), col("n_b"), col("buckets"),
            col("ks_num"), col("tv_num"))
          .collect().map(_.toString).sorted.toSeq
      val got = ints(graft.operators.Drift.driftFromTable(
        spark, histT, Seq("eventType"), aIds, bIds))
      val want = ints(graft.operators.Drift.histogramDrift(
        oneShot(aIds), oneShot(bIds), Seq("eventType"), "v"))
      assert(got == want && got.nonEmpty,
        s"maintained-table drift diverged:\n$got\nvs\n$want")
      // the maintained histogram equals the one-shot histogram of ALL rows
      val histGot = graft.operators.Quantiles
        .histogramFromTable(spark, histT, Seq("eventType"))
        .collect().map(_.toString).sorted.toSeq
      val histWant = graft.operators.Quantiles
        .histogram(oneShot(ids), Seq("eventType"), "v")
        .collect().map(_.toString).sorted.toSeq
      assert(histGot == histWant)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $histT")
    }
  }

  test("streaming dedup: dropDuplicatesWithinWatermark suppresses cross-batch duplicate") {
    val ledger = tmp("ledger")
    // same hired envelope in two segments -> same deterministic eventId,
    // arriving in two different micro-batches (maxFilesPerTrigger=1)
    val hired = Fixtures.env("employees", "c", "null", Fixtures.emp(), Fixtures.T0)
    val later = Fixtures.env("employees", "c", "null",
      Fixtures.emp(id = 1000, num = "EMP1000"), Fixtures.T0 + 30000)
    Ledger.writeSegment(ledger, "hrdb", "employees", "000001.jsonl", Seq(hired))
    Ledger.writeSegment(ledger, "hrdb", "employees", "000002.jsonl", Seq(hired, later))
    val rows = mutable.ArrayBuffer.empty[String]
    val wire = spark.readStream.format("graft-changelog")
      .option("path", ledger).option("maxFilesPerTrigger", "1").load()
    val events = Rules.applyAll(
      ChangeStream.deserialize(wire.filter(col("table") === "employees"),
        Schemas.employees), "employees")
    val deduped = Dedup.withinWatermark(events, Seq("eventId"))
    val q = deduped.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmp("ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        rows.synchronized { rows ++= df.select("eventId").collect().map(_.getString(0)) }
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(rows.size == 2, s"duplicate must be suppressed, got ${rows.size} events")
    assert(rows.distinct.size == 2)
  }

  test("schema-history-aware pipeline decodes a mid-stream rename") {
    import org.apache.spark.sql.types.StructType
    import graft.cdc.SchemaHistory
    val (root, ckpt) = (tmp("sink"), tmp("ckpt"))
    val cut = Fixtures.T0 + 50000L
    // v1 envelopes carry the salary under its old name "sal"
    val v1emp = Fixtures.emp(id = 1, num = "EMP1")
      .replace("\"salary\":", "\"sal\":")
    val v2emp = Fixtures.emp(id = 2, num = "EMP2")
    val led2 = tmp("ledger")
    Ledger.writeSegment(led2, "hrdb", "employees", "000001.jsonl",
      Seq(Fixtures.env("employees", "c", "null", v1emp, Fixtures.T0)))
    Ledger.writeSegment(led2, "hrdb", "employees", "000002.jsonl",
      Seq(Fixtures.env("employees", "c", "null", v2emp, cut + 1000)))
    val v1Schema = StructType(Schemas.employees.fields.map(f =>
      if (f.name == "salary") f.copy(name = "sal") else f))
    val history = SchemaHistory.History("employees", Seq(
      SchemaHistory.Version(1, 0L, v1Schema),
      SchemaHistory.Version(2, cut, Schemas.employees,
        renames = Map("sal" -> "salary"))))
    val q = Pipeline.run(spark, led2, root, ckpt,
      histories = Map("employees" -> history))
    q.awaitTermination(120000)
    val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
    assert(stored.count() == 2, "one EmployeeHired per version era")
    // the v1 row's "sal" surfaces under the canonical name in the payload
    val salaries = stored
      .select(get_json_object(col("payload"), "$.employee.salary").as("s"))
      .collect().map(_.getString(0)).toSeq
    assert(salaries.length == 2 && salaries.forall(_ == "90000.0"),
      salaries.toString)
  }

  test("batchInfo resolves planned partitions inside REAL streaming foreachBatch") {
    // regression (round 4): foreachBatch wraps the batch in an RDDScanExec,
    // and plan-tree introspection alone returned None - so production
    // streaming silently fell back to a full per-batch rescan and never
    // took the direct-write path
    val (ledger, ckpt) = (tmp("ledger"), tmp("ckpt"))
    Ledger.writeSegment(ledger, "hrdb", "employees", "000001.jsonl",
      (1 to 50).map(i => Fixtures.env("employees", "c", "null",
        Fixtures.emp(id = i, num = s"EMP$i"), Fixtures.T0 + i)))
    @volatile var seen: Option[(Seq[String], Long)] = None
    val q = spark.readStream.format("graft-changelog").option("path", ledger)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (wire: org.apache.spark.sql.DataFrame, _: Long) =>
        seen = Pipeline.batchInfo(wire)
        ()
      }.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(seen.isDefined, "planned partitions must be visible in foreachBatch")
    assert(seen.get._1 == Seq("employees"))
    val bytes = new java.io.File(s"$ledger/hrdb/employees/000001.jsonl").length
    assert(seen.get._2 == bytes, s"admitted bytes ${seen.get._2} != file $bytes")
  }

  test("a multi-table direct-write micro-batch runs exactly 2 Spark jobs " +
      "and caches nothing") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger) // employees, salary_changes, leave_requests
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlanInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.sparkPlanInfo)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = Pipeline.run(spark, ledger, root, ckpt)
      q.awaitTermination(120000)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Pipeline.readEventStore(spark, Pipeline.storeDir(root)).count() == 4)
    // the dedup exchange's map stage, then the write: no cache jobs, no
    // per-table union stage
    assert(groups.asScala.count(_ == q.runId.toString) == 2,
      groups.asScala.mkString(","))
    def nodes(p: SparkPlanInfo): Seq[String] = p.nodeName +: p.children.flatMap(nodes)
    val seen = plans.asScala.toSeq.flatMap(nodes)
    assert(seen.exists(_.contains("InsertIntoHadoopFsRelationCommand")),
      seen.distinct)
    assert(!seen.exists(n => n.contains("InMemory") || n.contains("TableCache")),
      seen.distinct)
  }

  test("exchange-based write path (large batches) lands the same trees") {
    // tiny data through the directWrite=false branch: hash exchange on
    // (sink, pkey, salt), pinned partition count, same layout + visibility
    val root = tmp("sink")
    val events = Rules.applyAll(graft.cdc.Fixtures.crudScenario(spark))
    Pipeline.storeThenPublish(events, batchId = 7L, root, directWrite = false)
    val stored = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
    assert(stored.count() == events.count())
    assert(Pipeline.readPublished(spark, root).count() == events.count())
    assert(new java.io.File(root, "_sink=store/_pkey=202406/_batch_id=7").exists())
    // replay overwrites, does not append
    Pipeline.storeThenPublish(events, batchId = 7L, root, directWrite = false)
    assert(Pipeline.readEventStore(spark, Pipeline.storeDir(root)).count()
      == events.count())
  }

  test("publish markers stay bounded: watermark semantics + GC of old markers") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    for (seg <- 1 to 4)
      Ledger.writeSegment(ledger, "hrdb", "employees", f"$seg%06d.jsonl",
        Seq(Fixtures.env("employees", "c", "null",
          Fixtures.emp(id = seg, num = s"EMP$seg"), Fixtures.T0 + seg * 1000L)))
    val q = Pipeline.run(spark, ledger, root, ckpt, maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000)
    // 4 batches ran, but at most the last two marker files survive
    val markers = Option(new java.io.File(root, "_published").listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filterNot(_.startsWith(".")).sorted // drop Hadoop .crc sidecars
    assert(markers.length <= 2 && markers.contains("3"), markers.mkString(","))
    // and every batch's events are still publish-visible via the watermark
    assert(Pipeline.readPublished(spark, root).count() == 4)
  }
}
