package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.cdc.{ChangeStream, Dedup, Fixtures, Schemas, TestRules}
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

  test("concurrent maintenance hooks start no more Spark jobs than the " +
      "same hooks run one at a time") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    val st = tmp("state")
    Ledger.writeCrudScenario(ledger)
    Pipeline.run(spark, ledger, root, ckpt).awaitTermination(120000)
    val tables = Seq("graft_pipe_jobs_latest_s", "graft_pipe_jobs_daily_s",
      "graft_pipe_jobs_latest_c", "graft_pipe_jobs_daily_c")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def hooks(latest: String, daily: String)
        : Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
      (b, id) => graft.cdc.Scd.mergeBatchLatest(b, Seq("aggregateId"),
        "timestamp", "eventId", latest, s"$st/$latest", id),
      (b, id) => graft.cdc.Metrics.mergeBatchDaily(b,
        to_date(col("timestamp")), col("eventType"), lit(0L), daily,
        s"$st/$daily", id))
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOf(maintenance: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit])
        : Int = {
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.set(0)
      assert(Pipeline.maintainFromStore(spark, root, maintenance,
        tmp("wm")) >= 1L)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // three rounds: the first creates the tables, the others rewrite
      // them; a hook racing the cache build shows in any of them
      for (round <- 1 to 3) {
        val serial = hooks(tables(0), tables(1))
        val oneAtATime = jobsOf(Seq((b, id) => serial.foreach(_(b, id))))
        val concurrent = jobsOf(hooks(tables(2), tables(3)))
        assert(concurrent <= oneAtATime, s"round $round: concurrent " +
          s"hooks ran $concurrent jobs, one at a time $oneAtATime")
      }
      assert(spark.table(tables(3)).count() ===
        spark.table(tables(1)).count())
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("follower: a pass over 3 batches starts the same number of jobs " +
      "per batch as a pass over 1 batch") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger)
    // one ledger segment per trigger: three batches, each storing events
    Pipeline.run(spark, ledger, root, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination(120000)
    val hi = Pipeline.publishedBatchIds(spark, root).max
    assert(hi === 2L)
    // the hook reads its batch in one job
    val hook: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] =
      Seq((b, _) => assert(b.select("eventId").collect().nonEmpty))
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsOfPass(batches: Int): Int = {
      val wm = tmp("wm")
      java.nio.file.Files.write(java.nio.file.Paths.get(wm, "_maintained"),
        (hi - batches).toString.getBytes("UTF-8"))
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.set(0)
      assert(Pipeline.maintainFromStore(spark, root, hook, wm) === batches)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // one schema inference per pass, then one job per batch: the hook's
      val (one, three) = (jobsOfPass(1), jobsOfPass(3))
      assert((one, three) === ((2, 4)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("an in-batch pass of two hooks on fresh tables creates them with no " +
      "Spark job: no CTAS, no schema inference, as many jobs as on " +
      "existing tables (AQE off)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val st = tmp("state")
    val tables = Seq("graft_pipe_ddl_latest", "graft_pipe_ddl_daily")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val hooks: Seq[(org.apache.spark.sql.DataFrame, Long) => Unit] = Seq(
      (b, id) => graft.cdc.Scd.mergeBatchLatest(b, Seq("aggregateId"),
        "timestamp", "eventId", tables(0), s"$st/latest", id),
      (b, id) => graft.cdc.Metrics.mergeBatchDaily(b,
        to_date(col("timestamp")), col("eventType"), lit(0L), tables(1),
        s"$st/daily", id))
    // per job: its group and its stages' RDDs (a parquet schema inference
    // runs over a ParallelCollectionRDD, and so does a CTAS of an empty
    // local frame); per SQL execution: the node names of its plan
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          e.stageInfos.flatMap(_.rddInfos.map(_.name)).mkString(";")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          def nodes(p: SparkPlanInfo): Seq[String] =
            p.nodeName +: p.children.flatMap(nodes)
          execs.addAll(nodes(s.sparkPlanInfo).asJava)
        case _ =>
      }
    }
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    // one batch (every segment in one AvailableNow trigger) on a fresh sink
    def pass(): (String, Seq[(String, String)], Seq[String]) = {
      val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
      Ledger.writeCrudScenario(ledger)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      jobs.clear()
      execs.clear()
      val q = Pipeline.run(caller, ledger, root, ckpt, maintenance = hooks)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty && q.recentProgress.count(_.numInputRows > 0) == 1)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (q.runId.toString, jobs.asScala.toSeq, execs.asScala.toSeq)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ((runFresh, fresh, freshExecs), (_, existing, _)) = (pass(), pass())
      val ctas = freshExecs.filter(n => n.contains("SaveAsV1TableCommand") ||
        n.contains("CreateDataSourceTableAsSelectCommand"))
      assert(ctas.isEmpty, freshExecs.distinct)
      val inference = fresh.filter(_._2.contains("ParallelCollectionRDD"))
      assert(inference.isEmpty, fresh.map(_._2))
      val sink = fresh.count(_._1 == runFresh)
      assert(fresh.size === existing.size, s"fresh tables: ${fresh.map(_._2)}" +
        s"; existing tables: ${existing.map(_._2)}; sink jobs $sink")
      assert(tables.forall(t => spark.table(t).count() > 0))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("the pipeline and its hooks run with the caller session's SQL " +
      "settings, and the caller's session is left unchanged") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    Ledger.writeCrudScenario(ledger)
    // the two caller settings, and one of the pipeline's own overrides
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val caller = spark.newSession()
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val before = caller.conf.getAll
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val q = Pipeline.run(caller, ledger, root, ckpt, maintenance = Seq(
      (b, _) => seen.add(keys.map(b.sparkSession.conf.get))))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.distinct == Seq(Seq("false", "7", "128k")))
    assert(caller.conf.getAll == before)
  }

  test("retention sweep drops only the expired month of the store tree; " +
      "the live month and the publish tree are untouched") {
    import scala.jdk.CollectionConverters._
    val root = tmp("retention")
    val june = TestRules.applyAll(Fixtures.crudScenario(spark))
    // the same events a year later, as a second (live) month
    val live = june
      .withColumn("timestamp", col("timestamp") + expr("INTERVAL 365 DAYS"))
      .withColumn("eventId", concat(col("eventId"), lit("-live")))
    Pipeline.storeThenPublish(june, 0L, root)
    Pipeline.storeThenPublish(live, 1L, root)
    val store = new java.io.File(Pipeline.storeDir(root))
    assert(new java.io.File(store, "_pkey=202406").isDirectory)
    assert(new java.io.File(store, "_pkey=202506").isDirectory)
    def files(dir: java.io.File): Seq[(String, Long)] =
      java.nio.file.Files.walk(dir.toPath).iterator().asScala.toSeq
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).sorted
    val publishBefore = files(new java.io.File(Pipeline.publishDir(root)))
    val liveBefore = files(new java.io.File(store, "_pkey=202506"))
    val published = Pipeline.readPublished(spark, root).count()
    // 13 months after the fixture month -> June 2024 expired at max_age=12mo
    val nowMs = Fixtures.T0 + 13L * 31 * 24 * 3600 * 1000
    assert(Pipeline.sweepRetention(spark, root, 12, nowMs) == Seq("_pkey=202406"))
    val ids = Pipeline.readEventStore(spark, Pipeline.storeDir(root))
      .select("eventId").collect().map(_.getString(0)).toSet
    assert(ids == live.select("eventId").collect().map(_.getString(0)).toSet)
    assert(!new java.io.File(store, "_pkey=202406").exists())
    assert(files(new java.io.File(store, "_pkey=202506")) == liveBefore)
    assert(files(new java.io.File(Pipeline.publishDir(root))) == publishBefore)
    assert(Pipeline.readPublished(spark, root).count() == published)
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
    val events = TestRules.applyAll(
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
    val events = TestRules.applyAll(graft.cdc.Fixtures.crudScenario(spark))
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
    employeeSegments(ledger, 4)
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

  /** A ledger of `n` one-event `employees` segments: with
    * `maxFilesPerTrigger = 1`, `n` batches of the same shape.
    */
  private def employeeSegments(ledger: String, n: Int): Unit =
    for (seg <- 1 to n)
      Ledger.writeSegment(ledger, "hrdb", "employees", f"$seg%06d.jsonl",
        Seq(Fixtures.env("employees", "c", "null",
          Fixtures.emp(id = seg, num = s"EMP$seg"), Fixtures.T0 + seg * 1000L)))

  test("every parquet file of both sink trees is zstd-compressed") {
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    employeeSegments(ledger, 2)
    Pipeline.run(spark, ledger, root, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination(120000)
    assert(Pipeline.publishedBatchIds(spark, root) == Seq(0L, 1L))
    for (tree <- Seq(Pipeline.storeDir(root), Pipeline.publishDir(root))) {
      val codecs = graft.ParquetFooters.codecs(tree)
      // each batch wrote its own files in this tree
      assert(Seq(0, 1).forall(b => codecs.keys.exists(_.contains(s"_batch_id=$b/"))),
        s"$tree: ${codecs.keys}")
      assert(codecs.values.forall(_ == Set("ZSTD")), s"$tree: $codecs")
    }
  }

  test("batches of the same shape compile no new code: the sink write " +
      "stage is reused across batches") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (ledger, root, ckpt) = (tmp("ledger"), tmp("sink"), tmp("ckpt"))
    employeeSegments(ledger, 3)
    // Janino compiles so far, sampled after each batch's data commit
    val compiles = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val q = Pipeline.run(spark, ledger, root, ckpt, maxFilesPerTrigger = Some(1),
      failpoint = id => compiles.put(id,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty && compiles.size == 3, compiles)
    // batches 1 and 2 reuse batch 0's classes (a batch-id literal inlined
    // into the write stage compiled 1-2 classes per batch)
    assert(compiles.get(2L) == compiles.get(0L), compiles)
  }
}
