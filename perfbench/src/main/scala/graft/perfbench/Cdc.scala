package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.cdc.Validate
import graft.sources.{ChangeLog, ChangeLogOffset}
import graft.streaming.Pipeline

/** The `cdc` workload: one streaming pipeline instance measured first
  * under an open-loop trickle (delivery latency) and then while catching
  * up on a payroll backlog with the state hooks in-batch (drain rate).
  */
object Cdc {
  val TrickleRate = 500 // events/s
  val TickMs = 2000 // one tick of segments per period
  // Processing-time trigger interval: three ticks, longer than a trickle
  // batch takes (~3.5-5 s on 4 cores). Each batch then starts on the
  // trigger's epoch-aligned grid and admits the same ticks at the same
  // offsets, so a segment's wait for its trigger is fixed by the schedule
  // and its latency varies only with the pipeline's own work. Back-to-back
  // batches would instead admit ticks at whatever phase the previous batch
  // happened to end, and the latency of a batch's earliest segment would
  // jump by up to a whole tick run to run.
  val TriggerMs = 6000
  val BacklogEvents = 15000
  val BacklogSegmentEvents = 2500
  val Setups = 3

  /** The five production state hooks, each on its own fresh table. */
  def hooks(state: Path, salt: String): Seq[(String, (DataFrame, Long) => Unit)] = Seq(
    "Scd.mergeBatchLatest" -> ((b, i) => graft.cdc.Scd.mergeBatchLatest(b,
      Seq("aggregateId"), "timestamp", "eventId", s"pb_latest_$salt",
      s"$state/latest", i)),
    "Metrics.mergeBatchDaily" -> ((b, i) => graft.cdc.Metrics.mergeBatchDaily(b,
      to_date(col("timestamp")), col("eventType"), lit(0L),
      s"pb_daily_$salt", s"$state/daily", i)),
    "Quantiles.mergeBatch" -> ((b, i) => graft.operators.Quantiles.mergeBatch(
      b.select(col("eventType"),
        (pmod(unix_micros(col("timestamp")), lit(86400000000L))
          / lit(1000000L) + lit(1L)).cast("long").as("v")),
      Seq("eventType"), "v", s"pb_hist_$salt", s"$state/hist", i)),
    "Hll.mergeBatch" -> ((b, i) => graft.operators.Hll.mergeBatch(b,
      Seq("eventType"), "aggregateId", s"pb_hll_$salt", s"$state/hll", i)),
    "Checks.mergeBatchSuite" -> ((b, i) => graft.operators.Checks.mergeBatchSuite(b,
      Seq(graft.operators.Checks.notNull("aggregateId"),
        graft.operators.Checks.matches("eventType", "^[A-Za-z]+$"),
        graft.operators.Checks.notNull("payload")),
      "timestamp", s"pb_dq_$salt", s"$state/dq", i)))

  private val hookTables = Seq("latest", "daily", "hist", "hll", "dq")

  def dropHookTables(spark: SparkSession, salt: String): Unit =
    hookTables.foreach(k => spark.sql(s"DROP TABLE IF EXISTS pb_${k}_$salt"))

  /** Fresh directories for one pipeline instance. */
  final case class Dirs(base: Path) {
    val ledger: LedgerDir = new LedgerDir(base.resolve("ledger"))
    val sink: String = base.resolve("sink").toString
    val ckpt: String = base.resolve("ckpt").toString
    val state: Path = base.resolve("state")
    Files.createDirectories(base)
  }

  private def offsets(json: String): Map[String, Int] =
    if (json == null) Map.empty else ChangeLogOffset.parse(json).fileCounts

  /** Data batches of a query with their admitted (start, end) offsets. */
  final case class Batch(id: Long, start: Map[String, Int], end: Map[String, Int],
                         progress: StreamingQueryProgress) {
    def admitted: Int = end.map { case (k, n) => n - start.getOrElse(k, 0) }.sum
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.filter(p => p.sources.nonEmpty && {
      val s = offsets(p.sources.head.startOffset)
      val e = offsets(p.sources.head.endOffset)
      e.exists { case (k, n) => n > s.getOrElse(k, 0) }
    }).map(p => Batch(p.batchId, offsets(p.sources.head.startOffset),
      offsets(p.sources.head.endOffset), p))

  /** Event ids in the store and the consumer-visible publish tree. */
  private def sinkIds(spark: SparkSession, sink: String): (Seq[String], Seq[String]) = {
    val store = Pipeline.readEventStore(spark, Pipeline.storeDir(sink))
      .select("eventId").collect().map(_.getString(0)).toSeq
    val pub = Pipeline.readPublished(spark, sink)
      .select("eventId").collect().map(_.getString(0)).toSeq
    (store, pub)
  }

  /** Missing, extra and duplicated events of one sink tree. */
  private def mismatches(got: Seq[String], want: collection.Set[String]): Long = {
    val set = got.toSet
    want.count(!set.contains(_)).toLong + set.count(!want.contains(_)) +
      (got.size - set.size)
  }

  /** Checks the store and publish sets against the generator's expected
    * ids. Returns the number of failed events and a note for each failure.
    */
  def check(spark: SparkSession, sink: String, load: Load,
            notes: mutable.Buffer[String]): Long = {
    val (store, pub) = sinkIds(spark, sink)
    val bad = math.max(mismatches(store, load.expected),
      mismatches(pub, load.expected))
    if (bad > 0) notes += s"sink mismatch: store=${store.size} " +
      s"publish=${pub.size} expected=${load.expected.size} bad=$bad"
    bad
  }

  /** Streaming-layer numbers for a set of data batches. */
  def streamingLayers(spark: SparkSession, layers: Layers, bs: Seq[Batch],
                      lines: Map[(String, Int), Int], from: Long,
                      to: Long): Map[String, Double] = {
    def dur(key: String): Seq[Double] = bs.map(b =>
      Option(b.progress.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))
    val n = math.max(1, bs.size).toDouble
    val c = layers.window(spark.sparkContext, from, to)
    val events = bs.map(b => b.end.toSeq.flatMap { case (k, e) =>
      (b.start.getOrElse(k, 0) + 1 to e).map(i => lines.getOrElse((k, i), 0))
    }.sum.toDouble)
    Map(
      "streaming.latest_offset_ms_p50" -> Util.median(dur("latestOffset")),
      "streaming.get_batch_ms_p50" -> Util.median(dur("getBatch")),
      "streaming.query_planning_ms_p50" -> Util.median(dur("queryPlanning")),
      "streaming.wal_commit_ms_p50" -> Util.median(dur("walCommit")),
      "streaming.commit_offsets_ms_p50" -> Util.median(dur("commitOffsets")),
      "streaming.add_batch_ms_p50" -> Util.median(dur("addBatch")),
      "streaming.trigger_ms_p50" -> Util.median(dur("triggerExecution")),
      "streaming.trigger_ms_p95" -> Util.pct(dur("triggerExecution"), 0.95),
      "streaming.jobs_per_batch" -> c.jobs / n,
      "streaming.stages_per_batch" -> c.stages / n,
      "streaming.tasks_per_batch" -> c.tasks / n,
      "streaming.shuffle_bytes_per_batch" -> c.shuffleBytes / n,
      "streaming.no_task_share" -> c.noTaskShare,
      "streaming.batches" -> bs.size.toDouble,
      "streaming.events_per_batch_p50" -> Util.median(events),
      "sources.backlog_segments_max" ->
        (if (bs.isEmpty) 0.0 else bs.map(_.admitted).max.toDouble))
  }

  /** Streaming numbers that mostly reflect per-trigger overhead; taken
    * from the open-loop trickle phase.
    */
  private val TriggerKeys = Set("streaming.latest_offset_ms_p50",
    "streaming.get_batch_ms_p50", "streaming.query_planning_ms_p50",
    "streaming.wal_commit_ms_p50", "streaming.commit_offsets_ms_p50",
    "streaming.trigger_ms_p50", "streaming.trigger_ms_p95",
    "streaming.jobs_per_batch", "streaming.stages_per_batch",
    "streaming.no_task_share", "sources.backlog_segments_max")

  private def parquetFiles(sink: String): Int =
    Util.files(java.nio.file.Paths.get(sink)).count(_.toString.endsWith(".parquet"))

  /** The `cdc` workload, one pipeline instance through two phases.
    *
    * Set-up (three times, the last instance kept): fresh directories, a
    * warm-up tick with every table of the daily mix, a processing-time
    * query started, until its first batch is published.
    *
    * Trickle phase: open loop at `TrickleRate` events/s in the daily mix,
    * one tick of segments per `TickMs`, drained by the long-lived query
    * with no hooks; one trigger interval of untimed warm-up ticks comes
    * before the `--seconds` of measured ones. A segment's latency runs
    * from its due time on the schedule to the moment its batch id is
    * covered by `Pipeline.publishedBatchIds`; the percentiles weight each
    * segment by its events, so every tick counts alike whatever its table
    * count.
    *
    * Catch-up phase: the query is stopped, a payroll backlog lands in the
    * ledger, and the pipeline restarts with `Trigger.AvailableNow`,
    * `ThroughputAdmissionEvents` worth of segments per trigger and the five
    * production hooks in-batch; the drain runs until the query terminates.
    */
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val perTick = TrickleRate * TickMs / 1000
    val notes = mutable.ArrayBuffer.empty[String]

    var kept: (Dirs, Load, StreamingQuery) = null
    val setupS = (1 to Setups).map { i =>
      val load = new Load(ctx.seed * 7919 + i)
      val (_, s) = Util.timed {
        val d = Dirs(ctx.work.resolve(s"cdc-$i"))
        load.everyTable().foreach(d.ledger.append)
        val q = Pipeline.run(spark, d.ledger.root.toString, d.sink, d.ckpt,
          trigger = Trigger.ProcessingTime(TriggerMs.toLong))
        require(Util.await(120000, PublishWatcher.PollMs)(
          Pipeline.publishedBatchIds(spark, d.sink).nonEmpty),
          "warm-up batch was not published")
        if (i < Setups) { q.stop(); Util.delete(d.base) }
        else kept = (d, load, q)
      }
      s
    }
    val (d, load, q) = kept
    Main.phase("cdc set-ups done")

    // --- trickle phase ---
    // one untimed warm-up batch of the same shape comes first: a fresh
    // JVM's first full-size batches are slower while the JIT catches up
    val nWarm = TriggerMs / TickMs
    val nTicks = ctx.seconds * 1000 / TickMs
    val ticks = (0 until nWarm + nTicks).map(_ => load.dailyTick(perTick))
    val trickleEvents = ticks.drop(nWarm).map(_.map(_.lines.size).sum).sum
    val lines = new ConcurrentHashMap[(String, Int), Int]()
    val segTick = new ConcurrentHashMap[(String, Int), Int]()
    val written = new java.util.concurrent.atomic.AtomicInteger()
    val due = new Array[Util.Stamp](nWarm + nTicks)
    val late = new Array[Double](nWarm + nTicks)
    val watcher = new PublishWatcher(spark, d.sink)
    // ticks fall half a tick after the processing-time trigger's boundaries
    // (multiples of the interval on the epoch clock) and every TickMs after,
    // so a tick's wait for its trigger does not depend on when a run starts
    val soon = System.currentTimeMillis() + 100
    val tw = soon + Math.floorMod(TickMs / 2 - soon, TriggerMs.toLong)
    // the single load-generator thread: writes each tick at its due time
    lazy val generator = new Thread(() => {
      for (k <- 0 until nWarm + nTicks) {
        val dueMs = tw + k.toLong * TickMs
        val wait = dueMs - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        due(k) = Util.Stamp(dueMs, Util.stealS())
        ticks(k).foreach { s =>
          val key = d.ledger.append(s)
          lines.put(key, s.lines.size)
          segTick.put(key, k)
        }
        late(k) = (System.currentTimeMillis() - dueMs).toDouble
        written.incrementAndGet()
      }
    }, "load-generator")
    def ticksFrom(from: Int, until: Int) =
      segTick.asScala.toSeq.collect { case (seg, k) if k >= from && k < until => seg }
    /** The first batch whose end offsets cover every segment of `segs`. */
    def covering(segs: Iterable[(String, Int)]): Option[Long] = {
      val want = segs.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).max }
      batches(q).find(b => want.forall { case (k, n) => b.end.getOrElse(k, 0) >= n })
        .map(_.id)
    }
    var cpu0 = 0.0
    def trickle(): Boolean = {
      generator.start()
      val warmed = Util.await(60000, PublishWatcher.PollMs)(written.get >= nWarm &&
        covering(ticksFrom(0, nWarm)).exists(watcher.seen.containsKey))
      cpu0 = Util.processCpuS()
      generator.join()
      warmed && Util.await(90000, PublishWatcher.PollMs)(
        covering(segTick.keySet.asScala).exists(watcher.seen.containsKey))
    }
    val drained = ctx.trace.fold(trickle())(_.span("Pipeline.run", "trickle")(trickle()))
    val t1 = System.currentTimeMillis()
    watcher.stop()
    q.stop()
    if (!drained) notes += "trickle: load did not drain within 90 s"
    val measured = ticksFrom(nWarm, nWarm + nTicks).toSet
    // the batches that admitted measured ticks (not the set-up's or the
    // warm-up's)
    val trickleBatches = batches(q).filter(b => measured.exists { case (k, n) =>
      b.start.getOrElse(k, 0) < n && n <= b.end.getOrElse(k, 0)
    })
    val segLatency = watcher.segmentLatencies(trickleBatches, measured,
      seg => due(segTick.get(seg)))
    val latencies = segLatency.toSeq.flatMap { case (seg, ms) => Seq.fill(lines.get(seg))(ms) }
    val lastPublish = watcher.seen.values.asScala.maxByOption(_.ms)
    val trickleWall = lastPublish.map(Util.netS(due(nWarm), _)).getOrElse(0.0)
    val trickleStart = trickleBatches.headOption.fold(t1)(b =>
      java.time.Instant.parse(b.progress.timestamp).toEpochMilli)
    val trickleLayers = streamingLayers(spark, ctx.layers, trickleBatches,
      lines.asScala.toMap, trickleStart, t1)
    Main.phase("trickle phase done, trigger ms " + trickleBatches.map(b =>
      Option(b.progress.durationMs.get("triggerExecution")).fold("?")(_.toString))
      .mkString(" "))

    // --- catch-up phase ---
    val salt = s"cdc_${ctx.seed}"
    val mft = Pipeline.ThroughputAdmissionEvents / BacklogSegmentEvents
    val lineOf = mutable.HashMap.empty[(String, Int), Int]
    val env0 = load.envelopes
    load.payrollBacklog(BacklogEvents, BacklogSegmentEvents).foreach { seg =>
      lineOf(d.ledger.append(seg)) = seg.lines.size
    }
    val backlog = load.envelopes - env0
    def drain(): StreamingQuery = {
      val c = Pipeline.run(spark, d.ledger.root.toString, d.sink, d.ckpt,
        maxFilesPerTrigger = Some(mft),
        maintenance = hooks(d.state, salt).map(_._2))
      c.awaitTermination()
      c
    }
    val drainWatcher = new PublishWatcher(spark, d.sink)
    val s2 = Util.stamp()
    val t2 = s2.ms
    val c = ctx.trace.fold(drain())(_.span("Pipeline.run", "catch-up")(drain()))
    val s3 = Util.stamp()
    val t3 = s3.ms
    val cpu1 = Util.processCpuS()
    val cbs = batches(c)
    Util.await(5000)(cbs.lastOption.forall(b => drainWatcher.seen.containsKey(b.id)))
    drainWatcher.stop()
    val drainSegLatency = drainWatcher.segmentLatencies(cbs, lineOf.keys, _ => s2)
    val drainLat = drainSegLatency.toSeq.flatMap { case (seg, ms) => Seq.fill(lineOf(seg))(ms) }
    val catchupLayers = streamingLayers(spark, ctx.layers, cbs, lineOf.toMap, t2, t3)
    Main.phase("catch-up phase done")

    // --- untimed correctness: store, publish and the Scd-latest state ---
    var failed = check(spark, d.sink, load, notes) +
      (measured.size - segLatency.size) + (lineOf.size - drainSegLatency.size)
    // the trickle phase ran without hooks, so the Scd-latest state holds
    // the backlog's aggregates only: one row per aggregate and batch
    val state = spark.table(s"pb_latest_$salt")
    val latest = state.select("aggregateId").distinct().collect().map(_.getString(0)).toSeq
    val dupRows = state.groupBy("_batch_id", "aggregateId").count()
      .filter(col("count") > 1).count()
    val badState = mismatches(latest, load.backlogAggregates) + dupRows
    if (badState > 0) notes += s"scd-latest mismatch: ${latest.size} aggregates " +
      s"($dupRows duplicated) vs ${load.backlogAggregates.size} expected"
    failed += badState
    val e2e = Map(
      "setup_s" -> Util.median(setupS),
      "publish_latency_p50_ms" -> Util.pct(latencies, 0.5),
      "publish_latency_p95_ms" -> Util.pct(latencies, 0.95),
      "drain_events_per_s" -> backlog / Util.netS(s2, s3),
      "suite_wall_s" -> (trickleWall + Util.netS(s2, s3)),
      "process_cpu_s" -> (cpu1 - cpu0),
      "stored_bytes_per_input_byte" ->
        (Util.treeBytes(java.nio.file.Paths.get(d.sink)) + Util.treeBytes(d.state))
          .toDouble / math.max(1L, Util.treeBytes(d.ledger.root)))
    val allBatches = trickleBatches.size + cbs.size
    val layer = trickleLayers.filter(kv => TriggerKeys(kv._1)) ++
      catchupLayers.filter(kv => !TriggerKeys(kv._1)) ++ Map(
        "sources.segments" -> (segTick.size + lineOf.size).toDouble,
        "loadgen.late_ms_p95" -> Util.pct(late.toSeq, 0.95),
        "cdc.state_bytes" -> Util.treeBytes(d.state).toDouble,
        "streaming.files_per_batch" -> parquetFiles(d.sink).toDouble / math.max(1, allBatches),
        "cdc.trickle_events" -> trickleEvents.toDouble,
        "cdc.backlog_events" -> backlog.toDouble,
        "cdc.catchup_latency_p95_ms" -> Util.pct(drainLat, 0.95),
        "cdc.latency_samples" -> segLatency.size.toDouble)
    val traced = ctx.trace.map { t =>
      val (m, bad) = stepwise(ctx, t, d, cbs, load, notes)
      failed += bad
      m
    }.getOrElse(Map.empty)
    dropHookTables(spark, salt)
    Outcome(e2e, layer ++ traced, attempted = load.expected.size.toLong,
      failed = failed, notes = notes.toSeq)
  }

  /** The traced breakdown: the same batches the streaming run admitted,
    * driven step by step through the pipeline's public functions, each
    * step materialised and timed as its own span. The sum is a proportion
    * of the fused batch, not the fused batch time itself.
    */
  def stepwise(ctx: Ctx, trace: Trace, d: Dirs, bs: Seq[Batch], load: Load,
               notes: mutable.Buffer[String]): (Map[String, Double], Long) = {
    val spark = ctx.spark
    val ss = spark.newSession()
    ss.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
    ss.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
    graft.operators.BatchTables.pinDynamicOverwrite(ss)
    val base = d.base.resolve("stepwise")
    val sink = base.resolve("sink").toString
    val salt = s"step_${ctx.seed}"
    val hookSet = hooks(base.resolve("state"), salt)
    val hadoop = ss.sessionState.newHadoopConf()
    var wire, events, dead, valid, deduped = 0L
    val partitions = mutable.ArrayBuffer.empty[Double]
    for (b <- bs) {
      val tid = s"batch-${b.id}"
      // stage the batch's admitted segments as their own ledger root
      val stage = base.resolve(s"ledger-${b.id}")
      for ((k, e) <- b.end; i <- b.start.getOrElse(k, 0) + 1 to e) {
        val src = d.ledger.root.resolve(k).resolve(f"$i%08d.jsonl")
        val dst = stage.resolve(k).resolve(f"$i%08d.jsonl")
        Files.createDirectories(dst.getParent)
        Files.createLink(dst, src)
      }
      val stageBytes = Util.treeBytes(stage)
      val w = trace.span("graft-changelog.read", tid) {
        val dirs = trace.span("ChangeLog.listDirs", tid) {
          ChangeLog.listDirs(new HPath(stage.toString), hadoop, None, None)
        }
        val df = ss.read.format("graft-changelog").option("path", stage.toString)
          .option("minBatchPartitions", ctx.cores.toString).load().persist()
        wire += df.count()
        partitions += df.rdd.getNumPartitions
        (df, dirs.map(_.table).distinct)
      }
      val (wdf, present) = w
      val ev = trace.span("Pipeline.transform", tid) {
        val e = Pipeline.transform(wdf, Some(present)).persist()
        events += e.count(); e
      }
      val split = trace.span("Validate.split", tid) {
        val s = Validate.split(ev)
        s.valid.persist()
        valid += s.valid.count()
        dead += s.deadLetter.count()
        s
      }
      val dd = trace.span("dedup", tid) {
        val x = split.valid.dropDuplicates("eventId").persist()
        deduped += x.count(); x
      }
      trace.span("Pipeline.storeThenPublish", tid) {
        Pipeline.storeThenPublish(dd, b.id, sink,
          directWrite = stageBytes <= Pipeline.DirectWriteMaxBytes)
      }
      trace.span("Pipeline.maintainFromStore", tid) {
        Pipeline.maintainFromStore(ss, sink, Seq((df: DataFrame, id: Long) =>
          hookSet.foreach { case (name, h) => trace.span(name, tid)(h(df, id)) }),
          base.resolve("wm").toString)
      }
      trace.span("Pipeline.readPublished", tid) {
        Pipeline.readPublished(ss, sink).count()
      }
      Seq(wdf, ev, split.valid, dd).foreach(_.unpersist())
    }
    dropHookTables(spark, salt)
    val spans = trace.spans.filter(_.traceId.startsWith("batch-"))
    def total(name: String) = spans.filter(_.name == name).map(_.ms).sum
    def perBatch(name: String) = total(name) / math.max(1, bs.size)
    val kev = math.max(1L, wire) / 1000.0
    val badDead = math.abs(load.deadLetters - dead)
    if (badDead > 0) notes += s"dead letters: got $dead, expected ${load.deadLetters}"
    (Map(
      "sources.list_ms" -> Util.median(spans.filter(_.name == "ChangeLog.listDirs").map(_.ms)),
      "sources.scan_ms_per_kevent" -> spans.filter(_.name == "graft-changelog.read")
        .map(trace.selfMs).sum / kev,
      "sources.partitions_per_batch" -> Util.mean(partitions.toSeq),
      "cdc.transform_ms_per_kevent" -> total("Pipeline.transform") / kev,
      "cdc.validate_ms_per_kevent" -> total("Validate.split") / kev,
      "cdc.dedup_ms_per_kevent" -> total("dedup") / kev,
      "cdc.rule_yield" -> events.toDouble / math.max(1L, wire),
      "cdc.dead_letter_ratio" -> dead.toDouble / math.max(1L, events),
      "cdc.dup_drop_ratio" -> (valid - deduped).toDouble / math.max(1L, valid),
      "streaming.sink_ms_per_batch" -> perBatch("Pipeline.storeThenPublish"),
      "streaming.maintain_ms_per_batch" -> perBatch("Pipeline.maintainFromStore"),
      "streaming.read_published_ms" -> perBatch("Pipeline.readPublished"),
      "cdc.hook.scd_latest_ms" -> perBatch("Scd.mergeBatchLatest"),
      "cdc.hook.metrics_daily_ms" -> perBatch("Metrics.mergeBatchDaily"),
      "operators.hook.quantiles_ms" -> perBatch("Quantiles.mergeBatch"),
      "operators.hook.hll_ms" -> perBatch("Hll.mergeBatch"),
      "operators.hook.checks_ms" -> perBatch("Checks.mergeBatchSuite"),
      "stepwise.batch_ms" -> spans.filter(_.parent.isEmpty).map(_.ms).sum /
        math.max(1, bs.size)), badDead)
  }
}

/** Records the first moment each batch id is covered by the publish
  * watermark, polling `Pipeline.publishedBatchIds` every `PollMs`.
  */
final class PublishWatcher(spark: SparkSession, sink: String) {
  val seen = new ConcurrentHashMap[Long, Util.Stamp]()
  @volatile private var watching = true
  private val thread = new Thread(() => {
    var last = -1L
    while (watching) {
      val ids = Pipeline.publishedBatchIds(spark, sink)
      if (ids.nonEmpty && ids.max > last) {
        val now = Util.stamp()
        (last + 1 to ids.max).foreach(b => seen.putIfAbsent(b, now))
        last = ids.max
      }
      Thread.sleep(PublishWatcher.PollMs)
    }
  }, "publish-watcher")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { watching = false; thread.join() }

  /** Latency in ms of each admitted segment whose batch was published,
    * from its due stamp to the publish of its batch, net of host steal.
    */
  def segmentLatencies(bs: Seq[Cdc.Batch], segments: Iterable[(String, Int)],
                       due: ((String, Int)) => Util.Stamp): Map[(String, Int), Double] =
    segments.toSeq.flatMap { case seg @ (k, n) =>
      bs.find(_.end.getOrElse(k, 0) >= n).flatMap(b => Option(seen.get(b.id)))
        .map(p => seg -> Util.netS(due(seg), p) * 1000)
    }.toMap
}

object PublishWatcher {
  /** Each poll lists the marker directory with a fresh Hadoop
    * configuration; polling every few ms takes CPU from the pipeline it
    * watches on a 4-core host, while 20 ms is still well under 1% of a
    * publish latency.
    */
  val PollMs = 20L
}
