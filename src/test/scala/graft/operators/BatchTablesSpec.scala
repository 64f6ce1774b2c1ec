package graft.operators

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The `_batch_id` table contract: every table declares dynamic partition
  * overwrite once, at creation, so `BatchTables.writeBatch` rewrites
  * exactly its own batch's partition on a session whose overwrite mode is
  * never set — and no write reads or changes that session setting. A
  * compaction reads only the committed consolidation and the batches
  * above its horizon, so crash leftovers never reach a state's merge.
  */
class BatchTablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val key = "spark.sql.sources.partitionOverwriteMode"

  /** Whether `key` was ever set on `s` (the default is not a setting). */
  private def modeSet(s: SparkSession): Boolean =
    s.sessionState.conf.getAllConfs.contains(key)

  /** Three rows per batch (fewer on a replay), keyed so each batch's rows
    * are recognizable: (band, bucket, doc_id) like the dedup gate's index.
    */
  private def rows(s: SparkSession, batch: Long, n: Int = 3): DataFrame =
    s.range(n).select((col("id") % 2).cast("int").as("band"),
      (col("id") + lit(batch * 100)).as("bucket"),
      (col("id") + lit(batch * 1000)).as("doc_id"))

  private def partitions(s: SparkSession, table: String): Map[Long, Set[Long]] =
    s.table(table).select(col("_batch_id"), col("doc_id")).collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSet }

  private def docIds(batch: Long, n: Int = 3): Set[Long] =
    (0 until n).map(_ + batch * 1000).toSet

  private def dropAll(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("a replayed batch rewrites only its own partition, plain and " +
      "bucketed, on a session whose overwrite mode is never set") {
    val s = spark.newSession()
    val before = s.conf.getOption(key)
    assert(!modeSet(s) && !before.exists(_.equalsIgnoreCase("dynamic")))
    val root = Files.createTempDirectory("bt_replay").toString
    val plain = "graft_bt_replay_plain"
    val bucketed = "graft_bt_replay_bucketed"
    dropAll(plain, bucketed)
    try {
      // the dedup gate's creation: bucketed by (band, bucket), sorted
      BatchTables.ensureBatchTable(s,
        rows(s, 0).withColumn("_batch_id", lit(-1L)).schema,
        bucketed, s"$root/$bucketed",
        Some(BucketSpec(4, Seq("band", "bucket"), Seq("bucket"))))
      for (t <- Seq(plain, bucketed)) {
        for (b <- 0L to 2L) BatchTables.writeBatch(rows(s, b), b, t, s"$root/$t")
        assert(partitions(s, t) == Map(0L -> docIds(0), 1L -> docIds(1),
          2L -> docIds(2)))
        // replay batch 1 with fewer rows: its partition holds the replay,
        // its neighbours are untouched (a STATIC insert would truncate them)
        BatchTables.writeBatch(rows(s, 1, n = 1), 1L, t, s"$root/$t")
        assert(partitions(s, t) == Map(0L -> docIds(0), 1L -> docIds(1, 1),
          2L -> docIds(2)), s"table $t")
      }
      assert(s.table(bucketed).columns.toSeq ==
        Seq("band", "bucket", "doc_id", "_batch_id"))
      assert(s.conf.getOption(key) == before && !modeSet(s))
    } finally dropAll(plain, bucketed)
  }

  test("four concurrent writers on one session across two tables keep " +
      "every partition, and the session's overwrite mode never moves") {
    val s = spark.newSession()
    val before = s.conf.getOption(key)
    val root = Files.createTempDirectory("bt_conc").toString
    val tables = Seq("graft_bt_conc_a", "graft_bt_conc_b")
    dropAll(tables: _*)
    try {
      tables.foreach(t => BatchTables.ensureBatchTable(s,
        rows(s, 0).withColumn("_batch_id", lit(-1L)).schema, t, s"$root/$t"))
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(4)
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val seen = new ConcurrentLinkedQueue[Option[String]]()
      // writer i lands batches i and i + 4 in table i % 2
      val writers = (0 until 4).map { i =>
        new Thread(() => {
          try {
            start.await()
            for (b <- Seq(i.toLong, i + 4L)) {
              val t = tables(i % 2)
              BatchTables.writeBatch(rows(s, b), b, t, s"$root/$t")
              seen.add(s.conf.getOption(key))
            }
          } catch { case e: Throwable => errors.add(e) }
          finally done.countDown()
        })
      }
      writers.foreach(_.start())
      start.countDown()
      while (done.getCount > 0) {
        seen.add(s.conf.getOption(key))
        Thread.sleep(5)
      }
      writers.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.mkString("; "))
      assert(partitions(s, tables(0)) ==
        Seq(0L, 2L, 4L, 6L).map(b => b -> docIds(b)).toMap)
      assert(partitions(s, tables(1)) ==
        Seq(1L, 3L, 5L, 7L).map(b => b -> docIds(b)).toMap)
      assert(seen.asScala.toSet == Set(before))
      assert(s.conf.getOption(key) == before && !modeSet(s))
    } finally dropAll(tables: _*)
  }

  test("a _batch_id table created without the overwrite option is refused " +
      "by name, and its rows stay untouched") {
    val s = spark.newSession()
    val path = Files.createTempDirectory("bt_legacy").toString + "/t"
    val t = "graft_bt_legacy"
    dropAll(t)
    try {
      rows(s, 0).withColumn("_batch_id", lit(0L))
        .unionByName(rows(s, 1).withColumn("_batch_id", lit(1L)))
        .write.option("path", path).partitionBy("_batch_id").saveAsTable(t)
      val want = Map(0L -> docIds(0), 1L -> docIds(1))
      assert(partitions(s, t) == want)
      val refused = Seq(
        intercept[IllegalArgumentException] {
          BatchTables.ensureBatchTable(s,
            rows(s, 0).withColumn("_batch_id", lit(-1L)).schema, t, path)
        },
        intercept[IllegalArgumentException] {
          BatchTables.writeBatch(rows(s, 2), 2L, t, path)
        },
        intercept[IllegalArgumentException] {
          BatchTables.compactBatchPartitions(s, t, 1L, identity)
        })
      refused.foreach { e =>
        assert(e.getMessage.contains(t) &&
          e.getMessage.contains("partitionOverwriteMode"), e.getMessage)
      }
      assert(partitions(s, t) == want)
    } finally dropAll(t)
  }

  test("a table the catalog lost is registered over its existing " +
      "partitions, plain and bucketed: later writes and a replay keep " +
      "every batch") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_lost").toString
    val plain = "graft_bt_lost_plain"
    val bucketed = "graft_bt_lost_bucketed"
    dropAll(plain, bucketed)
    // the dedup gate's creation: bucketed by (band, bucket), sorted
    def gate(): Unit = BatchTables.ensureBatchTable(s,
      rows(s, 0).withColumn("_batch_id", lit(-1L)).schema,
      bucketed, s"$root/$bucketed",
      Some(BucketSpec(4, Seq("band", "bucket"), Seq("bucket"))))
    try {
      gate()
      for (t <- Seq(plain, bucketed)) {
        for (b <- 0L to 1L)
          BatchTables.writeBatch(rows(s, b), b, t, s"$root/$t")
        // the catalog forgets the table; its files stay (it is external)
        s.sql(s"DROP TABLE $t")
        if (t == bucketed) gate()
        BatchTables.writeBatch(rows(s, 2), 2L, t, s"$root/$t")
        assert(partitions(s, t) == Map(0L -> docIds(0), 1L -> docIds(1),
          2L -> docIds(2)), s"table $t")
        BatchTables.writeBatch(rows(s, 1, n = 1), 1L, t, s"$root/$t")
        assert(partitions(s, t) == Map(0L -> docIds(0), 1L -> docIds(1, 1),
          2L -> docIds(2)), s"table $t")
      }
      val meta = s.sessionState.catalog.getTableMetadata(
        s.sessionState.sqlParser.parseTableIdentifier(bucketed))
      assert(meta.bucketSpec.map(_.numBuckets).contains(4))
      // no scratch directory is left beside the tables
      assert(new java.io.File(root).list().toSet == Set(plain, bucketed))
    } finally dropAll(plain, bucketed)
  }

  /** A state family as the compaction engine sees it: batch `b`'s input
    * rows, the family's write of one batch, its compaction, and the
    * merged read its readers get.
    */
  private case class Family(name: String,
                            batch: (SparkSession, Long) => DataFrame,
                            write: (DataFrame, Long, String, String) => Unit,
                            compact: (SparkSession, String, Long) => (Int, Int),
                            read: (SparkSession, String) => Seq[String]) {
    def put(s: SparkSession, b: Long, t: String, path: String): Unit =
      write(batch(s, b), b, t, path)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Batch `b`'s slice of a small text corpus: two docs whose words are
    * their own, so no two docs share a shingle.
    */
  private def docs(s: SparkSession, b: Long): DataFrame =
    s.range(b * 2, b * 2 + 2).select(col("id"),
      concat_ws(" ", (0 until 6).map(j =>
        concat(lit("w"), col("id").cast("string"), lit(s"_$j"))) :+
        lit("the") :+ lit("cat"): _*).as("text"))

  /** A changelog slice keyed on `k` in 0..3: creates, updates and
    * deletes, with timestamps that run backwards across batches.
    */
  private def changes(s: SparkSession, b: Long): DataFrame =
    s.range(6).select(((col("id") + lit(b)) % 4).as("k"),
      (lit((3 - b) * 7) + col("id") * 3).as("ts"),
      (lit(b * 100) + col("id")).as("tie"),
      when((col("id") + lit(b)) % 5 === 0, "d")
        .when(col("id") === 0, "c").otherwise("u").as("op"),
      concat(lit(s"v$b."), col("id").cast("string")).as("v"))

  private val families = Seq(
    // SUM merge: a row read twice counts twice
    Family("metrics daily",
      (s, b) => s.range(10 + b).select(
        date_add(lit("2024-06-01").cast("date"),
          (col("id") % 2).cast("int")).as("day"),
        (col("id") % 3).cast("string").as("type"),
        (col("id") + lit(b)).as("cents")),
      (df, b, t, path) => graft.cdc.Metrics.mergeBatchDaily(df, col("day"),
        col("type"), col("cents"), t, path, b),
      graft.cdc.Metrics.compactDaily,
      (s, t) => sorted(graft.cdc.Metrics.dailyFromTable(s, t))),
    // MAX merge: a row read twice changes nothing
    Family("hll registers",
      (s, b) => s.range(b * 40, b * 40 + 60).select(
        (col("id") % 2).as("g"), col("id").as("v")),
      (df, b, t, path) => Hll.mergeBatch(df, Seq("g"), "v", t, path, b,
        p = 4),
      Hll.compactRegisters,
      (s, t) => sorted(Hll.registersFromTable(s, t, Seq("g")))),
    Family("scd latest", changes,
      (df, b, t, path) => graft.cdc.Scd.mergeBatchLatest(df, Seq("k"), "ts",
        "tie", t, path, b),
      (s, t, up) => graft.cdc.Scd.compactState(s, t, up, Seq("k"), "ts",
        "tie"),
      (s, t) => sorted(graft.cdc.Scd.stateFromTable(s, t, Seq("k"), "ts",
        "tie", "op"))),
    Family("scd history", changes,
      (df, b, t, path) => graft.cdc.Scd.mergeBatchHistory(df, Seq("k"), "ts",
        "tie", t, path, b),
      (s, t, up) => graft.cdc.Scd.compactHistory(s, t, up, Seq("k"), "ts",
        "tie"),
      (s, t) => sorted(graft.cdc.Scd.historyFromTable(s, t, Seq("k"), "ts",
        "tie", "op"))),
    Family("retract mv",
      (s, b) => s.range(5).select(
        when(col("id") % 3 =!= 0, struct((col("id") % 2).as("g"),
          (col("id") * 10 + lit(b)).as("v"))).as("after"),
        when(col("id") % 2 === 0, struct(((col("id") + lit(b)) % 2).as("g"),
          col("id").as("v"))).as("before")),
      (df, b, t, path) => graft.cdc.Retract.mergeBatchMv(df, _.getField("g"),
        _.getField("v"), t, path, b),
      graft.cdc.Retract.compactMv,
      (s, t) => sorted(graft.cdc.Retract.mvFromTable(s, t))),
    Family("checks suite",
      (s, b) => s.range(5 + b).select(
        when(col("id") % 3 === 0, lit(null)).otherwise(col("id")).as("a"),
        when(col("id") % 2 === 0, lit("x")).otherwise(lit("y")).as("c"),
        timestamp_seconds(lit(1000L * b) + col("id")).as("ts")),
      (df, b, t, path) => Checks.mergeBatchSuite(df,
        Seq(Checks.notNull("a"), Checks.matches("c", "^x$")), "ts", t, path,
        b),
      Checks.compactSuite,
      (s, t) => sorted(Checks.suiteFromTable(s, t, 4000000000L, 10L))),
    // the target corpus is the batch's even docs
    Family("dsir", docs,
      (df, b, t, path) => Dsir.dsirMergeBatch(df, "text",
        Some(df.filter(col("id") % 2 === 0)), "text", t, path, b,
        buckets = 64),
      Dsir.dsirCompactState,
      (s, t) => sorted(Dsir.dsirWeightsFromState(
        docs(s, 0).unionByName(docs(s, 3)), "id", "text", t, buckets = 64))),
    // fewer distinct items than m: the merged summary is exact
    Family("freq items",
      (s, b) => s.range(4 + b * 3).select(((col("id") * lit(b + 1)) % 5)
        .cast("string").as("item")),
      (df, b, t, path) => FreqItemsState.mergeBatch(df, "item", 8, t, path, b),
      FreqItemsState.compactSummary(_, _, _, 8),
      (s, t) => sorted(FreqItemsState.summaryFromTable(s, t, 8)) :+
        FreqItemsState.totalFromTable(s, t).toString),
    Family("components",
      (s, b) => s.range(2).select((lit(b * 2) + col("id")).as("id_a"),
        (lit(b * 2 + 3) - col("id")).as("id_b")),
      (df, b, t, path) => Components.mergeBatchEdges(df, t, path, b),
      Components.compactComponents,
      (s, t) => sorted(Components.componentsFromTable(s, t))),
    Family("count-min",
      (s, b) => s.range(20 + b).select((col("id") % 7).as("v")),
      (df, b, t, path) => CountMin.mergeBatch(df, "v", t, path, b,
        depth = 2, widthLog2 = 4),
      CountMin.compactSketch,
      (s, t) => sorted(CountMin.sketchFromTable(s, t))),
    Family("quantiles",
      (s, b) => s.range(30).select((col("id") % 2).as("g"),
        (col("id") * lit(b + 1) + 1).as("v")),
      (df, b, t, path) => Quantiles.mergeBatch(df, Seq("g"), "v", t, path, b),
      Quantiles.compactHistogram,
      (s, t) => sorted(Quantiles.histogramFromTable(s, t, Seq("g")))),
    Family("corpus sketch",
      (s, b) => docs(s, b).select((col("id") % 2).as("corpus"), col("text")),
      (df, b, t, path) => CorpusSketch.mergeBatch(df, "corpus", "text", t,
        path, b, slotChars = 1),
      CorpusSketch.compactSignature,
      (s, t) => sorted(CorpusSketch.signatureFromTable(s, t, "corpus"))),
    Family("kmv",
      (s, b) => s.range(b * 5, b * 5 + 12).select((col("id") % 2).as("g"),
        col("id").as("v")),
      (df, b, t, path) => Kmv.mergeBatch(df, Seq("g"), "v", 8, t, path, b),
      Kmv.compactSketch(_, _, _, Seq("g"), 8),
      (s, t) => sorted(Kmv.sketchFromTable(s, t, Seq("g"), 8))),
    Family("moments",
      (s, b) => s.range(6).select((col("id") % 2).as("g"),
        (col("id") + lit(b)).as("x"), (col("id") * col("id") - lit(b)).as("y")),
      (df, b, t, path) => Moments.mergeBatch(df, Seq("g"), "x", "y", t, path,
        b),
      Moments.compactMoments(_, _, _, Seq("g")),
      (s, t) => sorted(Moments.statsFromTable(s, t, Seq("g")))),
    Family("profiler",
      (s, b) => s.range(b * 3, b * 3 + 5).select(col("id").as("a"),
        when(col("id") % 4 === 0, lit(null))
          .otherwise(concat(lit("s"), col("id").cast("string"))).as("c")),
      (df, b, t, path) => Profiler.mergeBatch(df, Seq("a", "c"), t, path, b),
      Profiler.compactProfile,
      (s, t) => sorted(Profiler.profileFromTable(s, t))),
    Family("language model", docs,
      (df, b, t, path) => LangModel.lmMergeBatch(df, "id", "text", t, path, b),
      LangModel.lmCompactState,
      (s, t) => sorted(LangModel.bigramPerplexityFromState(
        docs(s, 1).unionByName(docs(s, 9)), "id", "text", t))),
    Family("bm25", docs,
      (df, b, t, path) => TextAnalysis.bm25MergeBatch(df, "id", "text", t,
        path, b),
      TextAnalysis.bm25CompactState,
      (s, t) => sorted(TextAnalysis.bm25FromState(docs(s, 2), "id", "text",
        Seq("cat", "w4_1"), t))),
    // full-row set merge: the gate's index rows
    Family("dedup gate index",
      (s, b) => docs(s, b).withColumnRenamed("id", "doc_id"),
      (df, b, t, path) => TextDedup.dedupGateBatch(df, "doc_id", "text", t,
        path, b, buckets = 2),
      TextDedup.compactGateIndex,
      (s, t) => sorted(s.table(t).drop("_batch_id"))))

  private def batchIds(s: SparkSession, table: String): Set[Long] =
    s.table(table).select(col("_batch_id")).distinct().collect()
      .map(_.getLong(0)).toSet

  test("compaction reads only the committed consolidation and the batches " +
      "above its horizon: a leftover source batch or a superseded " +
      "consolidation is swept unread, a SUM and a MAX family alike") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_horizon").toString
    // the engine-level cases ride the first two rows: one SUM, one MAX
    for (f <- families.take(2);
         leftover <- Seq("source batch", "consolidation")) {
      // a table name of its own per case
      val t = s"graft_bt_horizon_${f.name}_$leftover".replace(' ', '_')
      val path = s"$root/$t"
      dropAll(t)
      try {
        for (b <- 0L to 3L) f.put(s, b, t, path)
        val want = f.read(s, t)
        val clue = s"${f.name}, leftover $leftover"
        val (before, after) = f.compact(s, t, 1L)
        assert(before > after && after > 0, s"$clue: files $before -> $after")
        assert(f.read(s, t) == want, clue)
        assert(batchIds(s, t) == Set(-2L, 2L, 3L), clue)
        leftover match {
          case "source batch" =>
            // a rerun at the same horizon finds nothing to do
            assert(f.compact(s, t, 1L) == ((0, 0)), clue)
            assert(f.read(s, t) == want, clue)
            // a crash between the insert and the sweep at the same
            // horizon: batch 0's source is still there; the rerun sweeps it
            f.put(s, 0L, t, path)
            f.compact(s, t, 1L)
            assert(f.read(s, t) == want, clue)
            assert(batchIds(s, t) == Set(-2L, 2L, 3L), clue)
            // the same leftover met by a compaction at a HIGHER horizon
            f.put(s, 0L, t, path)
            f.compact(s, t, 2L)
            assert(batchIds(s, t) == Set(-3L, 3L), clue)
          case "consolidation" =>
            val committed = s.table(t).filter(col("_batch_id") === -2L)
              .drop("_batch_id")
            val kept = s.createDataFrame(
              java.util.Arrays.asList(committed.collect(): _*), committed.schema)
            f.compact(s, t, 2L)
            assert(batchIds(s, t) == Set(-3L, 3L), clue)
            // a crash between that insert and its sweep: the superseded
            // consolidation is still there beside its successor
            BatchTables.writeBatch(kept, -2L, t, path)
            f.compact(s, t, 3L)
            assert(batchIds(s, t) == Set(-4L), clue)
        }
        assert(f.read(s, t) == want, clue)
      } finally dropAll(t)
    }
  }

  test("every _batch_id family reads its batches as one batch of all their " +
      "rows, and the same after compaction at a middle horizon, at the top " +
      "horizon and on a rerun") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_families").toString
    for (f <- families) {
      val t = s"graft_bt_family_${f.name}".replaceAll("[ -]", "_")
      val path = s"$root/$t"
      dropAll(t)
      try {
        for (b <- 0L to 3L) f.put(s, b, t, path)
        val want = f.read(s, t)
        assert(want.nonEmpty, f.name)
        // the merge of the four batches is the state of all their rows
        // written as one batch
        val whole = s"${t}_whole"
        dropAll(whole)
        try {
          f.write((0L to 3L).map(f.batch(s, _)).reduce(_ unionByName _), 0L,
            whole, s"$root/$whole")
          assert(f.read(s, whole) == want, s"${f.name}, one batch of all rows")
        } finally dropAll(whole)
        f.compact(s, t, 1L)
        assert(batchIds(s, t) == Set(-2L, 2L, 3L), f.name)
        assert(f.read(s, t) == want, s"${f.name}, horizon 1")
        f.compact(s, t, 3L)
        assert(batchIds(s, t) == Set(-4L), f.name)
        assert(f.read(s, t) == want, s"${f.name}, horizon 3")
        assert(f.compact(s, t, 3L) == ((0, 0)), f.name)
        assert(f.read(s, t) == want, s"${f.name}, rerun")
      } finally dropAll(t)
    }
  }

  test("a session that read a table, re-creating it at a new path after " +
      "another session dropped it, writes its next batch under the new path") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_stale").toString
    val t = "graft_bt_stale"
    dropAll(t)
    try {
      BatchTables.writeBatch(rows(s, 0), 0L, t, s"$root/old")
      assert(partitions(s, t) == Map(0L -> docIds(0)))
      spark.sql(s"DROP TABLE $t") // another session; the files stay
      BatchTables.writeBatch(rows(s, 1), 0L, t, s"$root/new")
      // the rows under a path, whatever the catalog resolves
      def docsAt(dir: String): Set[Long] =
        spark.read.schema("doc_id BIGINT").parquet(dir).collect()
          .map(_.getLong(0)).toSet
      assert(docsAt(s"$root/new") == docIds(1))
      assert(docsAt(s"$root/old") == docIds(0))
      assert(partitions(spark.newSession(), t) == Map(0L -> docIds(1)))
    } finally dropAll(t)
  }

  test("creating a table at a path that does not exist yet logs no " +
      "FileNotFoundException") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_fresh").toString
    val t = "graft_bt_fresh"
    dropAll(t)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val rootLogger = ctx.getConfiguration.getRootLogger
    val level = rootLogger.getLevel
    val warns = new ConcurrentLinkedQueue[LogEvent]()
    val capture = new AbstractAppender("bt-fresh-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = warns.add(e.toImmutable)
    }
    capture.start()
    rootLogger.addAppender(capture, Level.WARN, null)
    if (level.isMoreSpecificThan(Level.ERROR)) rootLogger.setLevel(Level.WARN)
    ctx.updateLoggers()
    try {
      BatchTables.ensureBatchTable(s,
        rows(s, 0).withColumn("_batch_id", lit(-1L)).schema,
        t, s"$root/fresh/$t")
    } finally {
      rootLogger.removeAppender(capture.getName)
      rootLogger.setLevel(level)
      ctx.updateLoggers()
      capture.stop()
      dropAll(t)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    def causes(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val missing = warns.asScala.filter(e =>
      causes(e.getThrown).exists(_.isInstanceOf[java.io.FileNotFoundException]) ||
        e.getMessage.getFormattedMessage.contains("FileNotFoundException"))
    assert(missing.isEmpty, missing.map(e =>
      s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}").mkString("\n"))
  }
}
