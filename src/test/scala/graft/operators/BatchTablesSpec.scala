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

  /** A state family as the compaction engine sees it: one batch's write,
    * the family's compaction, and the merged read its readers get.
    */
  private case class Family(name: String,
                            write: (SparkSession, Long, String, String) => Unit,
                            compact: (SparkSession, String, Long) => (Int, Int),
                            read: (SparkSession, String) => Seq[String])

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val families = Seq(
    // SUM merge: a row read twice counts twice
    Family("metrics daily",
      (s, b, t, path) => graft.cdc.Metrics.mergeBatchDaily(
        s.range(10 + b).select(
          date_add(lit("2024-06-01").cast("date"),
            (col("id") % 2).cast("int")).as("day"),
          (col("id") % 3).cast("string").as("type"),
          (col("id") + lit(b)).as("cents")),
        col("day"), col("type"), col("cents"), t, path, b),
      graft.cdc.Metrics.compactDaily,
      (s, t) => sorted(graft.cdc.Metrics.dailyFromTable(s, t))),
    // MAX merge: a row read twice changes nothing
    Family("hll registers",
      (s, b, t, path) => Hll.mergeBatch(
        s.range(b * 40, b * 40 + 60).select(
          (col("id") % 2).as("g"), col("id").as("v")),
        Seq("g"), "v", t, path, b, p = 4),
      Hll.compactRegisters,
      (s, t) => sorted(Hll.registersFromTable(s, t, Seq("g")))))

  private def batchIds(s: SparkSession, table: String): Set[Long] =
    s.table(table).select(col("_batch_id")).distinct().collect()
      .map(_.getLong(0)).toSet

  test("compaction reads only the committed consolidation and the batches " +
      "above its horizon: a leftover source batch or a superseded " +
      "consolidation is swept unread, a SUM and a MAX family alike") {
    val s = spark.newSession()
    val root = Files.createTempDirectory("bt_horizon").toString
    for (f <- families; leftover <- Seq("source batch", "consolidation")) {
      // a table name of its own: `s` caches each table's relation, so a
      // name re-created at another path by another session resolves stale
      val t = s"graft_bt_horizon_${f.name}_$leftover".replace(' ', '_')
      val path = s"$root/$t"
      dropAll(t)
      try {
        for (b <- 0L to 3L) f.write(s, b, t, path)
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
            f.write(s, 0L, t, path)
            f.compact(s, t, 1L)
            assert(f.read(s, t) == want, clue)
            assert(batchIds(s, t) == Set(-2L, 2L, 3L), clue)
            // the same leftover met by a compaction at a HIGHER horizon
            f.write(s, 0L, t, path)
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
}
