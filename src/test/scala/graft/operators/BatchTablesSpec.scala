package graft.operators

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The `_batch_id` table contract: every table declares dynamic partition
  * overwrite once, at creation, so `BatchTables.writeBatch` rewrites
  * exactly its own batch's partition on a session whose overwrite mode is
  * never set — and no write reads or changes that session setting.
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
      BatchTables.ensureBatchTable(
        rows(s, 0).withColumn("_batch_id", lit(-1L)).limit(0),
        bucketed, s"$root/$bucketed",
        _.bucketBy(4, "band", "bucket").sortBy("bucket"))
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
      tables.foreach(t => BatchTables.ensureBatchTable(
        rows(s, 0).withColumn("_batch_id", lit(-1L)).limit(0), t, s"$root/$t"))
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
          BatchTables.ensureBatchTable(
            rows(s, 0).withColumn("_batch_id", lit(-1L)).limit(0), t, path)
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
}
