package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class StreamJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(min: Long) =
    new java.sql.Timestamp(1718000000000L + min * 60000L)

  // purchases (left) and clicks (right): a click within [-10 min, 0]
  // of the purchase matches
  private val purchases = Seq(
    (1L, 100L, t(20)), (1L, 101L, t(60)), (2L, 200L, t(25)), (3L, 300L, t(5)))
  private val clicks = Seq(
    (1L, 900L, t(12)),  // 8 min before purchase 100: match
    (1L, 901L, t(21)),  // AFTER purchase 100: no match (before-only window)
    (1L, 902L, t(55)),  // 5 min before purchase 101: match
    (2L, 903L, t(10)),  // 15 min before purchase 200: outside window
    (2L, 904L, t(24)),  // 1 min before purchase 200: match
    (4L, 905L, t(5)))   // key with no purchases

  private def expected = Set((100L, 900L), (101L, 902L), (200L, 904L))

  private def leftDf = purchases.toDF("user_id", "purchase_id", "p_ts")
  private def rightDf = clicks.toDF("click_user", "click_id", "c_ts")

  /** Writes each frame `i` of `frames` as the one file `dir/<i>.parquet`,
    * its modification time rising with `i`, so a `maxFilesPerTrigger = 1`
    * stream reads one frame per micro-batch, in order. Spark's writer
    * goes to a temp dir that is deleted once its part file is copied.
    */
  private def writeFiles(dir: String,
                         frames: Seq[Seq[(Long, Long, java.sql.Timestamp)]],
                         cols: (String, String, String)): Unit =
    frames.zipWithIndex.foreach { case (rows, i) =>
      val tmp = Files.createTempDirectory("sj_tmp")
      try {
        rows.toDF(cols._1, cols._2, cols._3).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = Files.list(tmp).toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
        val dst = Paths.get(dir, f"$i%04d.parquet")
        Files.copy(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
        dst.toFile.setLastModified(1718000000000L + i * 100000L)
      } finally FileUtils.deleteQuietly(tmp.toFile)
    }

  /** Runs `body` on fresh left, right and checkpoint dirs named after
    * `prefix`, and deletes them afterwards.
    */
  private def withDirs(prefix: String)(body: (String, String, String) => Unit): Unit = {
    val dirs = Seq("left", "right", "ckpt")
      .map(d => Files.createTempDirectory(s"${prefix}_$d").toString)
    try body(dirs(0), dirs(1), dirs(2))
    finally dirs.foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("batch semantics: key-equi + interval window, inner") {
    val got = StreamJoin.intervalJoinStreams(leftDf, rightDf,
        "user_id", "click_user", "p_ts", "c_ts",
        beforeUs = 600000000L, afterUs = 0L)
      .select($"purchase_id", $"click_id").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("streaming ≡ batch, with match pairs straddling micro-batches") {
    withDirs("sj") { (lDir, rDir, ckpt) =>
      // split so every matching pair arrives in DIFFERENT micro-batches:
      // purchases land first (files 0-1), their clicks later (file 2 on
      // the other stream) — only buffered join state can pair them
      writeFiles(lDir, Seq(purchases.take(2), purchases.drop(2)),
        ("user_id", "purchase_id", "p_ts"))
      writeFiles(rDir, Seq(clicks.take(1), clicks.drop(1)),
        ("click_user", "click_id", "c_ts"))
      val lSch = leftDf.schema
      val rSch = rightDf.schema
      val lStream = spark.readStream.schema(lSch)
        .option("maxFilesPerTrigger", 1).parquet(lDir)
      val rStream = spark.readStream.schema(rSch)
        .option("maxFilesPerTrigger", 1).parquet(rDir)
      val out = scala.collection.mutable.Set.empty[(Long, Long)]
      val q = StreamJoin.intervalJoinStreams(lStream, rStream,
          "user_id", "click_user", "p_ts", "c_ts",
          beforeUs = 600000000L, afterUs = 0L)
        .select($"purchase_id", $"click_id")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
          out.synchronized { out ++= rows }
          ()
        }
        .start()
      q.awaitTermination(120000)
      assert(out.toSet === expected)
    }
  }

  test("leftOuter: watermark-closed unmatched rows emit with NULLs; " +
      "tail rows the watermark never passes stay held") {
    withDirs("sjo") { (lDir, rDir, ckpt) =>
      // purchase 200 (t=25) has no click in [-10m, 0]; the watermark
      // pushers at t=500 on BOTH streams close its window, so its outer
      // row MUST emit. Pusher 301 itself is unmatched but sits at the
      // stream tail — no later watermark closes it, so it must NOT emit.
      writeFiles(lDir, Seq(
        Seq((1L, 100L, t(20)), (2L, 200L, t(25))),
        Seq((9L, 301L, t(500)))), ("user_id", "purchase_id", "p_ts"))
      writeFiles(rDir, Seq(
        Seq((1L, 900L, t(12))),
        Seq((9L, 999L, t(480)))), ("click_user", "click_id", "c_ts"))
      val lStream = spark.readStream.schema(leftDf.schema)
        .option("maxFilesPerTrigger", 1).parquet(lDir)
      val rStream = spark.readStream.schema(rightDf.schema)
        .option("maxFilesPerTrigger", 1).parquet(rDir)
      val out = scala.collection.mutable.Set.empty[(Long, Option[Long])]
      val q = StreamJoin.intervalJoinStreams(lStream, rStream,
          "user_id", "click_user", "p_ts", "c_ts",
          beforeUs = 600000000L, afterUs = 0L, watermark = "1 minute",
          joinType = "leftOuter")
        .select($"purchase_id", $"click_id")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0),
            if (r.isNullAt(1)) None else Some(r.getLong(1))))
          out.synchronized { out ++= rows }
          ()
        }
        .start()
      q.awaitTermination(120000)
      assert(out.contains((100L, Some(900L)))) // matched pair
      assert(out.contains((200L, None)),       // watermark-closed unmatched
        s"expected the outer NULL row for purchase 200, got $out")
      assert(!out.exists(_._1 == 301L),        // tail row: held, not emitted
        s"tail row 301 must stay held (no watermark closes it), got $out")
    }
  }

  test("state footprint tracks rate x window, not stream length " +
      "(stateOperators metrics under high churn)") {
    // 30 one-minute segments, 60 rows per side per segment, every key
    // churning (key = global row index — no key ever repeats, so nothing
    // matches and EVERY row is pure state pressure). Window ±30 s,
    // watermark 2 min: a correct eviction bound keeps the buffered state
    // at ~(watermark + window) worth of rows — a handful of segments —
    // while a broken one accumulates the whole 3,600-row stream.
    def segs(keyBase: Long) = (0 until 30).map { seg =>
      (0 until 60).map(i => (keyBase + seg * 60L + i, seg * 1000L + i, t(seg)))
    }
    withDirs("sjst") { (lDir, rDir, ckpt) =>
      writeFiles(lDir, segs(keyBase = 0L), ("user_id", "purchase_id", "p_ts"))
      writeFiles(rDir, segs(keyBase = 10000000L),
        ("click_user", "click_id", "c_ts"))
      val lStream = spark.readStream.schema(leftDf.schema)
        .option("maxFilesPerTrigger", 1).parquet(lDir)
      val rStream = spark.readStream.schema(rightDf.schema)
        .option("maxFilesPerTrigger", 1).parquet(rDir)
      val q = StreamJoin.intervalJoinStreams(lStream, rStream,
          "user_id", "click_user", "p_ts", "c_ts",
          beforeUs = 30000000L, afterUs = 30000000L,
          watermark = "2 minutes")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .format("noop")
        .start()
      q.awaitTermination(240000)
      val withState = q.recentProgress.toSeq
        .filter(_.stateOperators.nonEmpty)
      assert(withState.nonEmpty, "no stateOperators metrics reported")
      val totals = withState.map(_.stateOperators.map(_.numRowsTotal).sum)
      val ingested = 30L * 60 * 2
      val steady = totals.last
      // the bound: (watermark 2 min + window 1 min + the in-flight segment)
      // of rows per side = ~4 segments x 120 rows = 480; assert with 2x
      // headroom — and far under the full stream
      assert(steady <= 960,
        s"steady-state state rows $steady exceed the rate x window bound " +
          s"(totals over the run: ${totals.mkString(", ")})")
      assert(steady < ingested / 3,
        s"state $steady does not track rate x window (stream length " +
          s"$ingested)")
      // and eviction actually happened: the peak is not monotone growth to
      // the end of the stream
      assert(totals.max < ingested,
        s"state grew with stream length: max=${totals.max}")
      println(s"STREAMJOIN state rows over run: ${totals.mkString(", ")} " +
        s"(ingested $ingested)")
    }
  }

  test("overlapping column names are refused") {
    val bad = clicks.toDF("user_id", "click_id", "c_ts") // shares user_id
    val e = intercept[IllegalArgumentException] {
      StreamJoin.intervalJoinStreams(leftDf, bad, "user_id", "user_id",
        "p_ts", "c_ts", 1L, 1L)
    }
    assert(e.getMessage.contains("disjoint"))
  }
}
