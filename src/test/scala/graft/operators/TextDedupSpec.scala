package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TextDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    Seq(
      (1L, base),
      (2L, base),                                         // exact dup
      (3L, base.replace("lazy", "sleepy")),               // near dup (1 word)
      (4L, "completely different text about spark catalyst optimizer rules and physical plans for big data"),
      (5L, "tiny"))                                       // < 3 words: no shingles
      .toDF("doc_id", "text")
  }

  test("shingles: distinct word trigrams; short texts yield empty set") {
    import spark.implicits._
    val sh = docs.select($"doc_id", TextDedup.shingles($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).size == 16) // 18 words -> 16 trigrams, all distinct
    assert(sh(1L).contains("the quick brown"))
    assert(sh(5L).isEmpty)
  }

  test("minhash-LSH finds exact and near dups, not unrelated docs") {
    val pairs = TextDedup.nearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L)), s"exact dup must be found: $pairs")
    assert(keys.contains((1L, 3L)) && keys.contains((2L, 3L)),
      s"near dup must be found: $pairs")
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L), "unrelated doc is not a dup")
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
  }

  test("no cartesian product in the LSH plan") {
    val plan = TextDedup.nearDuplicates(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan)
  }

  test("LSH recall is exact against brute force on the sf0.001 corpus") {
    import spark.implicits._
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val lsh = TextDedup.nearDuplicates(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force: exact shingle Jaccard over all pairs
    val sh = d.select($"doc_id", TextDedup.shingles($"text").as("sh"))
      .filter(size($"sh") > 0)
    val brute = sh.as("a").join(sh.as("b"), $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        TextDedup.jaccard($"a.sh", $"b.sh").as("j"))
      .filter($"j" >= 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(lsh == brute, s"missed=${brute -- lsh} spurious=${lsh -- brute}")
  }

  test("simhash: identical docs collide, near dups within small hamming distance") {
    import spark.implicits._
    val fps = docs.filter($"doc_id" =!= 5)
      .select($"doc_id",
        SimHash.simhash64(TextDedup.shingleHashes(TextDedup.shingles($"text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) <= 16)
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(4L)) > 16)
  }

  test("simhash near-dup pairs via pigeonhole banding") {
    val pairs = SimHash.nearDuplicates(docs, "doc_id", "text",
      maxDistance = 16, pieces = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("codegen ShingleHash expression matches the string-shingle HOF chain") {
    import spark.implicits._
    // real corpus plus adversarial whitespace (empty tokens, multi-space runs)
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select($"text")
      .union(Seq("a  b c d", " leading space", "trailing space ", "a b", "",
        "x  y  z  w", "one two three four five").toDF("text"))
    val mismatches = d
      .select(
        TextDedup.shingleHashSet($"text", 3).as("fast"),
        TextDedup.shingleHashes(TextDedup.shingles($"text", 3)).as("ref"))
      .filter(!($"fast" <=> $"ref"))
      .count()
    assert(mismatches == 0)
  }

  test("codegen SimHash64 expression is bit-identical to the HOF reference") {
    import spark.implicits._
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val hashes = TextDedup.shingleHashes(TextDedup.shingles($"text"))
    val mismatches = d
      .filter(size(TextDedup.shingles($"text")) > 0)
      .select(SimHash.simhash64(hashes).as("fast"),
        SimHash.simhash64Reference(hashes).as("ref"))
      .filter($"fast" =!= $"ref")
      .count()
    assert(mismatches == 0)
  }

  test("all three near-dup strategies agree on the sf0.001 corpus") {
    import spark.implicits._
    val d = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = pairSet(TextDedup.nearDuplicates(d, "doc_id", "text", threshold = 0.8))
    val inv = pairSet(TextDedup.jaccardNearDuplicates(d, "doc_id", "text", threshold = 0.8))
    val sim = pairSet(TextDedup.simhashNearDuplicates(d, "doc_id", "text", threshold = 0.8))
    assert(inv == lsh, s"inverted-index vs LSH: missed=${lsh -- inv} spurious=${inv -- lsh}")
    assert(sim == lsh, s"simhash vs LSH: missed=${lsh -- sim} spurious=${sim -- lsh}")
  }

  test("inverted-index dedup df-cap drops boilerplate shingles but keeps true pairs") {
    // A shingle shared by every doc would fan out quadratically; with the
    // cap at 3 the common prefix is excluded from the index, yet the true
    // near-dup pair still surfaces through its rare shingles, and the
    // reported jaccard is still computed on the FULL sets (verification is
    // cap-independent).
    import spark.implicits._
    val boiler = "standard header text here"
    val many = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, s"$boiler alpha beta gamma delta epsilon eta"),
      (3L, s"$boiler totally other words appear now one"),
      (4L, s"$boiler more unrelated phrasing lives here two"),
      (5L, s"$boiler nothing shared beyond the header three"))
      .toDF("doc_id", "text")
    val pairs = TextDedup.jaccardNearDuplicates(many, "doc_id", "text",
      threshold = 0.5, maxDF = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got $pairs")
    // full-set jaccard of docs 1/2: 8 shingles each, 7 shared (incl. the 2
    // capped boilerplate ones) => 7/9 — proves verification ignores the cap
    assert(math.abs(pairs((1L, 2L)) - 7.0 / 9.0) < 1e-9, s"got ${pairs((1L, 2L))}")
  }

  test("incremental dedup: delta batch matched against the index, not itself") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val existing = Seq(
      (1L, base),
      (2L, "completely different text about spark catalyst optimizer rules and physical plans for big data"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                              // dup of existing 1
      (11L, base.replace("lazy", "sleepy")),    // near dup of existing 1
      (12L, "fresh unrelated content never seen before in the corpus at all today"),
      (13L, base))                              // dup of existing 1 AND of incoming 10
      .toDF("doc_id", "text")
    val got = TextDedup.incrementalNearDuplicates(existing, incoming,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((10L, 1L), (11L, 1L), (13L, 1L)),
      s"cross pairs only — (13,10) is within-batch, 12 matches nothing: $got")
    assert(got((10L, 1L)) == 1.0 && got((13L, 1L)) == 1.0)
    assert(got((11L, 1L)) < 1.0 && got((11L, 1L)) >= 0.5)
  }

  test("incremental dedup equals the cross-split slice of batch dedup on sf0.001") {
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    import spark.implicits._
    val cross = TextDedup.incrementalNearDuplicates(
        corpus.filter($"doc_id" % 5 =!= 4), corpus.filter($"doc_id" % 5 === 4),
        "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchPairs: Set[(Long, Long)] =
      TextDedup.nearDuplicates(corpus, "doc_id", "text", threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = batchPairs
      .filter { case (a, b) => (a % 5 == 4) != (b % 5 == 4) }
      .map { case (a, b) => if (a % 5 == 4) (a, b) else (b, a) }
    assert(cross == batch, s"cross=$cross batch=$batch")
  }

  test("bucketed persisted index joins delta batches without a corpus-side exchange") {
    import spark.implicits._
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val existing = corpus.filter($"doc_id" % 5 =!= 4)
    val incoming = corpus.filter($"doc_id" % 5 === 4)
    val tmp = java.nio.file.Files.createTempDirectory("graft_dedup_idx").toString
    spark.sql("DROP TABLE IF EXISTS graft_dedup_index")
    try {
      TextDedup.bandedIndex(existing, "doc_id", "text")
        .write.option("path", tmp)
        .bucketBy(4, "band", "bucket").sortBy("bucket")
        .saveAsTable("graft_dedup_index")
      val idx = spark.table("graft_dedup_index")
      val got = TextDedup.incrementalAgainstIndex(idx, incoming, "doc_id", "text")
      // same answer as the rebuild-everything form
      val direct = TextDedup.incrementalNearDuplicates(existing, incoming,
          "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == direct)
      // the bucketed scan reports the join partitioning: only the delta
      // side shuffles. The rebuild form exchanges the corpus sketch too.
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange hashpartitioning\\(band".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      val rebuilt = TextDedup.incrementalNearDuplicates(existing, incoming,
        "doc_id", "text")
      assert(exchanges(got) < exchanges(rebuilt),
        s"bucketed=${exchanges(got)} rebuilt=${exchanges(rebuilt)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_dedup_index")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("streaming dedup gate: batches reject against a bucketed index that grows") {
    import spark.implicits._
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val fresh = "entirely new material discussing shuffle partitions broadcast joins and adaptive query execution plans"
    val indexPath = Files.createTempDirectory("gate_idx").toString + "/idx"
    val srcDir = Files.createTempDirectory("gate_src").toString
    val ckpt = Files.createTempDirectory("gate_ckpt").toString
    val table = "graft_gate_index"
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      // seed: run the pre-existing corpus through the gate as batch 0
      TextDedup.dedupGateBatch(Seq((1L, base)).toDF("doc_id", "text"),
        "doc_id", "text", table, indexPath, batchId = 0L, threshold = 0.5)

      def runBatchFile(docs: Seq[(Long, String)]): Unit = {
        // one new file per run + AvailableNow = exactly one micro-batch
        docs.toDF("doc_id", "text").coalesce(1)
          .write.mode("append").parquet(srcDir)
        val q = spark.readStream
          .schema("doc_id LONG, text STRING").parquet(srcDir)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            val dups = TextDedup.dedupGateBatch(df, "doc_id", "text", table,
              indexPath, batchId = id + 1, threshold = 0.5)
            pairs.synchronized {
              pairs ++= dups.collect().map(r => (r.getLong(0), r.getLong(1)))
            }
            ()
          }.start()
        q.awaitTermination()
      }

      // batch 1: a dup of the seed (rejected) and a unique doc (admitted)
      runBatchFile(Seq((10L, base), (11L, fresh)))
      assert(pairs.toSet == Set((10L, 1L)), s"got $pairs")
      // batch 2: a dup of the doc ADMITTED in batch 1 (the index grew), a
      // novel doc, and a WITHIN-BATCH copy of that novel doc
      val novel = "one more novel document about catalyst rule ordering and exchange reuse"
      runBatchFile(Seq((20L, fresh), (21L, novel), (22L, novel)))
      assert(pairs.toSet == Set((10L, 1L), (20L, 11L), (22L, 21L)), s"got $pairs")
      // rejected docs never entered the index: only 1, 11, 21 hold rows
      def idxState() = spark.table(table)
        .select($"doc_id", $"_batch_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val before = idxState()
      assert(before.map(_._1) == Set(1L, 11L, 21L), s"index holds $before")
      // crash replay: re-running the SAME batch must (a) not report
      // admitted docs as duplicates of themselves and (b) leave the index
      // CONTENTS bit-identical — the dynamic overwrite rewrites the
      // batch's own partition instead of appending duplicate sketch rows
      val replay = Seq((20L, fresh), (21L, novel), (22L, novel))
        .toDF("doc_id", "text")
      val replayed = TextDedup.dedupGateBatch(replay, "doc_id", "text",
          table, indexPath, batchId = 2L, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(replayed == Set((20L, 11L), (22L, 21L)), s"replay got $replayed")
      assert(idxState() == before, "replay must not change index contents")
      val rowsBefore = spark.table(table).count()
      TextDedup.dedupGateBatch(replay, "doc_id", "text", table, indexPath,
        batchId = 2L, threshold = 0.5)
      assert(spark.table(table).count() == rowsBefore,
        "replay must not grow the index (exactly-once contents)")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(indexPath).getParentFile)
    }
  }

  test("dedup gate per-batch join has NO index-side exchange (bucketed scan)") {
    import spark.implicits._
    val corpus = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
    val tmp = java.nio.file.Files.createTempDirectory("gate_plan").toString
    val table = "graft_gate_plan_index"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      TextDedup.dedupGateBatch(corpus.filter($"doc_id" % 5 =!= 4),
        "doc_id", "text", table, s"$tmp/idx", batchId = 0L)
      val delta = corpus.filter($"doc_id" % 5 === 4)
      // force the shuffle-join shape (a tiny test delta would broadcast,
      // making the exchange count vacuous about the index side); restore
      // in a finally so a failure here cannot poison later suites
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val (cross, exchanges) =
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val c = TextDedup.gateCrossPairs(delta, "doc_id", "text", table,
            batchId = 1L)
          // the only (band, bucket) exchange is the DELTA side: the index
          // scan reports the join partitioning (bucketed table), and the
          // bucket-cap aggregate reuses it — corpus growth never re-shuffles
          (c, "Exchange hashpartitioning\\(band".r
            .findAllIn(c.queryExecution.executedPlan.toString).size)
        } finally
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      assert(exchanges == 1,
        s"want exactly the delta-side exchange, got $exchanges:\n" +
          cross.queryExecution.executedPlan.toString.take(3000))
      // and the gate's answer through the table equals the rebuild form
      val direct = TextDedup.incrementalNearDuplicates(
          corpus.filter($"doc_id" % 5 =!= 4), delta, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cross.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == direct)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("dedup gate compaction: one consolidated partition, fewer files, same answer") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gate_compact").toString
    val table = "graft_gate_compact_index"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      // fully distinct word soups: no cross-batch shingle overlap, so every
      // doc is admitted and every batch lands its own partition
      val texts = (0 until 8).map(b =>
        (0 until 4).map(i => (b * 100L + i,
          (0 until 12).map(w => s"w${b}x${i}y$w").mkString(" "))))
      texts.zipWithIndex.foreach { case (docs, b) =>
        TextDedup.dedupGateBatch(docs.toDF("doc_id", "text"), "doc_id",
          "text", table, s"$tmp/idx", batchId = b.toLong, threshold = 0.5,
          buckets = 4)
      }
      val rowsBefore = spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq
      // compact batches 0..5; 6 and 7 stay replayable
      val (filesBefore, filesAfter) =
        TextDedup.compactGateIndex(spark, table, upToBatchId = 5L)
      assert(filesBefore > filesAfter && filesAfter > 0,
        s"compaction must shrink files: $filesBefore -> $filesAfter")
      val parts = spark.table(table).select($"_batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts == Set(-6L, 6L, 7L), s"partitions after compact: $parts")
      // contents survive byte-for-byte (modulo the partition id)
      val rowsAfter = spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq
      assert(rowsAfter == rowsBefore)
      // re-running with the same horizon converges (idempotent), and the
      // gate still answers through the compacted index
      TextDedup.compactGateIndex(spark, table, upToBatchId = 5L)
      assert(spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq == rowsBefore)
      // a staging dir leaked by a crash after the insert committed (the
      // consolidation block is skipped on the re-run) is swept on entry
      val idxRoot = new java.io.File(s"$tmp/idx")
      val leaked = new java.io.File(idxRoot.getParentFile, "idx_compact_3_staging")
      assert(leaked.mkdir())
      TextDedup.compactGateIndex(spark, table, upToBatchId = 6L)
      assert(!leaked.exists(), "stale staging dir must be swept")
      assert(spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq == rowsBefore,
        "advancing the horizon past leftovers must not duplicate rows")
      // prior consolidations are re-merged: steady state is exactly ONE
      // negative partition, so partition count does not grow with
      // compaction-run count
      val parts2 = spark.table(table).select($"_batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts2 == Set(-7L, 7L), s"partitions after second compact: $parts2")
      val dups = TextDedup.dedupGateBatch(
        Seq((9999L, texts(2)(1)._2)).toDF("doc_id", "text"), "doc_id",
        "text", table, s"$tmp/idx", batchId = 8L, threshold = 0.5,
        buckets = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(dups == Set((9999L, texts(2)(1)._1)), s"got $dups")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("dedup gate refuses an indexPath that differs from the existing table's location") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gate_pathchk").toString
    val table = "graft_gate_pathchk_index"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val batch = Seq((1L, (0 until 12).map(w => s"pq${w}zr").mkString(" ")))
        .toDF("doc_id", "text")
      TextDedup.dedupGateBatch(batch, "doc_id", "text", table, s"$tmp/idx",
        batchId = 0L, threshold = 0.5, buckets = 4)
      val ex = intercept[IllegalArgumentException] {
        TextDedup.dedupGateBatch(batch, "doc_id", "text", table,
          s"$tmp/elsewhere", batchId = 1L, threshold = 0.5, buckets = 4)
      }
      assert(ex.getMessage.contains("not at the requested path"))
      assert(ex.getMessage.contains(table))
      // the matching path keeps working
      TextDedup.dedupGateBatch(batch, "doc_id", "text", table, s"$tmp/idx",
        batchId = 1L, threshold = 0.5, buckets = 4)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("substringOverlap reports pairs sharing a long verbatim run only") {
    import spark.implicits._
    val run = "zqxv jklm wpfh rgty bnds ocau" // 29 chars, rare tokens
    val docs = Seq(
      (1L, s"first document carries the run $run inside it"),
      (2L, s"second one too: $run plus unrelated trailing words"),
      (3L, "third shares nothing with the others at all"),
      (4L, "fourth is equally unrelated to everything here"))
      .toDF("doc_id", "text")
    val got = TextDedup.substringOverlap(docs, "doc_id", "text",
      k = 8, w = 4, dfCap = 4, minShared = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("substringOverlap df-cap kills corpus-wide boilerplate buckets") {
    import spark.implicits._
    // the shared run appears in EVERY doc → its fingerprints have df=6 >
    // cap=4 → no pair is reported despite the verbatim overlap
    val run = "zqxv jklm wpfh rgty bnds ocau"
    val docs = (1L to 6L).map(i => (i, s"doc number $i carries $run text"))
      .toDF("doc_id", "text")
    val got = TextDedup.substringOverlap(docs, "doc_id", "text",
      k = 8, w = 4, dfCap = 4, minShared = 1L).count()
    assert(got == 0)
  }

  test("substringClusters: shared-run docs cluster, unrelated docs stay out, df-cap respected") {
    import spark.implicits._
    val runA = "zqxv jklm wpfh rgty bnds ocau"
    val runB = "ymtr kldw qofn xbzi vgch punl"
    val docs = Seq(
      (1L, s"first document carries the run $runA inside it"),
      (2L, s"second one too: $runA plus unrelated trailing words"),
      (3L, s"third carries $runB as its shared content body"),
      (4L, s"fourth also holds $runB and nothing else shared"),
      (5L, "fifth shares nothing with the others at all"))
      .toDF("doc_id", "text")
    val clusters = TextDedup.substringClusters(docs, "doc_id", "text",
      k = 8, w = 4, s = 6, dfCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters == Set((1L, 1L), (1L, 2L), (3L, 3L), (3L, 4L)),
      s"got $clusters")
    // boilerplate guard carries over: a run in EVERY doc (df 5 > cap 4)
    // must produce no clusters
    val boiler = (1L to 5L).map(i => (i, s"doc number $i carries $runA text"))
      .toDF("doc_id", "text")
    assert(TextDedup.substringClusters(boiler, "doc_id", "text",
      k = 8, w = 4, s = 6, dfCap = 4).count() == 0)
    // super-fingerprint evidence floor: two docs overlapping on a SHORT
    // run (< the ~23-char s=6 witness span) must NOT link — the noise
    // class that single-fingerprint star edges chain on
    val short = Seq(
      (1L, "alpha text block shares ocau bnds only here"),
      (2L, "beta body repeats ocau bnds then diverges totally"))
      .toDF("doc_id", "text")
    assert(TextDedup.substringClusters(short, "doc_id", "text",
      k = 8, w = 4, s = 6, dfCap = 4).count() == 0)
  }

  test("autoDfCap follows corpus size with the calibrated floor") {
    assert(TextDedup.autoDfCap(500L) == 16)   // gate scale: historical cap
    assert(TextDedup.autoDfCap(5000L) == 27)  // ceil(5000/192)
    assert(TextDedup.autoDfCap(50000L) == 261) // inside the measured 256..511 band
    assert(TextDedup.autoDfCap(1L) == 16)
    // monotone non-decreasing
    val caps = Seq(100L, 1000L, 10000L, 100000L, 1000000L).map(TextDedup.autoDfCap)
    assert(caps == caps.sorted)
  }

  test("auto dfCap keeps recall where a fixed small cap measured ZERO (5,000 docs)") {
    // the documented trap: cap 4 found pairs at 500 docs and ZERO at
    // 5,000 (clusters outgrow the cap). The auto default must stay
    // nonzero on the 5,000-doc corpus.
    val docs = graft.Tables(spark, "/root/testdata/sf0.1", "documents")
    val auto = TextDedup.substringOverlap(docs, "doc_id", "text").count()
    assert(auto > 0, "auto dfCap lost all substring-overlap pairs at 5,000 docs")
  }

  test("auto dfCap keeps recall on the 10x sweep corpus (50,000 docs)") {
    // every fixed cap <= 160 measures ZERO pairs there; auto (261) must
    // recover the planted clusters. Guarded: bench_scale is gitignored.
    val sf1 = new java.io.File("/root/repo/bench_scale/sf1/documents.parquet")
    assume(sf1.exists(), "10x sweep corpus not materialized")
    val docs = graft.Tables(spark, "/root/repo/bench_scale/sf1", "documents")
    val auto = TextDedup.substringOverlap(docs, "doc_id", "text").count()
    assert(auto > 0, "auto dfCap lost all substring-overlap pairs at 50,000 docs")
  }

  test("SimHash.autoParams: gate scales keep (13,12), larger corpora widen segments") {
    assert(SimHash.autoParams(500L) == ((13, 12)))
    assert(SimHash.autoParams(5000L) == ((13, 12))) // sf0.1 stays on the full banding
    assert(SimHash.autoParams(50000L) == ((8, 7)))  // 10x sweep: 8-bit segments
    // 100x sweep corpus (round 8 SimHash probe at 500k docs, in git
    // history): (6,5) finds
    // 19,440 of 25,600 true J>=0.8 pairs (75.9% recall) in 13 s — the
    // candidate volume holds ~linear where fixed (13,12) would be ~10^10
    assert(SimHash.autoParams(500000L) == ((6, 5)))
    // pigeonhole completeness invariant and monotonicity across sizes
    var lastP = Int.MaxValue
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L, 100000000L)) {
      val (p, d) = SimHash.autoParams(n)
      assert(p > d && d >= 3, s"degenerate banding at n=$n: ($p, $d)")
      assert(p <= lastP, s"pieces must not grow with n (n=$n)")
      lastP = p
    }
    // the floor: even absurd corpus sizes keep a valid banding
    assert(SimHash.autoParams(Long.MaxValue / 4) == ((4, 3)))
  }

  test("simhashNearDuplicates rejects a half-specified banding override") {
    // pieces without maxDistance (or vice versa) must fail fast, not fall
    // through to autoParams silently discarding the caller's value
    intercept[IllegalArgumentException] {
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text", pieces = 13)
    }
    intercept[IllegalArgumentException] {
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text", maxDistance = 12)
    }
  }

  test("requireExactRecall fails fast past the calibrated banding, passes inside it") {
    // 500k docs -> auto (6, 5): 75.9% measured recall — a caller demanding
    // exact recall must get an exception pointing at the exact paths, not
    // a silently incomplete answer
    val ex = intercept[IllegalArgumentException] {
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text",
        nHint = 500000L, requireExactRecall = true)
    }
    assert(ex.getMessage.contains("exact-recall"))
    assert(ex.getMessage.contains("jaccardNearDuplicates"))
    // gate scales keep (13, 12) — construction must succeed
    TextDedup.simhashNearDuplicates(docs, "doc_id", "text",
      nHint = 5000L, requireExactRecall = true)
    // an explicit override is the caller's own banding — the guard still
    // applies to it (exactness claim is about the distance bound, not
    // who chose it)
    intercept[IllegalArgumentException] {
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text",
        pieces = 8, maxDistance = 7, requireExactRecall = true)
    }
  }

  test("hammingPairs fails fast when pieces <= maxDistance (pigeonhole broken)") {
    import spark.implicits._
    val fp = Seq((1L, 0L), (2L, 255L)).toDF("doc_id", "fp")
    // pieces == maxDistance: a pair at exactly maxDistance need not share
    // any segment — silent recall loss, so construction must throw
    intercept[IllegalArgumentException] {
      SimHash.hammingPairs(fp, "doc_id", "fp", maxDistance = 4, pieces = 4)
    }
    intercept[IllegalArgumentException] {
      SimHash.hammingPairs(fp, "doc_id", "fp", maxDistance = 8, pieces = 5)
    }
    // the boundary-valid banding still constructs
    SimHash.hammingPairs(fp, "doc_id", "fp", maxDistance = 3, pieces = 4)
  }

  test("nHint skips the corpus-count action in the auto-param paths") {
    val sc = spark.sparkContext
    val st = sc.statusTracker
    // job groups are thread-local, so concurrent suites on the shared
    // session cannot pollute this group's job list
    val group = s"nhint-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, "nhint probe")
    try {
      // positive control: the auto path DOES submit a count job — proves
      // the group-based detection below is not vacuous
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text")
      val deadline = System.currentTimeMillis + 20000
      while (st.getJobIdsForGroup(group).isEmpty &&
             System.currentTimeMillis < deadline) Thread.sleep(50)
      val controlJobs = st.getJobIdsForGroup(group).length
      assert(controlJobs > 0, "control: auto path must submit a count job")
      // hinted calls are pure plan construction — no job may appear
      TextDedup.simhashNearDuplicates(docs, "doc_id", "text", nHint = 5L)
      TextDedup.substringOverlap(docs, "doc_id", "text", nHint = 5L)
      Thread.sleep(1000)
      assert(st.getJobIdsForGroup(group).length == controlJobs,
        "nHint must not run an extra count job/scan")
    } finally sc.clearJobGroup()
  }

  test("compaction keeps both sketch versions of a re-admitted doc_id; stale horizon is a no-op") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("gate_readmit").toString
    val table = "graft_gate_readmit_index"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      // same doc_id, different text across batches (disjoint vocab, so the
      // gate admits both): an id re-ingest/upsert, NOT a crash duplicate
      val textA = (0 until 12).map(w => s"va${w}q").mkString(" ")
      val textB = (0 until 12).map(w => s"vb${w}q").mkString(" ")
      TextDedup.dedupGateBatch(Seq((1L, textA)).toDF("doc_id", "text"),
        "doc_id", "text", table, s"$tmp/idx", batchId = 0L,
        threshold = 0.5, buckets = 4)
      TextDedup.dedupGateBatch(Seq((1L, textB)).toDF("doc_id", "text"),
        "doc_id", "text", table, s"$tmp/idx", batchId = 1L,
        threshold = 0.5, buckets = 4)
      val rowsBefore = spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq
      TextDedup.compactGateIndex(spark, table, upToBatchId = 1L)
      val rowsAfter = spark.table(table).drop("_batch_id")
        .collect().map(_.toString).sorted.toSeq
      assert(rowsAfter == rowsBefore,
        "compaction dedup must collapse crash copies ONLY — both admitted " +
          "versions' sketch rows must survive")
      // committed horizon is now 1; a replayed OLDER compaction request
      // must not fold history into a less-negative partition
      assert(TextDedup.compactGateIndex(spark, table, upToBatchId = 0L)
        == ((0, 0)))
      val parts = spark.table(table).select($"_batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts == Set(-2L), s"horizon must not regress: $parts")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("containmentPairs finds excerpts one-directionally, near-identicals both ways") {
    import spark.implicits._
    val body = (1 to 50).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 12).map(i => s"w$i").mkString(" ") // fully inside body
    val nearA = (1 to 40).map(i => s"n$i").mkString(" ")
    val nearB = (1 to 40).map(i => s"n$i").mkString(" ") + " extra"
    val docs = Seq(
      (1L, body), (2L, excerpt), (3L, nearA), (4L, nearB),
      (5L, "completely unrelated vocabulary nothing matching anywhere at all"))
      .toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.8, n = 4)
      .orderBy("id_sub", "id_sup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // excerpt(2) ⊆ body(1): 9 of 9 grams shared, one direction only
    // (body has 47 grams, 9/47 < 0.8); nearA/nearB contain each other.
    assert(got.map(t => (t._1, t._2)) == List((2L, 1L), (3L, 4L), (4L, 3L)))
    assert(got.head._3 == 1.0)
    assert(got(1)._3 == 1.0) // nearA's 37 grams all inside nearB
    assert(got(2)._3 >= 0.8 && got(2)._3 < 1.0) // nearB has 1 extra gram
  }

  test("containmentPairs matches brute-force set containment on a random corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = (1 to 12).map(i => s"v$i")
    val texts = (0 until 40).map { i =>
      (i.toLong, (0 until (8 + rnd.nextInt(20)))
        .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.6, n = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force over exact word-3-gram string sets
    def grams(t: String): Set[String] = {
      val w = t.split(" ", -1)
      (0 to w.length - 3).map(i => w.slice(i, i + 3).mkString(" ")).toSet
    }
    val sets = texts.map { case (id, t) => id -> grams(t) }.toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b && sa.nonEmpty &&
        sa.intersect(sb).size.toDouble / sa.size >= 0.6
    } yield (a, b)).toSet
    assert(got == want)
  }

  test("containmentPairs maxDF guard drops only boilerplate-bucket candidates") {
    import spark.implicits._
    // every doc shares the same 4-gram run ("b1 b2 b3 b4"); with maxDF=3
    // that bucket (df=5) is dropped, so only the genuine excerpt pair
    // (whose overlap spans rarer grams too) survives.
    val docs = Seq(
      (1L, "b1 b2 b3 b4 u1 u2 u3 u4 u5 u6 u7 u8"),
      (2L, "u1 u2 u3 u4 u5 u6 u7"), // excerpt of 1 beyond the boilerplate
      (3L, "b1 b2 b3 b4 x1 x2 x3 x4 x5"),
      (4L, "b1 b2 b3 b4 y1 y2 y3 y4 y5"),
      (5L, "b1 b2 b3 b4 z1 z2 z3 z4 z5"))
      .toDF("doc_id", "text")
    val got = TextDedup.containmentPairs(docs, "doc_id", "text",
        threshold = 0.8, n = 4, maxDF = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((2L, 1L)))
  }

  // scalar reference: cross-doc L-gram df, marked positions, interval merge
  private def scalarSpans(docs: Seq[(Long, String)],
                          l: Int): Set[(Long, Long, Long, Long)] = {
    val grams = docs.map { case (id, t) =>
      val w = t.split(" ", -1)
      id -> (0 to w.length - l).map(i => (i.toLong, w.slice(i, i + l).mkString(" ")))
    }
    val df = grams.flatMap { case (id, gs) => gs.map(g => (g._2, id)) }
      .distinct.groupBy(_._1).map { case (g, xs) => g -> xs.size }
    grams.flatMap { case (id, gs) =>
      val marks = gs.filter(g => df(g._2) > 1).map(_._1).sorted
      // islands of starts: consecutive starts merge iff their gap <= l
      // (the engine's lag rule verbatim); each island holds starts
      // DESCENDING, head = max
      val islands = marks.foldLeft(List.empty[List[Long]]) {
        case (Nil, i) => List(List(i))
        case (cur :: rest, i) =>
          if (i - cur.head <= l) (i :: cur) :: rest
          else List(i) :: cur :: rest
      }
      islands.map(is => (id, is.last, is.head + l - 1,
        is.head + l - 1 - is.last + 1))
    }.toSet
  }

  test("exactSubstringSpans: every cross-doc verbatim run >= L is " +
      "reported with merged intervals; within-doc repeats alone do not " +
      "count; the winnowing path misses the planted short span") {
    import spark.implicits._
    def soup(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // SHORT runs (single-char tokens, 15 chars): the whole run holds only
    // 8 winnowing k-grams (k = 8 chars), so a sharing pair can never
    // reach substringOverlap's minShared = 10 — the guaranteed-miss shape
    val runA = "a b c d e f g h"
    val runB = "p q r s t u v w"
    val fixture = Seq(
      (1L, s"${soup("a", 12)} $runA ${soup("b", 12)} $runB"),
      (2L, s"${soup("c", 15)} $runA ${soup("d", 9)}"),
      (3L, s"$runB ${soup("e", 20)}"),
      // within-doc repetition ONLY: the 8-gram repeats inside doc 4 but
      // never crosses a doc boundary -> no span
      (4L, s"${soup("f", 3)} ${soup("g", 8)} ${soup("h", 3)} ${soup("g", 8)}"),
      (5L, soup("z", 30)))
      .toDF("doc_id", "text")
    val fixtureSeq = fixture.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    for (l <- Seq(8, 5); parts <- Seq(1, 4)) {
      val got = TextDedup.exactSubstringSpans(fixture.repartition(parts),
          "doc_id", "text", l)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got === scalarSpans(fixtureSeq, l), s"l=$l parts=$parts")
    }
    // run A lands in docs 1 AND 2; run B in 1 AND 3; doc 4's internal
    // repeat and doc 5 report nothing at l=8
    val at8 = TextDedup.exactSubstringSpans(fixture, "doc_id", "text", 8)
      .collect().map(_.getLong(0)).toSet
    assert(at8 === Set(1L, 2L, 3L))
    // the fingerprint path at its default settings MISSES these short
    // runs (8 shared k-grams can never reach minShared = 10) — the
    // deterministic pass exists precisely for this
    assert(TextDedup.substringOverlap(fixture, "doc_id", "text").count() === 0L)

    // REMOVAL: the min-doc_id holder keeps its copy; every other doc
    // loses exactly the duplicated positions; unaffected docs pass
    // through verbatim
    val original = fixtureSeq.toMap
    val cleaned = TextDedup.exactSubstringDedupText(fixture, "doc_id",
        "text", 8)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(cleaned.keySet === original.keySet, "total function of the corpus")
    // doc 1 is the canonical holder of BOTH runs: untouched
    assert(cleaned(1L)._1 === original(1L) && cleaned(1L)._3 === 0L)
    // doc 2 loses exactly run A's 8 tokens; doc 3 exactly run B's
    assert(cleaned(2L)._1 === s"${soup("c", 15)} ${soup("d", 9)}")
    assert(cleaned(2L)._3 === 8L)
    assert(cleaned(3L)._1 === soup("e", 20) && cleaned(3L)._3 === 8L)
    // within-doc repeats in an otherwise-unique doc survive
    assert(cleaned(4L)._1 === original(4L) && cleaned(4L)._3 === 0L)
    assert(cleaned(5L)._1 === original(5L))
    // token accounting: n_tokens is the ORIGINAL length
    assert(cleaned(2L)._2 === original(2L).split(" ", -1).length.toLong)
  }
}
