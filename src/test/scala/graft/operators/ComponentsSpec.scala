package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Degenerate inputs every iterative operator is checked on beside its
    * main fixture, as nullable (s, d) pairs: a chain long enough that the
    * layer folds of both loop drivers fire at least twice, no edges at
    * all, self-loops only, parallel and duplicate edges, and null
    * endpoints mixed into a small path.
    */
  private val edgeCases: Seq[(String, Seq[(Option[Long], Option[Long])])] = {
    def e(a: Long, b: Long) = (Option(a), Option(b))
    Seq(
      "33-node chain" -> (1L to 32L).map(i => e(i, i + 1)),
      "empty" -> Seq.empty,
      "self-loops only" -> Seq(e(1L, 1L), e(2L, 2L), e(2L, 2L)),
      "parallel and duplicate edges" -> Seq(e(1L, 2L), e(1L, 2L), e(2L, 1L),
        e(2L, 3L), e(2L, 3L), e(3L, 4L), e(1L, 3L), e(1L, 3L)),
      "null endpoints" -> Seq(e(1L, 2L), (Some(2L), None), (None, Some(3L)),
        (None, None), e(2L, 3L), e(3L, 4L), (Some(4L), None)))
  }

  private def edgeFrame(es: Seq[(Option[Long], Option[Long])]) = {
    import spark.implicits._
    es.toDF("s", "d")
  }

  /** Both directions of every pair: BFS back edges then reach visited
    * nodes, so a wrong visited set shows in the result.
    */
  private def symmetric(es: Seq[(Option[Long], Option[Long])]) =
    es ++ es.map(_.swap)

  /** The edges a scalar model sees: rows with a null endpoint dropped. */
  private def nonNull(
      es: Seq[(Option[Long], Option[Long])]): Seq[(Long, Long)] =
    es.collect { case (Some(a), Some(b)) => (a, b) }

  test("two clusters and a chain collapse to min-id components") {
    // {1,2,3} via transitive pairs, {10,11}, chain {20..24}
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
  }

  test("random graphs match a union-find model") {
    val rnd = new scala.util.Random(13)
    for (round <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(cc(edges) == GraphModels.unionFind(edges), s"round $round")
    }
    // the chain needs 33 rounds, past the default maxIter
    for ((tag, es) <- edgeCases) {
      val got = Components.connectedComponents(edgeFrame(es), "s", "d",
          maxIter = 40)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == GraphModels.unionFind(nonNull(es)), tag)
    }
  }

  private def membership(table: String): Map[Long, Long] =
    Components.componentsFromTable(spark, table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("incremental merges equal the one-shot at every step, including a " +
      "late edge that MERGES two prior components; compaction mid-stream") {
    import spark.implicits._
    val salt = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val table = s"graft_cc_$salt"
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_cc_$salt").toString
    try {
      val b0 = Seq((1L, 2L))
      val b1 = Seq((3L, 4L), (10L, 11L))
      val b2 = Seq((2L, 3L)) // merges {1,2} with {3,4} — the hard case
      Components.mergeBatchEdges(b0.toDF("id_a", "id_b"), table,
        s"$tmp/state", batchId = 0L)
      assert(membership(table) == Map(1L -> 1L, 2L -> 1L))
      Components.mergeBatchEdges(b1.toDF("id_a", "id_b"), table,
        s"$tmp/state", batchId = 1L)
      assert(membership(table) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
      // compact BEFORE the merging edge arrives: the consolidated
      // partition must feed the next delta exactly like the raw batches
      Components.compactComponents(spark, table, upToBatchId = 1L)
      Components.mergeBatchEdges(b2.toDF("id_a", "id_b"), table,
        s"$tmp/state", batchId = 2L)
      assert(membership(table) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L),
        "the late edge must pull BOTH prior components to the global min label")
      // equals the one-shot over all edges
      assert(membership(table) == cc(b0 ++ b1 ++ b2))
      // steady state after a final compaction: one negative partition
      Components.compactComponents(spark, table, upToBatchId = 2L)
      assert(membership(table) == cc(b0 ++ b1 ++ b2))
      val parts = spark.table(table).select($"_batch_id").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(parts == Set(-3L), s"expected one consolidated partition, got $parts")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("random batched arrival orders all converge to the one-shot components") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val n = 80
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    val oneShot = cc(edges)
    val salt = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val table = s"graft_ccr_$salt"
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_ccr_$salt").toString
    try {
      val batches = rnd.shuffle(edges).grouped((edges.size + 3) / 4).toSeq
      batches.zipWithIndex.foreach { case (b, i) =>
        Components.mergeBatchEdges(b.toDF("id_a", "id_b"), table,
          s"$tmp/state", batchId = i.toLong)
        if (i == 1) Components.compactComponents(spark, table, upToBatchId = 1L)
      }
      assert(membership(table) == oneShot)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("AvailableNow stream maintains the table; a crash mid-batch replays " +
      "idempotently and the late merge still lands") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val salt = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val table = s"graft_ccs_$salt"
    val tmp = Files.createTempDirectory(s"graft_ccs_$salt").toString
    val streamDir = Files.createTempDirectory("cc_stream").toString
    val ckpt = Files.createTempDirectory("cc_ckpt").toString
    def writeFile(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit = {
      val t = Files.createTempDirectory("cc_tmp").toString
      rows.toDF("id_a", "id_b").coalesce(1).write.mode("overwrite").parquet(t)
      val part = Files.list(Paths.get(t)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && p.contains("part-")).head
      val dst = Paths.get(streamDir, name)
      Files.copy(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(mtime)
      ()
    }
    writeFile(Seq((1L, 2L)), "0000.parquet", 1718000000000L)
    writeFile(Seq((3L, 4L)), "0001.parquet", 1718000100000L)
    writeFile(Seq((2L, 3L)), "0002.parquet", 1718000200000L)
    val sch = Seq((1L, 2L)).toDF("id_a", "id_b").schema
    try {
      val boom = new java.util.concurrent.atomic.AtomicInteger(0)
      def start() = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1).parquet(streamDir)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          Components.mergeBatchEdges(df, table, s"$tmp/state", id)
          // crash AFTER the state write, BEFORE the checkpoint commits:
          // the replay re-runs the batch and must dynamic-overwrite its
          // own partition, never duplicate or fork membership
          if (id == 1 && boom.getAndIncrement() == 0)
            throw new RuntimeException("simulated crash after merge")
          ()
        }
        .start()
      intercept[Exception] { start().awaitTermination(120000) }
      start().awaitTermination(120000)
      assert(membership(table) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      // exactly one row per (id, batch) survived the replay
      val dupes = spark.table(table).groupBy($"id", $"_batch_id")
        .count().filter($"count" > 1).count()
      assert(dupes == 0L)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
  }

  test("kCore: cascading peel matches the scalar model; cores nest; " +
      "empty core handled") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)
    // a 5-clique (core-4) with a pendant path (peels in cascade: the
    // path end has degree 1, removing it drops its neighbor to 1, ...)
    val clique = for (a <- 1L to 5L; b <- 1L to 5L if a < b) yield (a, b)
    val path = Seq((5L, 10L), (10L, 11L), (11L, 12L))
    val g = sym(clique ++ path)
    for (k <- 1 to 5) {
      val got = Components.kCore(g.toDF("s", "d"), "s", "d", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphModels.kCorePeel(g, k), s"k=$k")
    }
    // k=2: the whole pendant path cascades away (3 peel rounds), the
    // clique survives
    assert(Components.kCore(g.toDF("s", "d"), "s", "d", 2)
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 5L))
    // k above the max degree: empty, not a crash
    assert(Components.kCore(g.toDF("s", "d"), "s", "d", 50).count() === 0L)
    // a pseudo-random graph across layouts
    val rnd = (0 until 400).map(i =>
      ((i * 17L) % 40, (i * 31L + 7) % 40)).filter(p => p._1 != p._2)
    val rg = sym(rnd)
    for (parts <- Seq(1, 7); k <- Seq(3, 8)) {
      val got = Components.kCore(rg.toDF("s", "d").repartition(parts),
          "s", "d", k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphModels.kCorePeel(rg, k), s"k=$k parts=$parts")
    }
  }

  test("bfsHops: multi-source hop distances match a scalar BFS across " +
      "layouts; unreachable nodes are absent (NULL on left join); " +
      "maxHops truncates; direction is honored") {
    import spark.implicits._
    // two components: a path 1-2-3-4-5 plus a triangle 10-11-12; seeds
    // {1, 4} — node 3 is 1 hop from 4 (min over seeds), the triangle
    // unreachable
    def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)
    val g = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)))
    val want = GraphModels.bfs(g, Set(1L, 4L))
    for (parts <- Seq(1, 5)) {
      val got = Components.bfsHops(g.toDF("s", "d").repartition(parts),
          "s", "d", Seq(1L, 4L).toDF("seed"), "seed")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"parts=$parts")
      assert(!got.contains(10L) && !got.contains(11L) && !got.contains(12L),
        "unreachable component must be absent from the output")
    }
    // a seed that never appears in the edge list still reports hop 0
    val lone = Components.bfsHops(g.toDF("s", "d"), "s", "d",
        Seq(99L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lone === Map(99L -> 0L))
    // maxHops truncation: radius 1 from seed 1 keeps {1, 2} only
    val trunc = Components.bfsHops(g.toDF("s", "d"), "s", "d",
        Seq(1L).toDF("seed"), "seed", maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trunc === Map(1L -> 0L, 2L -> 1L))
    // DIRECTED semantics: edges follow src -> dst only
    val directed = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val dgot = Components.bfsHops(directed, "s", "d",
        Seq(2L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dgot === Map(2L -> 0L, 3L -> 1L, 1L -> 2L))
    // a pseudo-random graph vs the scalar model, min-over-seeds
    val rnd = (0 until 300).map(i =>
      ((i * 13L) % 60, (i * 29L + 5) % 60)).filter(p => p._1 != p._2)
    val rwant = GraphModels.bfs(rnd, Set(0L, 17L))
    val rgot = Components.bfsHops(rnd.toDF("s", "d"), "s", "d",
        Seq(0L, 17L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rgot === rwant)
    for ((tag, es0) <- edgeCases; es = symmetric(es0)) {
      val got = Components.bfsHops(edgeFrame(es), "s", "d",
          Seq(1L).toDF("seed"), "seed")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphModels.bfs(nonNull(es), Set(1L)), tag)
    }
  }

  test("harmonicCentrality: exact lcm numerators match a scalar " +
      "per-source BFS across layouts; self-distance excluded; " +
      "unreachable pairs contribute zero; maxRounds truncates") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)
    // path 1-2-3-4-5 plus a detached triangle; sources {1, 4}
    val g = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L)))
    def scalar(edges: Seq[(Long, Long)], sources: Set[Long],
               maxRounds: Int): Map[Long, (Long, Long)] = {
      val L = (1L to maxRounds.toLong).foldLeft(1L)((l, d) =>
        l / BigInt(l).gcd(BigInt(d)).toLong * d)
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val terms = sources.toSeq.flatMap { s =>
        var dist = Map(s -> 0L); var frontier = Set(s); var hop = 0L
        while (frontier.nonEmpty && hop < maxRounds) {
          hop += 1
          val next = frontier.flatMap(n => adj.getOrElse(n, Seq.empty))
            .filterNot(dist.contains)
          next.foreach(n => dist += n -> hop)
          frontier = next
        }
        dist.toSeq.filter(_._2 >= 1L)
      }
      terms.groupBy(_._1).map { case (n, ds) =>
        n -> ((ds.size.toLong, ds.map(x => L / x._2).sum))
      }
    }
    val want = scalar(g, Set(1L, 4L), 12)
    for (parts <- Seq(1, 5)) {
      val got = Components.harmonicCentrality(
          g.toDF("s", "d").repartition(parts), "s", "d",
          Seq(1L, 4L).toDF("seed"), "seed", maxRounds = 12)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got === want, s"parts=$parts")
      assert(!got.contains(10L), "unreachable component must be absent")
    }
    // node 3 sits 2 hops from source 1 and 1 hop from source 4:
    // h_num = L/2 + L/1 with L = lcm(1..12) = 27720
    assert(want(3L) === ((2L, 27720L / 2 + 27720L)))
    // sources score each other (4 hops apart) but never themselves
    assert(want(1L) === ((1L, 27720L / 3)),
      "source 1 is 3 hops from source 4 — one term, no self")
    // the rounded convenience double derives from the exact numerator
    val h3 = Components.harmonicCentrality(g.toDF("s", "d"), "s", "d",
        Seq(1L, 4L).toDF("seed"), "seed", maxRounds = 12)
      .filter($"node" === 3L).collect()(0).getDouble(3)
    assert(h3 === math.round((0.5 + 1.0) * 1e6) / 1e6)
    // maxRounds truncation changes the denominator AND the horizon:
    // radius 1 from source 1 scores only node 2 at L(1) = 1
    val trunc = Components.harmonicCentrality(g.toDF("s", "d"), "s", "d",
        Seq(1L).toDF("seed"), "seed", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(trunc === Map(2L -> 1L))
    // the chain needs 33 rounds: run every case at the 40-round maximum
    for ((tag, es0) <- edgeCases; es = symmetric(es0)) {
      val got = Components.harmonicCentrality(edgeFrame(es), "s", "d",
          Seq(1L, 3L).toDF("seed"), "seed", maxRounds = 40)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got === scalar(nonNull(es), Set(1L, 3L), 40), tag)
    }
  }

  test("kCore: a DIRECTED edge list fails loudly instead of silently " +
      "undercounting (ADVICE r12)") {
    import spark.implicits._
    // node 3 appears only as dst — under the old silent acceptance it
    // was dropped and 1/2's degrees undercounted
    val directed = Seq((1L, 2L), (2L, 1L), (1L, 3L)).toDF("s", "d")
    val e = intercept[IllegalArgumentException] {
      Components.kCore(directed, "s", "d", 1).collect()
    }
    assert(e.getMessage.contains("SYMMETRIZED"))
    // the symmetrized form of the same graph is accepted
    val sym = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("s", "d")
    assert(Components.kCore(sym, "s", "d", 1).count() === 3L)
  }

  /** Scalar Bellman-Ford over (src, dst, w) triples from a seed set. */
  private def scalarSssp(edges: Seq[(Long, Long, Long)],
                         seeds: Set[Long]): Map[Long, Long] = {
    var dist = seeds.map(_ -> 0L).toMap
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          if (dist.get(d).forall(_ > ds + w)) {
            dist += d -> (ds + w); changed = true
          }
        }
      }
    }
    dist
  }

  test("sssp: weighted distances match a scalar Bellman-Ford; the " +
      "cheapest path beats the hop-shortest one; parallel edges take " +
      "the min weight; unreachable nodes are absent") {
    import spark.implicits._
    // 1 -> 2 direct costs 10; 1 -> 3 -> 4 -> 2 costs 3 hops but only 6
    val g = Seq((1L, 2L, 10L), (1L, 3L, 2L), (3L, 4L, 2L), (4L, 2L, 2L),
      (5L, 6L, 1L)) // 5—6 disconnected from the seed
    val got = Components.sssp(g.toDF("s", "d", "w"), "s", "d", "w",
        Seq(1L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 0L, 2L -> 6L, 3L -> 2L, 4L -> 4L))
    // parallel edges collapse to the cheapest
    val par = Seq((1L, 2L, 9L), (1L, 2L, 3L))
    val pgot = Components.sssp(par.toDF("s", "d", "w"), "s", "d", "w",
        Seq(1L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pgot === Map(1L -> 0L, 2L -> 3L))
    // multi-source takes the min over seeds; off-graph seed reports 0
    val rnd = (0 until 300).map(i =>
      ((i * 13L) % 60, (i * 29L + 5) % 60, 1L + (i * 7L) % 5))
      .filter(p => p._1 != p._2)
    val want = scalarSssp(rnd, Set(0L, 17L, 999L))
    val rgot = Components.sssp(rnd.toDF("s", "d", "w"), "s", "d", "w",
        Seq(0L, 17L, 999L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rgot === want)
    // layout invariance: a different partitioning yields identical longs
    val sgot = Components.sssp(rnd.toDF("s", "d", "w").repartition(13),
        "s", "d", "w", Seq(0L, 17L, 999L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sgot === want)
    // weights vary along each list, so parallel copies differ in cost
    for ((tag, es) <- edgeCases) {
      val wes = es.zipWithIndex.map { case ((a, b), i) =>
        (a, b, Option(1L + i % 4)) }
      val got = Components.sssp(wes.toDF("s", "d", "w"), "s", "d", "w",
          Seq(1L).toDF("seed"), "seed")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val model = wes.collect { case (Some(a), Some(b), Some(w)) => (a, b, w) }
      assert(got === scalarSssp(model, Set(1L)), tag)
    }
  }

  test("ssspResume: resuming a persisted run over a GROWN graph equals " +
      "the one-shot bit-exactly — including shortcuts OUT OF settled " +
      "nodes and regions reachable only through new edges") {
    import spark.implicits._
    val base = (0 until 200)
      .map(i => ((i * 13L) % 50, (i * 29L + 5) % 50, 2L + (i * 7L) % 5))
      .filter(p => p._1 != p._2)
    // growth: a cheap shortcut out of a settled node + a bridge to a
    // brand-new component {100, 101}
    val extra = Seq((0L, 37L, 1L), (37L, 100L, 1L), (100L, 101L, 1L))
    val grown = base ++ extra
    val prior = Components.sssp(base.toDF("s", "d", "w"), "s", "d", "w",
      Seq(0L).toDF("seed"), "seed")
    val resumed = Components.ssspResume(grown.toDF("s", "d", "w"),
        "s", "d", "w", prior)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val oneShot = Components.sssp(grown.toDF("s", "d", "w"), "s", "d", "w",
        Seq(0L).toDF("seed"), "seed")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resumed === oneShot)
    assert(resumed.contains(101L), "the new component must be discovered")
    assert(resumed(37L) === 1L, "the shortcut must override the old path")
  }

  test("sssp: a negative edge weight fails loudly; maxRounds truncates " +
      "the relaxation") {
    import spark.implicits._
    val bad = Seq((1L, 2L, -1L)).toDF("s", "d", "w")
    val e = intercept[Exception] {
      Components.sssp(bad, "s", "d", "w", Seq(1L).toDF("seed"), "seed")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("negative"))
    // chain 1 -> 2 -> 3 -> 4: one round reaches only node 2
    val chain = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val trunc = Components.sssp(chain.toDF("s", "d", "w"), "s", "d", "w",
        Seq(1L).toDF("seed"), "seed", maxRounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(trunc === Map(1L -> 0L, 2L -> 1L))
  }
  test("brandesForward: exact sigma path counts and distances match a " +
      "scalar BFS with predecessor sums; layout-invariant") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)
    // diamond (two shortest paths 1->4) feeding a path, plus a chord:
    // sigma must count 2 through the diamond and sum at merges
    val g = sym(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 5L)))
    def scalar(edges: Seq[(Long, Long)], sources: Seq[Long],
               maxRounds: Int): Map[(Long, Long), (Long, BigInt)] = {
      val adj = edges.distinct.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).distinct }
      sources.flatMap { s =>
        var dist = Map(s -> 0L)
        var sigma = Map(s -> BigInt(1))
        var frontier = Seq(s); var r = 0
        while (frontier.nonEmpty && r < maxRounds) {
          r += 1
          val add = scala.collection.mutable.Map[Long, BigInt]()
          for (v <- frontier; w <- adj.getOrElse(v, Seq.empty)
               if !dist.contains(w))
            add(w) = add.getOrElse(w, BigInt(0)) + sigma(v)
          add.foreach { case (w, sg) => dist += w -> r; sigma += w -> sg }
          frontier = add.keys.toSeq
        }
        dist.map { case (v, d) => (s, v) -> ((d, sigma(v))) }
      }.toMap
    }
    val want = scalar(g, Seq(1L, 6L), 12)
    for (parts <- Seq(1, 7)) {
      val got = Components.brandesForward(
          g.toDF("s", "d").repartition(parts), "s", "d",
          Seq(1L, 6L).toDF("seed"), "seed", maxRounds = 12)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), BigInt(r.getDecimal(3).toBigInteger)))).toMap
      assert(got === want, s"parts=$parts")
    }
    // the diamond: two shortest 1->4 paths, and they carry on to 5
    // alongside the direct 2->5 chord (d(5)=2 via 2, sigma 1)
    assert(want((1L, 4L)) === ((2L, BigInt(2))))
    assert(want((1L, 5L)) === ((2L, BigInt(1))))
    for ((tag, es0) <- edgeCases; es = symmetric(es0)) {
      val got = Components.brandesForward(edgeFrame(es), "s", "d",
          Seq(1L, 3L).toDF("seed"), "seed", maxRounds = 40)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), BigInt(r.getDecimal(3).toBigInteger)))).toMap
      assert(got === scalar(nonNull(es), Seq(1L, 3L), 40), tag)
    }
  }

  test("betweenness matches the scalar Brandes model bit-for-bit (same " +
      "fixed fold order) at 1 and 7 partitions; diamond splits " +
      "dependency; leaves score zero") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)
    val g = sym(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 5L), (6L, 7L), (7L, 8L)))
    val sources = Seq(1L, 6L, 8L)
    // scalar Brandes with the operator's exact fold orders: successor
    // contributions in ascending-w order, sources in ascending order
    def scalarBc(edges: Seq[(Long, Long)], srcs: Seq[Long],
                 maxRounds: Int): Map[Long, (Long, Double)] = {
      val adj = edges.distinct.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2).distinct }
      val acc = scala.collection.mutable.Map[Long, List[(Long, Double)]]()
      for (s <- srcs.distinct.sorted) {
        var dist = Map(s -> 0L); var sigma = Map(s -> BigInt(1))
        var frontier = Seq(s); var r = 0
        while (frontier.nonEmpty && r < maxRounds) {
          r += 1
          val add = scala.collection.mutable.Map[Long, BigInt]()
          for (v <- frontier; w <- adj.getOrElse(v, Seq.empty)
               if !dist.contains(w))
            add(w) = add.getOrElse(w, BigInt(0)) + sigma(v)
          add.foreach { case (w, sg) => dist += w -> r; sigma += w -> sg }
          frontier = add.keys.toSeq
        }
        val maxD = dist.values.max
        val delta = scala.collection.mutable.Map[Long, Double]()
          .withDefaultValue(0.0)
        for (l <- (maxD - 1) to 1L by -1;
             v <- dist.collect { case (n, d) if d == l => n }) {
          val succ = adj.getOrElse(v, Seq.empty)
            .filter(w => dist.get(w).contains(l + 1)).sorted
          delta(v) = succ.foldLeft(0.0)((a, w) =>
            a + sigma(v).toDouble / sigma(w).toDouble * (1.0 + delta(w)))
        }
        for ((v, d) <- dist if d >= 1)
          acc(v) = acc.getOrElse(v, Nil) :+ ((s, delta(v)))
      }
      acc.map { case (v, lst) =>
        v -> ((lst.size.toLong,
          math.round(lst.sortBy(_._1).foldLeft(0.0)((a, p) =>
            a + p._2) * 1e6) / 1e6))
      }.toMap
    }
    val want = scalarBc(g, sources, 12)
    val runs = Seq(1, 7).map { parts =>
      Components.betweenness(g.toDF("s", "d").repartition(parts), "s",
          "d", sources.toDF("seed"), "seed", maxRounds = 12)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    }
    assert(runs(0) === runs(1), "layout must not move a single bit")
    assert(runs(0) === want)
    // node 4 carries traffic from 1 and 8 toward the far side; the
    // path-end node 8 transits nothing (deepest from both other sources)
    assert(want(4L)._2 > 0.0 && want(8L)._2 === 0.0)
  }
  test("stronglyConnectedComponents: matches a scalar Tarjan model on " +
      "random directed graphs; layout-invariant; min-id labels") {
    import spark.implicits._
    // 2-cycle + 3-cycle bridged one-way + dangling chain + isolate pair
    val g1 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 3L), (5L, 6L), (6L, 7L), (10L, 11L))
    // random directed graph (cycles guaranteed by modular structure)
    val g2 = (0 until 400).map(i =>
      ((i * 13L) % 40, (i * 29L + 7) % 40)).filter(p => p._1 != p._2)
    for ((g, tag) <- Seq((g1, "structured"), (g2, "random"));
         parts <- Seq(1, 7)) {
      val want = GraphModels.tarjan(g)
      val got = Components.stronglyConnectedComponents(
          g.toDF("s", "d").repartition(parts), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"$tag parts=$parts")
    }
    // the structured graph's condensation: {1,2} and {3,4,5} cycles,
    // 6/7/10/11 trimmed singletons
    val w1 = GraphModels.tarjan(g1)
    assert(w1(2L) === 1L && w1(4L) === 3L && w1(5L) === 3L)
    assert(w1(7L) === 7L && w1(10L) === 10L)
    // the chain is pure trim; closed into a cycle it needs 32 label rounds
    val cycle =
      "33-node cycle" -> (edgeCases.head._2 :+ ((Some(33L), Some(1L))))
    for ((tag, es) <- edgeCases :+ cycle) {
      val got = Components.stronglyConnectedComponents(edgeFrame(es), "s", "d")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === GraphModels.tarjan(nonNull(es)), tag)
    }
  }

  test("stronglyConnectedComponents: an acyclic graph is all singletons " +
      "(pure trim); maxPhases guard fails loudly when exceeded") {
    import spark.implicits._
    val dag = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
    val got = Components.stronglyConnectedComponents(
        dag.toDF("s", "d"), "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L))
    // two independent cycles chained one-way need 2 phases; cap at 1
    val twoPhase = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L),
      (4L, 1L + 10L), (12L, 11L), (11L, 12L))
    val e = intercept[IllegalArgumentException] {
      Components.stronglyConnectedComponents(twoPhase.toDF("s", "d"),
        "s", "d", maxPhases = 1).collect()
    }
    assert(e.getMessage.contains("undecided"))
  }

  test("kCore: a directed cycle, whose every dst is also a src, still " +
      "fails the symmetry guard") {
    import spark.implicits._
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    val e = intercept[IllegalArgumentException] {
      Components.kCore(cycle, "s", "d", 1).collect()
    }
    assert(e.getMessage.contains("SYMMETRIZED"))
  }

  test("stronglyConnectedComponents: a non-converging label fixpoint " +
      "fails loudly and leaves no Spark job running") {
    import spark.implicits._
    val ring = (1L to 40L).map(i => (i, i % 40 + 1)).toDF("s", "d")
    val e = intercept[IllegalArgumentException] {
      Components.stronglyConnectedComponents(ring, "s", "d", maxRounds = 1)
        .collect()
    }
    assert(e.getMessage.contains("did not reach a fixpoint"))
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("job counts: connectedComponents and sssp on a fixed 20-node chain " +
      "launch exactly the pinned number of Spark jobs") {
    // AQE off, as QueryProbeSpec measures: under AQE a re-plan depends on
    // which stage finishes first, and sssp's count moved by a job
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val sc = s.sparkContext
    val group = s"components-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.TestBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "pinned job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      jobs.get
    }
    val chain = (1L until 20L).map(i => (i, i + 1))
    sc.addSparkListener(listener)
    try {
      val ccJobs = jobsOf(Components.connectedComponents(
        chain.toDF("id_a", "id_b")).collect())
      val ssspJobs = jobsOf(Components.sssp(
        chain.map { case (a, b) => (a, b, 1L) }.toDF("s", "d", "w"),
        "s", "d", "w", Seq(1L).toDF("seed"), "seed").collect())
      assert((ccJobs, ssspJobs) === ((46, 47)))
    } finally sc.removeSparkListener(listener)
  }

  test("job count: betweenness on a seeded 8-node graph, through the " +
      "forward BFS rounds and the backward sweep, launches the pinned " +
      "number of Spark jobs, the same on two runs (AQE off)") {
    // AQE off, as QueryProbeSpec measures: planned up front, the count is
    // a function of the plan and the rounds alone
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val sc = s.sparkContext
    val group = s"betweenness-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    // the betweenness fixture's graph: the farthest node a seed reaches
    // is 5 hops away, so the forward BFS runs 5 rounds and the backward
    // sweep 4
    val half = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (5L, 6L), (2L, 5L), (6L, 7L), (7L, 8L))
    val g = (half ++ half.map(_.swap)).toDF("s", "d")
    val seeds = Seq(1L, 6L, 8L).toDF("seed")
    assert(Components.brandesForward(g, "s", "d", seeds, "seed")
      .agg(org.apache.spark.sql.functions.max("d")).head().getLong(0) === 5L)
    def jobsOf(body: => Unit): Int = {
      org.apache.spark.TestBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, "pinned job count")
      try body finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    try {
      val runs = Seq.fill(2)(jobsOf(Components.betweenness(g, "s", "d",
        seeds, "seed").collect()))
      assert(runs === Seq(29, 29))
    } finally sc.removeSparkListener(listener)
  }
}
