package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class HyperBallSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // scalar model: exact BFS balls -> HLL registers of the TRUE ball ->
  // the engine's integer-harmonic estimate chain -> round-4 decimal sums.
  // HyperBall's register frame at round t must equal the sketch of the
  // true t-ball (max-merge of member sketches), so the nf sequences match.
  private def scalarNf(edges: Seq[(Long, Long)], p: Int,
                       maxT: Int = 32): Seq[(Long, BigDecimal)] = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val es = edges.filter(e => e._1 != e._2).distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def est(ball: Set[Long]): BigDecimal = {
      val regs = ball.toSeq
        .map { k =>
          val h = graft.functions.SplitMix64.hash(k)
          val bucket = h >>> (64 - p)
          val rho = math.min(
            java.lang.Long.numberOfLeadingZeros(h << p) + 1, 53)
          bucket -> rho
        }
        .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
      val v = regs.size
      val s = regs.values.map(r => 1L << (53 - r)).sum
      val zeros = (m - v).toDouble
      val harm = zeros + s.toDouble / 9007199254740992.0
      val rawE = alpha * m * m / harm
      val e =
        if (rawE <= 2.5 * m && zeros > 0)
          m.toDouble * StrictMath.log(m.toDouble / zeros)
        else rawE
      BigDecimal(e).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    var balls = nodes.map(n => n -> Set(n)).toMap
    var out = Seq(0L -> balls.valuesIterator.map(est).sum)
    var t = 0L
    var done = false
    while (!done && t < maxT) {
      t += 1
      val next = nodes.map { n =>
        n -> adj.getOrElse(n, Set.empty).foldLeft(balls(n))((b, nb) =>
          b ++ balls(nb))
      }.toMap
      done = next == balls
      balls = next
      if (!done) out :+= t -> balls.valuesIterator.map(est).sum
    }
    out
  }

  private def sym(e: Seq[(Long, Long)]) = e ++ e.map(_.swap)

  test("neighborhood function equals the scalar true-ball model on a " +
      "directed chain+cycle graph and converges at the diameter") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (5L, 10L))
    val want = scalarNf(g, p = 4)
    val got = HyperBall.neighborhoodFunction(g.toDF("s", "d"), "s", "d",
        p = 4)
      .orderBy($"t").collect()
      .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1)))
    assert(got.toSeq === want)
    // chain of 4 hops into a 3-cycle: the longest ball closure is from
    // node 1 (4 hops to 10, then the cycle adds 2 more) — strictly more
    // rounds than the per-source BFS depth of any single seed set
    assert(got.length === want.length && got.length >= 6)
    // nf is strictly increasing until the fixpoint on this graph
    assert(got.map(_._2).sliding(2).forall(w => w(0) < w(1)))
  }

  test("layout invariance: identical nf rows at 1 and 7 partitions; " +
      "undirected semantics via symmetrization; maxT truncates") {
    import spark.implicits._
    val rnd = (0 until 300).map(i =>
      ((i * 13L) % 50, (i * 29L + 7) % 50)).filter(p => p._1 != p._2)
    val g = sym(rnd)
    val runs = Seq(1, 7).map { parts =>
      HyperBall.neighborhoodFunction(g.toDF("s", "d").repartition(parts),
          "s", "d", p = 5)
        .orderBy($"t").collect()
        .map(r => r.getLong(0) -> BigDecimal(r.getDecimal(1))).toSeq
    }
    assert(runs(0) === runs(1))
    assert(runs(0) === scalarNf(g, p = 5))
    val trunc = HyperBall.neighborhoodFunction(g.toDF("s", "d"), "s", "d",
      p = 5, maxT = 1, strict = false).collect()
    assert(trunc.length === 2) // t = 0 and t = 1 only
    // the default is STRICT: a capped non-stationary run fails loudly
    // instead of silently returning a non-fixpoint
    val ex = intercept[IllegalArgumentException] {
      HyperBall.neighborhoodFunction(g.toDF("s", "d"), "s", "d",
        p = 5, maxT = 1).collect()
    }
    assert(ex.getMessage.contains("not stationary"))
  }

  test("registerSignature equals the scalar true-ball register model " +
      "(count, sum rho, sum 2^(53-rho)) and spans the same rounds as nf") {
    import spark.implicits._
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (12L, 10L), (5L, 10L))
    val p = 4
    // scalar model: registers of the TRUE t-ball per node, pooled
    val es = g.filter(e => e._1 != e._2).distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val adj = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def regsOf(ball: Set[Long]): Map[Long, Int] = ball.toSeq
      .map { k =>
        val h = graft.functions.SplitMix64.hash(k)
        (h >>> (64 - p)) -> math.min(
          java.lang.Long.numberOfLeadingZeros(h << p) + 1, 53)
      }
      .groupBy(_._1).map { case (b, rs) => b -> rs.map(_._2).max }
    def sig(balls: Map[Long, Set[Long]]): (Long, Long, BigInt) = {
      val all = balls.valuesIterator.flatMap(regsOf(_).valuesIterator).toSeq
      (all.size.toLong, all.map(_.toLong).sum,
        all.map(r => BigInt(1) << (53 - r)).sum)
    }
    var balls = nodes.map(n => n -> Set(n)).toMap
    var want = Seq((0L, sig(balls)))
    var t = 0L
    var done = false
    while (!done) {
      t += 1
      val next = nodes.map { n =>
        n -> adj.getOrElse(n, Set.empty).foldLeft(balls(n))((b, nb) =>
          b ++ balls(nb))
      }.toMap
      done = next == balls
      balls = next
      if (!done) want :+= (t, sig(balls))
    }
    val got = HyperBall.registerSignature(g.toDF("s", "d"), "s", "d", p = p)
      .orderBy($"t").collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), BigInt(r.getDecimal(3).toBigInteger))))
      .toSeq
    assert(got === want)
    // the signature gate spans exactly the rounds the nf readout does
    val nfRounds = HyperBall.neighborhoodFunction(g.toDF("s", "d"), "s",
      "d", p = p).count()
    assert(got.length.toLong === nfRounds)
  }

  test("fixpointRegisters: resume from a persisted earlier-graph frame " +
      "equals the one-shot fixpoint bit-exactly; a near-complete seed " +
      "converges where a cold start can't within the same round cap") {
    import spark.implicits._
    val rnd = (0 until 400).map(i =>
      ((i * 17L) % 60, (i * 31L + 11) % 60)).filter(p => p._1 != p._2)
    val full = sym(rnd)
    val phase1 = full.filter { case (a, b) => (a + b) % 3 != 0 } // symmetric
    def regsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val oneShot = HyperBall.fixpointRegisters(full.toDF("s", "d"), "s", "d",
      p = 5)
    val persisted = HyperBall.fixpointRegisters(phase1.toDF("s", "d"),
      "s", "d", p = 5).localCheckpoint(true)
    val resumed = HyperBall.fixpointRegisters(full.toDF("s", "d"), "s",
      "d", p = 5, seed = Some(persisted))
    assert(regsOf(resumed) === regsOf(oneShot),
      "monotone-confluent max-merge: resume must equal one-shot")
    // signatures agree too (the gate surface)
    val sig = (df: org.apache.spark.sql.DataFrame) =>
      HyperBall.registerSignatureOf(df).collect()(0).toSeq
    assert(sig(resumed) === sig(oneShot))
    // efficiency witness: seeded from the FULL fixpoint, ONE round cap
    // already reproduces it (stationary immediately); a cold start
    // under the same cap cannot (the graph needs > 1 round)
    val warm1 = HyperBall.fixpointRegisters(full.toDF("s", "d"), "s", "d",
      p = 5, maxT = 1, seed = Some(oneShot.localCheckpoint(true)))
    assert(regsOf(warm1) === regsOf(oneShot))
    val cold1 = HyperBall.fixpointRegisters(full.toDF("s", "d"), "s", "d",
      p = 5, maxT = 1, strict = false)
    assert(regsOf(cold1) !== regsOf(oneShot),
      "the graph must genuinely need more than one cold round")
  }

  test("fixpointRegisters: a seed register with a NULL bucket fails " +
      "loudly instead of vanishing in the register pivot") {
    import spark.implicits._
    val g = sym(Seq((1L, 2L), (2L, 3L)))
    val seed = Seq((1L, Option.empty[Long], 3), (2L, Some(1L), 2))
      .toDF("node", "bucket", "rho")
    val ex = intercept[Exception] {
      HyperBall.fixpointRegisters(g.toDF("s", "d"), "s", "d", p = 4,
        seed = Some(seed)).collect()
    }
    val messages = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
    assert(messages.exists(_.contains("seed bucket null")),
      s"unexpected failure: $ex")
  }

  test("effectiveDiameter: hand-checked interpolation on a path; q " +
      "bounds validated") {
    import spark.implicits._
    val g = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val nf = HyperBall.neighborhoodFunction(g.toDF("s", "d"), "s", "d",
      p = 4)
    val rows = nf.orderBy($"t").collect()
      .map(r => r.getLong(0) -> r.getDecimal(1).doubleValue())
    val target = 0.9 * rows.last._2
    val tHit = rows.find(_._2 >= target).get._1
    val prev = rows(tHit.toInt - 1)._2
    val cur = rows(tHit.toInt)._2
    val want = math.round((tHit - 1.0 + (target - prev) / (cur - prev)) * 1e4) / 1e4
    val got = HyperBall.effectiveDiameter(nf, 0.9).collect()(0)
    assert(got.getLong(0) === rows.last._1)
    assert(got.getDouble(2) === want)
    intercept[IllegalArgumentException] {
      HyperBall.effectiveDiameter(nf, 1.0)
    }
  }
}
