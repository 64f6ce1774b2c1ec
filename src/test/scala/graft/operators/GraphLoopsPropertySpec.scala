package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Differential property test for the graph loops on [[Fixpoint]]: on
  * small generated graphs (at most 25 nodes, with self-loops,
  * duplicate edges, null endpoints, disconnected parts and the empty
  * graph), each operator agrees with its plain-Scala model in
  * [[GraphModels]] on the collected edges. Fixed seeds, so every run checks
  * the same graphs.
  */
class GraphLoopsPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private type Edges = Seq[(Option[Long], Option[Long])]

  /** One to three parts on disjoint id ranges (so parts never touch), at
    * most 25 nodes in all; about one endpoint in 20 is null, and some edges
    * repeat or are self-loops.
    */
  private val graphGen: Gen[Edges] = {
    def part(base: Long, n: Int): Gen[Edges] = {
      val node = Gen.frequency(
        19 -> Gen.choose(base + 1, base + n).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]))
      for {
        m <- Gen.choose(0, 2 * n)
        es <- Gen.listOfN(m, Gen.zip(node, node))
        dups <- Gen.someOf(es)
        loops <- Gen.listOfN(m / 8, node.map(v => (v, v)))
      } yield es ++ dups ++ loops
    }
    for {
      k <- Gen.choose(1, 3)
      sizes <- Gen.listOfN(k, Gen.choose(1, 25 / k))
      parts <- Gen.sequence[List[Edges], Edges](
        sizes.zipWithIndex.map { case (n, i) => part(100L * i, n) })
    } yield parts.flatten
  }

  /** The empty graph, then seven generated ones. */
  private lazy val graphs: Seq[Edges] = Seq.empty +: (1 to 7).map(i =>
    graphGen.pureApply(Gen.Parameters.default, Seed(i * 7919L)))

  private def frame(es: Edges): DataFrame = {
    import spark.implicits._
    es.toDF("s", "d")
  }

  private def collected(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def nonNull(es: Edges): Seq[(Long, Long)] =
    es.collect { case (Some(a), Some(b)) => (a, b) }

  private def symmetric(es: Edges): Edges = es ++ es.map(_.swap)

  test("the generated graphs hold self-loops, duplicate edges, null " +
      "endpoints and disconnected parts") {
    val gs = graphs.tail
    assert(gs.forall(_.flatMap(e => Seq(e._1, e._2)).flatten.distinct.size
      <= 25))
    assert(gs.exists(_.exists(e => e._1.isDefined && e._1 == e._2)))
    assert(gs.exists(es => es.distinct.size < es.size))
    assert(gs.exists(_.exists(e => e._1.isEmpty || e._2.isEmpty)))
    assert(gs.exists(es =>
      GraphModels.unionFind(nonNull(es)).values.toSet.size > 1))
  }

  test("connectedComponents matches union-find on generated graphs") {
    graphs.zipWithIndex.foreach { case (es, i) =>
      assert(collected(Components.connectedComponents(frame(es), "s", "d")) ===
        GraphModels.unionFind(nonNull(es)), s"graph $i: $es")
    }
  }

  test("stronglyConnectedComponents matches Tarjan on generated graphs") {
    graphs.zipWithIndex.foreach { case (es, i) =>
      assert(collected(Components.stronglyConnectedComponents(frame(es),
        "s", "d")) === GraphModels.tarjan(nonNull(es)), s"graph $i: $es")
    }
  }

  test("bfsHops matches a plain BFS on generated graphs") {
    import spark.implicits._
    graphs.zipWithIndex.foreach { case (es, i) =>
      // the smallest endpoint, when there is one, and a seed with no edges
      val seeds = (nonNull(es).map(_._1).sorted.take(1) :+ 99L).toSet
      assert(collected(Components.bfsHops(frame(es), "s", "d",
          seeds.toSeq.toDF("seed"), "seed")) ===
        GraphModels.bfs(nonNull(es), seeds), s"graph $i: $es")
    }
  }

  test("kCore matches a recounting peel on the symmetrized generated " +
      "graphs, and an asymmetric one still fails") {
    graphs.zipWithIndex.foreach { case (es, i) =>
      val sym = symmetric(es)
      for (k <- Seq(2, 3))
        assert(collected(Components.kCore(frame(sym), "s", "d", k)) ===
          GraphModels.kCorePeel(nonNull(sym), k), s"graph $i k=$k: $es")
      val links = nonNull(es).filter(e => e._1 != e._2).toSet
      if (links.exists(e => !links.contains(e.swap))) {
        val e = intercept[IllegalArgumentException](
          Components.kCore(frame(es), "s", "d", 2).collect())
        assert(e.getMessage.contains("SYMMETRIZED"), s"graph $i")
      }
    }
  }
}
