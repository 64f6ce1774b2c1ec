package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PageRank (Brin & Page 1998) in FIXED-POINT integer arithmetic — the
  * importance-scoring member of the iterative-graph family beside
  * [[Components]]' connected components (cluster membership). For a
  * training-data pipeline this is the classic page/domain quality prior:
  * rank the link graph, weight or threshold documents by the score of
  * their source (the original web-corpus curation signal).
  *
  * Why fixed-point: the textbook double formulation sums incoming
  * contributions, and floating addition is order-dependent — a different
  * partition layout changes the low bits, so results are not reproducible
  * run-to-run, let alone replayable in another engine. Here the unit mass
  * 1 is `scale` (default 10^12) integer units; every step is long
  * arithmetic: contribution = pr div outdeg, new pr = (15·s0) div 100 +
  * (85·Σcontrib) div 100, where s0 = scale div N is the uniform start.
  * Integer sums commute, so the result is BIT-IDENTICAL for any
  * parallelism — and a DuckDB oracle replays the whole iteration exactly,
  * no rounding anywhere. Floor-division mass leakage is ≤ 1 unit per
  * edge per round, i.e. ≤ E·iters·10^-12 of total mass — far below the
  * damping factor's own modelling slack.
  *
  * Scale shape: the edge list (with out-degree attached) materializes
  * ONCE; each round is one equi-join (edges ⋈ ranks on src — shuffle
  * partitioned by the join key both rounds, so AQE reuses the layout) +
  * one groupBy-sum, with `localCheckpoint` truncating the growing lineage
  * each round (the [[Components]] discipline — an iterative DataFrame
  * loop otherwise replans from scratch every round). No driver-side
  * state; rank frames are (node, pr) only.
  *
  * Dangling nodes (out-degree 0): the DEFAULT contract gives them the
  * base term only and leaks their mass (callers symmetrize or self-loop
  * when that matters — the q16 gate symmetrizes its bipartite graph).
  * `redistributeDangling = true` is the standard correction for real
  * directed link graphs with sinks: each round, the danglers' total
  * mass D (ONE 1-row aggregate over the rank frame — the same
  * one-action-per-round discipline as [[Components]]' convergence
  * count) is shared uniformly as `D div N` into every node's damped
  * term — still all-integer, still bit-identical under any layout, and
  * the oracle unrolls it as a per-round scalar subquery.
  */
object PageRank {

  /** The materialized graph frames every variant iterates over:
    * (src, dst, deg) edge frame, (node, _dang) node frame, node count.
    */
  private def graphFrames(edges: DataFrame, srcCol: String,
                          dstCol: String): (DataFrame, DataFrame, Long) = {
    // the deduped edge list is read three times (degrees, the join below,
    // the node set) and its plan is usually expensive (a whole join
    // pipeline feeding the graph) — materialize it ONCE
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .distinct()
      .localCheckpoint(true)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // one (src, dst, deg) frame for the whole loop — built and shuffled once
    val eDeg = e.join(deg, "src").localCheckpoint(true)
    // dangling flag attached ONCE: the per-round dangling aggregate then
    // scans the (already-checkpointed) rank frame — no per-round join
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .join(deg.select(col("src").as("node"), lit(false).as("_dang")),
        Seq("node"), "left")
      .withColumn("_dang", coalesce(col("_dang"), lit(true)))
    val (nodesM, n) = Fixpoint.checkpoint(nodes, Fixpoint.Rows)
    (eDeg, nodesM, n)
  }

  /** The damped rounds, a pure function of the start frame — shared by
    * the cold start, the warm resume (which is what makes
    * resume-after-persist ≡ one-shot provable, not hoped:
    * PageRankSpec pins `resume(pageRank(G,k1), G, k2) == pageRank(G,
    * k1+k2)` bit-exact) and the weighted form, which passes its own
    * per-edge `contribution` over its edge frame's columns.
    */
  private def iterate(edges: DataFrame, nodes: DataFrame, n: Long,
                      start: DataFrame, iterations: Int, scale: Long,
                      redistributeDangling: Boolean,
                      baseOf: Column = null,
                      contribution: Column = expr("pr div deg")): DataFrame = {
    // the teleport term: uniform 15% by default; the personalized form
    // passes its seed-restricted expression (over the nodes frame's
    // columns) instead
    val base = Option(baseOf).getOrElse(lit(15L * (scale / n) / 100L))
    def damped(pr: DataFrame, share: Long): DataFrame = {
      val in = edges.join(pr, edges("src") === pr("node"))
        .select(edges("dst").as("node"), contribution.as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      nodes.join(in, Seq("node"), "left")
        .select(nodes.columns.map(col) :+
          (base +
            expr(s"85 * (coalesce(m, 0L) + ${share}L) div 100")).as("pr"): _*)
    }
    val ranks = if (!redistributeDangling)
      Fixpoint.repeat(start, iterations)((pr, _) => damped(pr, 0L))
    else {
      // the dangling mass that round i+1 redistributes is the mass of
      // round i's OUTPUT, observed on round i's checkpoint job; the stop
      // test never fires, so the loop runs exactly `iterations` rounds
      val dangling = Fixpoint.Witness[Long](
        coalesce(sum(when(col("_dang"), col("pr"))), lit(0L)))
      Fixpoint.iterate("pageRank", Fixpoint.checkpoint(start, dangling),
          dangling, iterations, strict = false)(r =>
        damped(r.frame, r.witness / n))((_, _) => false)._1
    }
    ranks.select(col("node"), col("pr"))
  }

  /** Ranks after `iterations` rounds over the DIRECTED edge list.
    * Output: (node BIGINT, pr BIGINT) for every node with at least one
    * in- or out-edge; pr is in units of 1/`scale` of total mass.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iterations: Int = 3, scale: Long = 1000000000000L,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (eDeg, nodes, n) = graphFrames(edges, srcCol, dstCol)
    require(n > 0,
      "pageRank: the edge list yields no nodes (empty input) — nothing to rank")
    iterate(eDeg, nodes, n, nodes.withColumn("pr", lit(scale / n)),
      iterations, scale, redistributeDangling)
  }

  /** WARM-START maintenance — the incremental refresh for a 100 TB link
    * graph with daily crawl deltas, where a cold full-iteration recompute
    * is the largest remaining periodic job: resume the damped iteration
    * over the CURRENT edge list from a PERSISTED rank table (the prior
    * run's fixed point), instead of from uniform.
    *
    * Contract (all-integer, hence exactly replayable in the oracle):
    *  - nodes present in `priorRanks` start from their persisted pr;
    *  - nodes new to the graph start from the CURRENT uniform
    *    `scale div n` (n = the current graph's node count — the base
    *    term uses the same n, exactly as a cold run over this graph
    *    would);
    *  - nodes that left the graph are dropped (ranks are defined over
    *    the current node set).
    *
    * Semantics, stated honestly: a FIXED-iteration cold run from uniform
    * on the union graph is a different function than k rounds from the
    * prior ranks — warm-start is the standard approximation whose value
    * is that the prior ranks already sit near the new fixed point, so
    * FEWER rounds reach production accuracy (the damped iteration
    * contracts error by 0.85 per round from whatever the start is; a
    * crawl delta moves the fixed point far less than uniform-start
    * error). The q16_pagerank_incr gate pins the whole two-phase
    * workflow — k1 cold rounds on the base graph, persist, k2 warm
    * rounds on the delta'd graph — against a DuckDB oracle that unrolls
    * BOTH phases; the exactness guarantee is the same bit-identical
    * integer arithmetic as [[pageRank]], and
    * `resume(pageRank(G, k1), G, k2) == pageRank(G, k1 + k2)` exactly
    * (spec-pinned), so persist-and-resume never loses information on an
    * unchanged graph.
    */
  /** PERSONALIZED PageRank (Haveliwala 2002): the teleport mass lands
    * only on the `seeds` set — ranks measure proximity TO THE SEEDS
    * rather than global importance (topic-conditioned quality priors,
    * trusted-domain propagation, "more like these" expansion). Start
    * mass `scale div |S|` on each seed, 0 elsewhere; per round every
    * seed gains the fixed teleport `15·(scale div |S|) div 100` and all
    * nodes the damped in-mass — the same commutative long arithmetic as
    * [[pageRank]], bit-identical under any layout, fully SQL-unrollable
    * (`q16_pagerank_pers`). Seeds not present in the graph are ignored
    * for ranking but still count in |S| only if they appear — |S| is
    * the count of seed NODES IN THE GRAPH, so mass is conserved.
    * Dangling redistribution is refused here: uniform redistribution
    * would leak teleport-restricted mass to non-seeds (the classic PPR
    * correction redistributes to the seed set; symmetrize or self-loop
    * instead, as the gate does).
    */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iterations: Int = 3,
                           scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (eDeg, nodes0, _) = graphFrames(edges, srcCol, dstCol)
    val seedSet = seeds.select(col("node").cast("long").as("node"))
      .distinct()
    val nodes = nodes0
      .join(seedSet.withColumn("_seed", lit(true)), Seq("node"), "left")
      .withColumn("_seed", coalesce(col("_seed"), lit(false)))
      .localCheckpoint(true)
    val nS = nodes.filter(col("_seed")).count()
    require(nS > 0,
      "pageRankPersonalized: no seed appears in the graph — nothing to rank from")
    val s0 = scale / nS
    val start = nodes.withColumn("pr",
      when(col("_seed"), lit(s0)).otherwise(lit(0L)))
    iterate(eDeg, nodes, nS, start, iterations, scale,
      redistributeDangling = false,
      baseOf = when(col("_seed"), lit(15L * s0 / 100L)).otherwise(lit(0L)))
  }

  def pageRankResume(edges: DataFrame, srcCol: String, dstCol: String,
                     priorRanks: DataFrame, iterations: Int = 1,
                     scale: Long = 1000000000000L,
                     redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val (eDeg, nodes, n) = graphFrames(edges, srcCol, dstCol)
    require(n > 0,
      "pageRankResume: the edge list yields no nodes (empty input)")
    val prior = priorRanks.select(col("node").cast("long").as("node"),
      col("pr").cast("long").as("_prior"))
    val start = nodes.join(prior, Seq("node"), "left")
      .select(col("node"), col("_dang"),
        coalesce(col("_prior"), lit(scale / n)).as("pr"))
    iterate(eDeg, nodes, n, start, iterations, scale,
      redistributeDangling)
  }

  /** EDGE-WEIGHTED PageRank — the standard generalization where a node
    * splits its mass proportionally to outgoing edge WEIGHTS instead of
    * uniformly (trade volume, link multiplicity, similarity strength):
    * contribution over edge (u,v,w) is `pr(u)·w div sw(u)` with sw the
    * node's total out-weight. Same fixed-point discipline as
    * [[pageRank]]: all-long arithmetic, bit-identical under any layout,
    * oracle-unrollable with `//`. Parallel edges ADD their weights
    * (multiplicity semantics); non-positive weights are rejected loudly
    * (a zero- or negative-weight edge has no splitting interpretation);
    * dangling mass follows the default leak contract.
    *
    * Overflow is CHECKED, not hoped: pr ≤ total mass = scale, so the
    * per-edge product needs max(w) ≤ 2^62 / scale — one 1-row aggregate
    * at build time errors past the bound (at the default scale 10¹² that
    * allows weights to ~4.6·10⁶; rescale weights or lower `scale` for
    * heavier multiplicities).
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iterations: Int = 3,
                       scale: Long = 1000000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val w0 = col(weightCol).cast("long")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        when(w0 <= 0L, raise_error(concat(
          lit("pageRankWeighted: non-positive edge weight "),
          w0.cast("string"),
          lit(s" in column $weightCol")))).otherwise(w0).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .localCheckpoint(true)
    val wmax = e.agg(coalesce(max(col("w")), lit(0L))).first().getLong(0)
    require(wmax > 0, "pageRankWeighted: the edge list is empty")
    require(wmax <= (1L << 62) / scale,
      s"pageRankWeighted: max weight $wmax overflows pr·w at scale " +
        s"$scale (bound ${(1L << 62) / scale}) — rescale the weights")
    val sw = e.groupBy(col("src")).agg(sum(col("w")).as("sw"))
    val eW = e.join(sw, "src").localCheckpoint(true)
    val (nodes, n) = Fixpoint.checkpoint(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct(), Fixpoint.Rows)
    iterate(eW, nodes, n, nodes.withColumn("pr", lit(scale / n)), iterations,
      scale, redistributeDangling = false,
      contribution = expr("pr * w div sw"))
  }
}
