package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (LPA, Raghavan et
  * al. 2007) — the clustering member of the graph family beside
  * `Components` (connectivity), `PageRank` (centrality) and `Triangles`
  * (cohesion): components answers "which nodes CAN reach each other",
  * LPA answers "which nodes talk to each other MORE than to the rest" —
  * product families in a co-purchase graph, topic clusters in a citation
  * graph — without choosing k or a distance metric.
  *
  * Determinism discipline (the PageRank/fixed-point contract): node
  * labels start as the node ids; each SYNCHRONOUS round every node takes
  * the most frequent label among its in-neighbors, ties broken toward
  * the SMALLEST label, nodes with no in-edges keeping their label.
  * Votes are exact BIGINT counts and the winner is an integer argmax —
  * `max(struct(cnt, -label))` — so every round is bit-identical under
  * any partition layout and the whole run unrolls into SQL for the
  * oracle (`q26_communities` replays two rounds with window row_number).
  * Synchronous + deterministic ties trades convergence speed for
  * replayability — the classic async random-order LPA cannot be gated.
  *
  * Caller symmetrizes for undirected semantics (every edge both ways,
  * the `q16_pagerank` idiom). Plan per round: one equi-join of edges
  * against the (node, label) frame on src, one map-side-combined count
  * on (dst, label), one argmax groupBy on dst, one left join back to the
  * node set — all shuffles on node ids (uniform at any scale), the edge
  * frame materialized ONCE (`localCheckpoint`) and the label frame
  * checkpointed per round to truncate lineage (the iterative-loop
  * contract). Output is (node, community) — community sizes follow with
  * one count.
  */
object Communities {

  /** The materialized (edges, nodes) pair both entry points vote over. */
  private def graphFrames(edges: DataFrame, srcCol: String,
                          dstCol: String): (DataFrame, DataFrame) = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    (e, nodes)
  }

  /** The synchronous vote rounds, a pure function of the start labels —
    * shared by the cold start and [[labelPropagationResume]] (which is
    * what makes persist-and-resume ≡ one-shot provable: CommunitiesSpec
    * pins `resume(lpa(G, r1), G, r2) == lpa(G, r1 + r2)` bit-exact).
    */
  private def vote(e: DataFrame, nodes: DataFrame, start: DataFrame,
                   rounds: Int): DataFrame =
    Fixpoint.repeat(start, rounds) { (labels, _) =>
      val winners = e.join(labels, e("src") === labels("node"))
        .groupBy(e("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("w"))
        .select(col("node"), (-col("w.nl")).as("_new"))
      nodes
        .join(winners, Seq("node"), "left")
        .join(labels, Seq("node"))
        .select(col("node"), coalesce(col("_new"), col("label")).as("label"))
    }.select(col("node"), col("label").as("community"))

  /** Labels after `rounds` synchronous votes over the DIRECTED edge
    * list (src votes into dst). Output: (node BIGINT, community BIGINT)
    * for every node with at least one edge in either direction.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (e, nodes) = graphFrames(edges, srcCol, dstCol)
    vote(e, nodes, nodes.withColumn("label", col("node")), rounds)
  }

  /** WARM-START maintenance — [[graft.operators.PageRank.pageRankResume]]'s
    * discipline for LPA: resume the synchronous votes over the CURRENT
    * edge list from a PERSISTED (node, community) table instead of from
    * the identity labeling. Nodes new to the graph start as their own
    * label (exactly the cold start's rule for them); departed nodes
    * drop. At 100 TB with daily crawl deltas the periodic refresh is
    * then one or two votes from yesterday's labels — the delta'd
    * region re-converges locally while settled communities just
    * re-confirm — instead of `rounds` from identity. Same exact integer
    * argmax, so the whole two-phase workflow replays in SQL
    * (`q26_communities_incr`).
    */
  def labelPropagationResume(edges: DataFrame, srcCol: String,
                             dstCol: String, priorLabels: DataFrame,
                             rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (e, nodes) = graphFrames(edges, srcCol, dstCol)
    val prior = priorLabels.select(col("node").cast("long").as("node"),
      col("community").cast("long").as("_prior"))
    val start = nodes.join(prior, Seq("node"), "left")
      .select(col("node"), coalesce(col("_prior"), col("node")).as("label"))
    vote(e, nodes, start, rounds)
  }
}
