package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources in a
  * hyperlinked environment") — the second classic link-quality prior
  * beside [[PageRank]]: PageRank scores global importance under a random
  * surfer; HITS separates CURATORS (hubs — nodes that point at good
  * content) from CONTENT (authorities — nodes good hubs point at). For a
  * training-data pipeline over a web-ish link graph the authority score is
  * the per-source quality prior and the hub score finds directory/spam
  * farms (high hub, near-zero authority).
  *
  * Mutual recursion, synchronously iterated with L1 normalization:
  *
  *   a(i) = Σ_{j→i} h(j) / ‖·‖₁ ,   h(j) = Σ_{j→i} a(i) / ‖·‖₁
  *
  * Why fixed-point integers (the [[PageRank]] discipline): float sums are
  * partition-order-dependent, so results would differ run to run and be
  * irreproducible in an oracle. Here unit mass 1 is `scale` integer
  * units and normalization is exact integer division by the quantized
  * mass ratio q = max(S div scale, 1) (S = Σ raw scores, ONE 1-row
  * aggregate per half-step — the one-action-per-round discipline): every
  * value stays a LONG, integer sums commute, and the result is
  * BIT-IDENTICAL under any parallelism — an unrolled-SQL oracle replays
  * every iteration exactly. Overflow headroom is arithmetic, not hoped:
  * normalized scores are ≤ scale (a_raw ≤ S ⇒ a_raw div q ≤ scale up to
  * the +1 clamp), so a raw half-step sum is ≤ E·scale — with the default
  * scale 10⁹ that is safe to ~9·10⁹ edges in a signed long, far past any
  * single gate graph (the div-based normalization exists precisely
  * because the textbook a·scale/S product would overflow at E·scale²).
  *
  * Scale shape: the deduped edge list materializes ONCE
  * (localCheckpoint); each half-step is one equi-join (edges ⋈ scores on
  * the propagating side) + one groupBy-sum, shuffles keyed on node ids,
  * plus the 1-row mass aggregate. No driver-side graph state; score
  * frames are (node, score) only. Quantization drift: each normalization
  * floors ≤ 1 unit per node per half-step — ≤ N·iters·1/scale of total
  * mass, far below the convergence tolerance HITS itself carries.
  */
object Hits {

  /** (node, hub, auth) after `iterations` synchronous rounds over the
    * DIRECTED edge list. Every node with at least one out-edge carries a
    * hub score; every node with at least one in-edge an authority score;
    * the other column is 0 (a node can hold both in a general digraph).
    * Scores are in units of 1/`scale` of the L1-normalized mass.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iterations: Int = 3, scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint(true)
    require(e.limit(1).count() > 0, "hits needs at least one edge")

    // exact integer L1 normalization: q = max(S div scale, 1), v div q.
    // Each half-step's raw aggregate is checkpointed with its mass S read
    // from the same job, and normalized by a lazy projection over the
    // checkpoint: one job per half-step, and the join+groupBy subtree runs
    // once (a separate mass action would rerun it).
    def mass(c: String) =
      Fixpoint.Witness[Long](coalesce(sum(col(c)), lit(0L)))
    def normalized(raw: DataFrame, c: String, s: Long): DataFrame =
      raw.select(col("node"),
        expr(s"$c div ${math.max(s / scale, 1L)}L").as(c))

    // the rounds carry the raw hub half-step; each round
    // normalizes the last one, then runs the authority half-step on its own
    // checkpoint. The start's witness 0 makes q = 1: start hubs are scale.
    var a: DataFrame = null
    val (hRaw, hMass) = Fixpoint.iterate("hits",
        (e.select(col("src").as("node")).distinct()
          .withColumn("h", lit(scale)).localCheckpoint(true), 0L),
        mass("h"), iterations, strict = false) { r =>
      val h = normalized(r.frame, "h", r.witness)
      val (aRaw, aMass) = Fixpoint.checkpoint(
        e.join(h.select(col("node").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("node")).agg(sum(col("h")).as("auth")),
        mass("auth"))
      a = normalized(aRaw, "auth", aMass)
      e.join(a.select(col("node").as("dst"), col("auth")), Seq("dst"))
        .groupBy(col("src").as("node")).agg(sum(col("auth")).as("h"))
    }((_, _) => false)
    val h = normalized(hRaw, "h", hMass)
    h.join(a, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("h"), lit(0L)).as("hub"),
        coalesce(col("auth"), lit(0L)).as("auth"))
  }
}
