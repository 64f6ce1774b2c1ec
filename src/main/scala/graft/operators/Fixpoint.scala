package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** The round loop behind every iterative DataFrame operator: the graph
  * fixpoints, the power iterations and the department-path closure. A loop
  * supplies its step (the next round's frame, built lazily from the last)
  * and its witness (one aggregate over a round's rows); Fixpoint owns
  * the round policy:
  *  - each round's frame is localCheckpointed eagerly, and its witness is
  *    read from that same job through `observe()` (rows pass through
  *    untouched). Without the checkpoint the lineage grows every round
  *    until planning dominates; a separate action for the witness would
  *    cost one more driver-synchronized job per round (20 rounds measured
  *    3.07 s that way, 1.61 s observed);
  *  - it counts rounds against the loop's cap and applies the stop test;
  *  - a capped run that did not converge fails with one
  *    IllegalArgumentException naming the operator, the cap and the last
  *    witness, unless the caller documents a silent truncation.
  */
private[graft] object Fixpoint {

  /** Layers kept as a lazy union before they are folded into one
    * checkpointed frame, bounding plan width on deep graphs.
    */
  private val maxLayers = 12

  /** One aggregate over a round's rows: count/sum/min/max (`observe()`
    * rejects DISTINCT), with sums `coalesce`d against empty-frame nulls.
    */
  final case class Witness[W](metric: Column)

  val Rows: Witness[Long] = Witness(count(lit(1)))

  /** A checkpointed round; the start is round 0. */
  final case class Round[W](frame: DataFrame, witness: W, number: Int)

  private def ignore[W](last: Round[W], next: Round[W]): Unit = ()

  /** `df` localCheckpointed eagerly, with `witness` read from the same job. */
  def checkpoint[W](df: DataFrame, witness: Witness[W]): (DataFrame, W) = {
    val obs = Observation()
    val frame = df.observe(obs, witness.metric.as("w")).localCheckpoint(true)
    (frame, obs.get("w").asInstanceOf[W])
  }

  /** From `start` (a checkpointed frame and its witness), each round
    * checkpoints `step(last round)` with `witness` read from the same job,
    * then calls `onRound(last, new)`. `done(previous witness, witness)` is
    * tested on the start and after every round; the loop stops when it
    * holds or after `maxRounds` rounds, failing (`op`, the cap, the last
    * witness, then `hint`) if it never held, unless `strict` is false.
    * Returns the last round's frame and witness.
    */
  def iterate[W](op: String, start: (DataFrame, W), witness: Witness[W],
                 maxRounds: Int, strict: Boolean = true, hint: String = "")
                (step: Round[W] => DataFrame)
                (done: (Option[W], W) => Boolean,
                 onRound: (Round[W], Round[W]) => Unit = ignore[W] _)
      : (DataFrame, W) =
    loop(op, start, maxRounds, strict, hint)(
      r => checkpoint(step(r), witness))(done, onRound)

  /** [[iterate]] for a round that checkpoints its own frame, such as an
    * SCC phase, which ends in a trim fixpoint.
    */
  def loop[W](op: String, start: (DataFrame, W), maxRounds: Int,
              strict: Boolean = true, hint: String = "")
             (round: Round[W] => (DataFrame, W))
             (done: (Option[W], W) => Boolean,
              onRound: (Round[W], Round[W]) => Unit = ignore[W] _)
      : (DataFrame, W) = {
    var cur = Round(start._1, start._2, 0)
    var converged = done(None, cur.witness)
    while (!converged && cur.number < maxRounds) {
      val (frame, w) = round(cur)
      val next = Round(frame, w, cur.number + 1)
      converged = done(Some(cur.witness), w)
      onRound(cur, next)
      cur = next
    }
    require(!strict || converged, s"$op did not reach a fixpoint within " +
      s"$maxRounds rounds (last witness: ${cur.witness})$hint")
    (cur.frame, cur.witness)
  }

  /** Exactly `rounds` checkpointed rounds of `step(frame, round)`: the
    * fixed-count shape, with no witness and no stop test.
    */
  def repeat(start: DataFrame, rounds: Int)
            (step: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(start)((frame, r) =>
      step(frame, r).localCheckpoint(true))

  /** Min-lattice fixpoint over (node, v) rows from `init` (checkpointed,
    * with its row count), the first frontier. Each round `step` maps the
    * frontier to candidate rows; the per-node minimum that beats the
    * running best (the union-min of all layers so far) or reaches a new
    * node is the next frontier, and the loop stops when none does. As
    * values only decrease, these delta rounds equal, round for round, the
    * synchronous rounds that re-expand every node (induction over rounds).
    */
  def minFixpoint(op: String, init: (DataFrame, Long), maxRounds: Int,
                  strict: Boolean = true, hint: String = "")
                 (step: DataFrame => DataFrame): DataFrame = {
    def fold(layers: Seq[DataFrame]): DataFrame =
      if (layers.size == 1) layers.head
      else layers.reduce(_ union _)
        .groupBy(col("node")).agg(min(col("v")).as("v"))
    var layers = Vector(init._1)
    iterate(op, init, Rows, maxRounds, strict, hint) { r =>
      if (layers.size > maxLayers)
        layers = Vector(fold(layers).localCheckpoint(true))
      val best = fold(layers).withColumnRenamed("v", "cur")
      step(r.frame)
        .groupBy(col("node")).agg(min(col("v")).as("v"))
        .join(best, Seq("node"), "left")
        .filter(col("cur").isNull || col("v") < col("cur"))
        .select(col("node"), col("v"))
    }((_, n) => n == 0,
      (_, next) => if (next.witness > 0) layers :+= next.frame)
    fold(layers)
  }

  /** Layered BFS from the `seed` layer (checkpointed, with its row count).
    * Each round `step(frontier, round)` maps the frontier to candidate rows
    * — the `keys` columns plus a payload — minus the keys visited before;
    * the loop stops when a round reaches nothing new. Returns the layers,
    * seed first.
    */
  def frontierBfs(op: String, seed: (DataFrame, Long), keys: Seq[String],
                  maxRounds: Int, strict: Boolean = true, hint: String = "")
                 (step: (DataFrame, Long) => DataFrame): Vector[DataFrame] = {
    var layers = Vector(seed._1)
    // visited keys are kept apart from the layers so they can be folded
    // without touching the layers' payload columns
    var visited = Vector(seed._1.select(keys.map(col): _*))
    iterate(op, seed, Rows, maxRounds, strict, hint) { r =>
      if (visited.size > maxLayers)
        visited = Vector(visited.reduce(_ union _).localCheckpoint(true))
      step(r.frame, r.number + 1L)
        .join(visited.reduce(_ union _), keys, "left_anti")
    }((_, n) => n == 0, (_, next) => if (next.witness > 0) {
      layers :+= next.frame
      visited :+= next.frame.select(keys.map(col): _*)
    })
    layers
  }
}
