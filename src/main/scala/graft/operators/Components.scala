package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph operators over edge lists: connected and strongly
  * connected components, k-core, BFS hops, weighted shortest paths,
  * sampled harmonic and betweenness centrality. All state lives in
  * DataFrames keyed by node ids — no driver-side graph, no per-node
  * collect.
  *
  * Two private drivers run every loop here except the k-core and SCC-trim
  * peels:
  *  - [[minFixpoint]], the monotone min-lattice fixpoint behind connected
  *    components, SCC labels and SSSP. Only the rows that improved last
  *    round (the delta) are expanded, and improvements accumulate as
  *    checkpointed layers whose union-min is the running best. Because
  *    values only decrease, the delta rounds produce the same frame,
  *    round for round, as synchronous rounds that re-expand every node
  *    (induction over rounds), so round counts and fixpoints match the
  *    textbook form and "no improved rows" is the convergence witness.
  *  - [[frontierBfs]], the layered BFS behind bfsHops, harmonic
  *    centrality and the Brandes forward phase: each round expands the
  *    last frontier and anti-joins the result against every visited key.
  * Both read each round's row count from its checkpoint job
  * (`IterUtil.checkpointCounted`) and fold their layers into one
  * checkpointed frame once more than `maxLayers` pile up, so plan width
  * stays bounded on deep graphs. Every loop frame is localCheckpointed: an
  * iterative DataFrame loop otherwise grows its lineage each round until
  * planning, or the plan string alone, dominates. The edge frames are not
  * pre-partitioned: at bench scale the per-round joins broadcast the
  * frontier side, so there is no edge-side exchange to save, and
  * partitioning plus persisting the edges measured slower on every loop.
  */
object Components {

  /** Layers a driver keeps as a lazy union before folding them. */
  private val maxLayers = 12

  /** The (src, dst) frame every operator iterates over: longs, null
    * endpoints and self-loops dropped, duplicates collapsed, materialized
    * once — loops read it every round, and `edges` is usually an
    * expensive plan.
    */
  private def edgeList(edges: DataFrame, srcCol: String,
                       dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)

  /** Distinct non-null seed ids as one long `node` column. */
  private def seedIds(seeds: DataFrame, seedCol: String): DataFrame =
    seeds.select(col(seedCol).cast("long").as("node"))
      .filter(col("node").isNotNull)
      .distinct()

  /** Min-lattice fixpoint over (node, v) rows. `init` is the checkpointed
    * start frame with its row count; it is the first frontier. Each round
    * `step` maps the frontier to candidate (node, v) rows, the per-node
    * minimum candidate that beats the running best (or reaches a node
    * with none) forms the next frontier, and the loop stops when a round
    * improves nothing or after `maxRounds` rounds. Returns the fixpoint
    * frame and whether it converged.
    */
  private def minFixpoint(init: (DataFrame, Long), maxRounds: Int)
                         (step: DataFrame => DataFrame)
      : (DataFrame, Boolean) = {
    def fold(layers: Seq[DataFrame]): DataFrame =
      if (layers.size == 1) layers.head
      else layers.reduce(_ union _)
        .groupBy(col("node")).agg(min(col("v")).as("v"))
    var (frontier, n) = init
    var layers = Vector(frontier)
    var round = 0
    while (n > 0 && round < maxRounds) {
      round += 1
      if (layers.size > maxLayers)
        layers = Vector(fold(layers).localCheckpoint(true))
      val best = fold(layers).withColumnRenamed("v", "cur")
      val (next, nNext) = IterUtil.checkpointCounted(step(frontier)
        .groupBy(col("node")).agg(min(col("v")).as("v"))
        .join(best, Seq("node"), "left")
        .filter(col("cur").isNull || col("v") < col("cur"))
        .select(col("node"), col("v")))
      n = nNext
      if (n > 0) {
        layers :+= next
        frontier = next
      }
    }
    (fold(layers), n == 0)
  }

  /** Min-label propagation: every node ends with the minimum start label
    * that reaches it along `e`'s src → dst edges (dst → src when
    * `reverse`). On a symmetrized edge list that is the minimum label of
    * its connected component.
    */
  private def minLabels(e: DataFrame, reverse: Boolean,
                        init: (DataFrame, Long),
                        maxRounds: Int): (DataFrame, Boolean) = {
    val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
    minFixpoint(init, maxRounds)(frontier => e
      .join(frontier.withColumnRenamed("node", from), Seq(from))
      .select(col(to).as("node"), col("v")))
  }

  /** Layered BFS from the checkpointed `seed` layer (with its row count),
    * which is the first frontier. Each round `step(frontier, round)` maps
    * the frontier to the round's candidate layer — the `keys` columns
    * plus its payload — and candidates whose keys were visited before are
    * dropped. Stops when a round reaches nothing new or after `maxRounds`
    * rounds. Returns the layers, seed first, and the last layer's row
    * count (0 when the frontier is exhausted).
    */
  private def frontierBfs(seed: (DataFrame, Long), keys: Seq[String],
                          maxRounds: Int)
                         (step: (DataFrame, Long) => DataFrame)
      : (Vector[DataFrame], Long) = {
    var (frontier, n) = seed
    var layers = Vector(frontier)
    // visited keys are kept apart from the layers so they can be folded
    // without touching the layers' payload columns
    var visited = Vector(frontier.select(keys.map(col): _*))
    var round = 0L
    while (n > 0 && round < maxRounds) {
      round += 1
      if (visited.size > maxLayers)
        visited = Vector(visited.reduce(_ union _).localCheckpoint(true))
      val (next, nNext) = IterUtil.checkpointCounted(step(frontier, round)
        .join(visited.reduce(_ union _), keys, "left_anti"))
      n = nNext
      if (n > 0) {
        layers :+= next
        visited :+= next.select(keys.map(col): _*)
        frontier = next
      }
    }
    (layers, n)
  }

  /** (id, component) for every node of `edges` that has an edge to a
    * different node, where component is the cluster's minimum node id —
    * the clustering step after near-duplicate PAIR detection: pairs
    * (a,b),(b,c) must collapse to one keep-group {a,b,c} before a corpus
    * can drop duplicates. Columns `idA`/`idB` name the edge endpoints;
    * null endpoints and self-loops carry no edge.
    *
    * Min-label propagation ([[minLabels]]) over the symmetrized edges,
    * converging in O(graph diameter) rounds. Near-dup clusters are dense
    * and tiny, so a few rounds close them; `maxIter` bounds pathological
    * chains.
    */
  def connectedComponents(edges: DataFrame, idA: String = "id_a",
                          idB: String = "id_b",
                          maxIter: Int = 20): DataFrame = {
    val e = edgeList(edges.select(col(idA).as("src"), col(idB).as("dst"))
      .union(edges.select(col(idB).as("src"), col(idA).as("dst"))),
      "src", "dst")
    val (labels, converged) = minLabels(e, reverse = false,
      IterUtil.checkpointCounted(e.select(col("src").as("node")).distinct()
        .withColumn("v", col("node"))), maxIter)
    // silent non-convergence would split true clusters and let duplicates
    // through the keep-one-per-group step — refuse instead
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations " +
        "(graph diameter exceeds maxIter) — raise maxIter")
    labels.select(col("node").as("id"), col("v").as("component"))
  }

  // ---------------------------------------------------------------------
  // INCREMENTALLY MAINTAINED components — the last full-recompute in the
  // dedup story closed: the near-dup GATE admits pairs incrementally
  // (TextDedup.dedupGateBatch), but cluster membership used to need a
  // full-graph rerun per refresh. Here membership persists as a
  // [[BatchTables]] table of (id, component, _seq) rows and each delta
  // batch of edges re-propagates ONLY the touched subgraph:
  //
  //   1. the batch's edge endpoints look up their current components
  //      (one join of the small delta against the membership table);
  //   2. every member of a touched component is pulled in (a second
  //      membership join against the — typically broadcast-size — set
  //      of touched labels);
  //   3. min-label propagation runs over delta edges ∪ one star edge
  //      (member → its label) per affected member. Contracting an old
  //      component to a star is connectivity-exact, so the mini-graph's
  //      components equal the union graph's on the touched region —
  //      including the hard case where one late edge MERGES two prior
  //      components (both end up touched, both star-sets join);
  //   4. relabeled members land under the batch's own `_batch_id` with
  //      `_seq = batchId` carried IN the row, so latest-wins survives
  //      compaction's `_batch_id` normalization (the AnnIndex `_seq`
  //      discipline).
  //
  // Invariant (induction over batches): the latest-per-id view equals
  // the connected components of ALL edges absorbed so far, labels = min
  // member id — exactly the one-shot [[connectedComponents]] answer, so
  // the one-shot recursive-CTE oracle gates every batched arrival order
  // (`doc_dup_clusters_incr`).
  //
  // 100 TB shape: per batch the data-sized work is two hash joins of
  // the membership table against delta-derived key sets (AQE broadcasts
  // them when small) plus propagation over the AFFECTED subgraph only —
  // near-dup clusters are tiny, so the iterative part stays
  // delta-sized. Nothing rescans the pair-generation pipeline, and a
  // daily crawl delta no longer pays the full graph.
  // ---------------------------------------------------------------------

  /** Merge one batch of delta edges into the persisted component table
    * `table` at `path` ([[BatchTables]] replay discipline: re-running a
    * batch dynamic-overwrites its own partition, so crash/replay never
    * duplicates or forks membership).
    */
  def mergeBatchEdges(edges: DataFrame, table: String, path: String,
                      batchId: Long, idA: String = "id_a",
                      idB: String = "id_b", maxIter: Int = 20): Unit = {
    val spark = edges.sparkSession
    // consumed by endpoints + the mini-graph union: materialized once
    val delta = edgeList(edges, idA, idB)
    val empty = delta.sparkSession.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_seq",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("_batch_id",
          org.apache.spark.sql.types.LongType))))
    BatchTables.ensureBatchTable(empty, table, path)

    val membership = componentsFromTable(spark, table)
    val endpoints = delta.select(col("src").as("id"))
      .union(delta.select(col("dst").as("id"))).distinct()
    // components the delta touches, then ALL their members — the only
    // region whose labels can change
    val touched = membership.join(endpoints, "id")
      .select(col("component")).distinct()
    val affected = membership.join(touched, Seq("component"))
      .select(col("id"), col("component"))
    // star-contract each touched component onto its label node
    // (labels are member ids, so connectivity is preserved exactly)
    val mini = delta.union(
      affected.select(col("id").as("src"), col("component").as("dst")))
    val relabeled = connectedComponents(mini, "src", "dst", maxIter)
      .select(col("id"), col("component"), lit(batchId).as("_seq"))
    BatchTables.writeBatch(relabeled, batchId, table, path)
  }

  /** Current membership: latest (`_seq`-wise) component per node across
    * every batch partition — (id, component).
    */
  def componentsFromTable(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .groupBy(col("id"))
      .agg(max_by(col("component"), col("_seq")).as("component"))

  /** Fold batch partitions `0..upToBatchId` into one consolidated
    * partition, keeping each id's newest row — `_seq` lives in the row,
    * so latest-wins survives the `_batch_id` normalization. Crash
    * leftovers duplicate identical rows only (same id, same `_seq` ⇒
    * same component), which the max_by collapse absorbs.
    */
  def compactComponents(spark: SparkSession, table: String,
                        upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      df => df.groupBy(col("id"), col("_batch_id"))
        .agg(max(col("_seq")).as("_seq"),
          max_by(col("component"), col("_seq")).as("component"))
        .select(col("id"), col("component"), col("_seq"), col("_batch_id")))

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj–Zaveršnik cascade, synchronous form): repeatedly drop
    * every node whose degree among SURVIVORS is < k until a fixpoint —
    * what remains is the k-core, the maximal subgraph of minimum degree
    * ≥ k. The cohesion member of the graph family beside connectivity
    * ([[connectedComponents]]), centrality (`PageRank`) and clustering
    * (`Communities`): cores separate the structurally-embedded region
    * of a link/interaction graph from the peripheral one (spam rings
    * and boilerplate mirrors concentrate in shallow cores).
    *
    * Caller symmetrizes for undirected semantics (the `q16_pagerank`
    * idiom); edges de-duplicate first, so degree = distinct surviving
    * neighbors. Deterministic integers end to end — the synchronous
    * rounds unroll into SQL, and TRAILING rounds past the fixpoint are
    * no-ops, so an oracle unrolling R ≥ rounds-to-fixpoint replays the
    * exact result (`q34_kcore` unrolls 10; the gate graphs converge in
    * 3/6 at sf0.01/sf0.1).
    *
    * Shape per round: one semi-join of the edge frame against the nodes
    * removed last round, a map-side-combined decrement count and one
    * left join into the survivors' degrees — all shuffles on node ids;
    * the edge frame materializes once and each round's degree frame is
    * checkpointed with the next removal count read from the same job.
    * Rounds are data-dependent but each non-final round removes ≥ 1
    * node, and real cascades are shallow (single digits on the gate
    * graphs).
    *
    * Output: (node BIGINT, core_degree BIGINT) for the k-core members —
    * core_degree is the degree WITHIN the core (≥ k by construction).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val e = edgeList(edges, srcCol, dstCol)
    // the peel reads degrees from src endpoints and decrements along
    // reversed edges — correct ONLY for symmetrized input, so a directed
    // list fails loudly instead of yielding a wrong core: one anti-join of
    // the checkpointed edges against their reversal
    val asymmetric = e
      .join(e.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_anti")
      .limit(1).count()
    require(asymmetric == 0L,
      "kCore requires a SYMMETRIZED edge list (every edge present in " +
        "both directions): found an edge whose reverse is missing — " +
        "union the reversed edges before calling (see q34_kcore)")
    // DELTA peeling: degrees among the next survivor set equal the
    // current degrees minus each survivor's edges to the JUST-REMOVED
    // nodes (e is distinct and symmetric), so each round joins only the
    // removed nodes' out-edges and decrements — work proportional to the
    // peel, not the graph. The maintained deg frame IS the degree among
    // survivors by induction (base: every src node), and the "how many
    // fall next" count rides each checkpoint job (IterUtil).
    val remMetric = coalesce(sum(when(col("core_degree") < k, 1L)
      .otherwise(0L)), lit(0L)).as("nrem")
    var (deg, obs0) = IterUtil.checkpointObserved(
      e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("core_degree")),
      Seq(remMetric))
    var nRemoved = obs0("nrem").asInstanceOf[Long]
    while (nRemoved > 0) {
      val removed = deg.filter(col("core_degree") < k)
      val dec = e
        .join(removed.select(col("node").as("src")), Seq("src"), "left_semi")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("_dec"))
      val (degNext, obsN) = IterUtil.checkpointObserved(
        deg.filter(col("core_degree") >= k)
          .join(dec, Seq("node"), "left")
          .select(col("node"),
            (col("core_degree") - coalesce(col("_dec"), lit(0L)))
              .as("core_degree")),
        Seq(remMetric))
      deg = degNext
      nRemoved = obsN("nrem").asInstanceOf[Long]
    }
    deg
  }

  /** Multi-source BFS hop distance — the link-graph quality feature
    * beside personalized PageRank (`PageRank.pageRankPersonalized`):
    * `hops(v)` = the minimum number of edges from ANY seed to `v`,
    * following edges src→dst (pass a symmetrized list for undirected
    * semantics, the q34_kcore idiom). Output `(node BIGINT, hops
    * BIGINT)` for every REACHED node — seeds at 0 (kept even when they
    * never appear in the edge list: the seed set is given independently
    * of the graph); unreachable nodes are simply absent, so the caller's
    * left join reads them as NULL (the documented unreachable = NULL
    * contract, spec-pinned).
    *
    * Shape: one [[frontierBfs]] round per hop — a semi-join of the edge
    * frame against the frontier on src, a distinct and an anti-join
    * against the visited nodes, all shuffles on node ids. Rounds are
    * integer-exact (hop literals), so the unrolled-SQL oracle
    * replays bit-for-bit with no rounding anywhere; frontier rounds are
    * bounded by the graph's eccentricity from the seed set (measured 9
    * on the q37 tripartite gate graph at sf0.01 AND sf0.1).
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              seeds: DataFrame, seedCol: String,
              maxHops: Int = Int.MaxValue): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val seed = IterUtil.checkpointCounted(
      seedIds(seeds, seedCol).withColumn("hops", lit(0L)))
    val e = edgeList(edges, srcCol, dstCol)
    // a semi-join, not an inner join: the next frontier inherits the edge
    // frame's size estimate instead of a join product, so the planner
    // keeps broadcasting it (the inner join cost q37 ten more jobs)
    frontierBfs(seed, Seq("node"), maxHops) { (frontier, hop) =>
      e.join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .withColumn("hops", lit(hop))
    }._1.reduce(_ union _)
  }

  /** Single/multi-source WEIGHTED shortest paths (Bellman-Ford with a
    * delta frontier) — the weighted sibling of [[bfsHops]]: hop counts
    * answer "how far", weighted distance answers "how cheap" (link-graph
    * trust propagation, org-distance with per-edge costs, routing-shaped
    * enrichments). Reference ships the unweighted 1-hop special case as
    * its org-distance enrichment; this is the general operator.
    *
    * Algorithm: synchronous relaxation rounds, but each round relaxes
    * ONLY edges out of the delta frontier (nodes whose distance improved
    * last round) — the standard frontier form. Settled regions stop
    * costing anything: at 100 TB the late rounds touch a vanishing slice
    * of the graph instead of rescanning every edge (textbook
    * Bellman-Ford is O(V·E); this is O(Σ round frontiers)). Each round
    * is one [[minFixpoint]] round: an equi-join (edges ⋈ frontier on
    * src), a groupBy-min and one left-join filter against the running
    * distances — all shuffles keyed on node ids.
    *
    * Exactness: distances are LONG sums of long weights — integer
    * arithmetic commutes, so the result is bit-identical under any
    * partition layout and an unrolled-SQL oracle replays it exactly
    * (the [[PageRank]] fixed-point discipline). Negative weights are
    * rejected per-row via a codegen guard (a silent filter would turn a
    * modelling bug into wrong shortest paths); NULL endpoints/weights
    * drop like [[bfsHops]] nulls. Parallel edges collapse to their
    * cheapest weight up front. Unreachable nodes are absent (the
    * caller's left join reads NULL — the shared contract). Rounds are
    * bounded by the max edge-count of any shortest path (≤ 13/15 on the
    * q39 gate graph at sf0.01/sf0.1, DuckDB-probed before the gate was
    * declared); `maxRounds` bounds adversarial chains.
    */
  def sssp(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, seeds: DataFrame, seedCol: String,
           maxRounds: Int = 64): DataFrame =
    relax(weightedEdges(edges, srcCol, dstCol, weightCol),
      seedIds(seeds, seedCol).withColumn("v", lit(0L)), maxRounds)

  /** WARM-START weighted shortest paths — resume relaxation from a
    * PERSISTED distance table after the graph GREW (the incremental
    * sibling in the `pageRankResume`/`labelPropagationResume` family):
    * edge additions only ever SHORTEN distances, and shortest distances
    * are the unique fixpoint of relaxation from any valid upper bound,
    * so `ssspResume(G', sssp(G, seeds))` equals `sssp(G', seeds)`
    * BIT-EXACTLY for any G' ⊇ G (integer arithmetic + unique fixpoint —
    * ComponentsSpec pins it, and the q39_sssp_incr gate replays the
    * one-shot oracle verbatim). The first resume round relaxes every
    * edge out of every previously-reached node ONCE (that is what makes
    * brand-new edges out of settled nodes visible); the regions the new
    * edges cannot improve produce no second-round frontier — the resume
    * cost is proportional to the impact of the change, not the graph.
    *
    * `prior` rows are (node, dist) upper bounds; duplicates collapse to
    * their min. Distances never printed by a prior run (unreached
    * nodes) are simply absent from `prior` — they are discovered by
    * relaxation like any frontier expansion.
    */
  def ssspResume(edges: DataFrame, srcCol: String, dstCol: String,
                 weightCol: String, prior: DataFrame,
                 maxRounds: Int = 64): DataFrame =
    relax(weightedEdges(edges, srcCol, dstCol, weightCol),
      prior
        .select(col("node").cast("long").as("node"),
          col("dist").cast("long").as("v"))
        .filter(col("node").isNotNull && col("v").isNotNull)
        .groupBy(col("node")).agg(min(col("v")).as("v")),
      maxRounds)

  /** The (src, dst, w) frame every SSSP variant relaxes over: longs,
    * null-dropped, negative weights rejected loudly, parallel edges
    * collapsed to min weight, materialized once.
    */
  private def weightedEdges(edges: DataFrame, srcCol: String,
                            dstCol: String, weightCol: String): DataFrame = {
    val w0 = col(weightCol).cast("long")
    edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        when(w0 < 0L, raise_error(concat(
          lit("sssp: negative edge weight "), w0.cast("string"),
          lit(s" in column $weightCol — Bellman-Ford here requires " +
            "non-negative weights")))).otherwise(w0).as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("w").isNotNull && col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .localCheckpoint(true)
  }

  /** Delta-frontier Bellman-Ford from `start` (node, v) upper bounds
    * ([[minFixpoint]]): every start node is frontier in round 1, after
    * that only improved nodes relax. Stops silently at `maxRounds`.
    */
  private def relax(e: DataFrame, start: DataFrame,
                    maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    minFixpoint(IterUtil.checkpointCounted(start), maxRounds)(frontier => e
      .join(frontier.select(col("node").as("src"), col("v").as("fd")),
        Seq("src"))
      .select(col("dst").as("node"), (col("fd") + col("w")).as("v")))
      ._1.select(col("node"), col("v").as("dist"))
  }

  /** Sampled harmonic centrality (Boldi & Vigna 2014's axiom-clean
    * centrality; Eppstein & Wang 2004 make the sampled-source estimator
    * standard): for a seed-set sample S, every node scores
    * Σ_{s ∈ S, d(s,n) ≥ 1} 1/d(s,n) — the "how close is this node to
    * the sample" link-quality feature beside PageRank's random surfer
    * and bfsHops' nearest-seed distance. Unreachable (source, node)
    * pairs contribute exactly 0 (harmonic's selling point over
    * closeness — no infinity bookkeeping), nodes reached by NO source
    * are absent (the shared contract).
    *
    * Exactness: 1/d is not an exact double, so instead of float sums the
    * score is returned as an exact INTEGER numerator `h_num = Σ L/d`
    * over the common denominator L = lcm(1 .. maxRounds) — every term
    * divides exactly, integer sums commute, so the result is
    * bit-identical under any layout and an unrolled-SQL oracle replays
    * it with `//` arithmetic (the PageRank fixed-point discipline). The
    * rounded convenience double `h = round(h_num / L, 6)` is derived
    * FROM the exact numerator, one deterministic IEEE division in both
    * engines. `reach` is the exact count of sources that reach the node.
    *
    * Shape: one [[frontierBfs]] keyed (source, node) — per round one
    * equi-join on the node id + distinct + anti-join against the visited
    * pairs. State is |S| × reach pairs — the sampled estimator's whole
    * point at 100 TB: |S| stays fixed as V grows, and the estimate
    * concentrates (Eppstein-Wang give the Hoeffding bound).
    * Edges follow src→dst; pass a symmetrized list for undirected
    * semantics (the kCore/bfsHops contract).
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         maxRounds: Int = 12): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 40,
      s"maxRounds must be in [1, 40], got $maxRounds " +
        "(lcm(1..41) overflows the exact LONG numerator headroom)")
    val denom = (1L to maxRounds.toLong).foldLeft(1L) { (l, d) =>
      val g = java.math.BigInteger.valueOf(l)
        .gcd(java.math.BigInteger.valueOf(d)).longValueExact()
      l / g * d
    }
    val seed = IterUtil.checkpointCounted(seedIds(seeds, seedCol)
      .select(col("node").as("source"), col("node"), lit(0L).as("d")))
    // exact-numerator overflow guard: worst case every source at d=1
    require(seed._2 <= Long.MaxValue / math.max(denom, 1L) / 2,
      s"${seed._2} seeds at lcm denominator $denom could overflow h_num — " +
        "sample the seed set (the estimator wants a sample anyway)")
    val e = edgeList(edges, srcCol, dstCol)
    frontierBfs(seed, Seq("source", "node"), maxRounds) { (frontier, d) =>
      e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("source"), col("dst").as("node")).distinct()
        .withColumn("d", lit(d))
    }._1.reduce(_ union _).filter(col("d") >= 1L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reach"),
        // `div` keeps every term an exact LONG (d divides the lcm), so
        // the sum is integer arithmetic end to end — no double crossing
        sum(expr(s"${denom}L div d")).as("h_num"))
      .select(col("node"), col("reach"), col("h_num"),
        round(col("h_num").cast("double") / lit(denom.toDouble), 6).as("h"))
  }

  /** Brandes forward phase from a sampled source set: per (source, node)
    * the shortest-path distance `d` AND the EXACT shortest-path count
    * `sigma` (σ, DECIMAL(38,0) — path counts multiply along layers and
    * can pass a LONG on hub-dense graphs). This is the integer half of
    * sampled betweenness centrality (Brandes 2001; Brandes & Pich 2007
    * make the sampled-source estimator standard) and the version-proof
    * GATE surface: distances and σ-counts are exact integers, so an
    * unrolled-SQL oracle replays them bit-for-bit with no float
    * anywhere (the q45 register-signature discipline).
    *
    * Shape: the [[harmonicCentrality]] (source, node)-keyed BFS with one
    * extra groupBy-sum per round — σ(w) at level l+1 is the sum of σ(v)
    * over DAG predecessors v at level l, so each round is one equi-join
    * on the node id + groupBy (source, dst) sum + one anti-join against
    * the visited pairs. State is |S| × reach pairs: |S| stays fixed as
    * V grows — the sampled estimator's 100 TB point. Edges
    * follow src→dst; pass a symmetrized list for undirected semantics
    * (the kCore/bfsHops contract). Self rows (d = 0, σ = 1) included.
    */
  def brandesForward(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, seedCol: String,
                     maxRounds: Int = 12): DataFrame =
    brandesLayers(edgeList(edges, srcCol, dstCol), seeds, seedCol, maxRounds)

  /** [[brandesForward]] over an [[edgeList]] frame. σ is summed BEFORE
    * the visited anti-join, so the exchange carries map-side-combined
    * (source, node, Σσ) rows instead of one row per DAG edge — the
    * anti-join removes whole (source, node) groups, never partial sums.
    */
  private def brandesLayers(e: DataFrame, seeds: DataFrame, seedCol: String,
                            maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val seed = IterUtil.checkpointCounted(seedIds(seeds, seedCol)
      .select(col("node").as("source"), col("node"), lit(0L).as("d"),
        lit(1L).cast("decimal(38,0)").as("sigma")))
    val (layers, n) = frontierBfs(seed, Seq("source", "node"),
        maxRounds) { (frontier, d) =>
      e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("source"), col("dst").as("node"))
        // exact integer σ sums commute — layout-invariant by construction
        .agg(sum(col("sigma")).cast("decimal(38,0)").as("sigma"))
        .select(col("source"), col("node"), lit(d).as("d"), col("sigma"))
    }
    // the DuckDB oracle error()-asserts frontier exhaustion; mirror it —
    // a capped BFS would silently drop every node past maxRounds from the
    // sigma/reach aggregates
    require(n == 0,
      s"brandesForward: frontier still live ($n rows) after $maxRounds " +
        "rounds (raise maxRounds)")
    layers.reduce(_ unionByName _)
  }

  /** Sampled betweenness centrality (Brandes 2001, sampled sources per
    * Brandes & Pich 2007): bc(v) = Σ_{s ∈ S} δ_s(v) with the dependency
    * accumulation δ_s(v) = Σ_{w : (v,w) ∈ E, d(w) = d(v)+1}
    * (σ(v)/σ(w)) · (1 + δ_s(w)) — the standard reverse-level pass over
    * the shortest-path DAG of [[brandesForward]]. The one standard
    * web-graph centrality the PageRank/HITS/harmonic/HyperBall family
    * lacked: "how much shortest-path traffic transits this node".
    *
    * Determinism: δ is inherently rational (σ ratios), so floats are
    * unavoidable — but every sum runs as a FIXED-ORDER sequential fold
    * (sort_array over collect_list + `aggregate`, the RankEval
    * discipline): per (source, v) the ≤ out-degree successor
    * contributions fold in ascending-w order, and the final cross-source
    * sum folds in ascending-source order. The result is bit-identical
    * under any partition layout (spec-pinned at 1 vs 7 partitions
    * against the scalar Brandes model). It is NOT oracle-gated — the
    * round-13 q45 red proved per-row float rounding at V-node scale is
    * version-fragile, so the hash gate (q46) pins the exact integer
    * forward surface and this readout is spec-certified instead (the
    * HyperBall N(t) treatment).
    *
    * Scale: the backward pass is ≤ diameter rounds of (edges ⋈ next
    * level) joins; per-(source,v) folds touch at most the out-degree —
    * at extreme hub degrees swap the fold for a plain sum and accept
    * layout noise, documented trade. Output: (node, reach, bc) for
    * every node some source reaches at d ≥ 1; bc round-6.
    */
  def betweenness(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: DataFrame, seedCol: String,
                  maxRounds: Int = 12): DataFrame = {
    val e = edgeList(edges, srcCol, dstCol)
    val fwd = brandesLayers(e, seeds, seedCol, maxRounds).localCheckpoint(true)
    def foldBy(terms: org.apache.spark.sql.Column, field: String) =
      aggregate(sort_array(terms), lit(0.0),
        (acc, x) => acc + x.getField(field))
    val maxD = fwd.agg(max(col("d"))).head().getLong(0)
    var deltas = fwd.filter(col("d") === maxD)
      .select(col("source"), col("node"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var acc = if (maxD >= 1L) Seq(deltas) else Seq.empty[DataFrame]
    var l = maxD - 1
    while (l >= 1) {
      val nextLvl = fwd.filter(col("d") === l + 1)
        .join(deltas, Seq("source", "node"))
        .select(col("source"), col("node").as("dst"),
          col("sigma").as("sw"), col("delta").as("dw"))
      val contribs = e.join(nextLvl, Seq("dst"))
        .select(col("source"), col("src").as("node"), col("dst").as("w"),
          col("sw"), col("dw"))
        .join(fwd.filter(col("d") === l)
          .select(col("source"), col("node"), col("sigma").as("sv")),
          Seq("source", "node"))
        .select(col("source"), col("node"), col("w"),
          (col("sv").cast("double") / col("sw").cast("double") *
            (lit(1.0) + col("dw"))).as("c"))
      val lvlDelta = contribs.groupBy(col("source"), col("node"))
        .agg(foldBy(collect_list(struct(col("w"), col("c"))), "c")
          .as("delta"))
      // DAG leaves at this level (no successors) carry delta = 0
      deltas = fwd.filter(col("d") === l).select("source", "node")
        .join(lvlDelta, Seq("source", "node"), "left")
        .select(col("source"), col("node"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc = acc :+ deltas
      l -= 1
    }
    val all = acc.reduceOption(_ unionByName _)
      .getOrElse(deltas.limit(0))
    all.filter(col("node") =!= col("source"))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("reach"),
        foldBy(collect_list(struct(col("source"), col("delta"))), "delta")
          .as("_bc"))
      .select(col("node"), col("reach"), round(col("_bc"), 6).as("bc"))
  }

  /** Directed STRONGLY connected components — (node, scc) with `scc` the
    * minimum node id of the component. [[connectedComponents]] answers
    * the undirected question; link-graph analyses (spam farms, crawl
    * traps, the web's bow-tie) need mutual reachability.
    *
    * Algorithm — trim + forward/backward min-label coloring (the
    * Slota/Hong FB-trim family, the standard label-propagation SCC):
    *  1. TRIM to a fixpoint: a node with no in-edge or no out-edge
    *     inside the remaining graph is its own SCC (the kCore peel
    *     shape) — this resolves every DAG appendage in rounds bounded by
    *     the longest dangling chain.
    *  2. PHASE: over the remaining graph, `f(v)` = min label that
    *     REACHES v (forward min-propagation to a fixpoint) and `b(v)` =
    *     min label v REACHES (backward). `f(v) = b(v) = m` proves
    *     m→v→m, so v ∈ SCC(m) — those nodes are decided and removed;
    *     every phase decides at least the SCC of each remaining
    *     source-region minimum, so the phase count is bounded by the
    *     condensation's chain depth (4 on the q47 gate graph, probed).
    *  3. repeat trim+phase until nothing remains.
    *
    * Exactness: labels are LONG mins — integer lattice moves only, so
    * every fixpoint is layout-invariant and the whole output replays in
    * unrolled SQL with no float anywhere (the q46/q45 gate discipline).
    * Each phase's two label fixpoints are [[minLabels]] runs, overlapped
    * on two driver threads. At 100 TB: each round is one equi-join +
    * groupBy-min on node ids; trim kills the DAG mass early so phases
    * run on the cyclic core only; state is one (node, label) row per
    * live node.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String, maxPhases: Int = 64,
                                  maxRounds: Int = 64): DataFrame = {
    require(maxPhases >= 1, s"maxPhases must be >= 1, got $maxPhases")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = edgeList(edges, srcCol, dstCol)
    // every remaining/keep count rides its checkpoint job (IterUtil)
    var (remaining, nRemaining) = IterUtil.checkpointCounted(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
    var assigned = Seq.empty[DataFrame]

    // trim fixpoint: peel no-in/no-out nodes (each its own SCC)
    def trim(): Unit = {
      var changed = true
      while (changed && nRemaining > 0) {
        val er = e
          .join(remaining.withColumnRenamed("node", "src"), Seq("src"),
            "left_semi")
          .join(remaining.withColumnRenamed("node", "dst"), Seq("dst"),
            "left_semi")
        val (keep, kc) = IterUtil.checkpointCounted(remaining
          .join(er.select(col("src").as("node")).distinct(), Seq("node"),
            "left_semi")
          .join(er.select(col("dst").as("node")).distinct(), Seq("node"),
            "left_semi"))
        if (kc == nRemaining) changed = false
        else {
          assigned :+= remaining.join(keep, Seq("node"), "left_anti")
            .select(col("node"), col("node").as("scc"))
            .localCheckpoint(true)
          remaining = keep
          nRemaining = kc
        }
      }
    }

    var phase = 0
    trim()
    while (nRemaining > 0 && phase < maxPhases) {
      phase += 1
      val er = e
        .join(remaining.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(remaining.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        .localCheckpoint(true)
      // start labels: a projection of the already-checkpointed remaining
      // frame, so neither direction pays a materialization job for them
      val init = (remaining.select(col("node"), col("node").as("v")),
        nRemaining)
      def labels(reverse: Boolean): DataFrame = {
        val (lab, converged) = minLabels(er, reverse, init, maxRounds)
        // a capped, non-stationary fixpoint would silently mislabel deep
        // cycles (partial f/b mins decide only the min node, trim then
        // shatters the rest into bogus singleton SCCs) — fail loudly
        require(converged,
          s"SCC min-label propagation did not reach a fixpoint within " +
            s"$maxRounds rounds (raise maxRounds)")
        lab
      }
      // the forward and backward fixpoints read the same immutable frames
      // and share nothing else: overlapped, each one's small
      // driver-synchronized rounds back-fill the other's idle cores
      val (f, b) = Parallel.both(e.sparkSession.sparkContext)(
        labels(reverse = false), labels(reverse = true))
      val dec = f.join(b.withColumnRenamed("v", "bv"), Seq("node"))
        .filter(col("v") === col("bv"))
        .select(col("node"), col("v").as("scc"))
        .localCheckpoint(true)
      assigned :+= dec
      val (rem2, nRem2) = IterUtil.checkpointCounted(
        remaining.join(dec, Seq("node"), "left_anti"))
      remaining = rem2
      nRemaining = nRem2
      trim()
    }
    require(nRemaining == 0,
      s"SCC did not converge within $maxPhases phases — $nRemaining " +
        "nodes undecided (raise maxPhases)")
    // no edges at all leave nothing assigned: the empty remaining frame
    assigned.reduceOption(_ unionByName _)
      .getOrElse(remaining.select(col("node"), col("node").as("scc")))
  }
}
