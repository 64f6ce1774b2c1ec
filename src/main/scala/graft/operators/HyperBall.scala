package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.functions.SplitMix64.{leading_zeros64, splitmix64}

/** HyperBall (Boldi & Vigna 2013) — the neighborhood function N(t) =
  * Σ_n |B_t(n)| and the EFFECTIVE DIAMETER, the two numbers that
  * characterize a web-scale graph's reachability structure (how much of
  * the graph a crawler/propagation reaches in t hops; the "90% of pairs
  * within d hops" headline). Exact per-node balls are Θ(V²) state;
  * HyperBall keeps ONE HyperLogLog sketch per node and exploits that the
  * t-ball decomposes over out-edges:
  *
  *   B_t(n) = {n} ∪ ⋃_{n→m} B_{t-1}(m)
  *
  * so one synchronous round is register-wise max-merge along edges — an
  * ordinary join + groupBy max over (node, bucket, rho) rows, fully
  * parallel, skew-immune, state V·2^p rows. The register frame at round t
  * IS the HLL sketch of the true t-ball, exactly (max-merge of member
  * sketches — the invariant the spec pins against scalar BFS balls).
  *
  * Exactness discipline (beyond the [[Hll]] oracle): per-node estimates
  * at V-node scale cannot afford ANY order-dependent float — a single
  * last-ulp wobble among V·T estimates breaks a hash gate. So the
  * harmonic sum is the exact INTEGER Σ 2^(53−rho) (rho capped at 53;
  * every term a power of two, LONG sums commute), the one cast to double
  * rounds identically in both engines, and the per-node estimate — whose
  * only engine-dependent op is the linear-counting ln, the round-4
  * perplexity precedent — is rounded to 4 BEFORE the cross-node
  * aggregation, which is an exact DECIMAL(38,4) sum. N(t) is therefore
  * bit-stable under any layout and SQL-replayable end to end.
  *
  * Rounds are bounded by the graph diameter; convergence is witnessed by
  * the (count, Σrho) pair — registers only grow under max-merge, so the
  * pair is invariant iff the frame is (the q39 count+sum discipline).
  * Edges follow src→dst (balls collect what src REACHES); pass a
  * symmetrized list for undirected semantics.
  */
object HyperBall {

  /** Neighborhood function: one row per round, `(t, nf)` with `nf` the
    * DECIMAL(38,4) sum over nodes of the round-4 ball estimates, from
    * t = 0 (every ball = {self}) to the fixpoint round (or `maxT`).
    * `p` ∈ [4, 8]: 2^p registers per node (HyperBall runs web graphs at
    * p=4..6 — the estimate drives a diameter readout, not a billing
    * number; the integer harmonic sum needs 2^p · 2^52 < 2^63).
    */
  def neighborhoodFunction(edges: DataFrame, srcCol: String, dstCol: String,
                           p: Int = 4, maxT: Int = 32,
                           strict: Boolean = true): DataFrame = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    def estimate(r: DataFrame, t: Int): DataFrame = {
      val agg = r.groupBy(col("node"))
        .agg(count(lit(1)).as("v"),
          sum(expr("shiftleft(1L, 53 - rho)")).as("s"))
      val zeros = (lit(m.toLong) - col("v")).cast("double")
      val harm = zeros + col("s").cast("double") / lit(9007199254740992.0) // 2^53
      val rawE = lit(alpha * m * m) / harm
      val est = when(rawE <= lit(2.5 * m) && zeros > 0.0,
        lit(m.toDouble) * log(lit(m.toDouble) / zeros)).otherwise(rawE)
      agg.select(round(est, 4).cast("decimal(38,4)").as("_e"))
        .agg(sum(col("_e")).cast("decimal(38,4)").as("nf"))
        .select(lit(t.toLong).as("t"), col("nf"))
    }
    runRounds(edges, srcCol, dstCol, p, maxT, strict = strict)(estimate)
  }

  /** The per-round EXACT integer register signature: one row per round,
    * `(t, regs, sum_rho, sum_pow)` with `regs` = live (node, bucket)
    * register count, `sum_rho` = Σ rho (BIGINT), `sum_pow` =
    * Σ 2^(53−rho) as DECIMAL(38,0) (the global harmonic numerator —
    * per-term ≤ 2^49 but V·2^p terms overflow a LONG, so the sum runs in
    * exact decimal). This is the version-proof GATE surface for the ball
    * machinery: the signature determines the register frame's whole
    * content statistics through integer arithmetic only — no `ln`, no
    * per-node `round(double)`, nothing an engine upgrade can re-round
    * (round-13 lesson: the float N(t) gate hashed 220k per-node round-4
    * values and went red on a driver DuckDB whose replay chain computed
    * them algorithmically differently while staying bit-exact on 1.0.0).
    * The float N(t) readout itself is certified in HyperBallSpec against
    * the scalar model; [[effectiveDiameter]] still consumes it through
    * one fixed IEEE expression over ≤T rows.
    */
  def registerSignature(edges: DataFrame, srcCol: String, dstCol: String,
                        p: Int = 4, maxT: Int = 32): DataFrame =
    runRounds(edges, srcCol, dstCol, p, maxT) { (r, t) =>
      r.agg(count(lit(1)).cast("long").as("regs"),
          sum(col("rho")).cast("long").as("sum_rho"),
          sum(expr("shiftleft(1L, 53 - rho)").cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("sum_pow"))
        .select(lit(t.toLong).as("t"), col("regs"), col("sum_rho"),
          col("sum_pow"))
    }

  /** The register frame AT THE FIXPOINT — `(node, bucket, rho)` once
    * max-merge is stationary. This is HyperBall's MAINTAINED-STATE
    * surface: persist it, and when the graph GROWS resume via `seed`
    * instead of re-running from self-balls. Max-merge over the
    * (bucket, rho) lattice is monotone and confluent — the fixpoint is
    * the least fixed point above the seed, and any seed between the
    * self-ball frame and the final fixpoint (which a persisted
    * earlier-graph fixpoint is, since adding edges only grows balls)
    * converges to the IDENTICAL frame — so resume ≡ one-shot bit-exactly
    * (spec-pinned), in rounds bounded by how far the NEW edges move
    * reachability rather than the whole diameter. The q16/q39/q26
    * incremental discipline applied to the reachability audit: at 100 TB
    * the web graph grows daily; re-sketching from scratch is the cost
    * this avoids.
    */
  def fixpointRegisters(edges: DataFrame, srcCol: String, dstCol: String,
                        p: Int = 4, maxT: Int = 32,
                        seed: Option[DataFrame] = None,
                        strict: Boolean = true): DataFrame = {
    var last: DataFrame = null
    // the readout captures each round's frame; the last one is the
    // fixpoint (the emitted frame itself is unused)
    runRounds(edges, srcCol, dstCol, p, maxT, seed, strict) { (r, _) =>
      last = r; r.limit(0)
    }
    last
  }

  /** One-row EXACT integer signature of a register frame:
    * `(regs, sum_rho, sum_pow)` — the version-proof hash surface of
    * [[fixpointRegisters]] (the q45 gate discipline; frames reachable
    * from the same self-ball seed are equal iff their signatures are,
    * because registers only grow under max-merge).
    */
  def registerSignatureOf(regs: DataFrame): DataFrame =
    regs.agg(count(lit(1)).cast("long").as("regs"),
      sum(col("rho")).cast("long").as("sum_rho"),
      sum(expr("shiftleft(1L, 53 - rho)").cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("sum_pow"))

  /** Shared synchronous-round driver: builds the p-register self-ball
    * frame (max-merged with `seed` when resuming), max-merges along edges
    * until the (count, Σrho) signature is
    * stationary (registers only grow, so the pair is invariant iff the
    * frame is) or `maxT`, and emits `readout(regs, t)` per distinct
    * round, t = 0 first.
    *
    * Round-15 optimization (guide §2.3/§2.4, plan diff summarized in
    * OPTIMIZATION_r15.md):
    * register state is carried WIDE — one row per node with 2^p register
    * columns r0..r{m-1} (absent register = 0; a live rho is always ≥ 1)
    * instead of one (node, bucket, rho) row per live register. The
    * per-round max-merge join then matches E edge rows instead of
    * E × 2^p register rows, the contribution aggregate map-side-combines
    * per src BEFORE its exchange, and the merge groupBy shuffles ~V wide
    * rows instead of V·2^p + E·2^p tall ones — at sf0.1 that is ~15×
    * fewer shuffled rows per round, and at 100 TB the same factor in
    * shuffle bytes (node ids amortize over 2^p registers). Max-merge is
    * per-(node, bucket) in both layouts, so every readout/signature/
    * fixpoint frame is BIT-IDENTICAL (the tall view is re-derived by
    * `tallOf`); HyperBallSpec's scalar-model and resume≡one-shot pins
    * plus the q45 oracle gates hold unchanged.
    */
  private def runRounds(edges: DataFrame, srcCol: String, dstCol: String,
                        p: Int, maxT: Int,
                        seed: Option[DataFrame] = None,
                        strict: Boolean = true)
                       (readout: (DataFrame, Int) => DataFrame): DataFrame = {
    require(p >= 4 && p <= 8, s"p must be in 4..8, got $p")
    require(maxT >= 0, s"maxT must be >= 0, got $maxT")
    val m = 1 << p
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    locally {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      // self-ball registers; rho capped at 53 so the harmonic term
      // 2^(53-rho) stays an exact integer power of two (the cap fires with
      // probability 2^-53 per hash — never observed, always deterministic)
      val h = splitmix64(col("node"))
      val selfRegs = nodes
        .select(col("node"),
          shiftrightunsigned(h, 64 - p).as("bucket"),
          least(leading_zeros64(shiftleft(h, p)) + 1, lit(53)).cast("int")
            .as("rho"))
      // tall (node, bucket, rho) → wide (node, r0..r{m-1}); absent = 0
      def widen(tall: DataFrame): DataFrame =
        tall.groupBy(col("node")).agg(
          coalesce(max(when(col("bucket") === 0, col("rho"))), lit(0))
            .as("r0"),
          (1 until m).map(b =>
            coalesce(max(when(col("bucket") === b, col("rho"))), lit(0))
              .as(s"r$b")): _*)
      // wide → tall live-register view: bit-identical to the old layout
      def tallOf(wide: DataFrame): DataFrame =
        wide.select(col("node"),
            posexplode(array((0 until m).map(b => col(s"r$b")): _*))
              .as(Seq("bucket", "rho")))
          .filter(col("rho") > 0)
          .select(col("node"), col("bucket").cast("long").as("bucket"),
            col("rho"))
      val maxes = (0 until m).map(b => max(col(s"r$b")).as(s"r$b"))
      val wide0 = seed.fold(widen(selfRegs)) { sd =>
        // resume: the persisted frame max-merges with fresh self-balls
        // (new nodes get their self register; old registers only grow).
        // ADVICE r15: widen() would silently DROP seed registers whose
        // bucket falls outside [0, 2^p) or is null — a frame persisted at
        // a larger p, or a damaged one, must fail loudly, not lose
        // registers (a null bucket makes the range test null, not true)
        val guarded = sd.select(col("node").cast("long").as("node"),
          when(col("bucket").isNull || col("bucket").cast("long") < 0 ||
              col("bucket").cast("long") >= m,
            raise_error(concat(lit("HyperBall resume: seed bucket "),
              coalesce(col("bucket").cast("string"), lit("null")),
              lit(s" outside [0, $m) — the seed frame was built at a " +
                "different p"))))
            .otherwise(col("bucket").cast("long")).as("bucket"),
          col("rho").cast("int").as("rho"))
        widen(selfRegs.unionByName(guarded))
      }

      // the (count, Σrho) stationarity witness, computed from the wide
      // frame (Σ over nodes of live-register count / of Σ r_b) — the same
      // two integers the tall frame's count(1)/sum(rho) produced — and
      // read from each round's checkpoint job
      val sig = Fixpoint.Witness[Row](struct(
        coalesce(sum((0 until m).map(b =>
          when(col(s"r$b") > 0, 1L).otherwise(0L)).reduce(_ + _)), lit(0L))
          .as("sregs"),
        coalesce(sum((0 until m).map(b =>
          col(s"r$b").cast("long")).reduce(_ + _)), lit(0L)).as("srho")))
      val start = Fixpoint.checkpoint(wide0, sig)
      var out = Seq(readout(tallOf(start._1), 0))
      // callers consume the FIXPOINT (N(t) complete, persisted resume
      // frames, signatures); a capped non-stationary frame silently breaks
      // the resume-equals-one-shot contract — Fixpoint fails loudly
      // unless the caller explicitly opted into truncation (strict = false)
      Fixpoint.iterate("HyperBall", start, sig, maxT, strict,
          " — register max-merge not stationary: raise maxT, or pass " +
            "strict = false for a truncated run") { r =>
        // round-16: ONE aggregation for contribute+merge instead of two —
        // max is associative/commutative, so the old per-src contribution
        // groupBy before the merge groupBy only added a second Exchange;
        // the single groupBy's map-side partial aggregation performs the
        // same per-node combining before its one exchange (guide §2.4 —
        // operations keyed the same way share one exchange). Values are
        // identical (max over the same multiset).
        val contribRows = e
          .join(r.frame.withColumnRenamed("node", "dst"), Seq("dst"))
          .select(col("src").as("node") +:
            (0 until m).map(b => col(s"r$b")): _*)
        r.frame.unionByName(contribRows)
          .groupBy(col("node"))
          .agg(maxes.head, maxes.tail: _*)
      }((prev, w) => prev.contains(w), (prev, next) =>
        if (next.witness != prev.witness)
          out :+= readout(tallOf(next.frame), next.number))
      out.reduce(_ unionByName _)
    }
  }

  /** Effective diameter at quantile `q` from a [[neighborhoodFunction]]
    * frame: the smallest t with N(t) ≥ q·N(t_max), linearly interpolated
    * between t−1 and t (the HyperANF convention). One row:
    * `(t_max, nf_max, eff_diameter)` — eff_diameter round-4, derived from
    * the exact DECIMAL nf values by one fixed IEEE expression.
    */
  def effectiveDiameter(nf: DataFrame, q: Double = 0.9): DataFrame = {
    require(q > 0.0 && q < 1.0, s"q must be in (0, 1), got $q")
    // GLOBAL window, deliberately: the frame is one row per ball round t
    // (cardinality ≤ maxT ≤ 32 at any SF) — the WindowExec warning is
    // expected and harmless here
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("t"))
    val top = nf.agg(max(col("t")).as("t_max"),
      max(col("nf")).cast("double").as("nf_max"))
    val hit = nf
      .select(col("t"), col("nf").cast("double").as("f"),
        lag(col("nf").cast("double"), 1).over(w).as("pf"))
      .crossJoin(broadcast(top))
      .filter(col("f") >= lit(q) * col("nf_max"))
      .orderBy(col("t"))
      .limit(1)
    hit.select(col("t_max"), col("nf_max"),
      round(when(col("t") === 0L, lit(0.0))
        .otherwise(col("t").cast("double") - 1.0 +
          (lit(q) * col("nf_max") - col("pf")) / (col("f") - col("pf"))), 4)
        .as("eff_diameter"))
  }
}
