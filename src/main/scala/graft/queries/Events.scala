package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Temporal

/** Temporal analytics over the `events` stream table: as-of join,
  * sessionization, and windowed range counts — the event-time operator
  * surface (graft.operators.Temporal).
  */
object Events {

  type Q = (SparkSession, String) => DataFrame

  private val GAP_30M_US = 1800000000L
  private val WIN_10M_US = 600000000L

  /** The crash-replay stream of the production-shaped monitors: `first`
    * lands as parquet and one AvailableNow run of a checkpointed stream
    * absorbs it through the per-batch hook `maintain`; `second` is then
    * appended, the restarted stream crashes once after `maintain` and
    * before its commit, and a third run replays that batch, whose state
    * writes must dynamic-overwrite their own partitions. Returns the
    * batch ids that absorbed `first` and those that absorbed `second`.
    */
  private def crashReplay(sc: Scratch, first: DataFrame, second: DataFrame)(
      maintain: (DataFrame, Long) => Unit): (Seq[Long], Seq[Long]) = {
    val in = sc.path("in")
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    val boom = new java.util.concurrent.atomic.AtomicInteger(0)
    def runStream(crashOnce: Boolean): Unit = {
      val q = first.sparkSession.readStream.schema(first.schema).parquet(in)
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", sc.path("ckpt"))
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            maintain(b, id)
            seen.synchronized { seen += id }
            if (crashOnce && boom.getAndIncrement() == 0)
              throw new RuntimeException(
                "simulated crash between maintenance and commit")
          }
          ()
        }
        .start()
      try q.awaitTermination(240000)
      catch { case e: Exception if crashOnce => () }
    }
    first.write.parquet(in)
    runStream(crashOnce = false)
    val batchesA = seen.toSeq
    second.write.mode("append").parquet(in)
    runStream(crashOnce = true) // crashes after the state writes
    runStream(crashOnce = false) // replay completes the batch
    (batchesA, seen.toSeq.diff(batchesA))
  }

  val queries: Map[String, Q] = Map(
    // Backward as-of join: each purchase matched to the user's latest click
    // at or before it (kdb-style). One shuffle on user_id. Clicks are
    // pre-deduped to max(event_id) per (user_id, ts) — DuckDB's ASOF JOIN
    // leaves equal-ts ties unspecified, so the tie-break is made explicit
    // on BOTH sides (it picks the same winner asofJoinBackward's rightTie
    // would) to keep the comparison stable on any fixture data.
    //
    // DECLARED UNSALTED, deliberately: `asofJoinBackwardSalted` (row-
    // identical, tested) re-partitions by (user_id, ts-bucket) so one hot
    // key spreads over many tasks, but costs 1.7x on uniform keys
    // (measured at sf0.1: 0.78 s vs 1.34 s — the extra bucket-carry
    // window). Switch to the salted form when one key's event volume
    // exceeds a single task's comfortable slice (~10-100M events/key at
    // 100 TB); the oracle is unchanged either way.
    "evt_asof_click" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val p = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max($"event_id").as("event_id"))
        .select($"event_id", $"user_id", $"ts")
      Temporal.asofJoinBackward(p, c, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightTie = "event_id")
        .select($"event_id",
          $"asof.event_id".as("click_id"),
          round((unix_micros($"ts") - unix_micros($"asof.ts")) / 1000000.0, 6)
            .as("gap_s"))
        .orderBy($"event_id")
    }),

    // As-of join with STALENESS TOLERANCE (Temporal
    // .asofJoinBackwardTolerance): the same purchase ← latest-click
    // match, but a click older than 15 minutes is NO match (NULL) — the
    // feature-store "max feature age" contract. Latest-within-tolerance
    // ≡ latest-overall nulled when stale (the nearest-match property),
    // so the oracle is the ASOF join plus one CASE.
    "evt_asof_tolerance" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val p = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(max($"event_id").as("event_id"))
        .select($"event_id", $"user_id", $"ts")
      Temporal.asofJoinBackwardTolerance(p, c, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightTie = "event_id",
        toleranceUs = 900000000L)
        .select($"event_id",
          $"asof.event_id".as("click_id"),
          round((unix_micros($"ts") - unix_micros($"asof.ts")) / 1000000.0, 6)
            .as("gap_s"))
        .orderBy($"event_id")
    }),

    // 30-minute-gap sessionization per user: session identified by its
    // first event_id; money-style DECIMAL sum for oracle-stable totals.
    // DECLARED UNSALTED (same decision and threshold as evt_asof_click):
    // `sessionIndexSalted` is row-identical but 3.5x on uniform keys
    // (measured at sf0.1: 0.34 s vs 1.17 s).
    // First-order Markov transitions (Temporal.transitionMatrix): which
    // event type follows which, per user timeline — n exact BIGINT,
    // p one raw-gated IEEE division (the Drift discipline).
    "evt_transitions" -> ((s, dir) => {
      import s.implicits._
      Temporal.transitionMatrix(Tables(s, dir, "events"),
          key = "user_id", tsCol = "ts", tieCol = "event_id",
          stateCol = "event_type")
        .orderBy($"from_state", $"to_state")
    }),

    "evt_sessions" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      Temporal.sessionIndex(e, key = "user_id", tsCol = "ts",
        tieCol = "event_id", gapMicros = GAP_30M_US)
        .groupBy($"user_id", $"_session")
        .agg(
          min($"event_id").as("session_id"),
          count(lit(1)).as("n_events"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .select($"user_id", $"session_id", $"n_events", $"total_value")
        .orderBy($"user_id", $"session_id")
    }),

    // Same sessionization through Spark's NATIVE session_window (the
    // streaming-capable stateful form) — merge semantics proven identical
    // to the lag/cumsum form by sharing its oracle.
    "evt_sessions_native" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      e.groupBy(session_window($"ts", "30 minutes").as("session"), $"user_id")
        .agg(min($"event_id").as("session_id"), count(lit(1)).as("n_events"))
        .select($"user_id", $"session_id", $"n_events")
        .orderBy($"user_id", $"session_id")
    }),

    // Hot-key aggregation through the two-phase salted form (operators.Skew):
    // only 5 distinct event_type keys, so a plain groupBy would funnel each
    // key's whole volume through one reducer at scale. Exactly equal to the
    // direct aggregation — the oracle is the plain GROUP BY.
    "evt_skew_agg" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      graft.operators.Skew.twoPhaseAgg(e,
        keys = Seq("event_type"),
        aggs = scala.collection.immutable.ListMap(
          "n_events" -> (col("event_id"), "count"),
          "total_value" -> (col("value").cast("decimal(18,2)"), "sum"),
          "max_value" -> (col("value"), "max")))
        .select($"event_type", $"n_events",
          $"total_value".cast("double").as("total_value"), $"max_value")
        .orderBy($"event_type")
    }),

    // Range join: clicks of the same user within the 10 minutes before
    // each purchase. Key equality keeps it a hash join; the range is a
    // post-join predicate.
    "evt_range_join" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val p = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = e.filter($"event_type" === "click")
        .select($"user_id", $"ts")
      Temporal.rangeCount(p, c, key = "user_id", leftTs = "ts",
        rightTs = "ts", windowMicros = WIN_10M_US, asCol = "n_clicks")
        .select($"event_id", $"n_clicks")
        .orderBy($"event_id")
    }),

    // Ordered funnel (operators.Funnel): signup → view → click → purchase,
    // each step completed by the FIRST event of its type strictly after
    // the previous step's completion. Per-step distinct-user counts.
    "evt_funnel" -> ((s, dir) => {
      graft.operators.Funnel.funnelCounts(Tables(s, dir, "events"),
        userCol = "user_id", typeCol = "event_type", tsCol = "ts",
        steps = Seq("signup", "view", "click", "purchase"))
    }),

    // Time-BOUNDED funnel (Funnel.funnelCounts(maxGapUs)): the same
    // chain but each transition must convert within 48 hours of the
    // previous step — the product "conversion window" semantics. Still
    // first-completion greedy (documented in the operator); the bound
    // is an exact integer micros comparison, so the oracle replays the
    // chain with the extra predicate verbatim.
    "evt_funnel_windowed" -> ((s, dir) => {
      graft.operators.Funnel.funnelCounts(Tables(s, dir, "events"),
        userCol = "user_id", typeCol = "event_type", tsCol = "ts",
        steps = Seq("signup", "view", "click", "purchase"),
        maxGapUs = Some(172800000000L))
    }),

    // CUSUM change-point monitor (operators.Robust.cusumShift): the
    // sustained-shift detector beside the point-wise z/MAD monitors —
    // S_t = max(0, S_{t-1} + dev_t) computed via the closed form
    // P_t − min(0, min prefix) as TWO O(1)-state running windows, all
    // quantities carried ×n so every value under the hash is an exact
    // BIGINT and the alarm is an integer comparison.
    "evt_cusum_shift" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Robust.cusumShift(daily, Seq("event_type"), "d",
          "n_events", slack = 2L, threshold = 20L)
        .select($"event_type", $"d".cast("string").as("day"),
          $"n_events", $"n", $"cusum", $"alarm")
        .orderBy($"event_type", $"day")
    }),

    // truncated-EWMA control chart (Robust.ewmaSmoothed) on per-type
    // daily counts — the gradual-drift monitor completing the trio with
    // MAD (level outliers) and CUSUM (sustained shifts). Every weighted
    // term and both sums are fixed left-associated IEEE chains the
    // oracle writes identically; alarms compare ROUNDED signals (the
    // composed-verdict rule).
    "evt_ewma" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Robust.ewmaSmoothed(daily, Seq("event_type"), "d",
          "n_events", alpha = 0.3, lookback = 8, relBand = 0.5)
        .select($"event_type", $"d".cast("string").as("day"),
          $"n_events", $"ewma", $"prior_ewma", $"dev", $"alarm")
        .orderBy($"event_type", $"day")
    }),

    // Daily volume anomaly detection: per-type z-scores of daily event
    // counts — the burst/outage monitor over the event stream. Mean and
    // variance come from EXACT integer sums (n, Σc, Σc²), so the double
    // arithmetic is one identical expression in both engines; only the
    // final z is rounded. Degenerate strata (a single day, or zero
    // variance) have no defined z — guarded to NULL explicitly, because
    // Spark's non-ANSI division yields NULL there while DuckDB's IEEE
    // float ops yield inf/NaN, and the guard condition (exact int sums)
    // evaluates identically in both engines.
    "evt_anomaly_daily" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy($"event_type")
        .agg(count(lit(1)).as("nd"), sum($"n").as("s1"),
          sum($"n" * $"n").as("s2"))
      val mean = $"s1" / $"nd".cast("double")
      val variance = ($"s2" - $"s1" * mean) / ($"nd" - 1)
      daily.join(broadcast(stats), Seq("event_type"))
        .select($"event_type", $"d", $"n",
          when($"nd" > 1 && variance > 0,
            round(($"n" - mean) / sqrt(variance), 4)).as("z"))
        .orderBy($"event_type", $"d")
    }),

    // Robust daily-volume outliers (operators.Robust.madOutliers): the
    // median/MAD sibling of evt_anomaly_daily's z-score — 50% breakdown
    // point, so one extreme day can't mask itself by inflating the mean
    // and σ it is scored against. All decisions are integer (doubled-
    // units medians: med2 = 2·median, mad4 = 4·MAD, flag = 4·d2 > 7·mad4)
    // and the robust z is ONE IEEE division of BIGINTs, gated RAW.
    "evt_anomaly_mad" -> ((s, dir) => {
      import s.implicits._
      val daily = Tables(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("d"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Robust
        .madOutliers(daily, Seq("event_type"), "n")
        .select($"event_type", $"d", $"n", $"med2", $"mad4", $"mad_z",
          $"is_outlier")
        .orderBy($"event_type", $"d")
    }),

    // Group-wise winsorization (operators.Robust.winsorize): event
    // values clamped into their own type's exact [p01, p99] band — the
    // cap-don't-drop numeric cleaner. Bounds via exact percentile
    // (bit-identical to quantile_cont), clamp = min/max on RAW doubles,
    // no arithmetic — the whole frame gates raw with no rounding.
    "evt_winsorize_value" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Robust
        .winsorize(Tables(s, dir, "events")
            .select($"event_id", $"event_type", $"value"),
          Seq("event_type"), "value", 0.01, 0.99)
        .select($"event_id", $"event_type", $"p_lo", $"p_hi", $"value_w")
        .orderBy($"event_id")
    }),

    // Cohort retention matrix (operators.Temporal.cohortRetention): users
    // grouped by first-event date, counted per days-since-cohort active
    // day. The event stream compacts to distinct (user, day) before any
    // user-keyed work.
    "evt_cohort_retention" -> ((s, dir) => {
      import s.implicits._
      Temporal.cohortRetention(Tables(s, dir, "events"), "user_id", "ts")
        .orderBy($"cohort_date", $"offset_days")
    }),

    // Grouped top-k through the custom Catalyst AGGREGATE
    // (functions.TopKDoublesAgg, a TypedImperativeAggregate): top-5
    // event values per type from a bounded k-element heap with map-side
    // partial merge — at most k doubles per group per map task cross the
    // shuffle, vs the window-rank idiom's full-width shuffle + per-group
    // sort (plan-asserted in TopKSpec). Ties keep duplicate VALUES, so
    // the exploded (rank, value) rows are deterministic even when the
    // window form would break the tie arbitrarily.
    "evt_topk_values" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"event_type")
        .agg(graft.functions.TopK.topk_doubles($"value", 5).as("top"))
        .select($"event_type", posexplode($"top"))
        .select($"event_type", ($"pos" + 1).cast("bigint").as("rank"),
          $"col".as("value"))
        .orderBy($"event_type", $"rank")
    }),

    // Z-order (Morton) clustering values for (user_id, event-minute)
    // (operators.Layout): the physical-design lever for two-dimensional
    // scan pruning — files sorted by this value carry tight min/max
    // envelopes in BOTH dimensions (locality measured in LayoutSpec;
    // this query gates the interleave arithmetic itself, which is pure
    // bitwise Column math replayed verbatim in SQL).
    "evt_zvalue" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .select($"event_id",
          graft.operators.Layout.zValue($"user_id",
            expr("unix_micros(ts) div 60000000")).as("zval"))
        .orderBy($"event_id")
    }),

    // HLL set algebra — audience overlap WITHOUT rescanning raw data:
    // |clickers ∩ purchasers| estimated by inclusion-exclusion over three
    // sketch estimates, next to the exact intersection count. The union
    // audience's registers are DERIVED from the two audience register
    // frames by register-wise max (Hll.mergeRegisters) — the raw events
    // are never rescanned for the union, so the gate executes the exact
    // workflow the 100 TB story rests on: per-segment registers are
    // PERSISTED (4 KB each) and any pair's overlap estimate costs two
    // register frames, not a data scan. (The oracle mirrors the merge:
    // its union registers are a max over the a/b register CTE, not a
    // third raw-data pass.)
    "evt_hll_overlap" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val clicks = ev.filter($"event_type" === "click")
      val buys = ev.filter($"event_type" === "purchase")
      def regs(tag: String, f: DataFrame): DataFrame =
        graft.operators.Hll.registers(f.withColumn("_t", lit(tag)),
          Seq("_t"), "user_id")
      val ra = regs("a", clicks)
      val rb = regs("b", buys)
      // the mergeability claim, executed inside the gate: union registers
      // = max over the two frames' registers, no third scan of events
      val ru = graft.operators.Hll.mergeRegisters(
        ra.withColumn("_t", lit("u")).unionByName(rb.withColumn("_t", lit("u"))),
        Seq("_t"))
      val ests = graft.operators.Hll.estimateFromRegisters(
        ra.unionByName(rb).unionByName(ru), Seq("_t"))
        .groupBy()
        .pivot("_t", Seq("a", "b", "u")).agg(first($"estimate"))
      val exact = clicks.select($"user_id").distinct()
        .join(buys.select($"user_id").distinct(), "user_id")
        .agg(count(lit(1)).as("exact_overlap"))
      ests.crossJoin(exact)
        .select(round($"a", 4).as("est_clickers"),
          round($"b", 4).as("est_buyers"),
          round($"a" + $"b" - $"u", 4).as("est_overlap"),
          $"exact_overlap")
    }),

    // FORWARD as-of: for each purchase, the NEXT click at or after it —
    // the attribution/"time-to-next-event" direction of evt_asof_click,
    // same union + running-window construction mirrored (first over the
    // following frame; equal-ts ties pre-aggregated to min event_id on
    // both sides so the winner is fixture-stable). Oracle: DuckDB ASOF
    // LEFT JOIN with p.ts <= c.ts.
    "evt_asof_next_click" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val p = e.filter($"event_type" === "purchase")
        .select($"event_id", $"user_id", $"ts")
      val c = e.filter($"event_type" === "click")
        .groupBy($"user_id", $"ts").agg(min($"event_id").as("event_id"))
        .select($"event_id", $"user_id", $"ts")
      Temporal.asofJoinForward(p, c, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightTie = "event_id")
        .select($"event_id",
          $"asof.event_id".as("next_click_id"),
          round((unix_micros($"asof.ts") - unix_micros($"ts")) / 1000000.0, 6)
            .as("wait_s"))
        .orderBy($"event_id")
    }),

    // KMV/theta set algebra — the DIRECT intersection estimate HLL cannot
    // give (inclusion-exclusion error scales with the UNION, so a small
    // overlap of large audiences drowns; the theta candidates-below-θ
    // estimator scales with the intersection's own sample). Sketches are
    // bottom-256 distinct splitmix hashes of the user-DAY key (the
    // audience grain with real cardinality here: ~2k active user-days per
    // stream vs only 150 users), built by the bounded struct heap — never
    // a per-group sort — and the oracle replays hash, distinct, bottom-k,
    // θ = min(u_k), candidate filter and both estimates verbatim; n_cand
    // and theta_long gate the integer core exactly, the two divisions
    // round(,4).
    "evt_kmv_overlap" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val k = 256
      val ud = expr("user_id * 100000 + unix_micros(ts) div 86400000000")
      val clicks = ev.filter($"event_type" === "click").select(ud.as("ud"))
      val buys = ev.filter($"event_type" === "purchase").select(ud.as("ud"))
      val ska = graft.operators.Kmv.sketch(clicks, Nil, "ud", k)
      val skb = graft.operators.Kmv.sketch(buys, Nil, "ud", k)
      val estA = graft.operators.Kmv.estimateFromSketch(ska, Nil, k)
        .select(round($"estimate", 4).as("est_click_days"))
      val estB = graft.operators.Kmv.estimateFromSketch(skb, Nil, k)
        .select(round($"estimate", 4).as("est_buy_days"))
      val inter = graft.operators.Kmv.intersectEstimate(ska, skb, k)
        .select(round($"est_intersect", 4).as("est_overlap_days"), $"n_cand")
      val exact = clicks.distinct().join(buys.distinct(), "ud")
        .agg(count(lit(1)).as("exact_overlap"))
      estA.crossJoin(estB).crossJoin(inter).crossJoin(exact)
    }),

    // A-not-B set difference (Kmv.differenceEstimate) — click-days with
    // no purchase that day: the audience-subtraction question
    // ("engaged but didn't convert") answered from the two persisted
    // k-row sketches alone, completing the theta set algebra
    // (union/intersection/difference). Anti-join of two 256-row frames;
    // exact |A \ B| beside the estimate inside the gate.
    "evt_kmv_diff" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val k = 256
      val ud = expr("user_id * 100000 + unix_micros(ts) div 86400000000")
      val clicks = ev.filter($"event_type" === "click").select(ud.as("ud"))
      val buys = ev.filter($"event_type" === "purchase").select(ud.as("ud"))
      val ska = graft.operators.Kmv.sketch(clicks, Nil, "ud", k)
      val skb = graft.operators.Kmv.sketch(buys, Nil, "ud", k)
      val diff = graft.operators.Kmv.differenceEstimate(ska, skb, k)
        .select($"n_cand", $"theta_long",
          round($"est_diff", 4).as("est_diff_days"))
      val exact = clicks.distinct()
        .join(buys.distinct(), Seq("ud"), "left_anti")
        .agg(count(lit(1)).as("exact_diff"))
      diff.crossJoin(exact)
    }),

    // The pairwise overlap MATRIX (Kmv.pairwiseIntersections): all ten
    // event-type audience overlaps at once from the five persisted-shape
    // k-row sketches — the "any pair costs two sketch frames" workflow
    // executed as one self-join, with the exact overlap beside every
    // estimate. Zero-intersection pairs keep their zero row via the
    // theta-grid left join.
    "evt_kmv_matrix" -> ((s, dir) => {
      import s.implicits._
      val k = 256
      val ev = Tables(s, dir, "events")
        .select($"event_type",
          expr("user_id * 100000 + unix_micros(ts) div 86400000000").as("ud"))
      val sk = graft.operators.Kmv.sketch(ev, Seq("event_type"), "ud", k)
      val mat = graft.operators.Kmv.pairwiseIntersections(sk, "event_type", k)
      val dist = ev.distinct()
      val exact = dist.select($"event_type".as("seg_a"), $"ud")
        .join(dist.select($"event_type".as("seg_b"), $"ud"), "ud")
        .filter($"seg_a" < $"seg_b")
        .groupBy($"seg_a", $"seg_b").agg(count(lit(1)).as("exact_overlap"))
      mat.join(exact, Seq("seg_a", "seg_b"), "left")
        .na.fill(0L, Seq("exact_overlap"))
        .select($"seg_a", $"seg_b", $"n_cand", $"theta_long",
          round($"est_intersect", 4).as("est_overlap"), $"exact_overlap")
        .orderBy($"seg_a", $"seg_b")
    }),

    // The MAINTAINED KMV sketch table (Kmv.mergeBatch/sketchFromTable —
    // the BatchTables discipline on the theta family): two day-parity
    // batches persist their own bottom-256 sketches, compaction folds
    // them, and the read-time merge answers over everything absorbed.
    // KMV's combine is duplication-IDEMPOTENT (distinct + bottom-k), so
    // merged ≡ one-shot EXACTLY — the oracle replays the one-shot
    // bottom-k over the whole stream and the hash pins the maintained
    // table's sketch rows (n_sk, u_max integer-exact) and estimate.
    "evt_kmv_state" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val k = 256
      val ev = Tables(s, dir, "events").filter($"event_type" === "click")
        .withColumn("ud",
          expr("user_id * 100000 + unix_micros(ts) div 86400000000"))
        .withColumn("_day", expr("unix_micros(ts) div 86400000000"))
      val table = sc.table("state")
      graft.operators.Kmv.mergeBatch(ev.filter(pmod($"_day", lit(2)) === 0),
        Nil, "ud", k, table, sc.path("state"), batchId = 0L)
      graft.operators.Kmv.mergeBatch(ev.filter(pmod($"_day", lit(2)) === 1),
        Nil, "ud", k, table, sc.path("state"), batchId = 1L)
      graft.operators.Kmv.compactSketch(s, table, upToBatchId = 1L, Nil, k)
      val sk = graft.operators.Kmv.sketchFromTable(s, table, Nil, k)
        .localCheckpoint(true)
      val est = graft.operators.Kmv.estimateFromSketch(sk, Nil, k)
      sk.agg(count(lit(1)).as("n_sk"), max($"u").as("u_max"))
        .crossJoin(est.select(round($"estimate", 4).as("est_click_days")))
        .select($"est_click_days", $"n_sk", $"u_max")
    }),

    // Count-Min frequency estimates for the top-20 most active users
    // (operators.CountMin, d=4, w=2^10 → 32 KB of counters) NEXT TO the
    // exact per-user event counts — the heavy-hitter sketch beside Hll's
    // cardinality sketch. All-integer end to end, so the oracle replays
    // the sketch EXACTLY (row-seeded splitmix64 hashes, top-bits column
    // split, counter sums, min-over-rows), and the one-sided guarantee
    // (estimate >= exact, never under) is visible inside the gate.
    "evt_cms_users" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val exact = ev.groupBy($"user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"exact_cnt".desc, $"user_id").limit(20)
      val sk = graft.operators.CountMin.sketch(ev, "user_id",
        depth = 4, widthLog2 = 10)
      graft.operators.CountMin
        .pointEstimates(sk, exact, "user_id", depth = 4, widthLog2 = 10)
        .join(exact, "user_id")
        .select($"user_id", $"exact_cnt", $"cms_est")
        .orderBy($"exact_cnt".desc, $"user_id")
    }),

    // Count-Min MERGE — the sketch-maintenance workflow the 32 KB pitch
    // rests on: the event stream is split into two disjoint day-parity
    // partitions (stand-ins for daily batches), each gets its own sketch,
    // and the frames merge by counter-wise SUM (CountMin.mergeSketches)
    // into the sketch the full stream would have produced — EXACTLY, not
    // approximately (cell counts are additive over disjoint inputs). The
    // output carries the merged-path and one-shot-path estimates side by
    // side; the gate pins them equal row by row. The oracle replays BOTH
    // paths structurally (per-parity counter sums vs direct counts).
    "evt_cms_merge" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val even = ev.filter(dayofmonth($"ts") % 2 === 0)
      val odd = ev.filter(dayofmonth($"ts") % 2 === 1)
      val merged = graft.operators.CountMin.mergeSketches(
        graft.operators.CountMin.sketch(even, "user_id")
          .unionByName(graft.operators.CountMin.sketch(odd, "user_id")))
      val oneShot = graft.operators.CountMin.sketch(ev, "user_id")
      val exact = ev.groupBy($"user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .orderBy($"exact_cnt".desc, $"user_id").limit(20)
      graft.operators.CountMin
        .pointEstimates(merged, exact, "user_id")
        .withColumnRenamed("cms_est", "cms_merged")
        .join(graft.operators.CountMin
          .pointEstimates(oneShot, exact, "user_id")
          .withColumnRenamed("cms_est", "cms_oneshot"), "user_id")
        .join(exact, "user_id")
        .select($"user_id", $"exact_cnt", $"cms_merged", $"cms_oneshot")
        .orderBy($"exact_cnt".desc, $"user_id")
    }),

    // CMS join-size estimation (CountMin.joinSizeEstimate): the
    // cardinality of clicks ⋈ purchases on user_id, estimated from two
    // 32 KB sketches via the AMS counter inner product — the planner
    // statistic that needs NO scan of either side at decision time. The
    // exact size rides along; the oracle replays the whole splitmix
    // chain, both sketches, the per-row inner products and the min, so
    // the estimate itself is gated bit-exactly (and the one-sided
    // est >= exact property is visible in the emitted row).
    "evt_join_size" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val est = graft.operators.CountMin.joinSizeEstimate(
        graft.operators.CountMin.sketch(
          ev.filter($"event_type" === "click"), "user_id"),
        graft.operators.CountMin.sketch(
          ev.filter($"event_type" === "purchase"), "user_id"))
      val exact = ev.groupBy($"user_id")
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("ca"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("cb"))
        .agg(sum($"ca" * $"cb").cast("long").as("exact_join_size"))
      // both sides are one-row frames
      est.crossJoin(exact).select($"cms_join_est", $"exact_join_size")
    }),

    // HDR-histogram quantile sketch (operators.Quantiles, m=5 → ≤3.1%
    // bias-high error) — p50/p95/p99 of the cents-scaled event value per
    // type, derived THROUGH THE MERGE PATH: two disjoint event-id-parity
    // histograms (stand-ins for shard/day partials) merged by counter-wise
    // sum, exactly the histogram one pass would build. All-integer bucket
    // math (bit length + shifts, no log2), so the oracle replays the
    // entire estimator relationally and gates it EXACTLY. The cov_* cols
    // put the rank guarantee inside the gate: the fraction of values at
    // or below each estimate must be ≥ its q (estimates bias high by at
    // most one sub-bucket, never low).
    "evt_quantile_sketch" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Quantiles
      val ev = Tables(s, dir, "events")
        .filter($"value".isNotNull)
        .withColumn("v", floor($"value" * 100).cast("long"))
        .filter($"v" >= 1)
      val parts = Seq(0, 1).map(par =>
        Quantiles.histogram(ev.filter($"event_id" % 2 === par),
          Seq("event_type"), "v"))
      val merged = Quantiles.mergeHistograms(
        parts.reduce(_ unionByName _), Seq("event_type"))
      val q = Quantiles.quantilesFromHistogram(merged, Seq("event_type"),
        Seq("p50_cents" -> 0.5, "p95_cents" -> 0.95, "p99_cents" -> 0.99))
      def cov(bound: Column): Column =
        round(sum(when($"v" <= bound, 1L).otherwise(0L)).cast("double") /
          $"n".cast("double"), 6)
      ev.join(broadcast(q), "event_type")
        .groupBy($"event_type", $"n",
          $"p50_cents", $"p95_cents", $"p99_cents")
        .agg(cov($"p50_cents").as("cov_p50"),
          cov($"p95_cents").as("cov_p95"),
          cov($"p99_cents").as("cov_p99"))
        .orderBy($"event_type")
    }),

    // HyperLogLog distinct-user estimate per event type (operators.Hll,
    // p=12 → 4096 registers, ~1.6% expected error) NEXT TO the exact
    // count(DISTINCT) — the output demonstrates the sketch's accuracy
    // inside the gate itself. The oracle replays the ENTIRE sketch in
    // SQL: splitmix64 hash, bucket/rank split (rank via 64 − len(bin)),
    // register max, harmonic mean, the linear-counting branch — so the
    // estimator math is gated, not just the number's shape.
    "evt_hll_users" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
      val est = graft.operators.Hll
        .estimate(ev, Seq("event_type"), "user_id", p = 12)
      val exact = ev.groupBy($"event_type")
        .agg(countDistinct($"user_id").as("exact_users"))
      est.join(exact, "event_type")
        .select($"event_type", round($"estimate", 4).as("est_users"),
          $"exact_users")
        .orderBy($"event_type")
    }),

    // SpaceSaving frequent items (functions.FreqItemsAgg, m=4096) — the
    // "WHICH items are frequent" sketch next to CMS's "how often is x":
    // heavy users by lower-bound count > 66. At the gate scales the
    // summary never fills (user cardinality < m), so est = lb = the exact
    // count and the DuckDB hash pins the whole update/serde/32-partition-
    // merge machinery EXACTLY (the eviction regime's bounds and the
    // total/m tracking guarantee are property-pinned across partition
    // layouts in FreqItemsSpec — under eviction per-item estimates are
    // merge-order-dependent by construction, so production callers
    // confirm candidates with an exact count join).
    "evt_freq_items" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .agg(graft.functions.FreqItems.freq_items($"user_id", 4096).as("sk"))
        .select(explode($"sk").as("e"))
        .select($"e.item".as("user_id"), $"e.est".as("est_cnt"),
          $"e.lb".as("lb_cnt"))
        .filter($"lb_cnt" > 66)
        .orderBy($"user_id")
    }),

    // The MAINTAINED frequent-items table (operators.FreqItemsState):
    // two day-parity batches land their per-batch summaries + metadata
    // rows under the BatchTables discipline, compaction folds them into
    // one consolidated summary, and the read-time n-way combine (grid of
    // items x batch minimums, mergeable-summaries charging) answers over
    // everything absorbed. In the no-eviction regime every per-batch
    // minimum is 0, so the combine is EXACT and the oracle is plain
    // counting — a wrong batch minimum, a double-counted replay, or a
    // broken compaction merge all shift the hash.
    "evt_freq_items_state" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .withColumn("_day", datediff(to_date($"ts"), to_date(lit("1970-01-01"))))
      val table = sc.table("state")
      graft.operators.FreqItemsState.mergeBatch(
        ev.filter(pmod($"_day", lit(2)) === 0), "user_id", 4096,
        table, sc.path("state"), batchId = 0L)
      graft.operators.FreqItemsState.mergeBatch(
        ev.filter(pmod($"_day", lit(2)) === 1), "user_id", 4096,
        table, sc.path("state"), batchId = 1L)
      graft.operators.FreqItemsState.compactSummary(s, table,
        upToBatchId = 1L, m = 4096)
      graft.operators.FreqItemsState.summaryFromTable(s, table, 4096)
        .select($"item".as("user_id"), $"est".as("est_cnt"),
          $"lb".as("lb_cnt"))
        .filter($"lb_cnt" > 66)
        .orderBy($"user_id")
    }),

    // Cumulative distinct users to date (Hll.cumulativeEstimate) — the
    // sketch-algebra showcase: exact "uniques to date" needs every day to
    // remember every user ever seen (O(days × users) state); the register
    // form is per-day registers + a running register-wise max along the
    // day order, one raw-data scan total. Exact cumulative distinct sits
    // beside the estimate in the gate; the oracle replays the whole
    // chain — hash, per-day registers, the dense (day × bucket) grid, the
    // cumulative window max, the estimator.
    "evt_cumulative_uniques" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events").withColumn("day", to_date($"ts"))
      val est = graft.operators.Hll.cumulativeEstimate(ev, "day", "user_id")
      val days = ev.select($"day").distinct()
      val exact = days.join(ev.select($"day".as("d"), $"user_id"),
          $"d" <= $"day")
        .groupBy($"day")
        .agg(countDistinct($"user_id").as("exact_cum"))
      est.join(exact, "day")
        .select($"day".cast("string").as("day"),
          round($"estimate", 4).as("est_cum"), $"exact_cum")
        .orderBy($"day")
    }),

    // Fixed-interval resampling with gap fill (operators.Temporal
    // .resampleWithFill): per-user daily value series on a uniform grid —
    // empty days materialized from each user's own [first, last] span and
    // filled by carrying the previous day's sum forward (the
    // count-of-non-nulls fill-group trick, no IGNORE NULLS). Integer
    // cents, so the whole series replays exactly; n_obs = 0 marks the
    // filled gaps inside the gate.
    "evt_resample_daily" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Temporal.resampleWithFill(
          Tables(s, dir, "events").filter($"value".isNotNull),
          "user_id", "ts", "value", intervalUs = 86400000000L)
        .select($"key".as("user_id"), $"bin".as("day_bin"),
          $"cents", $"n_obs")
        .orderBy($"user_id", $"day_bin")
    }),

    // Fixed-interval resampling with LINEAR INTERPOLATION
    // (operators.Temporal.resampleInterpolate): same grid as
    // evt_resample_daily, but each empty day takes the straight line
    // between its nearest observed days — prev/next located by running
    // last/first(IGNORE NULLS) windows, never a self-join. Observed days
    // are exact integer cents as doubles; an interpolated day is ONE
    // IEEE multiply-divide-add over three exact BIGINT differences that
    // both engines execute verbatim (raw-gated, no rounding).
    "evt_resample_interp" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Temporal.resampleInterpolate(
          Tables(s, dir, "events").filter($"value".isNotNull),
          "user_id", "ts", "value", intervalUs = 86400000000L)
        .select($"key".as("user_id"), $"bin".as("day_bin"),
          $"cents", $"n_obs")
        .orderBy($"user_id", $"day_bin")
    }),

    // Interval OVERLAP join (operators.Intervals.overlapJoin): user
    // sessions (closed [first, last] intervals from the 30-min-gap
    // sessionization) × hour-long incident windows anchored at a
    // deterministic 2% sample of error events. The overlap predicate has
    // no equality component — the naive join is a BroadcastNestedLoopJoin
    // Θ(|L|·|R|) matrix — so the operator quantizes time into hour bins,
    // joins EQUI on the bin, filters true overlap inside each bin, and
    // emits each pair only in its canonical bin (the one holding
    // greatest(starts)) so the output is exact with zero post-dedup.
    // overlap_us is an exact BIGINT difference.
    "evt_interval_overlap" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      val sessions = graft.operators.Temporal.sessionIndex(e,
          key = "user_id", tsCol = "ts", tieCol = "event_id",
          gapMicros = GAP_30M_US)
        .groupBy($"user_id", $"_session")
        .agg(min($"event_id").as("session_id"),
          min(unix_micros($"ts")).as("s_start"),
          max(unix_micros($"ts")).as("s_end"))
        .select($"user_id", $"session_id", $"s_start", $"s_end")
      val incidents = e.filter($"event_type" === "error" &&
          pmod($"event_id", lit(50L)) === 0L)
        .select($"event_id".as("incident_id"),
          unix_micros($"ts").as("i_start"),
          (unix_micros($"ts") + lit(3600000000L)).as("i_end"))
      graft.operators.Intervals.overlapJoin(sessions, incidents,
          "s_start", "s_end", "i_start", "i_end", binUs = 3600000000L)
        .select($"user_id", $"session_id", $"incident_id",
          (least($"s_end", $"i_end") -
            greatest($"s_start", $"i_start")).as("overlap_us"))
        .orderBy($"user_id", $"session_id", $"incident_id")
    }),

    // PIVOT / crosstab surface (RelationalGroupedDataset.pivot with an
    // EXPLICIT value list — no values-discovery scan, deterministic
    // column order): daily event counts fanned to one column per event
    // type. The oracle is the portable FILTERed-count form; absent
    // cells are 0 on both sides.
    "evt_pivot_daily" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .withColumn("day", to_date($"ts"))
        .groupBy($"day")
        .pivot("event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .select($"day".cast("string").as("day"),
          coalesce($"click", lit(0L)).as("n_click"),
          coalesce($"view", lit(0L)).as("n_view"),
          coalesce($"purchase", lit(0L)).as("n_purchase"),
          coalesce($"signup", lit(0L)).as("n_signup"),
          coalesce($"error", lit(0L)).as("n_error"))
        .orderBy($"day")
    }),

    // Hopping-window volume (operators.Temporal.hoppingAggregate over
    // native window()): count + cents revenue per event type over
    // epoch-aligned 1-hour windows sliding every 15 minutes — each event
    // lands in exactly 4 windows. The oracle replays Spark's window
    // assignment rule (start = floor(t/slide)·slide − i·slide,
    // i < len/slide) with a 4-row fan-out join, so the windowing
    // semantics themselves sit under the hash, and the same call emits
    // in streaming append mode (TemporalSpec).
    "evt_hopping_volume" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .withColumn("cents", floor($"value" * 100).cast("long"))
      graft.operators.Temporal
        .hoppingAggregate(ev, "event_type", "ts", $"cents",
          "1 hour", "15 minutes")
        .withColumnRenamed("val_sum", "cents")
        .orderBy($"event_type", $"win_start")
    }),

    // Distribution-drift audit (operators.Drift): the cents-value
    // distribution per event type, first half of January vs second —
    // the "did this week's data move?" monitor between corpus/stream
    // snapshots. KS and TV ride exact BIGINT numerators over the shared
    // Quantiles bucket layout (one IEEE division each — gated RAW, no
    // rounding); PSI is the industry drift score over half-count-smoothed
    // bucket probabilities, rounded to 6 because ln() is only
    // 1-ulp-bounded across engines and the bucket sum is order-sensitive
    // (the HLL-estimator precedent).
    "evt_drift_value" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events").filter($"value".isNotNull)
        .withColumn("v", floor($"value" * 100).cast("long"))
        .filter($"v" >= 1)
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      graft.operators.Drift
        .histogramDrift(ev.filter($"ts" < mid), ev.filter($"ts" >= mid),
          Seq("event_type"), "v")
        .select($"event_type", $"n_a", $"n_b", $"buckets",
          $"ks_num", $"ks", $"tv_num", $"tv", round($"psi", 6).as("psi"))
        .orderBy($"event_type")
    }),

    // The SAME drift through the MAINTAINED histogram table
    // (Drift.driftFromTable over Quantiles.mergeBatch partitions): each
    // half lands as its own `_batch_id` partition, and the comparison
    // reads partition-pruned sketch rows only — the production shape
    // where a stream keeps the table current and the monitor never
    // rescans raw data. Counter-sum merges of disjoint batches equal the
    // one-shot histograms exactly, so the one-shot oracle gates the
    // whole maintain-then-compare path bit-for-bit.
    "evt_drift_state" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val ev = Tables(s, dir, "events").filter($"value".isNotNull)
        .withColumn("v", floor($"value" * 100).cast("long"))
        .filter($"v" >= 1)
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val table = sc.table("state")
      graft.operators.Quantiles.mergeBatch(ev.filter($"ts" < mid),
        Seq("event_type"), "v", table, sc.path("hist"), batchId = 0L)
      graft.operators.Quantiles.mergeBatch(ev.filter($"ts" >= mid),
        Seq("event_type"), "v", table, sc.path("hist"), batchId = 1L)
      graft.operators.Drift
        .driftFromTable(s, table, Seq("event_type"), Seq(0L), Seq(1L))
        .select($"event_type", $"n_a", $"n_b", $"buckets",
          $"ks_num", $"ks", $"tv_num", $"tv", round($"psi", 6).as("psi"))
        .orderBy($"event_type")
    }),

    // The drift monitor run WHOLE, production-shaped: a real Structured
    // Streaming query (checkpointed, AvailableNow) maintains the
    // histogram table via Quantiles.mergeBatch as its per-batch
    // maintenance hook — first half of January arrives and is absorbed,
    // the second half arrives on a restart of the SAME checkpoint, and
    // the first attempt at the second half CRASHES after the state write
    // (the replay must dynamic-overwrite its own partition, never
    // double-count). Drift.driftFromTable between the two batch ranges
    // then answers "did the stream move?" from partition-pruned sketch
    // rows alone. The one-shot evt_drift_value oracle gates the whole
    // maintain-crash-replay-compare path bit-for-bit in its integer
    // columns.
    "cdc_drift_monitor" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val ev = Tables(s, dir, "events").filter($"value".isNotNull)
        .withColumn("v", floor($"value" * 100).cast("long"))
        .filter($"v" >= 1)
        .select($"event_type", $"v", $"ts")
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val table = sc.table("hist")
      val (batchesA, batchesB) = crashReplay(sc,
          ev.filter($"ts" < mid).select($"event_type", $"v"),
          ev.filter($"ts" >= mid).select($"event_type", $"v")) { (b, id) =>
        graft.operators.Quantiles.mergeBatch(b, Seq("event_type"),
          "v", table, sc.path("hist"), id)
      }
      graft.operators.Drift
        .driftFromTable(s, table, Seq("event_type"), batchesA, batchesB)
        .select($"event_type", $"n_a", $"n_b", $"buckets",
          $"ks_num", $"ks", $"tv_num", $"tv", round($"psi", 6).as("psi"))
        .orderBy($"event_type")
    }),

    // The DATA-QUALITY RUNBOOK run whole, production-shaped (the
    // cdc_drift_monitor pattern widened to the full DQ surface): ONE
    // checkpointed stream maintains BOTH state tables per micro-batch —
    // the scalar-suite sufficient statistics + freshness watermark
    // (Checks.mergeBatchSuite) and the value histograms
    // (Quantiles.mergeBatch) — with a crash after the state writes whose
    // replay must dynamic-overwrite its own partitions. The composed
    // nightly report then reads ONLY maintained state: the suite +
    // timeliness from the suite table (Checks.suiteFromTable, explicit
    // asOf) and a distribution-drift verdict between the two batch
    // epochs (Drift.driftFromTable), the verdict an exact integer
    // comparison (tv > 0.2 ⇔ 5·tv_num > 2·n_a·n_b). No raw rescan
    // anywhere; the one-shot oracle gates the whole loop.
    "cdc_dq_runbook" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      import graft.operators.{Checks, Drift, Quantiles}
      val ev = Tables(s, dir, "events").filter($"value".isNotNull)
        .withColumn("v", floor($"value" * 100).cast("long"))
        .filter($"v" >= 1)
        .select($"event_type", $"v", $"ts")
      val mid = lit("2024-01-16 00:00:00").cast("timestamp")
      val suiteTable = sc.table("suite")
      val histTable = sc.table("hist")
      val scalars = Seq(
        Checks.notNull("event_type"),
        Checks.inRange("v", lit(1L), lit(2000L)),
        Checks.matches("event_type", "^[a-z_]+$"))
      // the crash lands after BOTH state writes
      val (batchesA, batchesB) = crashReplay(sc,
          ev.filter($"ts" < mid), ev.filter($"ts" >= mid)) { (b, id) =>
        Checks.mergeBatchSuite(b, scalars, "ts", suiteTable,
          sc.path("suite"), id)
        Quantiles.mergeBatch(b.select($"event_type", $"v"),
          Seq("event_type"), "v", histTable, sc.path("hist"), id)
      }
      val suite = Checks.suiteFromTable(s, suiteTable,
        asOfUs = 1706745600000000L, // 2024-02-01, the q30 idiom
        maxLagUs = 7L * 86400000000L)
      val drift = Drift
        .driftFromTable(s, histTable, Seq("event_type"), batchesA, batchesB)
        .select(lit("drift").as("check_name"),
          $"event_type".as("target"), $"n_b".as("total"),
          when(lit(5L) * $"tv_num" > lit(2L) * $"n_a" * $"n_b", 1L)
            .otherwise(0L).as("violations"))
        .withColumn("passed", $"violations" === 0L)
      suite.unionByName(drift)
        .orderBy($"check_name", $"target")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    // Top-k replay via window rank: at a tie on the k boundary the two
    // engines may keep different ROWS but identical VALUES — and only
    // the value is output, so the comparison is deterministic.
    "evt_topk_values" ->
      """WITH r AS (SELECT event_type, value,
        |  row_number() OVER (PARTITION BY event_type ORDER BY value DESC) AS rank
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, rank::BIGINT AS rank, value
        |FROM r WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,

    // Z-value replay: the parallel-prefix bit spread on UBIGINT, one CTE
    // per step, masks in decimal (0x0000FFFF0000FFFF etc.); the 62-bit
    // result casts back to BIGINT losslessly.
    "evt_zvalue" ->
      """WITH e AS (SELECT event_id, user_id::UBIGINT AS xa,
        |            (epoch_us(ts) // 60000000)::UBIGINT AS xb FROM events),
        |m AS (SELECT event_id, xa & 2147483647 AS a, xb & 2147483647 AS b FROM e),
        |s1 AS (SELECT event_id, (a | (a << 16)) & 281470681808895 AS a,
        |        (b | (b << 16)) & 281470681808895 AS b FROM m),
        |s2 AS (SELECT event_id, (a | (a << 8)) & 71777214294589695 AS a,
        |        (b | (b << 8)) & 71777214294589695 AS b FROM s1),
        |s3 AS (SELECT event_id, (a | (a << 4)) & 1085102592571150095 AS a,
        |        (b | (b << 4)) & 1085102592571150095 AS b FROM s2),
        |s4 AS (SELECT event_id, (a | (a << 2)) & 3689348814741910323 AS a,
        |        (b | (b << 2)) & 3689348814741910323 AS b FROM s3),
        |s5 AS (SELECT event_id, (a | (a << 1)) & 6148914691236517205 AS a,
        |        (b | (b << 1)) & 6148914691236517205 AS b FROM s4)
        |SELECT event_id, (a | (b << 1))::BIGINT AS zval
        |FROM s5 ORDER BY event_id""".stripMargin,

    // HLL-overlap replay: the clicker/buyer streams through the same
    // splitmix+register chain as evt_hll_users; the UNION audience's
    // registers are then DERIVED from those two register frames by
    // register-wise max (regu), mirroring the Spark side's
    // Hll.mergeRegisters — the raw events are scanned for a and b only.
    // Pivoted to one row, inclusion-exclusion in the same a+b-u order.
    "evt_hll_overlap" ->
      """WITH s0 AS (
        |  SELECT 'a' AS t, user_id FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'b', user_id FROM events WHERE event_type = 'purchase'),
        |k0 AS (SELECT t, user_id::HUGEINT AS k FROM s0),
        |x0 AS (SELECT t,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT t, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT t, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT t, xor(z, z >> 31) AS h FROM z2),
        |br AS (SELECT t, (h >> 52)::BIGINT AS bucket,
        |        least(64 - length(bin(((h::HUGEINT * 4096)
        |          % 18446744073709551616)::UBIGINT)) + 1, 53)::INT AS rho
        |       FROM zf),
        |reg AS (SELECT t, bucket, max(rho) AS rho FROM br GROUP BY 1, 2),
        |regu AS (SELECT 'u' AS t, bucket, max(rho) AS rho FROM reg GROUP BY 2),
        |allreg AS (SELECT * FROM reg UNION ALL SELECT * FROM regu),
        |agg AS (SELECT t, count(*) AS v_present,
        |         sum(pow(2.0, -rho)) AS hsum FROM allreg GROUP BY 1),
        |est AS (SELECT t, (4096.0 - v_present) AS zeros,
        |         (0.7213 / (1 + 1.079 / 4096) * 4096) * 4096
        |           / ((4096.0 - v_present) + hsum) AS e_raw
        |        FROM agg),
        |fin AS (SELECT t,
        |         CASE WHEN e_raw <= 2.5 * 4096 AND zeros > 0
        |              THEN 4096.0 * ln(4096.0 / zeros) ELSE e_raw END AS est
        |        FROM est),
        |piv AS (SELECT
        |  max(CASE WHEN t = 'a' THEN est END) AS a,
        |  max(CASE WHEN t = 'b' THEN est END) AS b,
        |  max(CASE WHEN t = 'u' THEN est END) AS u FROM fin),
        |exact AS (SELECT count(*) AS exact_overlap FROM
        |  (SELECT DISTINCT user_id FROM events WHERE event_type = 'click') c
        |  JOIN (SELECT DISTINCT user_id FROM events
        |        WHERE event_type = 'purchase') p USING (user_id))
        |SELECT round(a, 4) AS est_clickers, round(b, 4) AS est_buyers,
        |  round(a + b - u, 4) AS est_overlap, exact_overlap
        |FROM piv, exact""".stripMargin,

    "evt_asof_next_click" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT min(event_id) AS event_id, user_id, ts FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, c.event_id AS next_click_id,
        |  round((epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0, 6) AS wait_s
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts
        |ORDER BY p.event_id""".stripMargin,

    // KMV replay: same splitmix chain on the user-day key, u = h >> 1,
    // DISTINCT, bottom-256 via row_number, θ = min over sides (exact-mode
    // side contributes Long.MaxValue), candidates = common u below θ.
    // n_cand/theta_long integer-exact; the two estimate divisions are
    // deterministic IEEE over exactly-representable operands, round(,4).
    "evt_kmv_overlap" ->
      """WITH s0 AS (
        |  SELECT 'a' AS t, user_id * 100000 + epoch_us(ts) // 86400000000 AS vc
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'b', user_id * 100000 + epoch_us(ts) // 86400000000
        |  FROM events WHERE event_type = 'purchase'),
        |k0 AS (SELECT t, vc::HUGEINT AS k FROM s0),
        |x0 AS (SELECT t,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT t, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT t, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT t, xor(z, z >> 31) AS h FROM z2),
        |ud AS (SELECT DISTINCT t, (h >> 1)::BIGINT AS u FROM zf),
        |rk AS (SELECT t, u, row_number() OVER (PARTITION BY t ORDER BY u) AS r
        |       FROM ud),
        |sk AS (SELECT t, u FROM rk WHERE r <= 256),
        |st AS (SELECT t, count(*) AS c, max(u) AS uk FROM sk GROUP BY t),
        |est AS (SELECT t, CASE WHEN c < 256 THEN c::DOUBLE
        |          ELSE 255.0 * 9223372036854775808.0 / uk::DOUBLE END AS e
        |        FROM st),
        |th AS (SELECT least(
        |    max(CASE WHEN t = 'a' THEN CASE WHEN c < 256
        |        THEN 9223372036854775807 ELSE uk END END),
        |    max(CASE WHEN t = 'b' THEN CASE WHEN c < 256
        |        THEN 9223372036854775807 ELSE uk END END)) AS theta_long
        |  FROM st),
        |cand AS (SELECT count(*) AS n_cand FROM
        |  (SELECT u FROM sk WHERE t = 'a') a
        |  JOIN (SELECT u FROM sk WHERE t = 'b') b USING (u), th
        |  WHERE u < theta_long),
        |ex AS (SELECT count(*) AS exact_overlap FROM
        |  (SELECT DISTINCT user_id * 100000 + epoch_us(ts) // 86400000000 AS ud
        |   FROM events WHERE event_type = 'click') ca
        |  JOIN (SELECT DISTINCT user_id * 100000 + epoch_us(ts) // 86400000000 AS ud
        |        FROM events WHERE event_type = 'purchase') pb USING (ud)),
        |piv AS (SELECT max(CASE WHEN t = 'a' THEN e END) AS ea,
        |               max(CASE WHEN t = 'b' THEN e END) AS eb FROM est)
        |SELECT round(ea, 4) AS est_click_days, round(eb, 4) AS est_buy_days,
        |  round(n_cand::DOUBLE / (CASE WHEN theta_long = 9223372036854775807
        |    THEN 1.0 ELSE theta_long::DOUBLE / 9223372036854775808.0 END), 4)
        |    AS est_overlap_days,
        |  n_cand, exact_overlap
        |FROM piv, cand, th, ex""".stripMargin,

    // A-not-B replay: identical splitmix chain and bottom-256 sketches,
    // candidates = A's values below min-theta ANTI-joined against B,
    // exact |A \ B| from the raw distinct sets beside
    "evt_kmv_diff" ->
      """WITH s0 AS (
        |  SELECT 'a' AS t, user_id * 100000 + epoch_us(ts) // 86400000000 AS vc
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT 'b', user_id * 100000 + epoch_us(ts) // 86400000000
        |  FROM events WHERE event_type = 'purchase'),
        |k0 AS (SELECT t, vc::HUGEINT AS k FROM s0),
        |x0 AS (SELECT t,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT t, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT t, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT t, xor(z, z >> 31) AS h FROM z2),
        |ud AS (SELECT DISTINCT t, (h >> 1)::BIGINT AS u FROM zf),
        |rk AS (SELECT t, u, row_number() OVER (PARTITION BY t ORDER BY u) AS r
        |       FROM ud),
        |sk AS (SELECT t, u FROM rk WHERE r <= 256),
        |st AS (SELECT t, count(*) AS c, max(u) AS uk FROM sk GROUP BY t),
        |th AS (SELECT least(
        |    max(CASE WHEN t = 'a' THEN CASE WHEN c < 256
        |        THEN 9223372036854775807 ELSE uk END END),
        |    max(CASE WHEN t = 'b' THEN CASE WHEN c < 256
        |        THEN 9223372036854775807 ELSE uk END END)) AS theta_long
        |  FROM st),
        |cand AS (SELECT count(*) AS n_cand FROM
        |  (SELECT u FROM sk WHERE t = 'a') a, th
        |  WHERE u < theta_long
        |    AND NOT EXISTS (SELECT 1 FROM sk b
        |                    WHERE b.t = 'b' AND b.u = a.u)),
        |ex AS (SELECT count(*) AS exact_diff FROM
        |  (SELECT DISTINCT user_id * 100000 + epoch_us(ts) // 86400000000 AS ud
        |   FROM events WHERE event_type = 'click') ca
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM (SELECT DISTINCT user_id * 100000
        |        + epoch_us(ts) // 86400000000 AS ud
        |      FROM events WHERE event_type = 'purchase') pb
        |    WHERE pb.ud = ca.ud))
        |SELECT n_cand::BIGINT AS n_cand, theta_long,
        |  round(n_cand::DOUBLE / (CASE WHEN theta_long = 9223372036854775807
        |    THEN 1.0 ELSE theta_long::DOUBLE / 9223372036854775808.0 END), 4)
        |    AS est_diff_days,
        |  exact_diff::BIGINT AS exact_diff
        |FROM cand, th, ex""".stripMargin,

    // maintained-KMV replay: one-shot bottom-256 over the whole click
    // stream — valid as the oracle for the batch-partitioned table
    // because the KMV combine is exactly merge-invariant
    // matrix replay: the per-type splitmix chain, bottom-256 per type,
    // theta grid, candidate self-join, exact overlaps beside
    "evt_kmv_matrix" ->
      """WITH s0 AS (
        |  SELECT event_type AS t,
        |    user_id * 100000 + epoch_us(ts) // 86400000000 AS vc
        |  FROM events),
        |k0 AS (SELECT t, vc::HUGEINT AS k FROM s0),
        |x0 AS (SELECT t,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT t, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT t, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT t, xor(z, z >> 31) AS h FROM z2),
        |ud AS (SELECT DISTINCT t, (h >> 1)::BIGINT AS u FROM zf),
        |rk AS (SELECT t, u, row_number() OVER (PARTITION BY t ORDER BY u) AS r
        |       FROM ud),
        |sk AS (SELECT t, u FROM rk WHERE r <= 256),
        |st AS (SELECT t, CASE WHEN count(*) < 256 THEN 9223372036854775807
        |         ELSE max(u) END AS th FROM sk GROUP BY t),
        |pairs AS (SELECT a.t AS seg_a, b.t AS seg_b,
        |            least(a.th, b.th) AS theta_long
        |          FROM st a JOIN st b ON a.t < b.t),
        |cand AS (SELECT a.t AS seg_a, b.t AS seg_b, count(*) AS n_cand
        |         FROM sk a JOIN sk b ON a.u = b.u AND a.t < b.t
        |         JOIN pairs p ON p.seg_a = a.t AND p.seg_b = b.t
        |         WHERE a.u < p.theta_long GROUP BY 1, 2),
        |exd AS (SELECT DISTINCT t, vc FROM s0),
        |ex AS (SELECT a.t AS seg_a, b.t AS seg_b, count(*) AS exact_overlap
        |       FROM exd a JOIN exd b ON a.vc = b.vc AND a.t < b.t
        |       GROUP BY 1, 2)
        |SELECT p.seg_a, p.seg_b, coalesce(n_cand, 0) AS n_cand, p.theta_long,
        |  round(coalesce(n_cand, 0)::DOUBLE /
        |    (CASE WHEN p.theta_long = 9223372036854775807 THEN 1.0
        |     ELSE p.theta_long::DOUBLE / 9223372036854775808.0 END), 4)
        |    AS est_overlap,
        |  coalesce(exact_overlap, 0) AS exact_overlap
        |FROM pairs p LEFT JOIN cand USING (seg_a, seg_b)
        |LEFT JOIN ex USING (seg_a, seg_b)
        |ORDER BY seg_a, seg_b""".stripMargin,

    "evt_kmv_state" ->
      """WITH s0 AS (
        |  SELECT user_id * 100000 + epoch_us(ts) // 86400000000 AS vc
        |  FROM events WHERE event_type = 'click'),
        |k0 AS (SELECT vc::HUGEINT AS k FROM s0),
        |x0 AS (SELECT
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT xor(z, z >> 31) AS h FROM z2),
        |ud AS (SELECT DISTINCT (h >> 1)::BIGINT AS u FROM zf),
        |rk AS (SELECT u, row_number() OVER (ORDER BY u) AS r FROM ud),
        |sk AS (SELECT u FROM rk WHERE r <= 256),
        |st AS (SELECT count(*) AS n_sk, max(u) AS u_max FROM sk)
        |SELECT round(CASE WHEN n_sk < 256 THEN n_sk::DOUBLE
        |    ELSE 255.0 * 9223372036854775808.0 / u_max::DOUBLE END, 4)
        |    AS est_click_days,
        |  n_sk, u_max
        |FROM st""".stripMargin,

    // Count-Min replay, integer-exact (no rounding anywhere): per-event
    // cells from the row-seeded splitmix64 (seed r·GAMMA added under the
    // 2^64 wrap), counter sums per (row, col), min over the queried
    // users' cells. GAMMA unsigned = 11400714819323198485.
    "evt_cms_users" ->
      """WITH cc AS (SELECT user_id, r FROM events, range(0, 4) t(r)),
        |kk AS (SELECT user_id, r,
        |  ((user_id::HUGEINT + r * 11400714819323198485) % 18446744073709551616) AS k
        |  FROM cc),
        |x0 AS (SELECT user_id, r,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM kk),
        |z1 AS (
        |  SELECT user_id, r, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT user_id, r, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |cell AS (SELECT user_id, r, ((xor(z, z >> 31)) >> 54)::BIGINT AS col FROM z2),
        |sk AS (SELECT r AS row, col, count(*)::BIGINT AS cnt FROM cell GROUP BY 1, 2),
        |ex AS (SELECT user_id, count(*)::BIGINT AS exact_cnt FROM events
        |       GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 20),
        |qc AS (SELECT DISTINCT e.user_id, c.r, c.col
        |       FROM ex e JOIN cell c USING (user_id)),
        |est AS (SELECT qc.user_id, min(sk.cnt)::BIGINT AS cms_est
        |        FROM qc JOIN sk ON sk.row = qc.r AND sk.col = qc.col
        |        GROUP BY 1)
        |SELECT e.user_id, e.exact_cnt, est.cms_est
        |FROM ex e JOIN est USING (user_id)
        |ORDER BY exact_cnt DESC, user_id""".stripMargin,

    // CMS-merge replay, integer-exact: same hash chain as evt_cms_users
    // but every cell carries its event's day-parity tag; the MERGED
    // sketch is the per-parity counter sums summed per (row, col) — the
    // structural mirror of CountMin.mergeSketches — while the ONE-SHOT
    // sketch counts cells directly. Both estimates are emitted and must
    // agree row by row (counter additivity over disjoint inputs).
    "evt_cms_merge" ->
      """WITH cc AS (SELECT user_id, day(ts) % 2 AS par, r
        |  FROM events, range(0, 4) t(r)),
        |kk AS (SELECT user_id, par, r,
        |  ((user_id::HUGEINT + r * 11400714819323198485) % 18446744073709551616) AS k
        |  FROM cc),
        |x0 AS (SELECT user_id, par, r,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM kk),
        |z1 AS (
        |  SELECT user_id, par, r, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT user_id, par, r, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |cell AS (SELECT user_id, par, r, ((xor(z, z >> 31)) >> 54)::BIGINT AS col FROM z2),
        |skp AS (SELECT par, r AS row, col, count(*)::BIGINT AS cnt
        |        FROM cell GROUP BY 1, 2, 3),
        |skm AS (SELECT row, col, sum(cnt)::BIGINT AS cnt FROM skp GROUP BY 1, 2),
        |sko AS (SELECT r AS row, col, count(*)::BIGINT AS cnt FROM cell GROUP BY 1, 2),
        |ex AS (SELECT user_id, count(*)::BIGINT AS exact_cnt FROM events
        |       GROUP BY 1 ORDER BY exact_cnt DESC, user_id LIMIT 20),
        |qc AS (SELECT DISTINCT e.user_id, c.r, c.col
        |       FROM ex e JOIN cell c USING (user_id)),
        |estm AS (SELECT qc.user_id, min(skm.cnt)::BIGINT AS cms_merged
        |         FROM qc JOIN skm ON skm.row = qc.r AND skm.col = qc.col
        |         GROUP BY 1),
        |esto AS (SELECT qc.user_id, min(sko.cnt)::BIGINT AS cms_oneshot
        |         FROM qc JOIN sko ON sko.row = qc.r AND sko.col = qc.col
        |         GROUP BY 1)
        |SELECT e.user_id, e.exact_cnt, m.cms_merged, o.cms_oneshot
        |FROM ex e JOIN estm m USING (user_id) JOIN esto o USING (user_id)
        |ORDER BY exact_cnt DESC, user_id""".stripMargin,

    // join-size replay: same splitmix chain over DISTINCT users (the
    // hash depends only on the key), per-(row,col) counter sums weighted
    // by each side's key frequency, inner product per row, min across
    // the 4 rows — bit-identical to CountMin.joinSizeEstimate
    "evt_join_size" ->
      """WITH u AS (SELECT user_id,
        |    sum((event_type = 'click')::INT)::BIGINT AS ca,
        |    sum((event_type = 'purchase')::INT)::BIGINT AS cb
        |  FROM events GROUP BY 1),
        |cc AS (SELECT user_id, r FROM u, range(0, 4) t(r)),
        |kk AS (SELECT user_id, r,
        |  ((user_id::HUGEINT + r * 11400714819323198485) % 18446744073709551616) AS k
        |  FROM cc),
        |x0 AS (SELECT user_id, r,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM kk),
        |z1 AS (
        |  SELECT user_id, r, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT user_id, r, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |cell AS (SELECT user_id, r, ((xor(z, z >> 31)) >> 54)::BIGINT AS col FROM z2),
        |grid AS (SELECT c.r, c.col, u.ca, u.cb
        |         FROM cell c JOIN u USING (user_id)),
        |sk AS (SELECT r, col, sum(ca)::HUGEINT AS a, sum(cb)::HUGEINT AS b
        |       FROM grid GROUP BY 1, 2),
        |ip AS (SELECT r, sum(a * b)::HUGEINT AS ip FROM sk GROUP BY 1)
        |SELECT min(ip)::BIGINT AS cms_join_est,
        |  (SELECT sum(ca * cb)::BIGINT FROM u) AS exact_join_size
        |FROM ip""".stripMargin,

    // Full quantile-sketch replay — HDR bucket math in integer SQL:
    // exponent via length(bin(v))-1, sub-bucket by shift-free division
    // (the e>=m branch divides by 2^(e-m), mirroring Quantiles.bucketOf's
    // overflow-safe form), inclusive upper bounds with the same e>=m /
    // e<m split, rank pick = cumulative sum vs ceil(q·n) on DOUBLE-cast
    // operands (so both engines run the identical IEEE multiply). The
    // merge path needs no replay: counter sums over disjoint parity
    // splits equal the one-shot histogram exactly, which is what the
    // Spark side gates by going through mergeHistograms.
    "evt_quantile_sketch" ->
      """WITH v0 AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v
        |            FROM events WHERE value IS NOT NULL),
        |vv AS (SELECT * FROM v0 WHERE v >= 1),
        |b AS (SELECT event_type, v, (length(bin(v)) - 1) AS e FROM vv),
        |bk AS (SELECT event_type,
        |  (e::BIGINT << 5) + CASE WHEN e >= 5
        |     THEN (v - (1::BIGINT << e)) // (1::BIGINT << (e - 5))
        |     ELSE ((v - (1::BIGINT << e)) << 5) // (1::BIGINT << e) END AS bucket
        |  FROM b),
        |h AS (SELECT event_type, bucket, count(*)::BIGINT AS cnt
        |      FROM bk GROUP BY 1, 2),
        |u AS (SELECT event_type, bucket, cnt,
        |  CASE WHEN (bucket >> 5) >= 5
        |    THEN (1::BIGINT << (bucket >> 5)) - 1
        |         + ((bucket & 31) + 1) * (1::BIGINT << ((bucket >> 5) - 5))
        |    ELSE (1::BIGINT << (bucket >> 5))
        |         + (((bucket & 31) + 1) * (1::BIGINT << (bucket >> 5)) + 31) // 32
        |         - 1 END AS ub
        |  FROM h),
        |c AS (SELECT event_type, ub, cnt,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |  sum(cnt) OVER (PARTITION BY event_type) AS n FROM u),
        |q AS (SELECT event_type, max(n)::BIGINT AS n,
        |  min(CASE WHEN cum >= ceil(0.5::DOUBLE * n::DOUBLE) THEN ub END) AS p50_cents,
        |  min(CASE WHEN cum >= ceil(0.95::DOUBLE * n::DOUBLE) THEN ub END) AS p95_cents,
        |  min(CASE WHEN cum >= ceil(0.99::DOUBLE * n::DOUBLE) THEN ub END) AS p99_cents
        |  FROM c GROUP BY event_type)
        |SELECT q.event_type, q.n, q.p50_cents, q.p95_cents, q.p99_cents,
        |  round(sum(CASE WHEN vv.v <= q.p50_cents THEN 1 ELSE 0 END)::DOUBLE
        |    / q.n::DOUBLE, 6) AS cov_p50,
        |  round(sum(CASE WHEN vv.v <= q.p95_cents THEN 1 ELSE 0 END)::DOUBLE
        |    / q.n::DOUBLE, 6) AS cov_p95,
        |  round(sum(CASE WHEN vv.v <= q.p99_cents THEN 1 ELSE 0 END)::DOUBLE
        |    / q.n::DOUBLE, 6) AS cov_p99
        |FROM q JOIN vv ON vv.event_type = q.event_type
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY q.event_type""".stripMargin,

    // Full HLL replay: splitmix64 via the 32-bit-halves HUGEINT wrap
    // (the knn_lsh formulation), rank = 64 − len(bin(w)) + 1 capped at
    // 64−p+1 (bin prints no leading zeros; bin(0)='0' caps out), then
    // registers → harmonic mean → α·m²/Σ with the linear-counting branch.
    // The arithmetic mirrors Hll.estimateFromRegisters' operation order;
    // Σ2^(−rho) is the one order-sensitive double sum, absorbed by
    // round(,4) (pow(2,−k) itself is IEEE-exact).
    "evt_hll_users" ->
      """WITH k0 AS (SELECT event_type, user_id::HUGEINT AS k FROM events),
        |x0 AS (SELECT event_type,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT event_type, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT event_type, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT event_type, xor(z, z >> 31) AS h FROM z2),
        |br AS (SELECT event_type, (h >> 52)::BIGINT AS bucket,
        |        least(64 - length(bin(((h::HUGEINT * 4096)
        |          % 18446744073709551616)::UBIGINT)) + 1, 53)::INT AS rho
        |       FROM zf),
        |reg AS (SELECT event_type, bucket, max(rho) AS rho FROM br GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS v_present,
        |         sum(pow(2.0, -rho)) AS hsum FROM reg GROUP BY 1),
        |est AS (SELECT event_type, (4096.0 - v_present) AS zeros,
        |         (0.7213 / (1 + 1.079 / 4096) * 4096) * 4096
        |           / ((4096.0 - v_present) + hsum) AS e_raw
        |        FROM agg),
        |fin AS (SELECT event_type,
        |         CASE WHEN e_raw <= 2.5 * 4096 AND zeros > 0
        |              THEN 4096.0 * ln(4096.0 / zeros) ELSE e_raw END AS est
        |        FROM est),
        |exact AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
        |          FROM events GROUP BY 1)
        |SELECT f.event_type, round(f.est, 4) AS est_users, x.exact_users
        |FROM fin f JOIN exact x USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // SpaceSaving no-eviction regime: est = lb = exact count, so the
    // replay is plain exact counting behind the lb threshold.
    "evt_freq_items" ->
      """SELECT user_id, count(*)::BIGINT AS est_cnt,
        |  count(*)::BIGINT AS lb_cnt
        |FROM events GROUP BY user_id HAVING count(*) > 66
        |ORDER BY user_id""".stripMargin,

    // maintained-table combine in the no-eviction regime: per-batch
    // minimums are all 0, so the n-way merge (sum of per-batch counts,
    // absent batches charged 0) is exactly the global count — batch
    // partitioning cannot move the answer, only break it.
    "evt_freq_items_state" ->
      """SELECT user_id, count(*)::BIGINT AS est_cnt,
        |  count(*)::BIGINT AS lb_cnt
        |FROM events GROUP BY user_id HAVING count(*) > 66
        |ORDER BY user_id""".stripMargin,

    // cumulative-uniques replay: the evt_hll_users splitmix chain keyed
    // by day, densified onto the day x bucket grid, cumulative window
    // max, estimator, with exact to-date distinct alongside
    "evt_cumulative_uniques" ->
      """WITH e AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |k0 AS (SELECT day, user_id::HUGEINT AS k FROM e),
        |x0 AS (SELECT day,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT day, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT day, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT day, xor(z, z >> 31) AS h FROM z2),
        |br AS (SELECT day, (h >> 52)::BIGINT AS bucket,
        |        least(64 - length(bin(((h::HUGEINT * 4096)
        |          % 18446744073709551616)::UBIGINT)) + 1, 53)::INT AS rho
        |       FROM zf),
        |reg AS (SELECT day, bucket, max(rho) AS rho FROM br GROUP BY 1, 2),
        |days AS (SELECT DISTINCT day FROM reg),
        |bks AS (SELECT DISTINCT bucket FROM reg),
        |cum AS (SELECT g.day, g.bucket,
        |  max(r.rho) OVER (PARTITION BY g.bucket ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rho
        |  FROM (SELECT day, bucket FROM days CROSS JOIN bks) g
        |  LEFT JOIN reg r USING (day, bucket)),
        |agg AS (SELECT day, count(*) AS v_present,
        |         sum(pow(2.0, -rho)) AS hsum
        |        FROM cum WHERE rho IS NOT NULL GROUP BY 1),
        |est AS (SELECT day, (4096.0 - v_present) AS zeros,
        |         (0.7213 / (1 + 1.079 / 4096) * 4096) * 4096
        |           / ((4096.0 - v_present) + hsum) AS e_raw
        |        FROM agg),
        |fin AS (SELECT day,
        |         CASE WHEN e_raw <= 2.5 * 4096 AND zeros > 0
        |              THEN 4096.0 * ln(4096.0 / zeros) ELSE e_raw END AS est
        |        FROM est),
        |exact AS (SELECT d.day, count(DISTINCT e.user_id) AS exact_cum
        |          FROM days d JOIN e ON e.day <= d.day GROUP BY 1)
        |SELECT f.day::VARCHAR AS day, round(f.est, 4) AS est_cum,
        |  x.exact_cum
        |FROM fin f JOIN exact x USING (day)
        |ORDER BY day""".stripMargin,

    // resample replay: same binning, per-user range() grid, left join,
    // and the identical count-of-non-nulls fill-group windows
    "evt_resample_daily" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_bin,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS obs_cents,
        |    count(*) AS n_obs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day_bin) AS lo, max(day_bin) AS hi
        |      FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day_bin FROM s),
        |j AS (SELECT g.user_id, g.day_bin, b.obs_cents,
        |        coalesce(b.n_obs, 0) AS n_obs
        |      FROM g LEFT JOIN b USING (user_id, day_bin)),
        |f AS (SELECT user_id, day_bin, obs_cents, n_obs,
        |        count(obs_cents) OVER (PARTITION BY user_id ORDER BY day_bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fg
        |      FROM j)
        |SELECT user_id, day_bin,
        |  CAST(max(obs_cents) OVER (PARTITION BY user_id, fg) AS BIGINT) AS cents,
        |  n_obs
        |FROM f ORDER BY user_id, day_bin""".stripMargin,

    // interpolation replay: same binning + grid, prev/next neighbors via
    // IGNORE NULLS windows, then the identical IEEE expression
    "evt_resample_interp" ->
      """WITH b AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day_bin,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS obs_cents,
        |    count(*) AS n_obs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day_bin) AS lo, max(day_bin) AS hi
        |      FROM b GROUP BY 1),
        |g AS (SELECT user_id, unnest(range(lo, hi + 1)) AS day_bin FROM s),
        |j AS (SELECT g.user_id, g.day_bin, b.obs_cents,
        |        coalesce(b.n_obs, 0) AS n_obs
        |      FROM g LEFT JOIN b USING (user_id, day_bin)),
        |n AS (SELECT *,
        |        last_value(obs_cents IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY day_bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc,
        |        last_value(CASE WHEN obs_cents IS NOT NULL THEN day_bin END
        |            IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY day_bin
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb,
        |        first_value(obs_cents IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY day_bin
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc,
        |        first_value(CASE WHEN obs_cents IS NOT NULL THEN day_bin END
        |            IGNORE NULLS) OVER
        |          (PARTITION BY user_id ORDER BY day_bin
        |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
        |      FROM j)
        |SELECT user_id, day_bin,
        |  CASE WHEN obs_cents IS NOT NULL THEN obs_cents::DOUBLE
        |       ELSE pc::DOUBLE + (nc - pc)::DOUBLE * (day_bin - pb)::DOUBLE
        |            / (nb - pb)::DOUBLE END AS cents,
        |  n_obs
        |FROM n ORDER BY user_id, day_bin""".stripMargin,

    // interval replay: sessionization CTE + the plain (IEJoin-able)
    // overlap join — the bucketized Spark plan must be row-identical
    "evt_interval_overlap" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events
        |), sx AS (
        |  SELECT user_id, event_id, ts,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM d
        |), s AS (
        |  SELECT user_id, min(event_id) AS session_id,
        |    min(epoch_us(ts))::BIGINT AS s_start,
        |    max(epoch_us(ts))::BIGINT AS s_end
        |  FROM sx GROUP BY user_id, sess
        |), i AS (
        |  SELECT event_id AS incident_id,
        |    epoch_us(ts)::BIGINT AS i_start,
        |    (epoch_us(ts) + 3600000000)::BIGINT AS i_end
        |  FROM events WHERE event_type = 'error' AND event_id % 50 = 0
        |)
        |SELECT s.user_id, s.session_id, i.incident_id,
        |  (least(s.s_end, i.i_end) -
        |   greatest(s.s_start, i.i_start))::BIGINT AS overlap_us
        |FROM s JOIN i ON s.s_start <= i.i_end AND i.i_start <= s.s_end
        |ORDER BY s.user_id, s.session_id, i.incident_id""".stripMargin,

    "evt_pivot_daily" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "evt_asof_click" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.event_id, c.event_id AS click_id,
        |  round((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0, 6) AS gap_s
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,

    "evt_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
        |      WHERE event_type = 'click' GROUP BY user_id, ts),
        |j AS (SELECT p.event_id, c.event_id AS click_id,
        |        epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |      FROM p ASOF LEFT JOIN c
        |        ON p.user_id = c.user_id AND p.ts >= c.ts)
        |SELECT event_id,
        |  CASE WHEN gap_us <= 900000000 THEN click_id END AS click_id,
        |  CASE WHEN gap_us <= 900000000
        |       THEN round(gap_us / 1000000.0, 6) END AS gap_s
        |FROM j ORDER BY event_id""".stripMargin,

    "evt_transitions" ->
      """WITH l AS (SELECT user_id, event_type,
        |  lead(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |t AS (SELECT event_type AS from_state, next_type AS to_state,
        |    count(*)::BIGINT AS n
        |  FROM l WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_state, sum(n)::BIGINT AS tn FROM t GROUP BY 1)
        |SELECT t.from_state, t.to_state, t.n,
        |  (t.n::DOUBLE / tot.tn::DOUBLE) AS p
        |FROM t JOIN tot USING (from_state)
        |ORDER BY from_state, to_state""".stripMargin,

    "evt_sessions" ->
      """WITH d AS (
        |  SELECT user_id, event_id, value, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, value,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM d
        |)
        |SELECT user_id, min(event_id) AS session_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_id""".stripMargin,

    "evt_sessions_native" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id) AS gap
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM d
        |)
        |SELECT user_id, min(event_id) AS session_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, session_id""".stripMargin,

    "evt_skew_agg" ->
      """SELECT event_type, count(event_id) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  max(value) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "evt_range_join" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, count(c.ts) AS n_clicks
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND epoch_us(c.ts) >= epoch_us(p.ts) - 600000000
        |  AND epoch_us(c.ts) < epoch_us(p.ts)
        |GROUP BY p.event_id
        |ORDER BY p.event_id""".stripMargin,

    "evt_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) us FROM events),
        |s1 AS (SELECT user_id, min(us) t FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) t FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND us > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) t FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND us > s2.t GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(us) t FROM e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > s3.t GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS step_name, count(*)::BIGINT AS n_users FROM s1
        |UNION ALL SELECT 2, 'view', count(*)::BIGINT FROM s2
        |UNION ALL SELECT 3, 'click', count(*)::BIGINT FROM s3
        |UNION ALL SELECT 4, 'purchase', count(*)::BIGINT FROM s4
        |ORDER BY step""".stripMargin,

    "evt_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) us FROM events),
        |s1 AS (SELECT user_id, min(us) t FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(us) t FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'view' AND us > s1.t
        |         AND us - s1.t <= 172800000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(us) t FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'click' AND us > s2.t
        |         AND us - s2.t <= 172800000000 GROUP BY 1),
        |s4 AS (SELECT e.user_id, min(us) t FROM e JOIN s3 USING (user_id)
        |       WHERE event_type = 'purchase' AND us > s3.t
        |         AND us - s3.t <= 172800000000 GROUP BY 1)
        |SELECT 1 AS step, 'signup' AS step_name, count(*)::BIGINT AS n_users FROM s1
        |UNION ALL SELECT 2, 'view', count(*)::BIGINT FROM s2
        |UNION ALL SELECT 3, 'click', count(*)::BIGINT FROM s3
        |UNION ALL SELECT 4, 'purchase', count(*)::BIGINT FROM s4
        |ORDER BY step""".stripMargin,

    "evt_cusum_shift" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, count(*)::BIGINT AS n,
        |        sum(n_events)::BIGINT AS sx
        |      FROM daily GROUP BY 1),
        |p AS (SELECT daily.event_type, d, n_events, n,
        |        sum(n * n_events - sx - n * 2) OVER
        |          (PARTITION BY daily.event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |          AS pp
        |      FROM daily JOIN s USING (event_type)),
        |c AS (SELECT event_type, d, n_events, n,
        |        (pp - least(0, min(pp) OVER
        |          (PARTITION BY event_type ORDER BY d
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))::BIGINT
        |          AS cusum
        |      FROM p)
        |SELECT event_type, d::VARCHAR AS day, n_events, n, cusum,
        |  cusum > n * 20 AS alarm
        |FROM c ORDER BY event_type, day""".stripMargin,

    // the truncated-EWMA replay: each weight is the same left-associated
    // 0.7·0.7·… chain the engine folds, each sum the same left-
    // associated + chain — bit-identical doubles before the round-6
    // release; alarm compares the rounded signals
    "evt_ewma" -> {
      def pwChain(i: Int): String =
        if (i == 0) "1.0" else Seq.fill(i)("0.7").mkString(" * ")
      def lg(i: Int): String = s"lag(n_events::DOUBLE, $i) OVER w"
      def term(i: Int): String =
        s"CASE WHEN ${lg(i)} IS NOT NULL THEN ${pwChain(i)} * ${lg(i)} ELSE 0.0 END"
      def mass(i: Int): String =
        s"CASE WHEN ${lg(i)} IS NOT NULL THEN ${pwChain(i)} ELSE 0.0 END"
      def smooth(from: Int, until: Int): String = {
        val num = (from until until).map(term).mkString("\n      + ")
        val den = (from until until).map(mass).mkString("\n      + ")
        s"CASE WHEN (${den}) > 0.0 THEN (${num}) / (${den}) END"
      }
      s"""WITH daily AS (
         |  SELECT event_type, CAST(ts AS DATE) AS d,
         |    count(*)::BIGINT AS n_events
         |  FROM events GROUP BY 1, 2),
         |sm AS (SELECT event_type, d, n_events,
         |    round(${smooth(0, 8)}, 6) AS ewma,
         |    round(${smooth(1, 9)}, 6) AS prior_ewma,
         |    round(n_events::DOUBLE - (${smooth(1, 9)}), 6) AS dev
         |  FROM daily
         |  WINDOW w AS (PARTITION BY event_type ORDER BY d))
         |SELECT event_type, d::VARCHAR AS day, n_events, ewma,
         |  prior_ewma, dev,
         |  coalesce(abs(dev) > 0.5 * abs(prior_ewma), false) AS alarm
         |FROM sm ORDER BY event_type, day""".stripMargin
    },

    "evt_anomaly_daily" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |stats AS (
        |  SELECT event_type, count(*)::BIGINT AS nd,
        |    sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
        |  FROM daily GROUP BY event_type)
        |SELECT daily.event_type, daily.d, daily.n,
        |  CASE WHEN nd > 1 AND (s2 - s1 * (s1 / CAST(nd AS DOUBLE))) / (nd - 1) > 0
        |       THEN round((daily.n - s1 / CAST(nd AS DOUBLE)) /
        |         sqrt((s2 - s1 * (s1 / CAST(nd AS DOUBLE))) / (nd - 1)), 4)
        |       END AS z
        |FROM daily JOIN stats USING (event_type)
        |ORDER BY event_type, d""".stripMargin,

    // whole estimator replayed in integer space: doubled-unit medians via
    // quantile_cont (exact midpoints of even integers), the all-integer
    // flag, and the single raw-gated IEEE division for the robust z.
    "evt_anomaly_mad" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |med AS (
        |  SELECT event_type, CAST(quantile_cont(2 * n, 0.5) AS BIGINT) AS med2
        |  FROM daily GROUP BY 1),
        |d2 AS (
        |  SELECT daily.event_type, daily.d, daily.n, med.med2,
        |    abs(2 * daily.n - med.med2)::BIGINT AS dd
        |  FROM daily JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, CAST(quantile_cont(2 * dd, 0.5) AS BIGINT) AS mad4
        |  FROM d2 GROUP BY 1)
        |SELECT d2.event_type, d2.d, d2.n, d2.med2, mad.mad4,
        |  CASE WHEN mad.mad4 > 0 THEN
        |    CAST(sign(2 * d2.n - d2.med2) AS BIGINT) * (d2.dd * 2) / mad.mad4
        |  END AS mad_z,
        |  (d2.dd * 4 > mad.mad4 * 7) AS is_outlier
        |FROM d2 JOIN mad USING (event_type)
        |ORDER BY event_type, d""".stripMargin,

    // exact-percentile bounds + raw min/max clamp — quantile_cont is
    // bit-identical to Spark's exact percentile (the doc_quality_bins
    // revalidation), so the whole frame compares raw.
    "evt_winsorize_value" ->
      """WITH b AS (
        |  SELECT event_type,
        |    quantile_cont(value, 0.01) AS p_lo,
        |    quantile_cont(value, 0.99) AS p_hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, b.p_lo, b.p_hi,
        |  CASE WHEN e.value IS NOT NULL
        |       THEN greatest(b.p_lo, least(b.p_hi, e.value)) END AS value_w
        |FROM events e JOIN b USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "evt_cohort_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS cohort_date FROM e GROUP BY user_id)
        |SELECT f.cohort_date, (e.d - f.cohort_date)::BIGINT AS offset_days,
        |  count(*)::BIGINT AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Hopping-window replay: Spark assigns an event at t to the
    // len/slide = 4 epoch-aligned starts floor(t/slide)·slide − i·slide;
    // a VALUES fan-out join states the same rule. sum(cents) cast back
    // to BIGINT (DuckDB widens to HUGEINT — the round-9 lesson).
    "evt_hopping_volume" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |w AS (SELECT event_type, cents,
        |        ((t // 900000000) - i) * 900000000 AS ws
        |      FROM e CROSS JOIN (VALUES (0), (1), (2), (3)) AS o(i))
        |SELECT event_type, make_timestamp(ws) AS win_start,
        |  count(*)::BIGINT AS n, CAST(sum(cents) AS BIGINT) AS cents
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Drift replay: the Quantiles bucket layout (bit length + shifts —
    // the evt_quantile_sketch CTE), both sides pivoted from one scan
    // (equals the full-outer join + zero-fill exactly), then the same
    // integer numerators and the same IEEE expressions. ks/tv are gated
    // RAW — exact BIGINT operands through one correctly-rounded division
    // chain each; psi replays the half-count smoothing and rounds to 6
    // (ln is 1-ulp-bounded, the sum order-sensitive).
    "evt_drift_value" -> DriftValueOracle,

    // maintained-histogram drift: counter-sum merges of disjoint batch
    // partitions equal the one-shot histograms exactly, so the
    // one-shot replay IS the oracle for the table-backed comparison
    "evt_drift_state" -> DriftValueOracle,
    // the production monitor (streaming maintenance + crash/replay +
    // batch-range comparison) must reproduce the identical one-shot drift
    "cdc_drift_monitor" -> DriftValueOracle,

    // the one-shot replay of the composed runbook: scalar counts +
    // freshness from one aggregate over the feed, the drift verdict from
    // the DriftValueOracle machinery reduced to its exact-integer
    // comparison (tv > 0.2 ⇔ 5·tv_num > 2·n_a·n_b)
    "cdc_dq_runbook" ->
      """WITH feed AS (SELECT event_type,
        |                CAST(floor(value * 100) AS BIGINT) AS v, ts
        |              FROM events WHERE value IS NOT NULL
        |                AND CAST(floor(value * 100) AS BIGINT) >= 1),
        |s AS (SELECT count(*)::BIGINT AS n,
        |  sum((event_type IS NULL)::INT)::BIGINT AS v_null,
        |  sum((v < 1 OR v > 2000)::INT)::BIGINT AS v_range,
        |  sum((event_type IS NULL
        |       OR NOT regexp_matches(event_type, '^[a-z_]+$'))::INT)::BIGINT
        |    AS v_re,
        |  max(epoch_us(ts))::BIGINT AS mx
        |  FROM feed),
        |scal AS (
        |  SELECT 'not_null' AS check_name, 'event_type' AS target,
        |    n AS total, v_null AS violations FROM s
        |  UNION ALL SELECT 'in_range', 'v', n, v_range FROM s
        |  UNION ALL SELECT 'matches', 'event_type', n, v_re FROM s
        |  UNION ALL SELECT 'fresh', 'ts',
        |    coalesce(1706745600000000 - mx, -1)::BIGINT,
        |    CASE WHEN mx IS NOT NULL
        |           AND 1706745600000000 - mx <= 604800000000
        |         THEN 0 ELSE 1 END::BIGINT FROM s),
        |vv AS (SELECT event_type,
        |         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |              THEN 0 ELSE 1 END AS side, v
        |       FROM feed),
        |b AS (SELECT event_type, side, v, (length(bin(v)) - 1) AS e FROM vv),
        |bk AS (SELECT event_type, side,
        |  (e::BIGINT << 5) + CASE WHEN e >= 5
        |     THEN (v - (1::BIGINT << e)) // (1::BIGINT << (e - 5))
        |     ELSE ((v - (1::BIGINT << e)) << 5) // (1::BIGINT << e) END AS bucket
        |  FROM b),
        |h AS (SELECT event_type, bucket,
        |        sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
        |        sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS cnt_b
        |      FROM bk GROUP BY 1, 2),
        |t AS (SELECT event_type, cnt_a, cnt_b,
        |        sum(cnt_a) OVER (PARTITION BY event_type) AS n_a,
        |        sum(cnt_b) OVER (PARTITION BY event_type) AS n_b FROM h),
        |u AS (SELECT event_type, n_a, n_b,
        |        cnt_a * n_b - cnt_b * n_a AS d FROM t),
        |g AS (SELECT event_type,
        |        max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
        |        sum(abs(d))::BIGINT AS tv_num
        |      FROM u GROUP BY 1),
        |dr AS (SELECT 'drift' AS check_name, event_type AS target,
        |         n_b AS total,
        |         CASE WHEN 5 * tv_num > 2 * n_a * n_b
        |              THEN 1 ELSE 0 END::BIGINT AS violations FROM g),
        |r AS (SELECT * FROM scal UNION ALL SELECT * FROM dr)
        |SELECT check_name, target, total, violations,
        |  violations = 0 AS passed
        |FROM r ORDER BY check_name, target""".stripMargin,
  )

  /** One-shot drift replay, shared by evt_drift_value (direct) and
    * evt_drift_state (through the maintained histogram table — the
    * counter-sum batch merge equals the one-shot histogram exactly).
    * A def, not a val: the oracle map above initializes first.
    */
  private def DriftValueOracle: String =
    """WITH v0 AS (SELECT event_type, ts, CAST(floor(value * 100) AS BIGINT) AS v
        |            FROM events WHERE value IS NOT NULL),
        |vv AS (SELECT event_type,
        |         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
        |              THEN 0 ELSE 1 END AS side, v
        |       FROM v0 WHERE v >= 1),
        |b AS (SELECT event_type, side, v, (length(bin(v)) - 1) AS e FROM vv),
        |bk AS (SELECT event_type, side,
        |  (e::BIGINT << 5) + CASE WHEN e >= 5
        |     THEN (v - (1::BIGINT << e)) // (1::BIGINT << (e - 5))
        |     ELSE ((v - (1::BIGINT << e)) << 5) // (1::BIGINT << e) END AS bucket
        |  FROM b),
        |h AS (SELECT event_type, bucket,
        |        sum(CASE WHEN side = 0 THEN 1 ELSE 0 END)::BIGINT AS cnt_a,
        |        sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::BIGINT AS cnt_b
        |      FROM bk GROUP BY 1, 2),
        |t AS (SELECT event_type, bucket, cnt_a, cnt_b,
        |        sum(cnt_a) OVER (PARTITION BY event_type) AS n_a,
        |        sum(cnt_b) OVER (PARTITION BY event_type) AS n_b,
        |        count(*) OVER (PARTITION BY event_type) AS k FROM h),
        |u AS (SELECT event_type, bucket, cnt_a, cnt_b, n_a, n_b, k,
        |        cnt_a * n_b - cnt_b * n_a AS d,
        |        (cnt_a::DOUBLE * 2 + 1)
        |          / (n_a::BIGINT::DOUBLE * 2 + k::DOUBLE) AS pa,
        |        (cnt_b::DOUBLE * 2 + 1)
        |          / (n_b::BIGINT::DOUBLE * 2 + k::DOUBLE) AS pb
        |      FROM t),
        |w AS (SELECT *, abs(sum(d) OVER (PARTITION BY event_type
        |                                 ORDER BY bucket)) AS ks_row FROM u),
        |g AS (SELECT event_type,
        |        max(n_a)::BIGINT AS n_a, max(n_b)::BIGINT AS n_b,
        |        count(*)::BIGINT AS buckets,
        |        max(ks_row)::BIGINT AS ks_num,
        |        sum(abs(d))::BIGINT AS tv_num,
        |        sum((pa - pb) * (ln(pa) - ln(pb))) AS psi_raw
        |      FROM w GROUP BY 1)
        |SELECT event_type, n_a, n_b, buckets, ks_num,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    ks_num::DOUBLE / (n_a::DOUBLE * n_b::DOUBLE) END AS ks,
        |  tv_num,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    tv_num::DOUBLE / ((n_a::DOUBLE * n_b::DOUBLE) * 2) END AS tv,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN round(psi_raw, 6) END AS psi
        |FROM g ORDER BY event_type""".stripMargin
}
