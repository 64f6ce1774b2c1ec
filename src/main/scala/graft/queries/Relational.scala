package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational/SQL surface of the reference (SURVEY.md §2.3 O-21, §2.6):
  * aggregation, joins (broadcast + shuffle), semi-joins/subqueries, window
  * functions, date functions. Each query has a DuckDB oracle; money sums go
  * through DECIMAL so results are bit-exact regardless of partial-agg order,
  * then back to DOUBLE so both engines emit identical output schemas.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  /** The symmetrized customer—order—part tripartite graph shared by the
    * traversal gates (q37 BFS, q42 harmonic, q45 HyperBall): orders are
    * degree-small and parts thinned 5×, so the graph is sparse enough
    * for real depth (frontier exhaustion at 9, ball fixpoint at 13 at
    * the gate scales — both DuckDB-probed).
    */
  private def tripartiteGraph(s: SparkSession, dir: String): DataFrame = {
    val co = Tables(s, dir, "orders")
      .select((col("o_custkey").cast("long") * 3).as("a"),
        (col("o_orderkey").cast("long") * 3 + 1).as("b"))
    val op = Tables(s, dir, "lineitem")
      .filter(col("l_partkey") % 5 === 0)
      .select((col("l_orderkey").cast("long") * 3 + 1).as("a"),
        (col("l_partkey").cast("long") * 3 + 2).as("b"))
    val ce = co.union(op).distinct()
    ce.select(col("a").as("src"), col("b").as("dst"))
      .union(ce.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The symmetrized customer—supplier trade graph (the q34/q43/q44
    * construction): dense and shallow — ball fixpoint at t=5 at the gate
    * scales (DuckDB-probed).
    */
  private def tradeGraph(s: SparkSession, dir: String): DataFrame = {
    // cast to long BEFORE the *2 encoding (the tripartiteGraph pattern):
    // under ANSI mode an INT custkey/suppkey overflows with an error at
    // large scale factors
    val e = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
      .distinct()
    e.select(col("a").as("src"), col("b").as("dst"))
      .union(e.select(col("b").as("src"), col("a").as("dst")))
  }

  /** The q47 DIRECTED trade graph: customer→supplier edges flow only
    * up the nation ordering (cn ≤ sn) and supplier→customer back-edges
    * exist only within a nation — so each of the four sliced nations
    * forms one mutual-reachability blob and the cross-nation edges form
    * a DAG condensation over them (4 phases of FB-min coloring, probed
    * at both gate scales, plus trimmed singleton appendages).
    */
  private def sccGraph(s: SparkSession, dir: String): DataFrame = {
    val ol = Tables(s, dir, "orders")
      .join(Tables(s, dir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables(s, dir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey").isin(3, 7, 11, 19) &&
        col("s_nationkey").isin(3, 7, 11, 19))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("sp"),
        col("c_nationkey").as("cn"), col("s_nationkey").as("sn"))
    ol.filter(col("cn") <= col("sn"))
      .select(col("c").as("src"), col("sp").as("dst"))
      .union(ol.filter(col("cn") === col("sn"))
        .select(col("sp").as("src"), col("c").as("dst")))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    "q1_pricing_summary" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .groupBy($"l_returnflag", $"l_linestatus")
        .agg(
          sum($"l_quantity".cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum($"l_extendedprice".cast("decimal(18,2)")).cast("double").as("sum_base_price"),
          round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(28,6)")), 2).cast("double").as("sum_disc_price"),
          round(avg($"l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy($"l_returnflag", $"l_linestatus")
    }),

    "q2_revenue_filter" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "lineitem")
        .filter($"l_discount".between(0.05, 0.07) && $"l_quantity" < 24)
        .agg(
          round(sum(($"l_extendedprice" * $"l_discount").cast("decimal(28,6)")), 2).cast("double").as("revenue"),
          count(lit(1)).as("n"))
    }),

    "q3_top_orders" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      li.join(o, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey", $"o_orderpriority")
        .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(28,6)")), 2).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"o_orderkey")
        .limit(10)
    }),

    "q4_priority_exists" -> ((s, dir) => {
      import s.implicits._
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem").filter($"l_quantity" > 49)
      o.join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy($"o_orderpriority")
    }),

    "q5_region_revenue" -> ((s, dir) => {
      import s.implicits._
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      val su = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      c.join(o, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .join(su, $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
        .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .filter($"r_name" === "ASIA")
        .groupBy($"n_name")
        .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(28,6)")), 2).cast("double").as("revenue"))
        .orderBy($"n_name")
    }),

    // TPC-H Q10 shape: returned-item revenue per customer, nation broadcast.
    "q10_returned_revenue" -> ((s, dir) => {
      import s.implicits._
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem").filter($"l_returnflag" === "R")
      val n = Tables(s, dir, "nation")
      c.join(o, $"c_custkey" === $"o_custkey")
        .join(li, $"o_orderkey" === $"l_orderkey")
        .join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .groupBy($"c_custkey", $"c_name", $"n_name")
        .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount")).cast("decimal(28,6)")), 2).cast("double").as("revenue"))
        .orderBy($"revenue".desc, $"c_custkey")
        .limit(20)
    }),

    // GROUPING SETS surface: revenue subtotals at (region, nation), per
    // region and grand total in ONE pass — Spark's rollup == DuckDB's
    // ROLLUP, including the NULL indicator rows; grouping() disambiguates
    // a real NULL from a subtotal marker.
    "q11_rollup_revenue" -> ((s, dir) => {
      import s.implicits._
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .rollup($"r_name", $"n_name")
        .agg(
          sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("balance"),
          count(lit(1)).as("n_custs"),
          (grouping($"r_name") * 2 + grouping($"n_name")).cast("bigint").as("lvl"))
        .orderBy($"lvl", $"r_name", $"n_name")
    }),

    // Range-frame window surface: 7-day moving average of daily order
    // revenue per priority. The daily pre-aggregation is the scale step
    // (the window then runs over priority x day rows, metadata-sized);
    // the frame is RANGE over an integer day column so both engines
    // resolve identical frame bounds.
    "q12_moving_avg" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val daily = Tables(s, dir, "orders")
        .groupBy($"o_orderpriority",
          datediff($"o_orderdate", to_date(lit("1992-01-01"))).as("d"))
        .agg(sum($"o_totalprice".cast("decimal(18,2)")).as("rev"))
      val w = Window.partitionBy($"o_orderpriority").orderBy($"d")
        .rangeBetween(-6, 0)
      daily
        .select($"o_orderpriority", $"d".cast("bigint").as("d"),
          $"rev".cast("double").as("rev"),
          round(sum($"rev").over(w).cast("double") /
            count(lit(1)).over(w), 4).as("mavg7"))
        .orderBy($"o_orderpriority", $"d")
    }),

    // Set-operation surface: INTERSECT / EXCEPT over monthly customer
    // activity — retained vs churned buyers between two months, tagged in
    // one result. Spark intersect()/except() plan as hash semi/anti joins.
    "q13_setops" -> ((s, dir) => {
      import s.implicits._
      val o = Tables(s, dir, "orders")
      def month(m: String) = o
        .filter(date_format($"o_orderdate", "yyyyMM") === m)
        .select($"o_custkey")
      val jun = month("199506")
      val jul = month("199507")
      jun.intersect(jul).withColumn("tag", lit("both"))
        .unionByName(jun.except(jul).withColumn("tag", lit("jun_only")))
        .orderBy($"tag", $"o_custkey")
    }),

    "q6_window_topn" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("bigint"))
        .filter($"rnk" <= 2)
        .select($"o_custkey", $"o_orderkey", $"rnk")
        .orderBy($"o_custkey", $"rnk")
    }),

    "q7_month_partition" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "orders")
        .groupBy(date_format($"o_orderdate", "yyyyMM").as("event_month"))
        .agg(
          count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy($"event_month")
    }),

    "q8_fk_orphans" -> ((s, dir) => {
      import s.implicits._
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
      c.join(o, $"c_custkey" === $"o_custkey", "left_anti")
        .select($"c_custkey")
        .orderBy($"c_custkey")
    }),

    // Bucketed co-located fact join (operators.Bucketing): orders and
    // lineitem written ONCE bucketed+sorted on the order key, then
    // scan → sort-merge join → per-order aggregate runs with ZERO
    // exchanges on the bucketed sides (plan-asserted in BucketingSpec;
    // this gate pins the RESULTS, q3's shape through the bucketed path).
    // The at-scale story: the one organized write amortizes the fact
    // shuffle across every later join/agg on the key. Salted table names
    // + self-cleanup, the knn_ivf_index fixture discipline.
    "q14_bucketed_join" -> ((s, dir) => {
      import s.implicits._
      val salt = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val liT = s"graft_bkt_li_$salt"
      val ordT = s"graft_bkt_ord_$salt"
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_bkt_$salt")
        .toString
      try {
        graft.operators.Bucketing.bucketTable(
          Tables(s, dir, "lineitem")
            .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
          liT, s"$tmp/li", "l_orderkey", buckets = 8)
        graft.operators.Bucketing.bucketTable(
          Tables(s, dir, "orders").select($"o_orderkey", $"o_orderpriority"),
          ordT, s"$tmp/ord", "o_orderkey", buckets = 8)
        graft.operators.Bucketing
          .coLocatedJoin(s, liT, ordT, "l_orderkey", "o_orderkey")
          .groupBy($"o_orderkey", $"o_orderpriority")
          .agg(round(sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(28,6)")), 2).cast("double").as("revenue"))
          .orderBy($"revenue".desc, $"o_orderkey")
          .limit(10)
          // materialized (10 rows) so the returned frame no longer
          // references the fixture tables dropped below
          .localCheckpoint(true)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $liT")
        s.sql(s"DROP TABLE IF EXISTS $ordT")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }),

    // One-pass dataset profiler (operators.Profiler): per-column rows,
    // nulls, lexicographic + typed min/max, HLL cardinality estimate —
    // every statistic on ONE unpivoted scan and one KB-scale shuffle
    // (cols x 4 KB of registers), with exact NDV alongside so the
    // estimate's accuracy is visible inside the gate. The oracle replays
    // the ENTIRE profile: the unpivot, the per-type NDV keys (value /
    // micros / md5-52bit / decimal-unscaled), the splitmix64 register
    // chain, the estimator, and the decimal's canonical "x.yy" min/max
    // rendering from its unscaled long. `l_extendedprice` is cast to
    // DECIMAL(12,2) on the way in — the money-column shape whose NDV key
    // is the unscaled integer (value x 100), exactly replayable.
    "q15_column_stats" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Profiler.columnStats(
        Tables(s, dir, "lineitem")
          .withColumn("l_extendedprice",
            $"l_extendedprice".cast("decimal(12,2)")),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "l_shipdate", "l_extendedprice"),
        withExact = true)
        .orderBy($"col_name")
    }),

    // Profile DIFF between two snapshots (Profiler.profileDiff over two
    // columnStats frames): the column-level data-quality regression
    // check — row/null counts both sides, null-fraction shift (exact
    // quotient difference, gated raw), exact-NDV ratio, typed
    // min/max-changed flags, and the added/removed column census (the
    // sides deliberately profile one non-shared column each). Snapshots
    // = order-key parity halves.
    "q21_profile_diff" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
        .withColumn("l_extendedprice",
          $"l_extendedprice".cast("decimal(12,2)"))
      val shared = Seq("l_orderkey", "l_returnflag", "l_shipdate",
        "l_extendedprice")
      val a = li.filter($"l_orderkey" % 2 === 0)
      val b = li.filter($"l_orderkey" % 2 === 1)
      // the two snapshot profiles are independent (each eagerly
      // materializes its own level-1 state) — build them on two driver
      // threads so their scans overlap; the diff is unchanged
      val (pa, pb) = graft.operators.Parallel.both(s.sparkContext)(
        graft.operators.Profiler
          .columnStats(a, shared :+ "l_partkey", withExact = true),
        graft.operators.Profiler
          .columnStats(b, shared :+ "l_linenumber", withExact = true))
      graft.operators.Profiler.profileDiff(pa, pb).orderBy($"col_name")
    }),

    // Declarative data-quality suite (operators.Checks): four scalar
    // constraints in ONE aggregation pass, two key-uniqueness checks and
    // two referential checks, assembled into one exact-count report —
    // the nightly table-contract audit. Deliberately mixed verdicts: the
    // discount bound, the single-column "key" and the nonsense FK fail,
    // everything else passes.
    "q22_dq_suite" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.Checks
      val li = Tables(s, dir, "lineitem")
      val ord = Tables(s, dir, "orders")
      Checks.suite(li,
        scalars = Seq(
          Checks.notNull("l_shipdate"),
          Checks.inRange("l_quantity", lit(1.0), lit(50.0)),
          Checks.inRange("l_discount", lit(0.0), lit(0.05)),
          Checks.matches("l_returnflag", "^[ANR]$")),
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber"),
          Seq("l_orderkey")),
        references = Seq(("l_orderkey", ord, "o_orderkey"),
          ("l_partkey", ord, "o_orderkey")))
        .orderBy($"check_name", $"target")
    }),

    // Bloom-prefiltered selective join (operators.JoinPrune): urgent
    // orders (~20% of keys) against the full lineitem fact — the dim
    // keys aggregate into one Bloom literal applied to the fact side
    // BEFORE its shuffle, so ~80% of fact rows never enter the
    // exchange. The filter is transparent at any fpp (false positives
    // die in the exact join), which is exactly what the plain-SQL-join
    // oracle checks. Revenue by order month over the joined rows.
    "q23_bloom_join" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val urgent = Tables(s, dir, "orders")
        .filter($"o_orderpriority" === "1-URGENT")
        .select($"o_orderkey", $"o_orderdate")
      graft.operators.JoinPrune.bloomPrefilteredJoin(
          li, urgent, factKey = "l_orderkey", dimKey = "o_orderkey")
        .groupBy(date_trunc("month", $"o_orderdate").as("order_month"))
        .agg(count(lit(1)).as("n_lines"),
          sum(($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .cast("decimal(28,6)")).cast("double").as("revenue"))
        .orderBy($"order_month")
    }),

    // Sketch-driven ADAPTIVE join (operators.JoinPrune.adaptiveJoin):
    // the broadcast/bloom/plain decision reads two maintained CMS
    // sketches (exact row counts + the AMS join-size estimate) — never a
    // scan of either table. Here the BUILDING-segment customer dim sits
    // over the broadcast budget and matches ~20% of orders, so the
    // chooser lands on the Bloom prefilter at both gate scales; the
    // result is choice-independent (all three paths are the same exact
    // inner join), which is what the plain-join oracle checks. Spend by
    // nation over the joined rows.
    "q32_adaptive_join" -> ((s, dir) => {
      import s.implicits._
      val ord = Tables(s, dir, "orders")
      val dim = Tables(s, dir, "customer")
        .filter($"c_mktsegment" === "BUILDING")
        .select($"c_custkey", $"c_nationkey")
      val skFact = graft.operators.CountMin.sketch(ord, "o_custkey",
        widthLog2 = 18)
      val skDim = graft.operators.CountMin.sketch(dim, "c_custkey",
        widthLog2 = 18)
      graft.operators.JoinPrune.adaptiveJoin(ord, dim,
          factKey = "o_custkey", dimKey = "c_custkey",
          skFact = skFact, skDim = skDim,
          broadcastMaxRows = 100L, bloomMaxMatchFraction = 0.5)
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(28,2)")).cast("double")
            .as("total_spend"))
        .orderBy($"c_nationkey")
    }),

    // PERSONALIZED PageRank (PageRank.pageRankPersonalized): teleport
    // restricted to nation-3 customers over the symmetrized trade graph
    // — ranks measure proximity to the seed cohort, not global
    // importance. Same fixed-point longs; the oracle unrolls the three
    // rounds with a CASE teleport term.
    "q16_pagerank_pers" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
        .distinct()
      val sym = e.select($"a".as("src"), $"b".as("dst"))
        .union(e.select($"b".as("src"), $"a".as("dst")))
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 3)
        .select(($"c_custkey" * 2).as("node"))
      graft.operators.PageRank.pageRankPersonalized(sym, "src", "dst",
          seeds, iterations = 3)
        .orderBy($"node")
    }),

    // CUBE subtotals over (priority, order year) — the full
    // grouping-sets lattice beside q11's ROLLUP; the grouping-indicator
    // id is computed explicitly as grouping(a)*2 + grouping(b) in both
    // engines (DuckDB's GROUPING_ID arg conventions stay out of the
    // gate). Money sums through DECIMAL; NULLS FIRST pinned in the
    // oracle's ORDER BY (the engines' defaults differ).
    "q35_cube" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "orders")
        .withColumn("o_year", year($"o_orderdate").cast("long"))
        .cube($"o_orderpriority", $"o_year")
        .agg((grouping($"o_orderpriority") * 2 +
            grouping($"o_year")).cast("bigint").as("gid"),
          count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double")
            .as("total"))
        .orderBy($"gid", $"o_orderpriority", $"o_year")
    }),

    // ε-differentially-private count release (Privacy.dpCounts): order
    // counts per priority + seeded Laplace(1/ε) noise through the
    // inverse CDF, the uniform drawn as md5-hex52 of (seed, group) — a
    // FIXED seed replays bit-exactly (the determinism is a test-harness
    // property; a real release draws the seed fresh). ln-derived noise
    // → round-6 output, the ln discipline.
    "q33_dp_counts" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Privacy.dpCounts(Tables(s, dir, "orders"),
          Seq("o_orderpriority"), epsilon = 0.5, seed = "release-7")
        .select($"o_orderpriority", round($"dp_count", 6).as("dp_count"))
        .orderBy($"o_orderpriority")
    }),

    // k-core decomposition (Components.kCore): iterative peel of the
    // symmetrized trade graph at k=46 — the dense trade graph has a
    // sharp core transition (k=48 cascades to EMPTY at sf0.01; 46 keeps
    // 237 / 5,548 nodes at sf0.01 / sf0.1 with the within-core degree
    // re-verified at the fixpoint). Synchronous integer rounds;
    // trailing rounds past the fixpoint are no-ops, so the oracle's 10
    // unrolled rounds replay the exact core; the deep-cascade behavior
    // is spec-pinned on a pendant-path fixture (ComponentsSpec).
    "q34_kcore" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
        .distinct()
      val sym = e.select($"a".as("src"), $"b".as("dst"))
        .union(e.select($"b".as("src"), $"a".as("dst")))
      graft.operators.Components.kCore(sym, "src", "dst", k = 46)
        .orderBy($"node")
    }),

    // multi-source BFS hop distance (Components.bfsHops): synchronous
    // frontier rounds over the symmetrized customer—order—part
    // tripartite graph (orders are degree-small, parts thinned 5×, so
    // the graph is sparse enough for real depth: 9 frontier rounds to
    // exhaustion at sf0.01 AND sf0.1, probed in DuckDB before the gate
    // was declared). Seeds = a ~2% customer slice; hop literals are
    // integer-exact, so the unrolled oracle replays bit-for-bit.
    "q37_bfs_hops" -> ((s, dir) => {
      import s.implicits._
      val co = Tables(s, dir, "orders")
        .select(($"o_custkey".cast("long") * 3).as("a"),
          ($"o_orderkey".cast("long") * 3 + 1).as("b"))
      val op = Tables(s, dir, "lineitem")
        .filter($"l_partkey" % 5 === 0)
        .select(($"l_orderkey".cast("long") * 3 + 1).as("a"),
          ($"l_partkey".cast("long") * 3 + 2).as("b"))
      val ce = co.union(op).distinct()
      val sym = ce.select($"a".as("src"), $"b".as("dst"))
        .union(ce.select($"b".as("src"), $"a".as("dst")))
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 7 && $"c_custkey" % 50 === 3)
        .select(($"c_custkey".cast("long") * 3).as("node"))
      graft.operators.Components.bfsHops(sym, "src", "dst", seeds, "node")
        .orderBy($"node")
    }),

    // skew-aware adaptive join (JoinPrune.adaptiveJoinSkew): ~43% of
    // lineitem collapses onto ONE synthetic hot key (l_linenumber >= 3
    // -> part 1), the shape that funnels a shuffle join's hot partition
    // through one reducer. Candidates come from a SpaceSaving top-16
    // (any key with share > 1/16 is guaranteed present), confirmed
    // against the fact CMS at >= 5000 rows (hot key ~43k at sf0.01 /
    // ~430k at sf0.1; every other key <= ~300): the hot key routes
    // through the broadcast path, the rest shuffles. The oracle is the
    // PLAIN join — the result is route-independent by construction.
    "q36_skew_join" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
        .withColumn("skew_key",
          when($"l_linenumber" >= 3, lit(1L))
            .otherwise($"l_partkey".cast("long")))
      val dim = Tables(s, dir, "part").select($"p_partkey", $"p_brand")
      val skFact = graft.operators.CountMin.sketch(li, "skew_key",
        widthLog2 = 18)
      val skDim = graft.operators.CountMin.sketch(dim, "p_partkey",
        widthLog2 = 18)
      val candidates = li
        .agg(graft.functions.FreqItems.freq_items($"skew_key", 16).as("fi"))
        .select(explode($"fi").as("e"))
        .select($"e.item".as("skew_key"))
      graft.operators.JoinPrune.adaptiveJoinSkew(li, dim,
          factKey = "skew_key", dimKey = "p_partkey",
          skFact = skFact, skDim = skDim,
          candidates = candidates, candidateCol = "skew_key",
          heavyMinRows = 5000L, widthLog2 = 18,
          broadcastMaxRows = 100L)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n_items"),
          sum($"l_extendedprice".cast("decimal(28,2)")).cast("double")
            .as("total_price"))
        .orderBy($"p_brand")
    }),

    // ε-DP SUM + MEAN release with clamped sensitivity
    // (Privacy.dpSums / dpMeans): per return flag, quantity clamped
    // into [5, 40] per ROW (clamp-before-sum — what bounds the
    // sensitivity at hi−lo), summed exactly in DECIMAL(38,6), then the
    // seeded Laplace draws — sum at scale (hi−lo)/ε, mean via the ε/2 +
    // ε/2 split with independent salted draws and the max(noisyN, 1)
    // denominator guard. ln-derived noise → round-6, the ln discipline.
    "q38_dp_sums" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      val sums = graft.operators.Privacy.dpSums(li, Seq("l_returnflag"),
        "l_quantity", lo = 5.0, hi = 40.0, epsilon = 0.5,
        seed = "release-13")
      val means = graft.operators.Privacy.dpMeans(li, Seq("l_returnflag"),
        "l_quantity", lo = 5.0, hi = 40.0, epsilon = 0.5,
        seed = "release-13")
      sums.join(means, Seq("l_returnflag"))
        .select($"l_returnflag", round($"dp_sum", 6).as("dp_sum"),
          round($"dp_mean", 6).as("dp_mean"))
        .orderBy($"l_returnflag")
    }),

    // weighted shortest paths (Components.sssp): the q37 tripartite
    // graph with a deterministic integer weight 1 + (a+b) % 7 on every
    // canonical edge (same weight both directions of the symmetrized
    // pair). Delta-frontier Bellman-Ford; distances are exact LONG sums,
    // so the unrolled oracle replays bit-for-bit. Fixpoint at round 13 /
    // 15 at sf0.01 / sf0.1 (DuckDB-probed BEFORE the gate was declared);
    // the oracle unrolls 18 rounds with a count+sum fixpoint assert.
    "q39_sssp" -> ((s, dir) => {
      import s.implicits._
      val co = Tables(s, dir, "orders")
        .select(($"o_custkey".cast("long") * 3).as("a"),
          ($"o_orderkey".cast("long") * 3 + 1).as("b"))
      val op = Tables(s, dir, "lineitem")
        .filter($"l_partkey" % 5 === 0)
        .select(($"l_orderkey".cast("long") * 3 + 1).as("a"),
          ($"l_partkey".cast("long") * 3 + 2).as("b"))
      val ce = co.union(op).distinct()
        .select($"a", $"b", (lit(1L) + ($"a" + $"b") % 7).as("w"))
      val sym = ce.select($"a".as("src"), $"b".as("dst"), $"w")
        .union(ce.select($"b".as("src"), $"a".as("dst"), $"w"))
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 7 && $"c_custkey" % 50 === 3)
        .select(($"c_custkey".cast("long") * 3).as("node"))
      graft.operators.Components.sssp(sym, "src", "dst", "w", seeds, "node")
        .orderBy($"node")
    }),

    // WARM-START weighted shortest paths (Components.ssspResume): the
    // prior run covers the co-edges + a THINNED part layer (l_partkey %
    // 10 — a strict subset of q39's % 5 layer); resume relaxes the FULL
    // graph from the persisted distances. Edge additions only shorten
    // distances and the fixpoint is unique, so resume ≡ one-shot — the
    // oracle is q39's 18-round unroll verbatim (the incr-gate
    // discipline).
    "q39_sssp_incr" -> ((s, dir) => {
      import s.implicits._
      val co = Tables(s, dir, "orders")
        .select(($"o_custkey".cast("long") * 3).as("a"),
          ($"o_orderkey".cast("long") * 3 + 1).as("b"))
      def op(mod: Int) = Tables(s, dir, "lineitem")
        .filter($"l_partkey" % mod === 0)
        .select(($"l_orderkey".cast("long") * 3 + 1).as("a"),
          ($"l_partkey".cast("long") * 3 + 2).as("b"))
      def sym(layer: org.apache.spark.sql.DataFrame) = {
        val ce = co.union(layer).distinct()
          .select($"a", $"b", (lit(1L) + ($"a" + $"b") % 7).as("w"))
        ce.select($"a".as("src"), $"b".as("dst"), $"w")
          .union(ce.select($"b".as("src"), $"a".as("dst"), $"w"))
      }
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 7 && $"c_custkey" % 50 === 3)
        .select(($"c_custkey".cast("long") * 3).as("node"))
      val prior = graft.operators.Components
        .sssp(sym(op(10)), "src", "dst", "w", seeds, "node")
      graft.operators.Components
        .ssspResume(sym(op(5)), "src", "dst", "w", prior)
        .orderBy($"node")
    }),

    // HITS hubs/authorities (operators.Hits): 3 synchronous rounds over
    // the DIRECTED customer→part purchase graph in fixed-point integer
    // arithmetic — normalization is exact integer division by the
    // quantized mass ratio q = max(S div scale, 1), so every score is a
    // LONG and the unrolled oracle replays each half-step bit-for-bit
    // (the PageRank discipline; the div-normalization exists because
    // the textbook a·scale/S product overflows at E·scale²).
    "q40_hits" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey".cast("long") * 2).as("src"),
          ($"l_partkey".cast("long") * 2 + 1).as("dst"))
      graft.operators.Hits.hits(e, "src", "dst", iterations = 3)
        .orderBy($"node")
    }),

    // edge-weighted PageRank (PageRank.pageRankWeighted): the q16 trade
    // graph with the deterministic 1 + (a+b) % 7 weights — mass splits
    // proportionally to out-edge weight, contribution pr·w div sw, all
    // longs, 3 unrolled oracle rounds replay bit-for-bit. Uniform
    // weights ≡ the unweighted ranks exactly (floor((pr·w)/(deg·w)) =
    // floor(pr/deg)) — PageRankSpec pins it.
    "q41_pagerank_weighted" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
        .distinct()
        .select($"a", $"b", (lit(1L) + ($"a" + $"b") % 7).as("w"))
      val sym = edges.select($"a".as("src"), $"b".as("dst"), $"w")
        .union(edges.select($"b".as("src"), $"a".as("dst"), $"w"))
      graft.operators.PageRank
        .pageRankWeighted(sym, "src", "dst", "w", iterations = 3)
        .orderBy($"node")
    }),

    // sampled harmonic centrality (Components.harmonicCentrality): the
    // q37 tripartite graph and seed slice, but distances tracked PER
    // SOURCE — each node scores Σ_s 1/d(s, node) as an exact integer
    // numerator over lcm(1..14) = 360360 (every 1/d term divides
    // exactly, so the sum is pure BIGINT and the unrolled oracle
    // replays it with // arithmetic; the convenience double derives
    // from the exact numerator). Per-source eccentricity 9 / 11 at
    // sf0.01 / sf0.1, DuckDB-probed before the gate was declared; the
    // oracle's 14 unrolled rounds carry an exhaust error() assert.
    "q42_harmonic" -> ((s, dir) => {
      import s.implicits._
      val sym = tripartiteGraph(s, dir)
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 7 && $"c_custkey" % 50 === 3)
        .select(($"c_custkey".cast("long") * 3).as("node"))
      graft.operators.Components
        .harmonicCentrality(sym, "src", "dst", seeds, "node", maxRounds = 14)
        .orderBy($"node")
    }),

    // neighborhood link prediction (LinkPredict.neighborScores): 2-hop
    // supplier pairs over the symmetrized trade graph, middles
    // degree-capped at 64 (suppliers deg ~540/680 at sf0.01/sf0.1 sit
    // OUT as middles — the cap that bounds the distance-2 join at
    // 100 TB; customers deg ~33/39 qualify). cn/jc exact-integer
    // arithmetic, aa/ra the round-6 ln discipline. Output thinned to
    // the deterministic 1/49 (a, b both ≡ 0 mod 7) slice — 91 / 10,153
    // pairs at sf0.01 / sf0.1, DuckDB-probed before the gate was
    // declared; the mod filter pushes below the pair join.
    "q43_link_pred" -> ((s, dir) => {
      import s.implicits._
      graft.operators.LinkPredict
        .neighborScores(tradeGraph(s, dir), "src", "dst",
          maxMiddleDegree = 64)
        .filter($"a" % 7 === 0 && $"b" % 7 === 0)
        .orderBy($"a", $"b")
    }),

    // degree assortativity (LinkPredict.degreeAssortativity): Newman's
    // one-row structural audit over the same symmetrized trade graph —
    // all five moment sums exact DECIMAL(38,0) (== DuckDB HUGEINT), the
    // single final sqrt/divide in double, round-6. The bipartite trade
    // graph is strongly DISassortative (hubs link leaves) — the value
    // the gate pins.
    "q44_assortativity" -> ((s, dir) => {
      import s.implicits._
      graft.operators.LinkPredict
        .degreeAssortativity(tradeGraph(s, dir), "src", "dst")
    }),

    // HyperBall register evolution (HyperBall.registerSignature): per-node
    // HLL balls max-merged along edges of the q37 tripartite graph, p=4 —
    // gated on the per-round EXACT integer signature (register count,
    // Σ rho, Σ 2^(53−rho) as DECIMAL(38,0)): integers only, so no engine
    // upgrade can re-round it (the round-13 float-N(t) gate hashed 220k
    // per-node round(DOUBLE,4) values and went red on a driver DuckDB
    // that computed the replay chain differently while staying bit-exact
    // on 1.0.0 — the signature determines the same register frames
    // without any float). Balls complete at t=12 at BOTH gate scales
    // (register fixpoint at round 13, DuckDB-probed before the gate was
    // declared); the oracle unrolls 13 rounds and error()-asserts the
    // (count, Σrho) signature is stationary. The float N(t) readout is
    // certified against the scalar model in HyperBallSpec and still
    // drives q45_eff_diameter.
    // GATE SURFACE RULE (round-15): wide integers cross the gate as
    // BIGINT limbs, never as a DECIMAL(38,0) output column — the three
    // r14 driver reds were exactly the three DECIMAL(38,0)-output
    // queries in the suite (bit-exact on DuckDB 1.0.0; the driver's
    // newer DuckDB hashes that output type differently). sum_pow ≤
    // regs·2^52 so two base-10^18 limbs hold it to beyond sf100.
    "q45_hyperball" -> ((s, dir) => {
      import s.implicits._
      graft.operators.HyperBall
        .registerSignature(tripartiteGraph(s, dir), "src", "dst",
          p = 4, maxT = 32)
        .select($"t", $"regs", $"sum_rho",
          expr("CAST(sum_pow div 1000000000000000000 AS BIGINT)")
            .as("pow_hi"),
          expr("CAST(sum_pow % 1000000000000000000 AS BIGINT)")
            .as("pow_lo"))
        .orderBy($"t")
    }),

    // effective diameter at q=0.9 from the neighborhood function — the
    // HyperANF readout: smallest t with N(t) >= 0.9·N(t_max), linearly
    // interpolated; one row, derived from the exact DECIMAL nf values
    // by one fixed IEEE expression in both engines. Runs on the DENSE
    // trade graph (ball fixpoint at t=5 at both gate scales, probed) —
    // a second graph shape for the ball machinery, and the readout gate
    // does not re-pay the deep tripartite loop q45_hyperball pins.
    "q45_eff_diameter" -> ((s, dir) => {
      import s.implicits._
      graft.operators.HyperBall.effectiveDiameter(
        graft.operators.HyperBall.neighborhoodFunction(
          tradeGraph(s, dir), "src", "dst", p = 4, maxT = 32),
        q = 0.9)
    }),

    // Incremental HyperBall (HyperBall.fixpointRegisters + seed resume):
    // the reachability audit MAINTAINED as the graph grows — phase 1
    // runs the register fixpoint on a deterministic 2/3 edge subset of
    // the trade graph (symmetric by construction: (src+dst) mod 3), the
    // remaining edges arrive, and the resume seeds from the persisted
    // phase-1 frame instead of self-balls. Max-merge is monotone and
    // confluent, so resume ≡ one-shot bit-exactly — the gate hashes the
    // one-row exact integer signature of the resumed fixpoint against
    // the oracle's ONE-SHOT full-graph fixpoint (the equivalence IS the
    // assertion, the q39_sssp_incr discipline).
    "q45_hyperball_incr" -> ((s, dir) => {
      import s.implicits._
      val full = tradeGraph(s, dir)
      val phase1 = full.filter(($"src" + $"dst") % 3 =!= 0)
      val persisted = graft.operators.HyperBall
        .fixpointRegisters(phase1, "src", "dst", p = 4)
        .localCheckpoint(true)
      graft.operators.HyperBall.registerSignatureOf(
          graft.operators.HyperBall.fixpointRegisters(full, "src", "dst",
            p = 4, seed = Some(persisted)))
        // BIGINT-limb gate surface (the q45_hyperball rule)
        .select($"regs", $"sum_rho",
          expr("CAST(sum_pow div 1000000000000000000 AS BIGINT)")
            .as("pow_hi"),
          expr("CAST(sum_pow % 1000000000000000000 AS BIGINT)")
            .as("pow_lo"))
    }),

    // Driver-environment PROBES (the round-14 lesson: when a gate is red
    // for driver-environment reasons, land a minimal probe so the next
    // CORRECTNESS ledger bisects the driver's behavior for free). Three
    // trivial constant queries over the same five wide integers spanning
    // 0 .. 10^38-ish: one emits them as a DECIMAL(38,0) OUTPUT column
    // (the r14 red convention — expected red on a driver whose newer
    // DuckDB hashes that output type differently), one as BIGINT limbs
    // and one as canonical strings (the two version-safe idioms —
    // expected green). Zero cost; settles the gate-output rule for every
    // future exact-big-integer gate.
    "probe_decimal_out" -> ((s, _) =>
      s.sql(s"SELECT CAST(v AS DECIMAL(38,0)) AS x FROM $probeValuesSpark" +
        " ORDER BY x")),
    "probe_decimal_limbs" -> ((s, _) =>
      s.sql(
        s"""SELECT
           |  CAST(x div 1000000000000000000000000000000000000 AS BIGINT)
           |    AS hi,
           |  CAST((x % 1000000000000000000000000000000000000)
           |    div 1000000000000000000 AS BIGINT) AS mid,
           |  CAST(x % 1000000000000000000 AS BIGINT) AS lo
           |FROM (SELECT CAST(v AS DECIMAL(38,0)) AS x
           |      FROM $probeValuesSpark)
           |ORDER BY hi, mid, lo""".stripMargin)),
    "probe_decimal_str" -> ((s, _) =>
      s.sql("SELECT CAST(CAST(v AS DECIMAL(38,0)) AS STRING) AS x" +
        s" FROM $probeValuesSpark ORDER BY x")),

    // Sampled betweenness centrality, forward surface
    // (Components.brandesForward): per-node exact integers over the q42
    // seed sample on the tripartite graph — sources reaching it, Σ of
    // shortest-path distances, Σ of exact σ path counts (DECIMAL(38,0)).
    // The gate hashes ONLY this integer surface (the q45 lesson: per-row
    // float rounding at V-node scale is one DuckDB upgrade from red);
    // the float δ accumulation / bc readout (Components.betweenness) is
    // spec-certified against the scalar Brandes model with fixed-order
    // folds. Eccentricity 9/11 at sf0.01/sf0.1 (q42-probed); the oracle
    // unrolls 13 rounds with an exhaust error() assert.
    "q46_betweenness" -> ((s, dir) => {
      import s.implicits._
      val seeds = Tables(s, dir, "customer")
        .filter($"c_nationkey" === 7 && $"c_custkey" % 50 === 3)
        .select(($"c_custkey".cast("long") * 3).as("node"))
      graft.operators.Components
        .brandesForward(tripartiteGraph(s, dir), "src", "dst",
          seeds, "node", maxRounds = 13)
        .filter($"d" >= 1L)
        .groupBy($"node")
        .agg(count(lit(1)).as("reach"),
          sum($"d").cast("long").as("sum_dist"),
          sum($"sigma").cast("decimal(38,0)").as("_ss"))
        // BIGINT-limb gate surface (the q45_hyperball rule); σ sums can
        // approach 10^38 on hub-dense graphs → three base-10^18 limbs
        .select($"node", $"reach", $"sum_dist",
          expr("CAST(_ss div 1000000000000000000000000000000000000" +
            " AS BIGINT)").as("sigma_hi"),
          expr("CAST((_ss % 1000000000000000000000000000000000000)" +
            " div 1000000000000000000 AS BIGINT)").as("sigma_mid"),
          expr("CAST(_ss % 1000000000000000000 AS BIGINT)")
            .as("sigma_lo"))
        .orderBy($"node")
    }),

    // Directed strongly connected components
    // (Components.stronglyConnectedComponents): trim + FB-min coloring
    // over the nation-oriented directed trade graph — four per-nation
    // mutual-reachability blobs under a DAG condensation plus trimmed
    // singletons. Labels are integer mins end to end, so the gate
    // hashes exactly with no float anywhere; the oracle unrolls 3 trim
    // passes + 4 phases of 8-round min-propagation fixpoints (probed
    // depths 1 and ≤6 at both gate scales) with stationarity and
    // all-decided error() asserts.
    "q47_scc" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Components
        .stronglyConnectedComponents(sccGraph(s, dir), "src", "dst")
        .orderBy($"node")
    }),

    // k-anonymity / l-diversity census (operators.Privacy): per
    // (nation, segment) quasi-identifier group — size, distinct
    // sensitive account-balance values, verdicts at k=12 / l=3. One
    // hash aggregation, every metric an exact BIGINT.
    "q24_privacy_audit" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Privacy.privacyAudit(
          Tables(s, dir, "customer"),
          qiCols = Seq("c_nationkey", "c_mktsegment"),
          sensitiveCol = "c_acctbal", k = 12L, l = 3L)
        .orderBy($"c_nationkey", $"c_mktsegment")
    }),

    // k-anonymity ENFORCEMENT by suppression (operators.Privacy): only
    // customers whose (nation, segment) group has >= 12 members survive
    // — the census joins back as a broadcast semi-join on the QI tuple,
    // never a data-sized window.
    "q25_k_anon_enforce" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Privacy.enforceKAnonymity(
          Tables(s, dir, "customer"),
          qiCols = Seq("c_nationkey", "c_mktsegment"), k = 12L)
        .select($"c_custkey", $"c_nationkey", $"c_mktsegment")
        .orderBy($"c_custkey")
    }),

    // Iterative graph scoring: PageRank over the symmetrized bipartite
    // customer–supplier trade graph (operators.PageRank — FIXED-POINT
    // longs, so the three damped iterations are bit-exact under any
    // parallelism and the oracle unrolls them with integer // division;
    // no rounding anywhere in the gate). Node ids: 2·custkey / 2·suppkey+1.
    "q16_pagerank" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
        .distinct()
      val sym = edges.select($"a".as("src"), $"b".as("dst"))
        .union(edges.select($"b".as("src"), $"a".as("dst")))
      graft.operators.PageRank.pageRank(sym, "src", "dst", iterations = 3)
        .orderBy($"node")
    }),

    // Benford first-digit audit (operators.Checks.benfordReport): the
    // fabricated-numbers detector over order totals — digits through
    // integer cents' DECIMAL RENDERING (no float log10, whose
    // power-of-ten boundaries flip across engines), counts and shares
    // exact, the ln-derived expectations and deviations round-6.
    "q31_benford" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Checks
        .benfordReport(Tables(s, dir, "orders"), "o_totalprice")
        .orderBy($"digit")
    }),

    // Period-over-period growth: weekly revenue with lag() percent
    // change. Sums through DECIMAL (exact cents, well under 2^53 as
    // doubles), growth = ONE IEEE subtract-divide chain both engines
    // run verbatim — gated raw.
    "q29_wow_growth" -> ((s, dir) => {
      import s.implicits._
      // GLOBAL window, deliberately: the frame is the per-week aggregate
      // (cardinality = calendar weeks, bounded at any SF) — the WindowExec
      // single-partition warning is expected and harmless here
      val w = org.apache.spark.sql.expressions.Window.orderBy($"week")
      Tables(s, dir, "orders")
        .groupBy(date_trunc("week", $"o_orderdate").as("week"))
        .agg(sum($"o_totalprice".cast("decimal(18,2)"))
          .cast("double").as("revenue"))
        .withColumn("prev_revenue", lag($"revenue", 1).over(w))
        .withColumn("wow_growth",
          ($"revenue" - $"prev_revenue") / $"prev_revenue")
        .orderBy($"week")
    }),

    // DQ TIMELINESS (operators.Checks.freshnessReport): the fourth
    // classic dimension beside validity/uniqueness/referential — two
    // explicit reference instants gate BOTH verdicts (fresh within 7
    // days of the corpus end; stale against a year later). Explicit
    // asOf, never wall-clock now(): the check must replay.
    "q30_dq_freshness" -> ((s, dir) => {
      import s.implicits._
      val e = Tables(s, dir, "events")
      graft.operators.Checks
        .freshnessReport(e, "ts", asOfUs = 1706745600000000L, // 2024-02-01
          maxLagUs = 7L * 86400000000L)
        .withColumn("as_of", lit("2024-02-01"))
        .unionByName(graft.operators.Checks
          .freshnessReport(e, "ts", asOfUs = 1717200000000000L, // 2024-06-01
            maxLagUs = 7L * 86400000000L)
          .withColumn("as_of", lit("2024-06-01")))
        .orderBy($"as_of")
    }),

    // Deterministic pseudonymization (operators.Privacy.pseudonymize):
    // customer names replaced by salted md5 tokens — join-preserving
    // (equal values ⇒ equal tokens under one salt), NULL-preserving,
    // scan-side, zero shuffle. The oracle replays the token recipe.
    "q28_pseudonymize" -> ((s, dir) => {
      import s.implicits._
      graft.operators.Privacy.pseudonymize(
          Tables(s, dir, "customer"), Seq("c_name"), salt = "epoch-7")
        .select($"c_custkey", $"c_name".as("name_token"), $"c_mktsegment")
        .orderBy($"c_custkey")
    }),

    // Analytic-window surface: rank / dense_rank / percent_rank /
    // cume_dist / ntile over per-nation account-balance order with a
    // deterministic (acctbal DESC, custkey) tiebreak. percent_rank and
    // cume_dist are exact small-integer ratios — one IEEE division both
    // engines run identically, gated raw.
    "q27_window_ranks" -> ((s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"c_nationkey")
        .orderBy($"c_acctbal".desc, $"c_custkey")
      Tables(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey", $"c_acctbal",
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          percent_rank().over(w).as("prnk"),
          cume_dist().over(w).as("cdist"),
          ntile(4).over(w).as("quartile"))
        .orderBy($"c_custkey")
    }),

    // Community detection: synchronous label propagation
    // (operators.Communities) over the symmetrized customer–supplier
    // trade graph — two deterministic rounds (most-frequent neighbor
    // label, ties to the smallest), all integer, so the oracle unrolls
    // both rounds with window row_number and the gate is exact.
    "q26_communities" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
        .distinct()
      val sym = edges.select($"a".as("src"), $"b".as("dst"))
        .union(edges.select($"b".as("src"), $"a".as("dst")))
      graft.operators.Communities.labelPropagation(sym, "src", "dst",
          rounds = 2)
        .orderBy($"node")
    }),

    // INCREMENTAL LPA (Communities.labelPropagationResume): the
    // q16_pagerank_incr workflow for community labels — two cold votes
    // on the pre-1996 trade graph, labels PERSISTED to parquet, one warm
    // vote over the full graph resuming from the persisted table (new
    // nodes start as their own label; no-in-edge nodes KEEP their prior
    // label, which is where the warm fallback differs from the cold
    // oracle's identity fallback). Integer argmax end to end — the
    // oracle unrolls both phases.
    "q26_communities_incr" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      def sym(o: org.apache.spark.sql.DataFrame) = {
        val e = o.join(li, $"l_orderkey" === $"o_orderkey")
          .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
          .distinct()
        e.select($"a".as("src"), $"b".as("dst"))
          .union(e.select($"b".as("src"), $"a".as("dst")))
      }
      val ord = Tables(s, dir, "orders")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_lpa_incr").toString
      try {
        graft.operators.Communities.labelPropagation(
            sym(ord.filter($"o_orderdate" < "1996-01-01")), "src", "dst",
            rounds = 2)
          .write.parquet(s"$tmp/labels")
        graft.operators.Communities.labelPropagationResume(sym(ord),
            "src", "dst", s.read.parquet(s"$tmp/labels"), rounds = 1)
          .orderBy($"node")
          .localCheckpoint(true)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }),

    // Fuzzy entity resolution: sorted-neighborhood record linkage
    // (operators.EntityResolution) — rank by (name, id) WITHOUT a global
    // window (partition-offset idiom), compare each row to its w−1 rank
    // successors only (n·(w−1) candidates, never n²), verify with exact
    // codegen Levenshtein. Oracle replays rank, window join and distance.
    "q17_fuzzy_pairs" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EntityResolution.fuzzyPairs(
          Tables(s, dir, "customer"), "c_custkey", "c_name",
          w = 8, maxDist = 1)
        .orderBy($"id_a", $"id_b")
    }),

    // Multi-pass fuzzy resolution (EntityResolution.fuzzyPairsMultiPass):
    // the plain sorted-neighborhood pass unioned with a REVERSED-key pass
    // — prefix typos sort far from their target but their reversals are
    // suffix neighbors, and Levenshtein is reversal-invariant. Pairs
    // normalized to id_a < id_b and deduped; the oracle replays BOTH
    // rank machineries and the same normalize+dedup.
    "q17_fuzzy_multi" -> ((s, dir) => {
      import s.implicits._
      graft.operators.EntityResolution.fuzzyPairsMultiPass(
          Tables(s, dir, "customer"), "c_custkey", "c_name",
          w = 8, maxDist = 1)
        .orderBy($"id_a", $"id_b")
    }),

    // INCREMENTAL PageRank (PageRank.pageRankResume): the warm-start
    // maintenance workflow whole — two cold rounds on the pre-1996
    // trade graph, ranks PERSISTED to parquet, then ONE warm round over
    // the full (delta'd) graph resuming from the persisted table. New
    // nodes start at the current uniform, all arithmetic the same
    // fixed-point longs, so the oracle unrolls both phases verbatim and
    // the hash gates the entire persist-and-resume path. At 100 TB this
    // replaces the full per-refresh recompute: the daily job is ONE
    // round from yesterday's fixed point, not `iterations` from uniform.
    "q16_pagerank_incr" -> ((s, dir) => {
      import s.implicits._
      val li = Tables(s, dir, "lineitem")
      def sym(o: org.apache.spark.sql.DataFrame) = {
        val e = o.join(li, $"l_orderkey" === $"o_orderkey")
          .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
          .distinct()
        e.select($"a".as("src"), $"b".as("dst"))
          .union(e.select($"b".as("src"), $"a".as("dst")))
      }
      val ord = Tables(s, dir, "orders")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_pr_incr").toString
      try {
        graft.operators.PageRank.pageRank(
            sym(ord.filter($"o_orderdate" < "1996-01-01")), "src", "dst",
            iterations = 2)
          .write.parquet(s"$tmp/ranks")
        graft.operators.PageRank.pageRankResume(sym(ord), "src", "dst",
            s.read.parquet(s"$tmp/ranks"), iterations = 1)
          .orderBy($"node")
          .localCheckpoint(true)
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }),

    // The dangling-mass variant over the UNsymmetrized bipartite trade
    // graph (customers point at suppliers, so every supplier is a pure
    // sink): each round the danglers' mass redistributes uniformly as
    // D div N inside the damped term — all-integer, so the oracle
    // unrolls the three rounds with the per-round dangling sum as a
    // scalar subquery and the hash gates the iteration verbatim.
    "q16_pagerank_dangling" -> ((s, dir) => {
      import s.implicits._
      val edges = Tables(s, dir, "orders")
        .join(Tables(s, dir, "lineitem"),
          $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
        .distinct()
      graft.operators.PageRank.pageRank(edges, "src", "dst",
          iterations = 3, redistributeDangling = true)
        .orderBy($"node")
    }),

    // Statistical aggregates from EXACT integer moments
    // (operators.Moments): corr / OLS slope / intercept / R² of order
    // value (whole dollars) on quantity per return flag. The five moment
    // sums are BIGINT (commutative — bit-identical under any partition
    // layout), the statistics a fixed IEEE expression both engines run
    // verbatim — no rounding anywhere in the gate, unlike the
    // order-dependent float accumulation of the built-in corr().
    "q18_regr_corr" -> ((s, dir) => {
      import s.implicits._
      val base = Tables(s, dir, "lineitem").select($"l_returnflag",
        floor($"l_quantity").cast("long").as("x"),
        floor($"l_extendedprice".cast("decimal(12,2)")).cast("long").as("y"))
      graft.operators.Moments.bivariateStats(base, Seq("l_returnflag"),
          "x", "y")
        .orderBy($"l_returnflag")
    }),

    // Graph construction + subgraph counting, composed: the market-basket
    // co-occurrence projection (parts ordered together ≥2 times, hub
    // baskets capped — operators.CoOccurrence) feeds degree-ordered
    // triangle counting (operators.Triangles: each triangle counted once
    // at its lowest-(degree,id) corner, wedge fan-out O(m^1.5) regardless
    // of hubs). All integers; the oracle replays projection, orientation,
    // wedge join and closure verbatim.
    // The MAINTAINED moment table (Moments.mergeBatch/statsFromTable —
    // the BatchTables discipline on the lossless SUM-merge family): two
    // orderkey-parity batches persist their per-group moment vectors,
    // compaction folds them, and the read-time sum closes to statistics
    // EXACTLY equal to the one-shot — integer moment sums are
    // associative, so the oracle is q18's one-shot replay verbatim.
    "q20_regr_state" -> ((s, dir) => {
      import s.implicits._
      val base = Tables(s, dir, "lineitem").select($"l_returnflag",
        floor($"l_quantity").cast("long").as("x"),
        floor($"l_extendedprice".cast("decimal(12,2)")).cast("long").as("y"),
        pmod($"l_orderkey", lit(2)).as("_par"))
      val salt = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
      val table = s"graft_mom_state_$salt"
      val tmp = java.nio.file.Files.createTempDirectory(s"graft_mom_$salt")
        .toString
      try {
        graft.operators.Moments.mergeBatch(base.filter($"_par" === 0),
          Seq("l_returnflag"), "x", "y", table, s"$tmp/state", batchId = 0L)
        graft.operators.Moments.mergeBatch(base.filter($"_par" === 1),
          Seq("l_returnflag"), "x", "y", table, s"$tmp/state", batchId = 1L)
        graft.operators.Moments.compactMoments(s, table, upToBatchId = 1L,
          Seq("l_returnflag"))
        graft.operators.Moments.statsFromTable(s, table, Seq("l_returnflag"))
          .orderBy($"l_returnflag")
          .localCheckpoint(true)
      } finally {
        s.sql(s"DROP TABLE IF EXISTS $table")
      }
    }),

    "q19_basket_triangles" -> ((s, dir) => {
      import s.implicits._
      val edges = graft.operators.CoOccurrence.project(
        Tables(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minShared = 2L, maxBasketSize = 32)
      graft.operators.Triangles.triangleCounts(edges)
        .orderBy($"node")
    }),

    "q9_enrich_broadcast" -> ((s, dir) => {
      import s.implicits._
      val c = Tables(s, dir, "customer")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region")
      c.join(broadcast(n), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(r), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(
          count(lit(1)).as("n_cust"),
          sum($"c_acctbal".cast("decimal(18,2)")).cast("double").as("acctbal"))
        .orderBy($"r_name", $"n_name")
    }),
  )

  /** Eighteen unrolled Bellman-Ford rounds over the q39 weighted graph
    * (fixpoint by round 13 / 15 at sf0.01 / sf0.1 — probed in DuckDB
    * first; trailing rounds are no-ops). Distances are exact BIGINT
    * sums, no rounding anywhere. The chk CTE asserts BOTH the
    * reachable-set count and the distance sum are unchanged across the
    * last two rounds (min-merge is monotone, so equality = fixpoint): a
    * deeper graph at a future SF fails loudly via error() instead of
    * hash-mismatching. Shared verbatim by `q39_sssp` and
    * `q39_sssp_incr` — warm-start resume must equal the one-shot.
    */
  private val ssspOracle: String = {
    val rounds = (1 to 18).map { i =>
      s"""v$i AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
         |      SELECT node, dist FROM v${i - 1}
         |      UNION ALL
         |      SELECT e.dst AS node, v.dist + e.w AS dist
         |      FROM e JOIN v${i - 1} v ON e.src = v.node) GROUP BY node)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ce AS (SELECT a, b, 1 + (a + b) % 7 AS w FROM (
       |      SELECT DISTINCT o_custkey::BIGINT * 3 AS a,
       |        o_orderkey::BIGINT * 3 + 1 AS b FROM orders
       |      UNION
       |      SELECT DISTINCT l_orderkey::BIGINT * 3 + 1 AS a,
       |        l_partkey::BIGINT * 3 + 2 AS b
       |      FROM lineitem WHERE l_partkey % 5 = 0)),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM ce
       |      UNION ALL SELECT b, a, w FROM ce),
       |v0 AS MATERIALIZED (SELECT DISTINCT c_custkey::BIGINT * 3 AS node,
       |      0::BIGINT AS dist
       |      FROM customer WHERE c_nationkey = 7 AND c_custkey % 50 = 3),
       |$rounds,
       |chk AS (SELECT CASE WHEN
       |    (SELECT count(*) FROM v18) = (SELECT count(*) FROM v17) AND
       |    (SELECT sum(dist)::BIGINT FROM v18)
       |      = (SELECT sum(dist)::BIGINT FROM v17) THEN 1
       |  ELSE error('q39_sssp oracle: 18 unrolled rounds did not reach the shortest-path fixpoint - deepen the unroll') END AS ok)
       |SELECT node, dist FROM v18, chk
       |WHERE chk.ok = 1 ORDER BY node""".stripMargin
  }

  /** Shared WITH-prefix builder of the q45 oracles: the full HyperBall
    * replay over the given symmetrized-edge CTE (must define `ce(a, b)`)
    * up to the `nf` (t, DECIMAL(38,4)) table and the stationarity `chk`
    * at the given unroll depth. p=4: bucket = h >> 60, m = 16,
    * alpha = 0.673; the harmonic sum is the exact integer Σ 2^(53−rho) —
    * the engine's no-order-dependent-float discipline, replayed with
    * `<<` and HUGEINT sums.
    */
  private def hyperballNfSql(ceSql: String, nRounds: Int): String = {
    val nfs = (0 until nRounds).map { i =>
      s"""nf$i AS (SELECT ${i}::BIGINT AS t, sum(e4) AS nf FROM (
         |  SELECT CAST(round(CASE WHEN e_raw <= 40.0 AND zeros > 0
         |      THEN 16.0 * ln(16.0 / zeros) ELSE e_raw END, 4)
         |    AS DECIMAL(38,4)) AS e4
         |  FROM (SELECT (16.0 - v) AS zeros,
         |          (0.673::DOUBLE * 16 * 16)
         |            / ((16.0 - v) + s::DOUBLE / 9007199254740992.0) AS e_raw
         |        FROM (SELECT node, count(*) AS v,
         |                sum(1::BIGINT << (53 - rho)) AS s
         |              FROM r$i GROUP BY node))))""".stripMargin
    }.mkString(",\n")
    val nfUnion = (0 until nRounds).map(i => s"SELECT t, nf FROM nf$i")
      .mkString("\nUNION ALL ")
    s"""${hyperballRoundsSql(ceSql, nRounds)},
       |$nfs,
       |nf AS ($nfUnion)""".stripMargin
  }

  /** The version-proof q45 gate surface: per-round EXACT integer register
    * signatures `(t, regs, sum_rho, sum_pow)` — count of live registers,
    * Σ rho, and the global harmonic numerator Σ 2^(53−rho) as
    * DECIMAL(38,0) (HUGEINT-exact in DuckDB, decimal-exact in Spark).
    * No `ln`, no per-node float rounding anywhere: the round-13 driver
    * red proved a 220k-value round(DOUBLE,4) surface is one engine
    * upgrade away from hash divergence even when bit-exact on DuckDB
    * 1.0.0. The signature pins the identical register-frame evolution;
    * the float N(t) readout is spec-certified instead.
    */
  private def hyperballSigSql(ceSql: String, nRounds: Int): String = {
    val sigs = (0 until nRounds).map { i =>
      s"""sig$i AS (SELECT ${i}::BIGINT AS t, count(*)::BIGINT AS regs,
         |  sum(rho)::BIGINT AS sum_rho,
         |  (sum(1::BIGINT << (53 - rho)) // 1000000000000000000)::BIGINT
         |    AS pow_hi,
         |  (sum(1::BIGINT << (53 - rho)) % 1000000000000000000)::BIGINT
         |    AS pow_lo
         |  FROM r$i)""".stripMargin
    }.mkString(",\n")
    val sigUnion = (0 until nRounds)
      .map(i => s"SELECT t, regs, sum_rho, pow_hi, pow_lo FROM sig$i")
      .mkString("\nUNION ALL ")
    s"""${hyperballRoundsSql(ceSql, nRounds)},
       |$sigs,
       |sig AS ($sigUnion)""".stripMargin
  }

  /** Shared WITH-prefix of both q45 oracle surfaces: symmetrized edges
    * from the `ce(a, b)` CTE, splitmix64 node hashes, the p=4 register
    * split, `nRounds` unrolled max-merge rounds and the stationarity
    * `chk` error() assert.
    */
  private def hyperballRoundsSql(ceSql: String, nRounds: Int): String = {
    val rounds = (1 to nRounds).map { i =>
      s"""r$i AS MATERIALIZED (SELECT node, bucket, max(rho) AS rho FROM (
         |      SELECT node, bucket, rho FROM r${i - 1}
         |      UNION ALL
         |      SELECT e.src AS node, r.bucket, r.rho
         |      FROM e JOIN r${i - 1} r ON r.node = e.dst) GROUP BY 1, 2)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $ceSql,
       |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
       |      UNION ALL SELECT b, a FROM ce),
       |k0 AS (SELECT DISTINCT src AS node FROM e),
       |x0 AS (SELECT node, ((node::HUGEINT * 2135587861 +
       |      (((node::HUGEINT * 2654435769) % 4294967296) << 32))
       |    % 18446744073709551616)::UBIGINT AS x FROM k0),
       |z1 AS (
       |  SELECT node, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
       |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
       |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
       |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
       |z2 AS (
       |  SELECT node, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
       |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
       |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
       |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
       |zf AS (SELECT node, xor(z, z >> 31) AS h FROM z2),
       |r0 AS MATERIALIZED (SELECT node, (h >> 60)::BIGINT AS bucket,
       |      least(64 - length(bin(((h::HUGEINT * 16)
       |        % 18446744073709551616)::UBIGINT)) + 1, 53)::INT AS rho
       |      FROM zf),
       |$rounds,
       |chk AS (SELECT CASE WHEN
       |    (SELECT count(*) || '-' || sum(rho) FROM r$nRounds) =
       |    (SELECT count(*) || '-' || sum(rho) FROM r${nRounds - 1}) THEN 1
       |  ELSE error('q45 oracle: registers not stationary at round $nRounds - deepen the unroll') END AS ok)"""
      .stripMargin
  }

  /** The five wide integers the decimal-output probes emit — 0, a small
    * value, both sides of the 10^18 limb boundary, and a full-width
    * 38-digit value (one digit under DECIMAL(38,0)'s max).
    */
  private val probeInts = Seq("0", "7", "999999999999999999",
    "1000000000000000000", "12345678901234567890123456789012345678")
  private def probeValuesSpark: String =
    probeInts.map(v => s"('$v')").mkString("VALUES ", ", ", " AS t(v)")
  private def probeValuesDuck: String =
    probeInts.map(v => s"('$v')").mkString("(VALUES ", ", ", ") t(v)")

  private val tripartiteCeSql: String =
    """ce AS (SELECT DISTINCT o_custkey::BIGINT * 3 AS a,
      |              o_orderkey::BIGINT * 3 + 1 AS b FROM orders
      |            UNION
      |            SELECT DISTINCT l_orderkey::BIGINT * 3 + 1 AS a,
      |              l_partkey::BIGINT * 3 + 2 AS b
      |            FROM lineitem WHERE l_partkey % 5 = 0)""".stripMargin

  private val tradeCeSql: String =
    """ce AS (SELECT DISTINCT (o_custkey * 2)::BIGINT AS a,
      |              (l_suppkey * 2 + 1)::BIGINT AS b
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey)"""
      .stripMargin

  val oracleSql: Map[String, String] = Map(
    "q39_sssp" -> ssspOracle,
    "q39_sssp_incr" -> ssspOracle,
    "q31_benford" ->
      """WITH c AS (SELECT CAST(floor(abs(o_totalprice) * 100) AS BIGINT) AS c
        |           FROM orders),
        |d AS (SELECT CAST(substring(c::VARCHAR, 1, 1) AS INTEGER) AS digit,
        |        count(*)::BIGINT AS n
        |      FROM c WHERE c > 0 GROUP BY 1),
        |e AS (SELECT CAST(unnest(range(1, 10)) AS INTEGER) AS digit),
        |t AS (SELECT sum(n)::BIGINT AS total FROM d),
        |r AS (SELECT e.digit, coalesce(d.n, 0)::BIGINT AS n,
        |        coalesce(d.n, 0)::DOUBLE / t.total::DOUBLE AS share,
        |        round(ln(1.0 + 1.0 / e.digit) / ln(10.0), 6) AS expected,
        |        round(abs(coalesce(d.n, 0)::DOUBLE / t.total::DOUBLE
        |          - ln(1.0 + 1.0 / e.digit) / ln(10.0)), 6) AS dev
        |      FROM e LEFT JOIN d USING (digit) CROSS JOIN t)
        |SELECT digit, n, share, expected, dev, dev > 0.02 AS flagged
        |FROM r ORDER BY digit""".stripMargin,

    "q29_wow_growth" ->
      """WITH w AS (SELECT date_trunc('week', o_orderdate)::TIMESTAMP AS week,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT week, revenue,
        |  lag(revenue) OVER (ORDER BY week) AS prev_revenue,
        |  (revenue - lag(revenue) OVER (ORDER BY week)) /
        |    lag(revenue) OVER (ORDER BY week) AS wow_growth
        |FROM w ORDER BY week""".stripMargin,

    "q30_dq_freshness" ->
      """WITH m AS (SELECT max(epoch_us(ts))::BIGINT AS mx FROM events),
        |r AS (
        |  SELECT 'fresh' AS check_name, 'ts' AS target,
        |    coalesce(1706745600000000 - mx, -1)::BIGINT AS total,
        |    CASE WHEN mx IS NOT NULL
        |           AND 1706745600000000 - mx <= 604800000000
        |         THEN 0 ELSE 1 END::BIGINT AS violations,
        |    '2024-02-01' AS as_of
        |  FROM m
        |  UNION ALL
        |  SELECT 'fresh', 'ts',
        |    coalesce(1717200000000000 - mx, -1)::BIGINT,
        |    CASE WHEN mx IS NOT NULL
        |           AND 1717200000000000 - mx <= 604800000000
        |         THEN 0 ELSE 1 END::BIGINT,
        |    '2024-06-01'
        |  FROM m)
        |SELECT check_name, target, total, violations,
        |  violations = 0 AS passed, as_of
        |FROM r ORDER BY as_of""".stripMargin,

    "q28_pseudonymize" ->
      """SELECT c_custkey,
        |  CASE WHEN c_name IS NOT NULL
        |       THEN md5('epoch-7' || ':' || c_name) END AS name_token,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q27_window_ranks" ->
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  rank() OVER w::INTEGER AS rnk,
        |  dense_rank() OVER w::INTEGER AS drnk,
        |  percent_rank() OVER w AS prnk,
        |  cume_dist() OVER w AS cdist,
        |  ntile(4) OVER w::INTEGER AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |  ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // both phases unrolled; the warm round's no-winner fallback is the
    // PRIOR label (p0), not the identity — the one place the incremental
    // machinery differs from the cold oracle
    "q26_communities_incr" ->
      """WITH ceb AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |             WHERE o_orderdate < DATE '1996-01-01'),
        |eb AS (SELECT a AS src, b AS dst FROM ceb
        |       UNION ALL SELECT b AS src, a AS dst FROM ceb),
        |nb AS (SELECT DISTINCT src AS node FROM eb
        |       UNION SELECT DISTINCT dst AS node FROM eb),
        |b0 AS (SELECT node, node AS label FROM nb),
        |bv1 AS (SELECT eb.dst AS node, b0.label, count(*)::BIGINT AS c
        |        FROM eb JOIN b0 ON eb.src = b0.node GROUP BY 1, 2),
        |bw1 AS (SELECT node, label, row_number() OVER
        |          (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |        FROM bv1),
        |bl1 AS (SELECT nb.node, coalesce(w.label, nb.node) AS label
        |        FROM nb LEFT JOIN (SELECT node, label FROM bw1 WHERE rn = 1) w
        |        USING (node)),
        |bv2 AS (SELECT eb.dst AS node, bl1.label, count(*)::BIGINT AS c
        |        FROM eb JOIN bl1 ON eb.src = bl1.node GROUP BY 1, 2),
        |bw2 AS (SELECT node, label, row_number() OVER
        |          (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |        FROM bv2),
        |bl2 AS (SELECT nb.node, coalesce(w.label, nb.node) AS label
        |        FROM nb LEFT JOIN (SELECT node, label FROM bw2 WHERE rn = 1) w
        |        USING (node)),
        |ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b AS src, a AS dst FROM ce),
        |n AS (SELECT DISTINCT src AS node FROM e
        |      UNION SELECT DISTINCT dst AS node FROM e),
        |p0 AS (SELECT n.node, coalesce(bl2.label, n.node) AS label
        |       FROM n LEFT JOIN bl2 USING (node)),
        |v1 AS (SELECT e.dst AS node, p0.label, count(*)::BIGINT AS c
        |       FROM e JOIN p0 ON e.src = p0.node GROUP BY 1, 2),
        |w1 AS (SELECT node, label, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |       FROM v1),
        |l1 AS (SELECT n.node, coalesce(w.wl, p0.label) AS label
        |       FROM n JOIN p0 USING (node)
        |       LEFT JOIN (SELECT node, label AS wl FROM w1 WHERE rn = 1) w
        |       USING (node))
        |SELECT node, label AS community FROM l1 ORDER BY node""".stripMargin,

    "q26_communities" ->
      """WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b AS src, a AS dst FROM ce),
        |n AS (SELECT DISTINCT src AS node FROM e
        |      UNION SELECT DISTINCT dst AS node FROM e),
        |l0 AS (SELECT node, node AS label FROM n),
        |v1 AS (SELECT e.dst AS node, l0.label, count(*)::BIGINT AS c
        |       FROM e JOIN l0 ON e.src = l0.node GROUP BY 1, 2),
        |w1 AS (SELECT node, label, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |       FROM v1),
        |l1 AS (SELECT n.node, coalesce(w.label, n.node) AS label
        |       FROM n LEFT JOIN (SELECT node, label FROM w1 WHERE rn = 1) w
        |       USING (node)),
        |v2 AS (SELECT e.dst AS node, l1.label, count(*)::BIGINT AS c
        |       FROM e JOIN l1 ON e.src = l1.node GROUP BY 1, 2),
        |w2 AS (SELECT node, label, row_number() OVER
        |         (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        |       FROM v2),
        |l2 AS (SELECT n.node, coalesce(w.label, n.node) AS label
        |       FROM n LEFT JOIN (SELECT node, label FROM w2 WHERE rn = 1) w
        |       USING (node))
        |SELECT node, label AS community FROM l2 ORDER BY node""".stripMargin,

    "q23_bloom_join" ->
      """SELECT date_trunc('month', o.o_orderdate)::TIMESTAMP AS order_month,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount)
        |    AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the personalized teleport unrolled: seed mass scale // |S in graph|,
    // per-round CASE base, all BIGINT (::BIGINT at every sum)
    "q16_pagerank_pers" ->
      """WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b, a FROM ce),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |sd AS (SELECT DISTINCT c_custkey * 2 AS node FROM customer
        |       WHERE c_nationkey = 3),
        |sn AS (SELECT n.node FROM nodes n JOIN sd USING (node)),
        |cs AS (SELECT count(*) AS ns FROM sn),
        |p0 AS (SELECT n.node,
        |         CASE WHEN s.node IS NOT NULL
        |              THEN 1000000000000 // (SELECT ns FROM cs)
        |              ELSE 0 END AS pr
        |       FROM nodes n LEFT JOIN sn s USING (node)),
        |m1 AS (SELECT e.dst AS node, sum(p0.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p0 ON e.src = p0.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p1 AS (SELECT n.node,
        |         CASE WHEN s.node IS NOT NULL THEN
        |           (15 * (1000000000000 // (SELECT ns FROM cs)) // 100)
        |           ELSE 0 END
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes n LEFT JOIN sn s USING (node)
        |       LEFT JOIN m1 USING (node)),
        |m2 AS (SELECT e.dst AS node, sum(p1.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p1 ON e.src = p1.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p2 AS (SELECT n.node,
        |         CASE WHEN s.node IS NOT NULL THEN
        |           (15 * (1000000000000 // (SELECT ns FROM cs)) // 100)
        |           ELSE 0 END
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes n LEFT JOIN sn s USING (node)
        |       LEFT JOIN m2 USING (node)),
        |m3 AS (SELECT e.dst AS node, sum(p2.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p2 ON e.src = p2.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p3 AS (SELECT n.node,
        |         CASE WHEN s.node IS NOT NULL THEN
        |           (15 * (1000000000000 // (SELECT ns FROM cs)) // 100)
        |           ELSE 0 END
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes n LEFT JOIN sn s USING (node)
        |       LEFT JOIN m3 USING (node))
        |SELECT node, pr FROM p3 ORDER BY node""".stripMargin,

    // the full grouping lattice with an explicit indicator id; NULLS
    // FIRST pinned (Spark's default) against DuckDB's NULLS LAST
    "q35_cube" ->
      """SELECT o_orderpriority, year(o_orderdate)::BIGINT AS o_year,
        |  (GROUPING(o_orderpriority) * 2
        |   + GROUPING(year(o_orderdate)))::BIGINT AS gid,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE (o_orderpriority, year(o_orderdate))
        |ORDER BY gid, o_orderpriority NULLS FIRST,
        |  o_year NULLS FIRST""".stripMargin,

    // the seeded Laplace mechanism replayed: hex52 uniform, inverse CDF,
    // the identical IEEE chain, round-6. The group encodes as
    // md5(seed || md5(value)) — per-value inner hashes keep the
    // (seed, group) -> draw map injective (ADVICE r12)
    "q33_dp_counts" ->
      """WITH c AS (SELECT o_orderpriority, count(*)::BIGINT AS n
        |           FROM orders GROUP BY 1),
        |u AS (SELECT o_orderpriority, n,
        |        (('0x' || substring(md5('release-7' ||
        |            coalesce(md5(o_orderpriority), '@NULL@')),
        |            1, 13))::BIGINT::DOUBLE + 0.5)
        |          / 4503599627370496.0 AS u
        |      FROM c)
        |SELECT o_orderpriority,
        |  round(n::DOUBLE + (-2.0 * sign(u - 0.5))
        |    * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS dp_count
        |FROM u ORDER BY o_orderpriority""".stripMargin,

    // ten unrolled peel rounds (fixpoint by round 2 at the gate scales;
    // trailing rounds are no-ops) — every degree an exact BIGINT. The
    // survivor CTEs are MATERIALIZED: each is referenced twice per
    // round, and DuckDB's default inlining would blow the tree up 2^10
    // (measured: hang vs 0.1 s). The chk CTE asserts |s9| = |s10| (peel
    // is monotone, so equal counts = fixpoint): a graph needing > 10
    // rounds at some future SF fails LOUDLY via error() instead of
    // shifting the oracle's answer into a hash mismatch (ADVICE r12)
    "q34_kcore" -> {
      val rounds = (1 to 10).map { i =>
        s"""d$i AS (SELECT e.src AS node, count(*)::BIGINT AS c
           |      FROM e JOIN s${i - 1} a ON e.src = a.node
           |      JOIN s${i - 1} b ON e.dst = b.node GROUP BY 1),
           |s$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= 46)""".stripMargin
      }.mkString(",\n")
      s"""WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
         |      UNION ALL SELECT b, a FROM ce),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
         |$rounds,
         |fin AS (SELECT e.src AS node, count(*)::BIGINT AS core_degree
         |        FROM e JOIN s10 a ON e.src = a.node
         |        JOIN s10 b ON e.dst = b.node GROUP BY 1),
         |chk AS (SELECT CASE WHEN (SELECT count(*) FROM s9)
         |                       = (SELECT count(*) FROM s10) THEN 1
         |  ELSE error('q34_kcore oracle: 10 unrolled rounds did not reach the k-core fixpoint - deepen the unroll') END AS ok)
         |SELECT node, core_degree FROM fin, chk
         |WHERE core_degree >= 46 AND chk.ok = 1 ORDER BY node""".stripMargin
    },

    // twelve unrolled frontier rounds (exhausted by round 9 at the gate
    // scales — probed in DuckDB first); visited sets MATERIALIZED like
    // the k-core survivors. The chk CTE asserts the frontier is EMPTY
    // at the last unrolled round, so a deeper graph at a future SF
    // fails loudly via error() instead of hash-mismatching
    "q37_bfs_hops" -> {
      val rounds = (1 to 12).map { i =>
        s"""f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node FROM e
           |      JOIN f${i - 1} f ON e.src = f.node
           |      WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
           |                        WHERE v.node = e.dst)),
           |v$i AS MATERIALIZED (SELECT node FROM v${i - 1}
           |      UNION ALL SELECT node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val hops = (0 to 12).map(i =>
        s"SELECT node, ${i}::BIGINT AS hops FROM f$i").mkString("\nUNION ALL ")
      s"""WITH ce AS (SELECT DISTINCT o_custkey::BIGINT * 3 AS a,
         |              o_orderkey::BIGINT * 3 + 1 AS b FROM orders
         |            UNION
         |            SELECT DISTINCT l_orderkey::BIGINT * 3 + 1 AS a,
         |              l_partkey::BIGINT * 3 + 2 AS b
         |            FROM lineitem WHERE l_partkey % 5 = 0),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
         |      UNION ALL SELECT b, a FROM ce),
         |f0 AS MATERIALIZED (SELECT DISTINCT c_custkey::BIGINT * 3 AS node
         |      FROM customer WHERE c_nationkey = 7 AND c_custkey % 50 = 3),
         |v0 AS MATERIALIZED (SELECT node FROM f0),
         |$rounds,
         |chk AS (SELECT CASE WHEN (SELECT count(*) FROM f12) = 0 THEN 1
         |  ELSE error('q37_bfs_hops oracle: 12 unrolled rounds did not exhaust the frontier - deepen the unroll') END AS ok)
         |SELECT node, hops FROM ($hops) h, chk
         |WHERE chk.ok = 1 ORDER BY node""".stripMargin
    },

    // the clamp + Laplace chain replayed: per-row clamp in DOUBLE (one
    // fixed IEEE expression), exact DECIMAL(38,6) sum, hex52 uniforms
    // (injective md5(seed || md5(value)) group encoding), inverse CDF,
    // the identical scale arithmetic — sum at (40−5)/0.5, mean via the
    // ε/2 split (scales (40−5)/0.25 and 1/0.25) with the max(n+noise,1)
    // denominator guard; round-6 output, the ln discipline
    "q38_dp_sums" ->
      """WITH c AS (SELECT l_returnflag,
        |    CAST(sum(CAST(CASE WHEN l_quantity IS NOT NULL THEN
        |        least(greatest(l_quantity::DOUBLE, 5.0), 40.0) END
        |      AS DECIMAL(38,6))) AS DOUBLE) AS s,
        |    count(l_quantity)::BIGINT AS n
        |  FROM lineitem GROUP BY 1),
        |u AS (SELECT l_returnflag, s, n,
        |    (('0x' || substring(md5('release-13' ||
        |        coalesce(md5(l_returnflag), '@NULL@')), 1, 13))
        |      ::BIGINT::DOUBLE + 0.5) / 4503599627370496.0 AS u_s,
        |    (('0x' || substring(md5('release-13#sum' ||
        |        coalesce(md5(l_returnflag), '@NULL@')), 1, 13))
        |      ::BIGINT::DOUBLE + 0.5) / 4503599627370496.0 AS u_ms,
        |    (('0x' || substring(md5('release-13#cnt' ||
        |        coalesce(md5(l_returnflag), '@NULL@')), 1, 13))
        |      ::BIGINT::DOUBLE + 0.5) / 4503599627370496.0 AS u_mc
        |  FROM c)
        |SELECT l_returnflag,
        |  round(s + (-((40.0 - 5.0) / 0.5)) * sign(u_s - 0.5)
        |    * ln(1.0 - 2.0 * abs(u_s - 0.5)), 6) AS dp_sum,
        |  round((s + (-((40.0 - 5.0) / 0.25)) * sign(u_ms - 0.5)
        |      * ln(1.0 - 2.0 * abs(u_ms - 0.5)))
        |    / greatest(n::DOUBLE + (-(1.0 / 0.25)) * sign(u_mc - 0.5)
        |      * ln(1.0 - 2.0 * abs(u_mc - 0.5)), 1.0), 6) AS dp_mean
        |FROM u ORDER BY l_returnflag""".stripMargin,

    // three unrolled weighted rounds: contribution pr·w // sw, the
    // identical integer chain the engine runs — bit-for-bit, no rounding
    "q41_pagerank_weighted" -> {
      val rounds = (1 to 3).map { i =>
        s"""m$i AS (SELECT e.dst AS node,
           |       sum(p${i - 1}.pr * e.w // sw.sw)::BIGINT AS m
           |     FROM e JOIN p${i - 1} ON e.src = p${i - 1}.node
           |     JOIN sw ON e.src = sw.src GROUP BY 1),
           |p$i AS (SELECT nodes.node,
           |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
           |         + (85 * coalesce(m, 0) // 100) AS pr
           |       FROM nodes LEFT JOIN m$i USING (node))""".stripMargin
      }.mkString(",\n")
      s"""WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |cw AS (SELECT a, b, 1 + (a + b) % 7 AS w FROM ce),
         |e AS (SELECT a AS src, b AS dst, w FROM cw
         |      UNION ALL SELECT b, a, w FROM cw),
         |sw AS (SELECT src, sum(w)::BIGINT AS sw FROM e GROUP BY 1),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |c0 AS (SELECT count(*) AS n FROM nodes),
         |p0 AS (SELECT node, 1000000000000 // (SELECT n FROM c0) AS pr
         |       FROM nodes),
         |$rounds
         |SELECT node, pr FROM p3 ORDER BY node""".stripMargin
    },

    // three unrolled HITS rounds, every half-step exact BIGINT: raw
    // propagation sum, then integer-div normalization by
    // q = greatest(S // scale, 1) — identical arithmetic to the engine,
    // so the replay is bit-for-bit (no rounding anywhere)
    "q40_hits" -> {
      val sc = "1000000000"
      val rounds = (1 to 3).map { i =>
        s"""ar$i AS MATERIALIZED (SELECT e.dst AS node, sum(h.h)::BIGINT AS v
           |      FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
           |a$i AS MATERIALIZED (SELECT node, v // greatest(
           |      (SELECT sum(v)::BIGINT FROM ar$i) // $sc, 1) AS auth
           |      FROM ar$i),
           |hr$i AS MATERIALIZED (SELECT e.src AS node,
           |      sum(a.auth)::BIGINT AS v
           |      FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
           |h$i AS MATERIALIZED (SELECT node, v // greatest(
           |      (SELECT sum(v)::BIGINT FROM hr$i) // $sc, 1) AS h
           |      FROM hr$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey::BIGINT * 2 AS src,
         |      l_partkey::BIGINT * 2 + 1 AS dst
         |      FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |h0 AS MATERIALIZED (SELECT DISTINCT src AS node, $sc::BIGINT AS h
         |      FROM e),
         |$rounds
         |SELECT coalesce(h.node, a.node) AS node,
         |  coalesce(h.h, 0)::BIGINT AS hub,
         |  coalesce(a.auth, 0)::BIGINT AS auth
         |FROM h3 h FULL JOIN a3 a ON h.node = a.node
         |ORDER BY node""".stripMargin
    },

    // per-(source, node) BFS unrolled 14 rounds with an exhaust assert
    // (per-source eccentricity 9/11 at sf0.01/sf0.1, probed first); the
    // harmonic numerator is pure // integer arithmetic over lcm(1..14)
    "q42_harmonic" -> {
      val L = 360360L // lcm(1..14)
      val rounds = (1 to 14).map { i =>
        s"""f$i AS MATERIALIZED (SELECT DISTINCT f.source, e.dst AS node
           |      FROM e JOIN f${i - 1} f ON e.src = f.node
           |      WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
           |          WHERE v.source = f.source AND v.node = e.dst)),
           |v$i AS MATERIALIZED (SELECT source, node FROM v${i - 1}
           |      UNION ALL SELECT source, node FROM f$i)""".stripMargin
      }.mkString(",\n")
      val dists = (1 to 14).map(i =>
        s"SELECT source, node, ${i}::BIGINT AS d FROM f$i")
        .mkString("\nUNION ALL ")
      s"""WITH ce AS (SELECT DISTINCT o_custkey::BIGINT * 3 AS a,
         |              o_orderkey::BIGINT * 3 + 1 AS b FROM orders
         |            UNION
         |            SELECT DISTINCT l_orderkey::BIGINT * 3 + 1 AS a,
         |              l_partkey::BIGINT * 3 + 2 AS b
         |            FROM lineitem WHERE l_partkey % 5 = 0),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
         |      UNION ALL SELECT b, a FROM ce),
         |f0 AS MATERIALIZED (SELECT DISTINCT c_custkey::BIGINT * 3 AS source,
         |      c_custkey::BIGINT * 3 AS node
         |      FROM customer WHERE c_nationkey = 7 AND c_custkey % 50 = 3),
         |v0 AS MATERIALIZED (SELECT source, node FROM f0),
         |$rounds,
         |chk AS (SELECT CASE WHEN (SELECT count(*) FROM f14) = 0 THEN 1
         |  ELSE error('q42_harmonic oracle: 14 unrolled rounds did not exhaust the frontier - deepen the unroll') END AS ok),
         |dd AS ($dists)
         |SELECT node, count(*)::BIGINT AS reach,
         |  sum($L // d)::BIGINT AS h_num,
         |  round(sum($L // d)::BIGINT::DOUBLE / $L.0, 6) AS h
         |FROM dd, chk WHERE chk.ok = 1
         |GROUP BY node ORDER BY node""".stripMargin
    },

    // the Brandes forward phase unrolled 13 rounds: per-(source, node)
    // BFS carrying EXACT σ path counts (σ(w) at level l+1 = Σ σ(v) over
    // DAG predecessors — a per-round GROUP BY sum in DECIMAL), an
    // exhaust assert, and the integer-only per-node aggregate surface
    "q46_betweenness" -> {
      val rounds = (1 to 13).map { i =>
        s"""n$i AS MATERIALIZED (
           |  SELECT f.source, e.dst AS node, ${i}::BIGINT AS d,
           |    sum(f.sigma)::DECIMAL(38,0) AS sigma
           |  FROM e JOIN n${i - 1} f ON e.src = f.node
           |  WHERE NOT EXISTS (SELECT 1 FROM v${i - 1} v
           |      WHERE v.source = f.source AND v.node = e.dst)
           |  GROUP BY 1, 2),
           |v$i AS MATERIALIZED (SELECT source, node, d, sigma FROM v${i - 1}
           |      UNION ALL SELECT source, node, d, sigma FROM n$i)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH ce AS (SELECT DISTINCT o_custkey::BIGINT * 3 AS a,
         |              o_orderkey::BIGINT * 3 + 1 AS b FROM orders
         |            UNION
         |            SELECT DISTINCT l_orderkey::BIGINT * 3 + 1 AS a,
         |              l_partkey::BIGINT * 3 + 2 AS b
         |            FROM lineitem WHERE l_partkey % 5 = 0),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
         |      UNION ALL SELECT b, a FROM ce),
         |n0 AS MATERIALIZED (SELECT DISTINCT c_custkey::BIGINT * 3 AS source,
         |      c_custkey::BIGINT * 3 AS node, 0::BIGINT AS d,
         |      1::DECIMAL(38,0) AS sigma
         |      FROM customer WHERE c_nationkey = 7 AND c_custkey % 50 = 3),
         |v0 AS MATERIALIZED (SELECT source, node, d, sigma FROM n0),
         |$rounds,
         |chk AS (SELECT CASE WHEN (SELECT count(*) FROM n13) = 0 THEN 1
         |  ELSE error('q46 oracle: 13 unrolled rounds did not exhaust the frontier - deepen the unroll') END AS ok),
         |agg AS (SELECT node, count(*)::BIGINT AS reach,
         |    sum(d)::BIGINT AS sum_dist, sum(sigma)::HUGEINT AS ss
         |  FROM v13, chk WHERE chk.ok = 1 AND d >= 1 GROUP BY node)
         |SELECT node, reach, sum_dist,
         |  (ss // (1000000000000000000::HUGEINT
         |    * 1000000000000000000))::BIGINT AS sigma_hi,
         |  ((ss % (1000000000000000000::HUGEINT * 1000000000000000000))
         |    // 1000000000000000000)::BIGINT AS sigma_mid,
         |  (ss % 1000000000000000000)::BIGINT AS sigma_lo
         |FROM agg ORDER BY node""".stripMargin
    },

    // trim + FB-min coloring SCC replayed in integer SQL: 3 unrolled
    // trim passes, 4 phases of 8-round forward/backward min-label
    // fixpoints, per-fixpoint sum(lab) stationarity asserts and a final
    // everything-decided assert — no float anywhere
    "q47_scc" -> {
      val nPhases = 4
      val nRounds = 8
      def fixpoint(pfx: String, remRel: String, rel: String, from: String,
                   to: String): String = {
        val rounds = (1 to nRounds).map { i =>
          s"""$pfx$i AS MATERIALIZED (SELECT node, min(lab) AS lab FROM (
             |      SELECT node, lab FROM $pfx${i - 1}
             |      UNION ALL
             |      SELECT e.$to AS node, f.lab FROM $rel e
             |      JOIN $pfx${i - 1} f ON e.$from = f.node) GROUP BY 1)"""
            .stripMargin
        }.mkString(",\n")
        s"""${pfx}0 AS (SELECT node, node AS lab FROM $remRel),
           |$rounds""".stripMargin
      }
      val phases = (1 to nPhases).map { p =>
        s"""e${p}x AS MATERIALIZED (SELECT e.src, e.dst FROM e
           |      JOIN r$p a ON a.node = e.src
           |      JOIN r$p b ON b.node = e.dst),
           |${fixpoint(s"f$p", s"r$p", s"e${p}x", "src", "dst")},
           |${fixpoint(s"b$p", s"r$p", s"e${p}x", "dst", "src")},
           |dec$p AS MATERIALIZED (SELECT f.node, f.lab AS scc
           |      FROM f$p$nRounds f JOIN b$p$nRounds b ON b.node = f.node
           |      WHERE f.lab = b.lab),
           |r${p + 1} AS MATERIALIZED (SELECT node FROM r$p
           |      EXCEPT SELECT node FROM dec$p)""".stripMargin
      }.mkString(",\n")
      val asserts = (1 to nPhases).flatMap(p => Seq(
        s"(SELECT sum(lab) FROM f$p$nRounds) = (SELECT sum(lab) FROM f$p${nRounds - 1})",
        s"(SELECT sum(lab) FROM b$p$nRounds) = (SELECT sum(lab) FROM b$p${nRounds - 1})"))
        .mkString("\n    AND ")
      val decs = (1 to nPhases)
        .map(p => s"SELECT node, scc FROM dec$p").mkString("\n  UNION ALL ")
      s"""WITH ol AS (SELECT o_custkey::BIGINT * 2 AS c,
         |      l_suppkey::BIGINT * 2 + 1 AS sp,
         |      c_nationkey AS cn, s_nationkey AS sn
         |    FROM orders
         |    JOIN lineitem ON l_orderkey = o_orderkey
         |    JOIN customer ON c_custkey = o_custkey
         |    JOIN supplier ON s_suppkey = l_suppkey
         |    WHERE c_nationkey IN (3, 7, 11, 19)
         |      AND s_nationkey IN (3, 7, 11, 19)),
         |e AS MATERIALIZED (SELECT DISTINCT c AS src, sp AS dst FROM ol
         |      WHERE cn <= sn
         |      UNION SELECT DISTINCT sp, c FROM ol WHERE cn = sn),
         |r0 AS MATERIALIZED (SELECT src AS node FROM e
         |      UNION SELECT dst FROM e),
         |t1 AS MATERIALIZED (SELECT x.node FROM r0 x WHERE
         |  EXISTS (SELECT 1 FROM e JOIN r0 y ON y.node = e.dst
         |          WHERE e.src = x.node) AND
         |  EXISTS (SELECT 1 FROM e JOIN r0 y ON y.node = e.src
         |          WHERE e.dst = x.node)),
         |t2 AS MATERIALIZED (SELECT x.node FROM t1 x WHERE
         |  EXISTS (SELECT 1 FROM e JOIN t1 y ON y.node = e.dst
         |          WHERE e.src = x.node) AND
         |  EXISTS (SELECT 1 FROM e JOIN t1 y ON y.node = e.src
         |          WHERE e.dst = x.node)),
         |t3 AS MATERIALIZED (SELECT x.node FROM t2 x WHERE
         |  EXISTS (SELECT 1 FROM e JOIN t2 y ON y.node = e.dst
         |          WHERE e.src = x.node) AND
         |  EXISTS (SELECT 1 FROM e JOIN t2 y ON y.node = e.src
         |          WHERE e.dst = x.node)),
         |r1 AS MATERIALIZED (SELECT node FROM t3),
         |$phases,
         |chk AS (SELECT CASE WHEN
         |    (SELECT count(*) FROM t3) = (SELECT count(*) FROM t2)
         |    AND $asserts
         |    AND (SELECT count(*) FROM r${nPhases + 1}) = 0 THEN 1
         |  ELSE error('q47 oracle: trim/fixpoint not stationary or nodes undecided at the unrolled depths - deepen the unroll') END AS ok)
         |SELECT node, scc FROM (
         |  SELECT node, node AS scc FROM r0
         |  WHERE node NOT IN (SELECT node FROM t3)
         |  UNION ALL $decs), chk
         |WHERE chk.ok = 1 ORDER BY node""".stripMargin
    },

    // degrees, the capped distance-2 join, the same round-6 ln sums;
    // jc keeps UNCAPPED endpoint degrees (the engine contract)
    "q43_link_pred" ->
      """WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b, a FROM ce),
        |deg AS MATERIALIZED (SELECT src AS node, count(*)::BIGINT AS deg
        |      FROM e GROUP BY 1),
        |mids AS MATERIALIZED (SELECT e.src AS z, e.dst, d.deg AS zdeg
        |      FROM e JOIN deg d ON d.node = e.src
        |      WHERE d.deg BETWEEN 2 AND 64),
        |pairs AS (SELECT m1.dst AS a, m2.dst AS b,
        |        count(*)::BIGINT AS cn,
        |        sum(1.0 / ln(m1.zdeg::DOUBLE)) AS aa_raw,
        |        sum(1.0 / m1.zdeg::DOUBLE) AS ra_raw
        |      FROM mids m1 JOIN mids m2 USING (z)
        |      WHERE m1.dst < m2.dst AND m1.dst % 7 = 0 AND m2.dst % 7 = 0
        |      GROUP BY 1, 2)
        |SELECT p.a, p.b, p.cn,
        |  round(p.cn::DOUBLE / (da.deg + db.deg - p.cn)::DOUBLE, 6) AS jc,
        |  round(aa_raw, 6) AS aa, round(ra_raw, 6) AS ra
        |FROM pairs p JOIN deg da ON da.node = p.a
        |JOIN deg db ON db.node = p.b
        |ORDER BY p.a, p.b""".stripMargin,

    // exact HUGEINT moment sums (== Spark's DECIMAL(38,0)), one final
    // sqrt/divide in double, the zero-variance NULL guard
    "q44_assortativity" ->
      """WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b, a FROM ce),
        |deg AS MATERIALIZED (SELECT src AS node, count(*)::BIGINT AS deg
        |      FROM e GROUP BY 1),
        |xy AS (SELECT dx.deg AS x, dy.deg AS y FROM e
        |       JOIN deg dx ON dx.node = e.src JOIN deg dy ON dy.node = e.dst),
        |m AS (SELECT count(*)::BIGINT AS edges,
        |        sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |        sum(x * x) AS sxx, sum(y * y) AS syy FROM xy),
        |v AS (SELECT edges,
        |        (edges * sxy - sx * sy)::DOUBLE AS num,
        |        (edges * sxx - sx * sx)::DOUBLE AS vx,
        |        (edges * syy - sy * sy)::DOUBLE AS vy FROM m)
        |SELECT edges,
        |  CASE WHEN vx > 0 AND vy > 0
        |    THEN round(num / sqrt(vx * vy), 6) END AS r
        |FROM v""".stripMargin,

    // the whole HyperBall replay: splitmix64 node hashes, p=4 register
    // split, 13 unrolled max-merge rounds with a stationary-signature
    // error() assert, gated on the per-round EXACT integer register
    // signature (no float anywhere — version-proof across DuckDB builds)
    "q45_hyperball" -> (hyperballSigSql(tripartiteCeSql, 13) +
      "\nSELECT t, regs, sum_rho, pow_hi, pow_lo FROM sig, chk WHERE chk.ok = 1 ORDER BY t"),

    // the ONE-SHOT full-graph fixpoint signature (r5 stationary,
    // chk-asserted): resume-from-persisted-frame must land exactly here
    "q45_hyperball_incr" -> (hyperballRoundsSql(tradeCeSql, 5) +
      """
        |SELECT count(*)::BIGINT AS regs, sum(rho)::BIGINT AS sum_rho,
        |  (sum(1::BIGINT << (53 - rho)) // 1000000000000000000)::BIGINT
        |    AS pow_hi,
        |  (sum(1::BIGINT << (53 - rho)) % 1000000000000000000)::BIGINT
        |    AS pow_lo
        |FROM r5, chk WHERE chk.ok = 1""".stripMargin),

    // the HyperANF readout over the same nf table: 0.9-quantile hit +
    // linear interpolation, every input cast ::DOUBLE explicitly
    "q45_eff_diameter" -> (hyperballNfSql(tradeCeSql, 5) +
      """,
        |top AS (SELECT max(t) AS t_max, max(nf)::DOUBLE AS nf_max FROM nf),
        |cand AS (SELECT t, nf::DOUBLE AS f,
        |           lag(nf::DOUBLE) OVER (ORDER BY t) AS pf FROM nf),
        |hit AS (SELECT c.t, c.f, c.pf, top.t_max, top.nf_max
        |        FROM cand c, top, chk
        |        WHERE chk.ok = 1 AND c.f >= 0.9::DOUBLE * top.nf_max
        |        ORDER BY c.t LIMIT 1)
        |SELECT t_max, nf_max,
        |  round(CASE WHEN t = 0 THEN 0.0
        |    ELSE t::DOUBLE - 1.0 + (0.9::DOUBLE * nf_max - pf) / (f - pf)
        |  END, 4) AS eff_diameter
        |FROM hit""".stripMargin),

    // the decimal-output driver probes (see the queries-map comment):
    // same five constants through three output idioms
    "probe_decimal_out" ->
      (s"SELECT CAST(v AS DECIMAL(38,0)) AS x FROM $probeValuesDuck" +
        " ORDER BY x"),
    "probe_decimal_limbs" ->
      s"""SELECT
         |  (x // (1000000000000000000::HUGEINT
         |    * 1000000000000000000))::BIGINT AS hi,
         |  ((x % (1000000000000000000::HUGEINT * 1000000000000000000))
         |    // 1000000000000000000)::BIGINT AS mid,
         |  (x % 1000000000000000000)::BIGINT AS lo
         |FROM (SELECT CAST(v AS DECIMAL(38,0))::HUGEINT AS x
         |      FROM $probeValuesDuck)
         |ORDER BY hi, mid, lo""".stripMargin,
    "probe_decimal_str" ->
      (s"SELECT CAST(v AS DECIMAL(38,0))::VARCHAR AS x" +
        s" FROM $probeValuesDuck ORDER BY x"),

    // the plain join — the skew routing must be answer-invisible
    "q36_skew_join" ->
      """WITH f AS (SELECT CASE WHEN l_linenumber >= 3 THEN 1
        |    ELSE l_partkey END AS skew_key, l_extendedprice
        |  FROM lineitem)
        |SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
        |    AS total_price
        |FROM f JOIN part ON skew_key = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_adaptive_join" ->
      """SELECT c.c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
        |    AS total_spend
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q24_privacy_audit" ->
      """SELECT c_nationkey, c_mktsegment,
        |  count(*) AS group_n,
        |  count(DISTINCT c_acctbal) AS l_diversity,
        |  count(*) >= 12 AS k_anonymous,
        |  count(DISTINCT c_acctbal) >= 3 AS l_diverse
        |FROM customer GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q25_k_anon_enforce" ->
      """WITH g AS (SELECT *, count(*) OVER
        |    (PARTITION BY c_nationkey, c_mktsegment) AS gn FROM customer)
        |SELECT c_custkey, c_nationkey, c_mktsegment
        |FROM g WHERE gn >= 12 ORDER BY c_custkey""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_revenue_filter" ->
      """SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q3_top_orders" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |  CAST(round(sum(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        |FROM customer c
        |JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,

    // projection + orientation + wedge + closure replay, all integer
    "q19_basket_triangles" ->
      """WITH bs AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |            FROM lineitem
        |            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        |sz AS (SELECT b, count(*) AS bd FROM bs GROUP BY 1),
        |kept AS (SELECT bs.b, bs.i FROM bs JOIN sz USING (b) WHERE bd <= 32),
        |pairs AS (SELECT a.i AS x, c.i AS y, count(*) AS shared
        |          FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
        |          GROUP BY 1, 2),
        |e AS (SELECT x, y FROM pairs WHERE shared >= 2),
        |nd AS (SELECT n, count(*) AS d FROM
        |        (SELECT x AS n FROM e UNION ALL SELECT y FROM e) u GROUP BY 1),
        |o AS (SELECT CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |               THEN e.x ELSE e.y END AS s,
        |             CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |               THEN e.y ELSE e.x END AS t,
        |             CASE WHEN dx.d < dy.d OR (dx.d = dy.d AND e.x < e.y)
        |               THEN dy.d ELSE dx.d END AS dt
        |      FROM e JOIN nd dx ON dx.n = e.x JOIN nd dy ON dy.n = e.y),
        |wg AS (SELECT e1.s AS u, e1.t AS v, e2.t AS w
        |       FROM o e1 JOIN o e2 ON e1.s = e2.s
        |       WHERE e1.dt < e2.dt OR (e1.dt = e2.dt AND e1.t < e2.t)),
        |tri AS (SELECT u, v, w FROM wg JOIN o ON o.s = wg.v AND o.t = wg.w),
        |corner AS (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
        |           UNION ALL SELECT w FROM tri)
        |SELECT node, count(*)::BIGINT AS triangles
        |FROM corner GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact-moment replay: BIGINT sufficient statistics (DuckDB's HUGEINT
    // sums cast back), then the identical fixed IEEE expression tree —
    // raw doubles gate bit-exactly, no rounding
    "q18_regr_corr" ->
      """WITH b AS (SELECT l_returnflag, floor(l_quantity)::BIGINT AS x,
        |    floor(CAST(l_extendedprice AS DECIMAL(12,2)))::BIGINT AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM b WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        |s AS (SELECT l_returnflag, n,
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) AS num,
        |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS denx,
        |    (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) AS deny,
        |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd, n::DOUBLE AS nd
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN denx > 0 AND deny > 0
        |       THEN num / sqrt(denx * deny) END AS corr,
        |  CASE WHEN denx > 0 THEN num / denx END AS slope,
        |  CASE WHEN denx > 0
        |       THEN (syd - (num / denx) * sxd) / nd END AS intercept,
        |  CASE WHEN denx > 0 AND deny > 0
        |       THEN (num / sqrt(denx * deny)) * (num / sqrt(denx * deny))
        |       END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // maintained-moment-table replay: identical to q18 (sum-merge is
    // exact, so the one-shot oracle gates the batched table verbatim)
    "q20_regr_state" ->
      """WITH b AS (SELECT l_returnflag, floor(l_quantity)::BIGINT AS x,
        |    floor(CAST(l_extendedprice AS DECIMAL(12,2)))::BIGINT AS y
        |  FROM lineitem),
        |m AS (SELECT l_returnflag, count(*) AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx, sum(y * y)::BIGINT AS syy
        |  FROM b WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        |s AS (SELECT l_returnflag, n,
        |    (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) AS num,
        |    (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) AS denx,
        |    (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE) AS deny,
        |    sx::DOUBLE AS sxd, sy::DOUBLE AS syd, n::DOUBLE AS nd
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN denx > 0 AND deny > 0
        |       THEN num / sqrt(denx * deny) END AS corr,
        |  CASE WHEN denx > 0 THEN num / denx END AS slope,
        |  CASE WHEN denx > 0
        |       THEN (syd - (num / denx) * sxd) / nd END AS intercept,
        |  CASE WHEN denx > 0 AND deny > 0
        |       THEN (num / sqrt(denx * deny)) * (num / sqrt(denx * deny))
        |       END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // sorted-neighborhood replay: the same total order (name, id) as a
    // window rank, pairs at rank distance 1..w−1, exact levenshtein
    "q17_fuzzy_pairs" ->
      """WITH r AS (SELECT c_custkey AS id, c_name AS key,
        |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rk
        |  FROM customer),
        |pr AS (SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a,
        |         b.key AS key_b, levenshtein(a.key, b.key) AS dist
        |       FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 7)
        |SELECT id_a, id_b, key_a, key_b, dist
        |FROM pr WHERE dist <= 1 ORDER BY id_a, id_b""".stripMargin,

    // both sorted-neighborhood passes replayed (plain + reversed key),
    // then the same id-order normalization and pair dedup
    "q17_fuzzy_multi" ->
      """WITH r1 AS (SELECT c_custkey AS id, c_name AS key,
        |    row_number() OVER (ORDER BY c_name, c_custkey) - 1 AS rk
        |  FROM customer),
        |p1 AS (SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a,
        |         b.key AS key_b, levenshtein(a.key, b.key) AS dist
        |       FROM r1 a JOIN r1 b ON b.rk - a.rk BETWEEN 1 AND 7),
        |r2 AS (SELECT c_custkey AS id, c_name AS key,
        |    row_number() OVER (ORDER BY reverse(c_name), c_custkey) - 1 AS rk
        |  FROM customer),
        |p2 AS (SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a,
        |         b.key AS key_b, levenshtein(a.key, b.key) AS dist
        |       FROM r2 a JOIN r2 b ON b.rk - a.rk BETWEEN 1 AND 7),
        |u AS (SELECT * FROM p1 WHERE dist <= 1
        |      UNION ALL SELECT * FROM p2 WHERE dist <= 1),
        |n AS (SELECT
        |  CASE WHEN id_a <= id_b THEN id_a ELSE id_b END AS id_a,
        |  CASE WHEN id_a <= id_b THEN id_b ELSE id_a END AS id_b,
        |  CASE WHEN id_a <= id_b THEN key_a ELSE key_b END AS key_a,
        |  CASE WHEN id_a <= id_b THEN key_b ELSE key_a END AS key_b,
        |  dist FROM u)
        |SELECT DISTINCT id_a, id_b, key_a, key_b, dist
        |FROM n ORDER BY id_a, id_b""".stripMargin,

    // both phases unrolled: two cold rounds on the pre-1996 subgraph
    // (its OWN n in uniform start and base term), then one warm round on
    // the full graph — prior ranks where known, the full graph's uniform
    // where not (::BIGINT at every sum, the HUGEINT-widening rule)
    "q16_pagerank_incr" ->
      """WITH ceb AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |             FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |             WHERE o_orderdate < DATE '1996-01-01'),
        |eb AS (SELECT a AS src, b AS dst FROM ceb
        |       UNION ALL SELECT b, a FROM ceb),
        |degb AS (SELECT src, count(*) AS deg FROM eb GROUP BY 1),
        |nb AS (SELECT DISTINCT src AS node FROM eb),
        |cb AS (SELECT count(*) AS n FROM nb),
        |q0 AS (SELECT node, 1000000000000 // (SELECT n FROM cb) AS pr
        |       FROM nb),
        |w1 AS (SELECT eb.dst AS node, sum(q0.pr // degb.deg)::BIGINT AS m
        |       FROM eb JOIN q0 ON eb.src = q0.node
        |       JOIN degb ON eb.src = degb.src GROUP BY 1),
        |q1 AS (SELECT nb.node,
        |         (15 * (1000000000000 // (SELECT n FROM cb)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nb LEFT JOIN w1 USING (node)),
        |w2 AS (SELECT eb.dst AS node, sum(q1.pr // degb.deg)::BIGINT AS m
        |       FROM eb JOIN q1 ON eb.src = q1.node
        |       JOIN degb ON eb.src = degb.src GROUP BY 1),
        |q2 AS (SELECT nb.node,
        |         (15 * (1000000000000 // (SELECT n FROM cb)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nb LEFT JOIN w2 USING (node)),
        |ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b, a FROM ce),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |c0 AS (SELECT count(*) AS n FROM nodes),
        |p0 AS (SELECT nodes.node,
        |         coalesce(q2.pr,
        |           1000000000000 // (SELECT n FROM c0))::BIGINT AS pr
        |       FROM nodes LEFT JOIN q2 USING (node)),
        |m1 AS (SELECT e.dst AS node, sum(p0.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p0 ON e.src = p0.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p1 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes LEFT JOIN m1 USING (node))
        |SELECT node, pr FROM p1 ORDER BY node""".stripMargin,

    // the redistributed variant unrolled: per round, the danglers' mass
    // (nodes absent from deg) sums to D, D // n joins the damped term —
    // every value BIGINT (::BIGINT at each sum, the HUGEINT-widening rule)
    "q16_pagerank_dangling" ->
      """WITH e AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT node FROM
        |          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        |c0 AS (SELECT count(*) AS n FROM nodes),
        |p0 AS (SELECT node, 1000000000000 // (SELECT n FROM c0) AS pr
        |       FROM nodes),
        |d1 AS (SELECT (coalesce(sum(pr), 0) // (SELECT n FROM c0))::BIGINT AS sh
        |       FROM p0 WHERE node NOT IN (SELECT src FROM deg)),
        |m1 AS (SELECT e.dst AS node, sum(p0.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p0 ON e.src = p0.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p1 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * (coalesce(m, 0) + (SELECT sh FROM d1)) // 100) AS pr
        |       FROM nodes LEFT JOIN m1 USING (node)),
        |d2 AS (SELECT (coalesce(sum(pr), 0) // (SELECT n FROM c0))::BIGINT AS sh
        |       FROM p1 WHERE node NOT IN (SELECT src FROM deg)),
        |m2 AS (SELECT e.dst AS node, sum(p1.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p1 ON e.src = p1.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p2 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * (coalesce(m, 0) + (SELECT sh FROM d2)) // 100) AS pr
        |       FROM nodes LEFT JOIN m2 USING (node)),
        |d3 AS (SELECT (coalesce(sum(pr), 0) // (SELECT n FROM c0))::BIGINT AS sh
        |       FROM p2 WHERE node NOT IN (SELECT src FROM deg)),
        |m3 AS (SELECT e.dst AS node, sum(p2.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p2 ON e.src = p2.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p3 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * (coalesce(m, 0) + (SELECT sh FROM d3)) // 100) AS pr
        |       FROM nodes LEFT JOIN m3 USING (node))
        |SELECT node, pr FROM p3 ORDER BY node""".stripMargin,

    // fixed-point PageRank replay: the three damped rounds unrolled as
    // CTEs with DuckDB's integer // division — every value BIGINT, no
    // floating point anywhere, so the hash gates the iteration verbatim
    "q16_pagerank" ->
      """WITH ce AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT a AS src, b AS dst FROM ce
        |      UNION ALL SELECT b, a FROM ce),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |c0 AS (SELECT count(*) AS n FROM nodes),
        |p0 AS (SELECT node, 1000000000000 // (SELECT n FROM c0) AS pr
        |       FROM nodes),
        |m1 AS (SELECT e.dst AS node, sum(p0.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p0 ON e.src = p0.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p1 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes LEFT JOIN m1 USING (node)),
        |m2 AS (SELECT e.dst AS node, sum(p1.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p1 ON e.src = p1.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p2 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes LEFT JOIN m2 USING (node)),
        |m3 AS (SELECT e.dst AS node, sum(p2.pr // deg.deg)::BIGINT AS m
        |       FROM e JOIN p2 ON e.src = p2.node
        |       JOIN deg ON e.src = deg.src GROUP BY 1),
        |p3 AS (SELECT nodes.node,
        |         (15 * (1000000000000 // (SELECT n FROM c0)) // 100)
        |         + (85 * coalesce(m, 0) // 100) AS pr
        |       FROM nodes LEFT JOIN m3 USING (node))
        |SELECT node, pr FROM p3 ORDER BY node""".stripMargin,

    // full-profile replay: unpivot with per-type NDV keys, basic stats,
    // then the evt_hll_users splitmix64/register/estimator chain keyed by
    // col_name (p=12, m=4096)
    "q15_column_stats" ->
      """WITH u AS (
        |  SELECT 'l_orderkey' AS col_name, 'long' AS vtype,
        |         l_orderkey::HUGEINT AS k, NULL::VARCHAR AS v FROM lineitem
        |  UNION ALL SELECT 'l_partkey', 'long', l_partkey::HUGEINT,
        |         NULL FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', 'long', l_suppkey::HUGEINT,
        |         NULL FROM lineitem
        |  UNION ALL SELECT 'l_linenumber', 'long', l_linenumber::HUGEINT,
        |         NULL FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', 'str',
        |         ('0x' || substring(md5(l_returnflag), 1, 13))::BIGINT::HUGEINT,
        |         l_returnflag FROM lineitem
        |  UNION ALL SELECT 'l_linestatus', 'str',
        |         ('0x' || substring(md5(l_linestatus), 1, 13))::BIGINT::HUGEINT,
        |         l_linestatus FROM lineitem
        |  UNION ALL SELECT 'l_shipdate', 'micros',
        |         epoch_us(l_shipdate)::HUGEINT, NULL FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', 'dec',
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)::HUGEINT,
        |         NULL FROM lineitem),
        |basic0 AS (SELECT col_name, vtype, count(*) AS n_rows,
        |  count(*) FILTER (WHERE k IS NULL) AS n_null,
        |  min(v) AS smn, max(v) AS smx,
        |  min(CASE WHEN vtype IN ('long', 'micros', 'days', 'dec') THEN k END)::BIGINT AS num_min,
        |  max(CASE WHEN vtype IN ('long', 'micros', 'days', 'dec') THEN k END)::BIGINT AS num_max,
        |  count(DISTINCT k) AS ndv_exact
        |  FROM u GROUP BY col_name, vtype),
        |basic AS (SELECT col_name, n_rows, n_null, num_min, num_max,
        |  ndv_exact,
        |  CASE vtype WHEN 'long' THEN num_min::VARCHAR
        |             WHEN 'micros' THEN make_timestamp(num_min)::VARCHAR
        |             WHEN 'dec' THEN concat(CASE WHEN num_min < 0 THEN '-' ELSE '' END,
        |               (abs(num_min) // 100)::VARCHAR, '.',
        |               lpad((abs(num_min) % 100)::VARCHAR, 2, '0'))
        |             ELSE smn END AS min_str,
        |  CASE vtype WHEN 'long' THEN num_max::VARCHAR
        |             WHEN 'micros' THEN make_timestamp(num_max)::VARCHAR
        |             WHEN 'dec' THEN concat(CASE WHEN num_max < 0 THEN '-' ELSE '' END,
        |               (abs(num_max) // 100)::VARCHAR, '.',
        |               lpad((abs(num_max) % 100)::VARCHAR, 2, '0'))
        |             ELSE smx END AS max_str
        |  FROM basic0),
        |k0 AS (SELECT col_name, k FROM u WHERE k IS NOT NULL),
        |x0 AS (SELECT col_name,
        |  ((k * 2135587861 + (((k * 2654435769) % 4294967296) << 32))
        |    % 18446744073709551616)::UBIGINT AS x FROM k0),
        |z1 AS (
        |  SELECT col_name, ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 484763065 +
        |      ((((xor(x, x >> 30) & 4294967295)::HUGEINT * 3210233709
        |         + (xor(x, x >> 30) >> 32)::HUGEINT * 484763065) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM x0),
        |z2 AS (
        |  SELECT col_name, ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 321982955 +
        |      ((((xor(z, z >> 27) & 4294967295)::HUGEINT * 2496678331
        |         + (xor(z, z >> 27) >> 32)::HUGEINT * 321982955) % 4294967296) << 32))
        |      % 18446744073709551616)::UBIGINT) AS z FROM z1),
        |zf AS (SELECT col_name, xor(z, z >> 31) AS h FROM z2),
        |br AS (SELECT col_name, (h >> 52)::BIGINT AS bucket,
        |        least(64 - length(bin(((h::HUGEINT * 4096)
        |          % 18446744073709551616)::UBIGINT)) + 1, 53)::INT AS rho
        |       FROM zf),
        |reg AS (SELECT col_name, bucket, max(rho) AS rho FROM br GROUP BY 1, 2),
        |agg AS (SELECT col_name, count(*) AS v_present,
        |         sum(pow(2.0, -rho)) AS hsum FROM reg GROUP BY 1),
        |est AS (SELECT col_name, (4096.0 - v_present) AS zeros,
        |         (0.7213 / (1 + 1.079 / 4096) * 4096) * 4096
        |           / ((4096.0 - v_present) + hsum) AS e_raw
        |        FROM agg),
        |fin AS (SELECT col_name,
        |         CASE WHEN e_raw <= 2.5 * 4096 AND zeros > 0
        |              THEN 4096.0 * ln(4096.0 / zeros) ELSE e_raw END AS est
        |        FROM est)
        |SELECT b.col_name, b.n_rows, b.n_null, b.ndv_exact,
        |  round(f.est, 4) AS hll_ndv, b.min_str, b.max_str,
        |  b.num_min, b.num_max
        |FROM basic b JOIN fin f USING (col_name)
        |ORDER BY b.col_name""".stripMargin,

    // the bucketed path must produce exactly the plain join's answer
    "q14_bucketed_join" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q13_setops" ->
      """WITH jun AS (SELECT DISTINCT o_custkey FROM orders
        |            WHERE strftime(o_orderdate, '%Y%m') = '199506'),
        |jul AS (SELECT DISTINCT o_custkey FROM orders
        |        WHERE strftime(o_orderdate, '%Y%m') = '199507')
        |SELECT o_custkey, 'both' AS tag FROM (
        |  SELECT o_custkey FROM jun INTERSECT SELECT o_custkey FROM jul)
        |UNION ALL
        |SELECT o_custkey, 'jun_only' AS tag FROM (
        |  SELECT o_custkey FROM jun EXCEPT SELECT o_custkey FROM jul)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q11_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS balance,
        |  count(*)::BIGINT AS n_custs,
        |  (GROUPING(r_name) * 2 + GROUPING(n_name))::BIGINT AS lvl
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY lvl, r_name, n_name""".stripMargin,

    "q12_moving_avg" ->
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    date_diff('day', DATE '1992-01-01', o_orderdate)::BIGINT AS d,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, d, CAST(rev AS DOUBLE) AS rev,
        |  round(CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w, 4) AS mavg7
        |FROM daily
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, d""".stripMargin,

    "q6_window_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders) t
        |WHERE rnk <= 2 ORDER BY o_custkey, rnk""".stripMargin,

    "q7_month_partition" ->
      """SELECT strftime(o_orderdate, '%Y%m') AS event_month, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY event_month ORDER BY event_month""".stripMargin,

    "q8_fk_orphans" ->
      """SELECT c_custkey FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |ORDER BY c_custkey""".stripMargin,

    "q9_enrich_broadcast" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    // dq-suite replay: one scalar-aggregate row fanned into report rows,
    // count-distinct for uniqueness, NOT EXISTS for orphans — every
    // metric an exact BIGINT
    "q22_dq_suite" ->
      """WITH s AS (SELECT count(*)::BIGINT AS n,
        |  sum((l_shipdate IS NULL)::INT)::BIGINT AS v_ship,
        |  sum((l_quantity < 1.0 OR l_quantity > 50.0)::INT)::BIGINT AS v_qty,
        |  sum((l_discount < 0.0 OR l_discount > 0.05)::INT)::BIGINT AS v_disc,
        |  sum((l_returnflag IS NULL
        |       OR NOT regexp_matches(l_returnflag, '^[ANR]$'))::INT)::BIGINT AS v_flag
        |  FROM lineitem),
        |r AS (
        |  SELECT 'not_null' AS check_name, 'l_shipdate' AS target,
        |    n AS total, v_ship AS violations FROM s
        |  UNION ALL SELECT 'in_range', 'l_quantity', n, v_qty FROM s
        |  UNION ALL SELECT 'in_range', 'l_discount', n, v_disc FROM s
        |  UNION ALL SELECT 'matches', 'l_returnflag', n, v_flag FROM s
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber',
        |    count(*)::BIGINT,
        |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT
        |    FROM lineitem
        |  UNION ALL SELECT 'unique', 'l_orderkey', count(*)::BIGINT,
        |    (count(*) - count(DISTINCT l_orderkey))::BIGINT FROM lineitem
        |  UNION ALL SELECT 'referential', 'l_orderkey->o_orderkey',
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL)::BIGINT,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l_orderkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT
        |  UNION ALL SELECT 'referential', 'l_partkey->o_orderkey',
        |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NOT NULL)::BIGINT,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l_partkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_partkey))::BIGINT)
        |SELECT check_name, target, total, violations,
        |  (violations = 0) AS passed
        |FROM r ORDER BY check_name, target""".stripMargin,

    // Profile-diff replay: per-side per-column aggregates over the q15
    // unpivot pattern (typed HUGEINT keys, md5-52bit for strings, the
    // decimal unscaled long), then one full-outer join. min/max-changed
    // flags compare the typed integer keys for numerics and the raw
    // string endpoints for strings — equivalent to Spark's (num, str)
    // pair comparison because the canonical rendering is injective per
    // type. null_shift and ndv_ratio gate RAW: exact-operand IEEE
    // quotient arithmetic, identical in both engines.
    "q21_profile_diff" ->
      """WITH s0 AS (SELECT *,
        |    CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE 1 END AS side
        |  FROM lineitem),
        |u AS (
        |  SELECT side, 'l_orderkey' AS col_name, 'num' AS grp,
        |         l_orderkey::HUGEINT AS k, NULL::VARCHAR AS v FROM s0
        |  UNION ALL SELECT side, 'l_returnflag', 'str',
        |         ('0x' || substring(md5(l_returnflag), 1, 13))::BIGINT::HUGEINT,
        |         l_returnflag FROM s0
        |  UNION ALL SELECT side, 'l_shipdate', 'num',
        |         epoch_us(l_shipdate)::HUGEINT, NULL FROM s0
        |  UNION ALL SELECT side, 'l_extendedprice', 'num',
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)::HUGEINT,
        |         NULL FROM s0
        |  UNION ALL SELECT side, 'l_partkey', 'num', l_partkey::HUGEINT,
        |         NULL FROM s0 WHERE side = 0
        |  UNION ALL SELECT side, 'l_linenumber', 'num', l_linenumber::HUGEINT,
        |         NULL FROM s0 WHERE side = 1),
        |p AS (SELECT side, col_name,
        |  count(*)::BIGINT AS n_rows,
        |  (count(*) FILTER (WHERE k IS NULL))::BIGINT AS n_null,
        |  count(DISTINCT k)::DOUBLE AS ndv,
        |  min(CASE WHEN grp = 'num' THEN k END)::BIGINT AS num_min,
        |  max(CASE WHEN grp = 'num' THEN k END)::BIGINT AS num_max,
        |  min(v) AS smn, max(v) AS smx
        |  FROM u GROUP BY 1, 2),
        |a AS (SELECT * FROM p WHERE side = 0),
        |b AS (SELECT * FROM p WHERE side = 1)
        |SELECT coalesce(a.col_name, b.col_name) AS col_name,
        |  CASE WHEN a.col_name IS NULL THEN 'added'
        |       WHEN b.col_name IS NULL THEN 'removed'
        |       ELSE 'common' END AS status,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
        |  a.n_null AS n_null_a, b.n_null AS n_null_b,
        |  CASE WHEN a.col_name IS NOT NULL AND b.col_name IS NOT NULL
        |       AND a.n_rows > 0 AND b.n_rows > 0
        |    THEN b.n_null::DOUBLE / b.n_rows::DOUBLE
        |       - a.n_null::DOUBLE / a.n_rows::DOUBLE END AS null_shift,
        |  a.ndv AS ndv_a, b.ndv AS ndv_b,
        |  CASE WHEN a.col_name IS NOT NULL AND b.col_name IS NOT NULL
        |       AND a.ndv > 0 THEN b.ndv / a.ndv END AS ndv_ratio,
        |  CASE WHEN a.col_name IS NOT NULL AND b.col_name IS NOT NULL
        |    THEN NOT (a.num_min IS NOT DISTINCT FROM b.num_min
        |              AND a.smn IS NOT DISTINCT FROM b.smn) END AS min_changed,
        |  CASE WHEN a.col_name IS NOT NULL AND b.col_name IS NOT NULL
        |    THEN NOT (a.num_max IS NOT DISTINCT FROM b.num_max
        |              AND a.smx IS NOT DISTINCT FROM b.smx) END AS max_changed
        |FROM a FULL JOIN b ON a.col_name = b.col_name
        |ORDER BY col_name""".stripMargin,
  )
}
