package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite — the batch-audit sibling of
  * `cdc/Validate` (which gates ROWS in flight; reference
  * `docs/design.md:574-579` validation rules). Here the unit is the
  * TABLE: a set of declared constraints compiles into aggregate
  * violation counts and one report frame, the contract-monitoring shape
  * (Deequ / dbt-test style) a 100 TB ingest runs nightly.
  *
  * Scale posture: every scalar constraint (null, range, regex, custom
  * predicate) compiles to ONE conditional count inside ONE aggregation —
  * checking 50 constraints on a 100 TB table costs a single scan with a
  * one-row result, not 50 jobs (plan-asserted in ChecksSpec). Key
  * uniqueness adds one map-side-combined groupBy on the key; referential
  * integrity adds one join against the (usually broadcast-able) parent
  * key set. Nothing ever collects rows: violations are COUNTED
  * distributively, and offending-row samples are a separate bounded
  * query the caller opts into.
  *
  * All metrics are exact BIGINT counts, so the whole report is
  * oracle-replayable (`q22_dq_suite`).
  */
object Checks {

  /** One scalar constraint: `violated` is the per-row violation
    * predicate; rows where it is NULL (e.g. a comparison on a NULL
    * value) count as violations only if `nullViolates`.
    */
  final case class Scalar(check: String, target: String, violated: Column,
                          nullViolates: Boolean = false) {
    private[Checks] def violationCount: Column = {
      val v = if (nullViolates) coalesce(violated, lit(true)) else violated
      sum(when(v, 1L).otherwise(0L))
    }
  }

  /** `column` must be non-null. */
  def notNull(column: String): Scalar =
    Scalar("not_null", column, col(column).isNull)

  /** `column` must lie in `[lo, hi]`; NULLs are not range violations
    * (declare `notNull` separately — one failure, one finding).
    */
  def inRange(column: String, lo: Column, hi: Column): Scalar =
    Scalar("in_range", column, col(column) < lo || col(column) > hi)

  /** `column` must match `regex` (NULLs violate: an absent value cannot
    * match a required shape — mirrors `Validate`'s required-field rule).
    */
  def matches(column: String, regex: String): Scalar =
    Scalar("matches", column, !col(column).rlike(regex), nullViolates = true)

  /** All scalar constraints in ONE pass: a single aggregation computes
    * every violation count plus the row total, then explodes into the
    * report rows `(check, target, total, violations, passed)`.
    */
  def scalarReport(df: DataFrame, checks: Seq[Scalar]): DataFrame = {
    require(checks.nonEmpty, "no scalar checks declared")
    val counts = checks.zipWithIndex.map { case (c, i) =>
      c.violationCount.as(s"_v$i")
    }
    val one = df.agg(count(lit(1)).as("_n"), counts: _*)
    val rows = checks.zipWithIndex.map { case (c, i) =>
      struct(lit(c.check).as("check_name"), lit(c.target).as("target"),
        col("_n").as("total"),
        // sum over an empty frame is NULL — an empty table violates nothing
        coalesce(col(s"_v$i"), lit(0L)).as("violations"))
    }
    one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.check_name"), col("r.target"), col("r.total"),
        col("r.violations"), (col("r.violations") === 0L).as("passed"))
  }

  /** Key-uniqueness report row: `violations` counts the ROWS beyond the
    * first of each duplicated key (0 ⇔ `keyCols` is a candidate key).
    */
  def uniquenessReport(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_c"))
      .agg(sum(col("_c")).as("total"), sum(col("_c") - 1L).as("violations"))
      .select(lit("unique").as("check_name"),
        lit(keyCols.mkString(",")).as("target"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("violations"), lit(0L)).as("violations"),
        (coalesce(col("violations"), lit(0L)) === 0L).as("passed"))
  }

  /** Referential-integrity report row: every non-null `fkCol` value must
    * exist in `parent.pkCol` (orphans counted via one left-anti join; the
    * parent key set is distinct-reduced first, so a dimension parent
    * broadcasts).
    */
  def referentialReport(df: DataFrame, fkCol: String,
                        parent: DataFrame, pkCol: String): DataFrame = {
    val child = df.filter(col(fkCol).isNotNull)
    val orphans = child
      .join(parent.select(col(pkCol).as(fkCol)).distinct(),
        Seq(fkCol), "left_anti")
      .agg(count(lit(1)).as("violations"))
    child.agg(count(lit(1)).as("total")).crossJoin(orphans)
      .select(lit("referential").as("check_name"),
        lit(s"$fkCol->$pkCol").as("target"),
        col("total"), col("violations"),
        (col("violations") === 0L).as("passed"))
  }

  /** TIMELINESS report row — the fourth classic DQ dimension beside
    * validity (scalar), uniqueness, and referential integrity: the
    * table is fresh when its newest event time is within `maxLagUs` of
    * `asOfUs` (an EXPLICIT reference instant — never wall-clock `now()`,
    * which would make the check unreplayable; callers pass the batch/run
    * timestamp). `violations` = 1 when stale or empty (an empty table
    * cannot be fresh), `total` carries the observed lag in micros
    * (−1 when empty) so the report is actionable, not just boolean.
    * One 1-row max aggregation.
    */
  def freshnessReport(df: DataFrame, tsCol: String, asOfUs: Long,
                      maxLagUs: Long): DataFrame = {
    require(maxLagUs >= 0, s"maxLagUs must be >= 0, got $maxLagUs")
    df.agg(max(unix_micros(col(tsCol))).as("_maxTs"))
      .select(lit("fresh").as("check_name"), lit(tsCol).as("target"),
        coalesce(lit(asOfUs) - col("_maxTs"), lit(-1L)).as("total"),
        when(col("_maxTs").isNotNull &&
          lit(asOfUs) - col("_maxTs") <= maxLagUs, 0L)
          .otherwise(1L).as("violations"))
      .withColumn("passed", col("violations") === 0L)
  }

  /** Benford first-digit audit — the fabricated-numbers detector for
    * money-like columns (naturally-grown multiplicative quantities
    * follow Benford's law, P(d) = log10(1 + 1/d); hand-typed or
    * synthesized ones usually don't). Per digit 1–9: the exact count,
    * the observed share (one IEEE division of exact BIGINTs — gated
    * raw), the expected share, and the deviation flag.
    *
    * Exactness: the value keys through integer CENTS and the first
    * digit through the BIGINT's decimal rendering (identical in every
    * engine — no float log10, whose power-of-ten boundaries flip across
    * engines). The expected shares are ln-derived CONSTANTS, so they
    * and the deviation carry the ln discipline: round(,6), with the
    * flag comparing rounded values (deterministic). Zero/NULL values
    * are excluded — they have no first significant digit.
    *
    * One scan → 9 count rows; the total joins back by broadcast.
    *
    * Degenerate input (empty table / no value >= 0.01) yields a defined
    * verdict: n=0, share=0, dev=expected, flagged=TRUE for all nine
    * digits — zero observations cannot pass the audit silently.
    */
  def benfordReport(df: DataFrame, valueCol: String,
                    tol: Double = 0.02): DataFrame = {
    require(tol > 0, s"tol must be positive, got $tol")
    val cents = floor(abs(col(valueCol)) * 100).cast("long")
    val digits = df
      .select(cents.as("_c"))
      .filter(col("_c") > 0)
      .select(substring(col("_c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    val expected = spark.createDataFrame(
      (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d))))
      .toDF("digit", "_exp")
    // the degenerate input (empty table, or no value >= 0.01) is DEFINED,
    // never NULL: share 0, dev = the full expected share, flagged = true
    // for every digit — an audit with zero observations fails loudly
    // instead of reading as "nothing flagged" through NULL propagation
    val total = digits.agg(coalesce(sum(col("n")), lit(0L)).as("_total"))
    expected.join(digits, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("_total") > 0,
          coalesce(col("n"), lit(0L)).cast("double") /
            col("_total").cast("double"))
          .otherwise(lit(0d)).as("share"),
        round(col("_exp"), 6).as("expected"),
        when(col("_total") > 0,
          round(abs(coalesce(col("n"), lit(0L)).cast("double") /
            col("_total").cast("double") - col("_exp")), 6))
          .otherwise(round(col("_exp"), 6)).as("dev"),
        col("_total"))
      .withColumn("flagged",
        when(col("_total") > 0, col("dev") > tol).otherwise(lit(true)))
      .drop("_total")
  }

  /** STREAMING suite maintenance — the `Quantiles.mergeBatch` discipline
    * for the DQ scalars + timeliness: each micro-batch lands its
    * SUFFICIENT STATISTICS (per-check row count + violation count, plus
    * the batch's max event time) in its own `_batch_id` partition via
    * dynamic overwrite, so a crash-replayed batch rewrites exactly its
    * prior rows. Counts SUM-merge and the freshness watermark MAX-merges
    * across disjoint batches, so [[suiteFromTable]] equals the one-shot
    * [[scalarReport]]+[[freshnessReport]] over the concatenated data
    * EXACTLY — the nightly 100 TB audit then reads a few KB of state,
    * never the raw table (`cdc_dq_runbook` gates the loop whole,
    * crash/replay included). Uniqueness/referential checks are NOT
    * count-mergeable and stay on the one-shot path (or ride their own
    * key-level state tables).
    */
  def mergeBatchSuite(batch: DataFrame, scalars: Seq[Scalar], tsCol: String,
                      table: String, path: String, batchId: Long): Unit = {
    require(scalars.nonEmpty, "no scalar checks declared")
    val counts = scalars.zipWithIndex.map { case (c, i) =>
      c.violationCount.as(s"_v$i")
    } :+ max(unix_micros(col(tsCol))).as("_maxTs")
    val one = batch.agg(count(lit(1)).as("_n"), counts: _*)
    val rows = scalars.zipWithIndex.map { case (c, i) =>
      struct(lit(c.check).as("check_name"), lit(c.target).as("target"),
        col("_n").as("n"), coalesce(col(s"_v$i"), lit(0L)).as("viol"),
        lit(null).cast("long").as("max_us"))
    } :+ struct(lit("fresh").as("check_name"), lit(tsCol).as("target"),
      col("_n").as("n"), lit(0L).as("viol"), col("_maxTs").as("max_us"))
    val state = one.select(explode(array(rows: _*)).as("r"))
      .select(col("r.*"))
    BatchTables.writeBatch(state, batchId, table, path)
  }

  /** The composed report from the MAINTAINED state table — schema equals
    * [[suite]]'s `(check_name, target, total, violations, passed)`;
    * freshness carries the observed lag against the EXPLICIT `asOfUs` in
    * `total` exactly like [[freshnessReport]]. `batchIds` restricts to a
    * partition-pruned subset (an epoch audit); None reads all batches.
    */
  def suiteFromTable(spark: org.apache.spark.sql.SparkSession,
                     table: String, asOfUs: Long, maxLagUs: Long,
                     batchIds: Option[Seq[Long]] = None): DataFrame = {
    require(maxLagUs >= 0, s"maxLagUs must be >= 0, got $maxLagUs")
    val t0 = spark.table(table)
    val t = batchIds.map(ids => t0.filter(col("_batch_id").isin(ids: _*)))
      .getOrElse(t0)
    mergeSuite(t)
      .select(col("check_name"), col("target"),
        when(col("check_name") === "fresh",
          coalesce(lit(asOfUs) - col("max_us"), lit(-1L)))
          .otherwise(col("n")).as("total"),
        when(col("check_name") === "fresh",
          when(col("max_us").isNotNull &&
            lit(asOfUs) - col("max_us") <= maxLagUs, 0L).otherwise(1L))
          .otherwise(col("viol")).as("violations"))
      .withColumn("passed", col("violations") === 0L)
  }

  /** The suite-state merge per (check, target): counts SUM, the freshness
    * watermark MAX. The read and the compaction both apply it.
    */
  private def mergeSuite(t: DataFrame): DataFrame =
    t.groupBy(col("check_name"), col("target"))
      .agg(sum(col("n")).as("n"), sum(col("viol")).as("viol"),
        max(col("max_us")).as("max_us"))

  /** Fold batches `0..upToBatchId` into one consolidated partition — the
    * SUM/MAX merge; its crash window is the one contract in
    * `BatchTables.compactBatchPartitions` (duplicates visible between
    * insert and sweep can only OVERCOUNT violations / totals, never hide
    * one).
    */
  def compactSuite(spark: org.apache.spark.sql.SparkSession,
                   table: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId, mergeSuite)

  /** The assembled suite: one scalar pass + the declared key/FK checks +
    * optional freshness, unioned into a single deterministic report.
    */
  def suite(df: DataFrame, scalars: Seq[Scalar],
            uniqueKeys: Seq[Seq[String]] = Nil,
            references: Seq[(String, DataFrame, String)] = Nil,
            freshness: Option[(String, Long, Long)] = None): DataFrame = {
    val parts =
      (if (scalars.nonEmpty) Seq(scalarReport(df, scalars)) else Nil) ++
        uniqueKeys.map(uniquenessReport(df, _)) ++
        references.map { case (fk, parent, pk) =>
          referentialReport(df, fk, parent, pk)
        } ++
        freshness.map { case (ts, asOf, lag) =>
          freshnessReport(df, ts, asOf, lag)
        }
    require(parts.nonEmpty, "empty check suite")
    parts.reduce(_ unionByName _)
  }
}
