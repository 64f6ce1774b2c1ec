package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.SplitMix64.{leading_zeros64, splitmix64}

/** One-pass dataset profiler — the ANALYZE-style statistics collector a
  * 100 TB pipeline runs before planning anything else (sampling rates,
  * join strategies, partition counts, skew handling all start from
  * per-column row counts, null fractions, cardinalities and ranges).
  *
  * Shape: the requested columns UNPIVOT into (col_name, key) rows inside
  * the scan (an explode over a struct array — no shuffle, no per-column
  * pass), then ONE aggregation tree computes counts, null counts, typed
  * min/max and the HLL register max together: a first
  * groupBy (col_name, bucket) level that map-side combines to at most
  * cols × (2^p + 1) rows per task, and a second level that collapses
  * buckets into the per-column profile, reusing
  * `Hll.estimateFromRegisters` for the cardinality estimate. EVERY
  * aggregation buffer in the hot level is fixed-width (longs) — carrying
  * rendered strings through it forces Spark's hash aggregate into its
  * sort-based fallback and renders every row (measured 5× the whole
  * query at sf0.1) — so `min_str`/`max_str` for ordered types are
  * RENDERED FROM the typed min/max after aggregation, and string-typed
  * columns get their min/max from a separate scan-side GLOBAL aggregate
  * (one row, column-pruned scan, no unpivot) that joins in as sentinel
  * `bucket = -1` rows. The intermediate state is ~cols × 4 KB regardless
  * of row count: the profile of a 100 TB table costs one unpivoted scan,
  * one pruned min/max scan, and a KB-scale shuffle.
  *
  * Exact NDV (`withExact = true`) adds a count_distinct pass — the gate
  * runs it so estimate accuracy is visible next to truth (the
  * `evt_hll_users` convention); at scale leave it off.
  *
  * Per-type NDV keys, chosen so the DuckDB oracle replays the whole
  * profile exactly: integral → the value itself; timestamp → micros;
  * date → epoch days; DECIMAL(p≤18, s) → its unscaled long (value ×
  * 10^s — exact decimal arithmetic, order-preserving, so money columns
  * profile inside the gate; p > 18 overflows the long and nulls the
  * key, so wider decimals are rejected up front); all order-preserving
  * keys double as the typed `num_min`/`num_max` (decimals report the
  * UNSCALED value there) AND render into `min_str`/`max_str` (decimals
  * re-scaled to their canonical "12.34" rendering);
  * string → the first 52 bits of md5 (the repo's engine-identical
  * hash-to-int recipe; not order-preserving, so strings keep
  * lexicographic min/max over the values themselves and report NULL
  * `num_min`/`num_max`). Float/double key through `xxhash64` —
  * deterministic within Spark, fine for production NDV, but not
  * SQL-replayable (no IEEE-bit path in the oracle), so the gate covers
  * the replayable types — and carry a TYPED double min/max (a separate
  * fixed-width pair in the level-1 buffer) rendered into
  * `min_str`/`max_str`, never the lexicographic trap ("10.5" < "9.5").
  * Binary alone falls back to xxhash64 keys + lexicographic min/max
  * over its UTF-8 render. NULLs never reach a hash key (an unguarded
  * xxhash64 maps NULL to its seed, silently zeroing `n_null` and
  * inventing a phantom distinct value): every key is null-guarded, so
  * all vtypes count nulls through the same bucket-IS-NULL path.
  */
object Profiler {

  private val P = 12

  private def vtypeOf(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "long"
    case TimestampType => "micros"
    case DateType => "days"
    case StringType => "str"
    case d: DecimalType => s"dec:${d.scale}"
    case FloatType | DoubleType => "dbl"
    case _ => "hash"
  }

  private def ndvKey(c: Column, dt: DataType): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => c.cast("long")
    case TimestampType => unix_micros(c)
    case DateType => datediff(c, lit("1970-01-01").cast("date")).cast("long")
    case StringType => conv(substring(md5(c), 1, 13), 16, 10).cast("long")
    case d: DecimalType =>
      require(d.precision <= 18,
        s"decimal unscaled key overflows a long at precision ${d.precision}")
      // exact decimal multiply, never a double round-trip (10.15 * 100
      // as doubles is 1014.999...)
      (c * lit(BigDecimal(10).pow(d.scale))).cast("long")
    case _ => when(c.isNotNull, xxhash64(c))
  }

  private def ordered(vtype: Column): Column =
    vtype.isin("long", "micros", "days") || vtype.startsWith("dec:")

  private def checkCols(df: DataFrame, cols: Seq[String]): Map[String, DataType] = {
    require(cols.nonEmpty, "columnStats needs at least one column")
    val byName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    cols.foreach(c => require(byName.contains(c), s"no such column: $c"))
    byName
  }

  /** The unpivoted (col_name, vtype, k, d) rows — one scan, fixed-width.
    * `d` carries the typed double value for float/double columns only
    * (their min/max cannot ride the long key the way ordered keys do).
    */
  private def unpivot(df: DataFrame, cols: Seq[String]): DataFrame = {
    val byName = checkCols(df, cols)
    val entries = cols.map { name =>
      val dt = byName(name)
      val d = if (vtypeOf(dt) == "dbl") col(name).cast("double")
              else lit(null).cast("double")
      struct(lit(name).as("col_name"), lit(vtypeOf(dt)).as("vtype"),
        ndvKey(col(name), dt).as("k"), d.as("d"))
    }
    df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.vtype").as("vtype"),
        col("e.k").as("k"), col("e.d").as("d"))
  }

  /** Level 1: per (column, register) — map-side combines to
    * <= cols x (m + 2) rows per task, every statistic on one shuffle,
    * every aggregation buffer fixed-width. String/hash columns'
    * lexicographic min/max arrive as `bucket = -1` sentinel rows from a
    * scan-side global aggregate (cnt = 0, so counts are untouched).
    * This frame is the profiler's MERGEABLE state: max(rho) / sum(cnt) /
    * min-max over any union of level-1 frames is the level-1 frame of
    * the concatenated data (`mergeLvl1`), which is what the streaming
    * maintenance below persists per batch.
    */
  private def level1(df: DataFrame, cols: Seq[String],
                     withNdv: Boolean = false): DataFrame = {
    val byName = checkCols(df, cols)
    val kv = unpivot(df, cols)
    val h = splitmix64(col("k"))
    val bucket = when(col("k").isNotNull,
      shiftrightunsigned(h, 64 - P))
    val rho = when(col("k").isNotNull,
      least(leading_zeros64(shiftleft(h, P)) + 1, lit(64 - P + 1)))
    // round-16 (withNdv, used by columnStats(withExact = true) only —
    // never by the streaming state tables, whose count merge algebra
    // cannot absorb cross-batch distincts): the EXACT per-bucket
    // distinct-key count rides the SAME unpivoted scan. `bucket` is a
    // pure function of `k`, so distinct keys partition across buckets
    // and Σ ndv_b over a column's buckets is its exact NDV — the old
    // separate count_distinct pass re-read and re-unpivoted the whole
    // table (incl. a second md5 per string cell) for the same number.
    val baseAggs = Seq(
      max(col("rho")).as("rho"),
      count(lit(1)).as("cnt"),
      min(when(ordered(col("vtype")), col("k"))).as("kmn"),
      max(when(ordered(col("vtype")), col("k"))).as("kmx"),
      min(col("d")).as("dmn"), max(col("d")).as("dmx"))
    val aggsAll = if (withNdv) baseAggs :+ count_distinct(col("k")).as("ndv_b")
                  else baseAggs
    val outCols = Seq("col_name", "vtype", "bucket", "rho", "cnt", "kmn",
      "kmx", "dmn", "dmx", "mn", "mx") ++
      (if (withNdv) Seq("ndv_b") else Nil)
    val registers = kv
      .select(col("col_name"), col("vtype"), bucket.as("bucket"),
        rho.as("rho"), col("k"), col("d"))
      .groupBy(col("col_name"), col("vtype"), col("bucket"))
      .agg(aggsAll.head, aggsAll.tail: _*)
      .withColumn("mn", lit(null).cast("string"))
      .withColumn("mx", lit(null).cast("string"))
      .select(outCols.map(col): _*)

    val strCols = cols.filter(c => Set("str", "hash")(vtypeOf(byName(c))))
    if (strCols.isEmpty) registers
    else {
      // one global-aggregate row over a column-pruned scan; reshaped to
      // sentinel rows without touching the driver
      val aggs = strCols.flatMap(c => Seq(
        min(col(c).cast("string")).as(s"__mn_$c"),
        max(col(c).cast("string")).as(s"__mx_$c")))
      val sentinels = df.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(strCols.map(c =>
          struct(Seq(lit(c).as("col_name"),
            lit(vtypeOf(byName(c))).as("vtype"),
            lit(-1L).as("bucket"),
            lit(null).cast("int").as("rho"),
            lit(0L).as("cnt"),
            lit(null).cast("long").as("kmn"),
            lit(null).cast("long").as("kmx"),
            lit(null).cast("double").as("dmn"),
            lit(null).cast("double").as("dmx"),
            col(s"__mn_$c").as("mn"),
            col(s"__mx_$c").as("mx")) ++
            (if (withNdv) Seq(lit(0L).as("ndv_b")) else Nil): _*)): _*))
          .as("e"))
        .select(col("e.*"))
      registers.unionByName(sentinels)
    }
  }

  /** The level-1 merge algebra, keyed by `keys` (adds `_batch_id` during
    * compaction so the normalized partition column survives).
    */
  private def mergeLvl1(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max(col("rho")).as("rho"), sum(col("cnt")).as("cnt"),
        min(col("kmn")).as("kmn"), max(col("kmx")).as("kmx"),
        min(col("dmn")).as("dmn"), max(col("dmx")).as("dmx"),
        min(col("mn")).as("mn"), max(col("mx")).as("mx"))

  /** Level 2: collapse a level-1 frame into the per-column profile —
    * ordered types render their typed min/max into `min_str`/`max_str`
    * here, AFTER aggregation (cols rows, not data rows).
    */
  private def collapse(lvl1: DataFrame): DataFrame = {
    // canonical decimal rendering from the unscaled long: sign, integral
    // part (integral `div` — exact at any magnitude, no double round
    // trip), '.', zero-padded fraction; scale comes off the "dec:<s>"
    // vtype tag
    val decScale = split(col("vtype"), ":").getItem(1).cast("int")
    val decFactor = pow(lit(10.0), decScale).cast("long")
    def decStr(v: Column): Column = {
      val av = abs(v)
      val fr = pmod(av, decFactor)
      val ip = call_function("div", av, decFactor)
      when(decScale === 0, v.cast("string")).otherwise(
        concat(when(v < 0, lit("-")).otherwise(lit("")),
          ip.cast("string"), lit("."),
          call_function("lpad", fr.cast("string"), decScale, lit("0"))))
    }
    def render(num: Column, dbl: Column, str: Column): Column =
      when(col("vtype") === "long", num.cast("string"))
        .when(col("vtype") === "micros",
          timestamp_micros(num).cast("string"))
        .when(col("vtype") === "days",
          date_add(lit("1970-01-01").cast("date"),
            num.cast("int")).cast("string"))
        .when(col("vtype").startsWith("dec:"), decStr(num))
        .when(col("vtype") === "dbl", dbl.cast("string"))
        .otherwise(str)
    val basic = lvl1.groupBy(col("col_name"), col("vtype"))
      .agg(sum(col("cnt")).as("n_rows"),
        coalesce(sum(when(col("bucket").isNull, col("cnt"))), lit(0L))
          .as("n_null"),
        min(col("kmn")).as("num_min"), max(col("kmx")).as("num_max"),
        min(col("dmn")).as("dmn"), max(col("dmx")).as("dmx"),
        min(col("mn")).as("smn"), max(col("mx")).as("smx"))
      .withColumn("min_str", render(col("num_min"), col("dmn"), col("smn")))
      .withColumn("max_str", render(col("num_max"), col("dmx"), col("smx")))
      .select(col("col_name"), col("n_rows"), col("n_null"),
        col("min_str"), col("max_str"), col("num_min"), col("num_max"))
    val est = Hll.estimateFromRegisters(
      lvl1.filter(col("bucket") >= 0)
        .select(col("col_name"), col("bucket"), col("rho")),
      Seq("col_name"), P)
      .select(col("col_name"), round(col("estimate"), 4).as("hll_ndv"))
    basic.join(est, Seq("col_name"), "left")
      .withColumn("hll_ndv", coalesce(col("hll_ndv"), lit(0.0)))
  }

  /** Per-column profile of `cols`: (col_name, n_rows, n_null, hll_ndv
    * [, ndv_exact], min_str, max_str, num_min, num_max).
    */
  def columnStats(df: DataFrame, cols: Seq[String],
                  withExact: Boolean = false): DataFrame = {
    if (!withExact)
      // tiny; materialized once and shared by the two level-2 consumers
      collapse(level1(df, cols).localCheckpoint(true))
    else {
      // round-16: exact NDV fused into the register scan (see level1's
      // withNdv note) — 2 table scans total (unpivot + string min/max)
      // instead of 3, and the unpivot expressions run once, not twice
      val lvl1 = level1(df, cols, withNdv = true).localCheckpoint(true)
      collapse(lvl1.drop("ndv_b")).join(
        lvl1.groupBy(col("col_name"))
          .agg(sum(col("ndv_b")).as("ndv_exact")),
        Seq("col_name"), "left")
        .withColumn("ndv_exact", coalesce(col("ndv_exact"), lit(0L)))
    }
  }

  /** STREAMING profile maintenance — the `BatchTables` state discipline
    * (HLL registers, CMS counters, quantile histograms) applied to the
    * profiler's level-1 state: each batch's (column, register) rows land
    * in their own `_batch_id` partition (dynamic overwrite → replay-safe,
    * exactly-once), reads merge at query time, and compaction folds
    * history into one ~cols x 4 KB partition. `profileFromTable` then
    * reports the profile of EVERYTHING the table has absorbed without
    * rescanning any raw data. Exact NDV is deliberately absent here —
    * registers are the only cardinality state a stream can keep.
    */
  def mergeBatch(batch: DataFrame, cols: Seq[String], table: String,
                 path: String, batchId: Long): Unit = {
    BatchTables.writeBatch(level1(batch, cols), batchId, table, path)
  }

  /** The maintained table's profile over all absorbed batches. */
  def profileFromTable(spark: org.apache.spark.sql.SparkSession,
                       table: String): DataFrame =
    collapse(mergeLvl1(spark.table(table).drop("_batch_id"),
      Seq("col_name", "vtype", "bucket")))

  /** Fold batches `0..upToBatchId` into one consolidated partition via
    * the level-1 merge algebra. The count/min/max merge is NOT
    * duplication-idempotent (sums double-count), so like CMS the
    * crash window between the consolidated insert and the source sweep
    * shows inflated counts until the convergence re-run; estimates from
    * the register half are unaffected (max-merge).
    */
  def compactProfile(spark: org.apache.spark.sql.SparkSession,
                     table: String, upToBatchId: Long): (Int, Int) =
    BatchTables.compactBatchPartitions(spark, table, upToBatchId,
      df => mergeLvl1(df, Seq("col_name", "vtype", "bucket", "_batch_id"))
        .select(df.columns.map(col): _*))

  /** Column-level PROFILE DIFF between two profile frames
    * ([[columnStats]] outputs, or [[profileFromTable]] over two
    * maintained tables) — the schema/data-quality regression check a
    * pipeline runs between corpus versions, complementary to
    * [[Drift]]'s distribution statistics: where Drift asks "did the
    * DISTRIBUTION move", this asks "did a column appear/vanish, did
    * its null fraction shift, did its cardinality or range change".
    * A pure profile-frame join (cols × ~10 metric rows per side — no
    * data rescan at any scale).
    *
    * Per column: `status` (added/removed/common), row and null counts
    * both sides, `null_shift` (null-fraction delta, B − A — two exact
    * long-over-long IEEE quotients, one subtraction — deterministic,
    * gated raw), `ndv_a`/`ndv_b`/`ndv_ratio` (exact NDV when both
    * frames carry `ndv_exact`, else the HLL estimate), and
    * `min_changed`/`max_changed` — null-safe comparison of the typed
    * (num, str) endpoint pairs, so numeric columns compare their exact
    * integer keys and string columns their lexicographic endpoints.
    */
  def profileDiff(profA: DataFrame, profB: DataFrame): DataFrame = {
    val hasExact = profA.columns.contains("ndv_exact") &&
      profB.columns.contains("ndv_exact")
    def side(p: DataFrame, suf: String): DataFrame = {
      val ndv = if (hasExact) col("ndv_exact").cast("double")
        else col("hll_ndv")
      p.select(col("col_name"), col("n_rows").as(s"n_rows$suf"),
        col("n_null").as(s"n_null$suf"), ndv.as(s"ndv$suf"),
        col("num_min").as(s"num_min$suf"), col("num_max").as(s"num_max$suf"),
        col("min_str").as(s"min_str$suf"), col("max_str").as(s"max_str$suf"))
    }
    val j = side(profA, "_a").join(side(profB, "_b"), Seq("col_name"),
      "full_outer")
    val common = col("n_rows_a").isNotNull && col("n_rows_b").isNotNull
    def frac(n: Column, d: Column): Column =
      n.cast("double") / d.cast("double")
    j.select(col("col_name"),
      when(col("n_rows_a").isNull, lit("added"))
        .when(col("n_rows_b").isNull, lit("removed"))
        .otherwise(lit("common")).as("status"),
      col("n_rows_a"), col("n_rows_b"), col("n_null_a"), col("n_null_b"),
      when(common && col("n_rows_a") > 0 && col("n_rows_b") > 0,
        frac(col("n_null_b"), col("n_rows_b")) -
          frac(col("n_null_a"), col("n_rows_a"))).as("null_shift"),
      col("ndv_a"), col("ndv_b"),
      when(common && col("ndv_a") > 0,
        col("ndv_b") / col("ndv_a")).as("ndv_ratio"),
      when(common, !(col("num_min_a") <=> col("num_min_b") &&
        col("min_str_a") <=> col("min_str_b"))).as("min_changed"),
      when(common, !(col("num_max_a") <=> col("num_max_b") &&
        col("max_str_a") <=> col("max_str_b"))).as("max_changed"))
  }
}
