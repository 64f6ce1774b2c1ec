package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.cdc.EventsAsChangeLog
import graft.functions.Subject.subject_matches

/** CDC operator surface exercised on the driver's `events` table via the
  * EventsAsChangeLog adapter (SURVEY.md §2): envelope construction + unwrap
  * (O-12), subject routing + wildcard match (O-6/O-16), duplicate-window
  * suppression (O-8, batch analog), field-level diff (O-31 analog), metrics
  * counters (O-22), JSON path extraction (§2.6).
  */
object CdcAnalog {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Snapshot bootstrap (O-2): full current state emitted as op='r'
    // envelopes with intact after-images — the Debezium initial-snapshot
    // semantics, checked per row against the source table.
    "cdc_snapshot" -> ((s, dir) => {
      import s.implicits._
      graft.cdc.ChangeStream
        .snapshot(Tables(s, dir, "customer"), "hrdb", "customer",
          snapshotTsMs = 1718000000000L)
        .select($"after.c_custkey".as("c_custkey"), $"op",
          $"after.c_name".as("c_name"), $"source.table".as("src_table"),
          $"ts_ms")
        .orderBy($"c_custkey")
    }),

    // Event ledger: per-op counts over the change stream (test-cdc.sh:148-151
    // upgraded to an automated assertion shape).
    "cdc_ledger" -> ((s, dir) => {
      import s.implicits._
      EventsAsChangeLog.envelopes(Tables(s, dir, "events"))
        .groupBy($"op")
        .agg(count(lit(1)).as("n"))
        .orderBy($"op")
    }),

    // ExtractNewRecordState / unwrap (O-12): flatten to the after image,
    // keeping tombstones out (dropTombstones = true path).
    "cdc_unwrap" -> ((s, dir) => {
      import s.implicits._
      EventsAsChangeLog.envelopes(Tables(s, dir, "events"))
        .filter($"after".isNotNull)
        .select(
          $"after.event_id".as("event_id"),
          $"after.user_id".as("user_id"),
          $"after.event_type".as("event_type"),
          $"after.value".as("value"),
          $"op")
        .orderBy($"event_id")
    }),

    // Subject router + NATS wildcard subscription filter (O-6 + O-16).
    "cdc_subject_route" -> ((s, dir) => {
      import s.implicits._
      EventsAsChangeLog.envelopes(Tables(s, dir, "events"))
        .filter(subject_matches($"subject", lit("HCM.CDC.HR.*.purchase")))
        .groupBy($"subject")
        .agg(count(lit(1)).as("n"))
        .orderBy($"subject")
    }),

    // JetStream duplicate-window analog (O-8): drop events whose predecessor
    // with the same key arrived within 120s (batch form of
    // dropDuplicatesWithinWatermark; micros on both engines).
    "cdc_dedup_window" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
      Tables(s, dir, "events")
        .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
        .filter($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 120000000L)
        .select($"event_id")
        .orderBy($"event_id")
    }),

    // Field-level audit diff analog (O-31): old/new value per consecutive
    // change of the same aggregate.
    "cdc_field_diff" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables(s, dir, "events")
        .withColumn("old_value", lag($"value", 1).over(w))
        .filter($"old_value".isNotNull && $"old_value" =!= $"value")
        .select($"user_id", $"event_id", $"old_value", $"value".as("new_value"))
        .orderBy($"event_id")
    }),

    // Metrics counters by event type (O-22): events.published.total analog.
    "cdc_event_metrics" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          sum($"value".cast("decimal(18,2)")).cast("double").as("total_value"))
        .orderBy($"event_type")
    }),

    // Unique-constraint validation (§2.6: groupBy(key).count.filter(>1) —
    // the engine-side analog of the DDL UNIQUE checks).
    "cdc_unique_violations" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy($"user_id", $"event_type")
        .agg(count(lit(1)).as("n"))
        .filter($"n" > 1)
        .orderBy($"user_id", $"event_type")
    }),

    // The FULL pipeline as one benchmarked query (BASELINE.md's
    // source→unwrap→rules→enrich→validate→dedup→sink chain): envelope
    // construction, 120s duplicate suppression, op-dispatched event
    // classification with deterministic eventIds, broadcast dimension
    // enrichment (subject-category routing), structural validation, and
    // the month-partitioned event-store aggregation shape.
    "cdc_full_pipeline" -> ((s, dir) => {
      import s.implicits._
      val env = EventsAsChangeLog.envelopes(Tables(s, dir, "events"))
      val img = coalesce($"after", $"before")
      // dedup: 120s gap window per (user, type) — the JetStream window
      val w = Window.partitionBy(img.getField("user_id"), img.getField("event_type"))
        .orderBy($"ts", img.getField("event_id"))
      val deduped = env
        .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
        .filter($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > 120000000L)
      // unwrap + rule dispatch by op
      val events = deduped.select(
        when($"op" === "c", "EntityCreated")
          .when($"op" === "d", "EntityDeleted")
          .otherwise("EntityUpdated").as("evt_type"),
        img.getField("user_id").as("aggregateId"),
        img.getField("event_type").as("kind"),
        img.getField("value").cast("decimal(18,2)").as("value"),
        $"ts", $"ts_ms")
        .withColumn("eventId",
          md5(concat_ws("|", $"evt_type", $"aggregateId", $"ts_ms")))
      // enrichment: broadcast category dimension (subject router dim)
      val dim = Seq(
        ("click", "engagement"), ("view", "engagement"),
        ("purchase", "revenue"), ("signup", "lifecycle"), ("error", "ops"))
        .toDF("kind", "category")
      val enriched = events.join(broadcast(dim), Seq("kind"), "left")
      // validation + event-store aggregation shape (month partitions)
      enriched
        .filter($"eventId".isNotNull && $"aggregateId".isNotNull)
        .groupBy(date_format($"ts", "yyyyMM").as("event_month"),
          $"evt_type".as("event_type"), $"category")
        .agg(count(lit(1)).as("n"),
          count_distinct($"aggregateId").as("n_aggregates"),
          sum($"value").cast("double").as("total_value"))
        .orderBy($"event_month", $"event_type", $"category")
    }),

    // INCREMENTALLY MAINTAINED daily metrics (cdc.Metrics.mergeBatchDaily
    // — the materialized view the streaming pipeline's maintenance hook
    // keeps next to the event store): two day-parity batches write their
    // partial (day, event_type) aggregates under the BatchTables
    // discipline, compaction folds them, and the read is a sum over the
    // maintained table — never a rescan of the raw events. The oracle is
    // the one-shot daily aggregate: partial-aggregate partitioning and
    // the compaction merge must not move a single count or cent.
    "cdc_daily_metrics_state" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .withColumn("_day", datediff(to_date($"ts"), to_date(lit("1970-01-01"))))
      val table = sc.table("daily")
      def merge(parity: Int, id: Long): Unit =
        graft.cdc.Metrics.mergeBatchDaily(
          ev.filter(pmod($"_day", lit(2)) === parity),
          to_date($"ts"), $"event_type",
          floor($"value" * 100).cast("long"),
          table, sc.path("daily"), id)
      merge(0, 0L)
      merge(1, 1L)
      graft.cdc.Metrics.compactDaily(s, table, upToBatchId = 1L)
      graft.cdc.Metrics.dailyFromTable(s, table)
        .select($"day".cast("string").as("day"), $"event_type",
          $"n", $"cents")
        .orderBy($"day", $"event_type")
    }),

    // TeamCompositionChanged analog (O-25): tumbling-window burst detection —
    // aggregates with >= 3 events inside one 1-hour window. Exercises the
    // real window() operator (same code path as the streaming stateful agg).
    "cdc_team_burst" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .groupBy(window($"ts", "1 hour").as("w"), $"user_id")
        .agg(count(lit(1)).as("n"))
        .filter($"n" >= 3)
        .select(unix_seconds($"w.start").as("window_start"), $"user_id", $"n")
        .orderBy($"window_start", $"user_id")
    }),

    // Latency percentile surface (O-23): inter-event gap per user as the
    // lag proxy, exact interpolated percentiles per event type. Spark's
    // percentile() and DuckDB's quantile_cont share the same definition,
    // so this one is oracle-exact (unlike percentile_approx).
    "cdc_latency_pcts" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables(s, dir, "events")
        .withColumn("gap_ms",
          ((unix_micros($"ts") - lag(unix_micros($"ts"), 1).over(w)) / 1000.0))
        .filter($"gap_ms".isNotNull)
        .groupBy($"event_type")
        .agg(
          count(lit(1)).as("n"),
          round(percentile($"gap_ms", lit(0.5)), 3).as("p50_ms"),
          round(percentile($"gap_ms", lit(0.95)), 3).as("p95_ms"),
          round(max($"gap_ms"), 3).as("max_ms"))
        .orderBy($"event_type")
    }),

    // PII masking surface (O-17 analog): stable pseudonymization via
    // sha-256 of the subject identifier + digit redaction of the payload.
    "cdc_mask" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .select(
          $"event_id",
          sha2($"user_id".cast("string"), 256).as("user_hash"),
          regexp_replace($"props", "[0-9]", "*").as("props_masked"))
        .orderBy($"event_id")
    }),

    // JSON path extraction over the props payload (§2.6; docs/cdc-guide.md:95-97).
    "cdc_json_extract" -> ((s, dir) => {
      import s.implicits._
      Tables(s, dir, "events")
        .select(get_json_object($"props", "$.k").cast("bigint").as("k"))
        .groupBy($"k")
        .agg(count(lit(1)).as("n"))
        .orderBy($"k")
    }),

    // Schema evolution v2 (O-5): a ledger that changes schema MID-STREAM —
    // even event_ids written under v1 {id int, val int}, odd ones under
    // v2 {id long, amount long, note string} (val RENAMED to amount and
    // WIDENED int->long). SchemaHistory.deserializeEvolved decodes every
    // row with its version's schema (one parse per row, branch by event
    // time) and surfaces the canonical latest view; the oracle recomputes
    // that view straight from the source table.
    // Three generations over the real events table: v1 {id int, val int},
    // v2 renames val->amount (widened to long) and adds note, v3 DROPS
    // note and adds score. The canonical view carries live fields plus the
    // dropped note (null for v3 rows, the mirror of score being null
    // before its birth) — decode-at-any-position across add/rename/widen/
    // drop, one JSON parse per row.
    "cdc_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types._
      val base = 1718000000000L
      val cutover = base + 1000000000L
      val cutover2 = base + 2000000000L
      val gen = $"event_id" % 3
      val tsMs = when(gen === 2, lit(cutover2) + $"event_id")
        .when(gen === 1, lit(cutover) + $"event_id")
        .otherwise(lit(base) + $"event_id")
      val cents = floor($"value" * 100).cast("int")
      val score = ($"user_id" % 100).cast("int")
      val srcTail = lit(""","source":{"version":"1.0","connector":"graft","name":"HCM.CDC.HR","ts_ms":""")
      val wire = Tables(s, dir, "events").select(concat(
        lit("""{"before":null,"after":{"id":"""), $"event_id",
        when(gen === 2,
          concat(lit(""","amount":"""), cents,
            lit(""","score":"""), score))
          .when(gen === 1,
            concat(lit(""","amount":"""), cents,
              lit(""","note":""""), $"event_type", lit("\"")))
          .otherwise(concat(lit(""","val":"""), cents)),
        lit("}"), srcTail, tsMs,
        lit(""","db":"hrdb","table":"metrics"},"op":"c","ts_ms":"""),
        tsMs, lit("}")).as("value"))
      val history = graft.cdc.SchemaHistory.History("metrics", Seq(
        graft.cdc.SchemaHistory.Version(1, 0L, StructType(Seq(
          StructField("id", IntegerType), StructField("val", IntegerType)))),
        graft.cdc.SchemaHistory.Version(2, cutover, StructType(Seq(
          StructField("id", LongType), StructField("amount", LongType),
          StructField("note", StringType))),
          renames = Map("val" -> "amount")),
        graft.cdc.SchemaHistory.Version(3, cutover2, StructType(Seq(
          StructField("id", LongType), StructField("amount", LongType),
          StructField("score", IntegerType))))))
      graft.cdc.SchemaHistory.deserializeEvolved(wire, history)
        .select($"after.id".as("id"), $"after.amount".as("amount"),
          $"after.score".as("score"), $"after.note".as("note"),
          $"schema_version")
        .orderBy($"id")
    }),

    // SCD Type-2 history (cdc.Scd.history): one row per version interval
    // per aggregate — valid_from/valid_to from lead() over the per-key
    // change order, deletes closing their predecessor without opening a
    // version. The state-reconstruction layer the event store implies:
    // "what did the row look like at T" becomes an interval filter, not
    // a stream replay. One key shuffle + a narrow lead — no self-join.
    "cdc_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
      graft.cdc.Scd.history(changes, Seq("user_id"), "ts", "event_id", "op")
        .select($"user_id", $"event_id", $"value",
          unix_micros($"valid_from").as("valid_from_us"),
          unix_micros($"valid_to").as("valid_to_us"),
          $"is_current")
        .orderBy($"user_id", $"valid_from_us", $"event_id")
    }),

    // INCREMENTALLY MAINTAINED SCD2 history (cdc.Scd.mergeBatchHistory /
    // historyFromTable): two day-parity batches land OUT OF ORDER (odd
    // days first, so cross-batch adjacency is stale in both directions),
    // the first is compacted into the consolidated partition, the second
    // stays un-consolidated — so the read exercises BOTH paths: stored
    // intervals passing through window-free, and touched keys
    // re-windowing their full change set (late changes splitting old
    // closed intervals, delete tombstones still closing). The oracle is
    // the SAME one-shot window replay as cdc_scd2_history: batch
    // partitioning must not move the answer.
    "cdc_scd2_incr" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
        .withColumn("_day", datediff(to_date($"ts"), to_date(lit("1970-01-01"))))
      val table = sc.table("hist")
      graft.cdc.Scd.mergeBatchHistory(
        changes.filter(pmod($"_day", lit(2)) === 1).drop("_day"),
        Seq("user_id"), "ts", "event_id", table, sc.path("hist"), batchId = 0L)
      graft.cdc.Scd.compactHistory(s, table, upToBatchId = 0L,
        Seq("user_id"), "ts", "event_id")
      graft.cdc.Scd.mergeBatchHistory(
        changes.filter(pmod($"_day", lit(2)) === 0).drop("_day"),
        Seq("user_id"), "ts", "event_id", table, sc.path("hist"), batchId = 1L)
      graft.cdc.Scd.historyFromTable(s, table, Seq("user_id"), "ts",
          "event_id", "op")
        .select($"user_id", $"event_id", $"value",
          unix_micros($"valid_from").as("valid_from_us"),
          unix_micros($"valid_to").as("valid_to_us"),
          $"is_current")
        .orderBy($"user_id", $"valid_from_us", $"event_id")
    }),

    // Point-in-time snapshot over the SCD2 history (cdc.Scd.asOf): each
    // aggregate's version whose half-open [from, to) interval covers
    // 2024-01-15T00:00Z — keys deleted before T correctly absent.
    "cdc_point_in_time" -> ((s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
      val hist = graft.cdc.Scd.history(changes, Seq("user_id"), "ts",
        "event_id", "op")
      graft.cdc.Scd.asOf(hist,
          lit("2024-01-15 00:00:00").cast("timestamp"))
        .select($"user_id", $"event_id", $"value",
          unix_micros($"valid_from").as("valid_from_us"))
        .orderBy($"user_id")
    }),

    // Current state straight from the change stream (cdc.Scd.latest) —
    // the MERGE INTO / latest-wins upsert materialization: one max_by
    // aggregation (one row of state per key, not the version list), keys
    // whose last change is a delete absent.
    "cdc_current_state" -> ((s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
      graft.cdc.Scd.latest(changes, Seq("user_id"), "ts", "event_id", "op")
        .select($"user_id", $"event_id", $"value")
        .orderBy($"user_id")
    }),

    // SCD Type-3 (cdc.Scd.scd3): current state + the most recent PRIOR
    // differing value per tracked attribute (NULL if never changed) —
    // the "current + previous" reporting shape between Type-1 overwrite
    // and Type-2 history. Keys whose last change is a delete absent;
    // delete rows are not versions and contribute no previous values.
    "cdc_scd3" -> ((s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
      graft.cdc.Scd.scd3(changes, Seq("user_id"), "ts", "event_id", "op",
          attrCols = Seq("value", "event_type"))
        .select($"user_id", $"value", $"event_type", $"event_id",
          unix_micros($"ts").as("ts_us"),
          $"value_prev", $"event_type_prev")
        .orderBy($"user_id")
    }),

    // Snapshot diff between two points in time (cdc.Scd.snapshotDiff):
    // added/removed/changed keys between Jan 10 and Jan 20, derived from
    // ONE history pass — the "what happened between the two nightly
    // snapshots" audit without storing either snapshot.
    "cdc_snapshot_diff" -> ((s, dir) => {
      import s.implicits._
      val changes = Tables(s, dir, "events")
        .withColumn("op", EventsAsChangeLog.opCol)
      val hist = graft.cdc.Scd.history(changes, Seq("user_id"), "ts",
        "event_id", "op")
      graft.cdc.Scd.snapshotDiff(hist, Seq("user_id"), "event_id",
          lit("2024-01-10 00:00:00").cast("timestamp"),
          lit("2024-01-20 00:00:00").cast("timestamp"))
        .orderBy($"user_id")
    }),

    // No-op change suppression (cdc.Suppress): each user's event stream
    // reduced to its (band, event_type) TRANSITIONS — the CDC noise
    // filter that drops touch-only writes. Batch form under the hash
    // (per-key ordered lag on the null-safe value struct); the
    // streaming flatMapGroupsWithState form is spec-pinned row-equal
    // across batch splits (SuppressSpec). ~75% of same-band rows
    // suppress at this granularity, so the filter is exercised hard.
    "cdc_change_suppress" -> ((s, dir) => {
      import s.implicits._
      val ev = Tables(s, dir, "events").filter($"value".isNotNull)
        .withColumn("band", floor($"value" / 100).cast("long"))
      graft.cdc.Suppress.suppressUnchanged(ev, "user_id", "ts",
          "event_id", Seq("band", "event_type"))
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"band", $"event_type")
        .orderBy($"user_id", $"ts_us", $"event_id")
    }),

    // Sequence-continuity audit (Validate.sequenceGaps): the binlog
    // offset-hole monitor. event_id is the dense 0..n-1 log sequence;
    // ids ≡ 5 (mod 97) are dropped to simulate lost messages, the audit
    // runs per 1000-id block (the partitioned form — never a global
    // window) and must report exactly the planted holes. The residue is
    // chosen so no hole lands on a block boundary (a boundary hole is
    // invisible to within-block lag — the documented two-level caveat).
    "cdc_seq_gaps" -> ((s, dir) => {
      import s.implicits._
      val damaged = Tables(s, dir, "events")
        .filter(pmod($"event_id", lit(97L)) =!= 5L)
        .withColumn("block", floor($"event_id" / 1000L).cast("long"))
      graft.cdc.Validate.sequenceGaps(damaged, Seq("block"), "event_id")
        .orderBy($"block", $"gap_after")
    }),

    // Retraction-based materialized view (cdc.Retract): live users and
    // total cents per (event_type, value band) of each user's CURRENT
    // row, maintained purely from ± image contributions — updates that
    // move a user between groups retract the old image and add the new,
    // deletes retract. The telescoped delta sum must equal the view
    // recomputed over current state (the oracle's latest-live-per-user
    // aggregation) — the streaming-MV correctness property.
    "cdc_mv_retract" -> ((s, dir) => {
      import s.implicits._
      val log = graft.cdc.EventsAsChangeLog.retractable(
        Tables(s, dir, "events"))
      val deltas = graft.cdc.Retract.mvDeltas(log,
        img => struct(img.getField("event_type").as("event_type"),
          floor(img.getField("value") / 50).cast("long").as("band")),
        img => floor(img.getField("value") * 100))
      deltas.groupBy($"event_type", $"band")
        .agg(sum($"d_n").as("n_live"), sum($"d_sum").cast("long").as("cents"))
        .filter($"n_live" > 0)
        .orderBy($"event_type", $"band")
    }),

    // Same view maintained as a BatchTables state table across three
    // ts-range delta batches (binlog arrival order) with a mid-stream
    // compaction — additive deltas commute, so batching and compaction
    // provably move nothing (identical oracle to cdc_mv_retract).
    "cdc_mv_retract_state" -> ((s, dir) => Scratch(s) { sc =>
      import s.implicits._
      val log = graft.cdc.EventsAsChangeLog.retractable(
          Tables(s, dir, "events"))
        .localCheckpoint(true) // fixture lag window computed once, as a
                               // binlog would deliver befores natively
      val table = sc.table("mv")
      val groupOf = (img: org.apache.spark.sql.Column) =>
        struct(img.getField("event_type").as("event_type"),
          floor(img.getField("value") / 50).cast("long").as("band"))
      val measureOf = (img: org.apache.spark.sql.Column) =>
        floor(img.getField("value") * 100)
      val cuts = Seq(
        $"ts_ms" < 1705000000000L,
        $"ts_ms" >= 1705000000000L && $"ts_ms" < 1706000000000L,
        $"ts_ms" >= 1706000000000L)
      cuts.zipWithIndex.foreach { case (pred, i) =>
        graft.cdc.Retract.mergeBatchMv(log.filter(pred), groupOf,
          measureOf, table, sc.path("mv"), i.toLong)
        if (i == 1) graft.cdc.Retract.compactMv(s, table, upToBatchId = 1L)
      }
      graft.cdc.Retract.mvFromTable(s, table)
        .select($"event_type", $"band", $"n".as("n_live"),
          $"total".as("cents"))
        .orderBy($"event_type", $"band")
    }),
  )

  val oracleSql: Map[String, String] = Map(
    "cdc_scd2_history" ->
      """WITH c AS (SELECT user_id, event_id, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |h AS (SELECT user_id, event_id, value, op,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to_us
        |  FROM c)
        |SELECT user_id, event_id, value, valid_from_us, valid_to_us,
        |  (valid_to_us IS NULL) AS is_current
        |FROM h WHERE op <> 'd'
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    // identical replay to cdc_scd2_history: the maintained table's
    // contents must be indistinguishable from the one-shot window
    "cdc_scd2_incr" ->
      """WITH c AS (SELECT user_id, event_id, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |h AS (SELECT user_id, event_id, value, op,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to_us
        |  FROM c)
        |SELECT user_id, event_id, value, valid_from_us, valid_to_us,
        |  (valid_to_us IS NULL) AS is_current
        |FROM h WHERE op <> 'd'
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    "cdc_point_in_time" ->
      """WITH c AS (SELECT user_id, event_id, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |h AS (SELECT user_id, event_id, value, op,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to_us
        |  FROM c)
        |SELECT user_id, event_id, value, valid_from_us
        |FROM h WHERE op <> 'd'
        |  AND valid_from_us <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
        |  AND (valid_to_us IS NULL
        |       OR valid_to_us > epoch_us(TIMESTAMP '2024-01-15 00:00:00'))
        |ORDER BY user_id""".stripMargin,

    // one-shot daily aggregate: the maintained table's sum must equal it
    "cdc_daily_metrics_state" ->
      """SELECT CAST(ts AS DATE)::VARCHAR AS day, event_type,
        |  count(*)::BIGINT AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "cdc_current_state" ->
      """WITH c AS (SELECT user_id, event_id, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |w AS (SELECT user_id, event_id, value, op,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM c)
        |SELECT user_id, event_id, value FROM w
        |WHERE rn = 1 AND op <> 'd'
        |ORDER BY user_id""".stripMargin,

    "cdc_scd3" ->
      """WITH c AS (SELECT user_id, event_id, value, event_type, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM c),
        |cur AS (SELECT user_id, event_id, value, event_type, ts
        |  FROM r WHERE rn = 1 AND op <> 'd'),
        |hist AS (SELECT c.*, cur.value AS cv, cur.event_type AS ct
        |  FROM c JOIN cur USING (user_id)
        |  WHERE c.op <> 'd'
        |    AND (epoch_us(c.ts) < epoch_us(cur.ts)
        |      OR (c.ts = cur.ts AND c.event_id < cur.event_id))),
        |pvv AS (SELECT user_id, value AS value_prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM hist WHERE value IS DISTINCT FROM cv),
        |pvt AS (SELECT user_id, event_type AS event_type_prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM hist WHERE event_type IS DISTINCT FROM ct)
        |SELECT cur.user_id, cur.value, cur.event_type, cur.event_id,
        |  epoch_us(cur.ts) AS ts_us, pvv.value_prev, pvt.event_type_prev
        |FROM cur
        |LEFT JOIN (SELECT user_id, value_prev FROM pvv WHERE rn = 1) pvv
        |  USING (user_id)
        |LEFT JOIN (SELECT user_id, event_type_prev FROM pvt WHERE rn = 1) pvt
        |  USING (user_id)
        |ORDER BY cur.user_id""".stripMargin,

    "cdc_snapshot_diff" ->
      """WITH c AS (SELECT user_id, event_id, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |h AS (SELECT user_id, event_id, op,
        |  epoch_us(ts) AS f,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS t
        |  FROM c),
        |s1 AS (SELECT user_id, event_id FROM h WHERE op <> 'd'
        |  AND f <= epoch_us(TIMESTAMP '2024-01-10 00:00:00')
        |  AND (t IS NULL OR t > epoch_us(TIMESTAMP '2024-01-10 00:00:00'))),
        |s2 AS (SELECT user_id, event_id FROM h WHERE op <> 'd'
        |  AND f <= epoch_us(TIMESTAMP '2024-01-20 00:00:00')
        |  AND (t IS NULL OR t > epoch_us(TIMESTAMP '2024-01-20 00:00:00')))
        |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'added'
        |       WHEN s2.user_id IS NULL THEN 'removed'
        |       WHEN s1.event_id <> s2.event_id THEN 'changed' END AS change,
        |  s1.event_id AS version_before, s2.event_id AS version_after
        |FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
        |WHERE CASE WHEN s1.user_id IS NULL THEN 'added'
        |           WHEN s2.user_id IS NULL THEN 'removed'
        |           WHEN s1.event_id <> s2.event_id THEN 'changed' END
        |      IS NOT NULL
        |ORDER BY user_id""".stripMargin,

    "cdc_schema_evolution" ->
      """SELECT event_id AS id,
        |  CAST(floor(value * 100) AS BIGINT) AS amount,
        |  CAST(CASE WHEN event_id % 3 = 2 THEN user_id % 100 END AS INT) AS score,
        |  CASE WHEN event_id % 3 = 1 THEN event_type END AS note,
        |  CAST(event_id % 3 + 1 AS INT) AS schema_version
        |FROM events ORDER BY id""".stripMargin,

    "cdc_snapshot" ->
      """SELECT c_custkey, 'r' AS op, c_name, 'customer' AS src_table,
        |  CAST(1718000000000 AS BIGINT) AS ts_ms
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "cdc_ledger" ->
      """SELECT CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
        |  count(*) AS n
        |FROM events GROUP BY op ORDER BY op""".stripMargin,

    "cdc_unwrap" ->
      """SELECT event_id, user_id, event_type, value,
        |  CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END AS op
        |FROM events WHERE event_type <> 'error' ORDER BY event_id""".stripMargin,

    "cdc_subject_route" ->
      """SELECT 'HCM.CDC.HR.hrdb.' || event_type AS subject, count(*) AS n
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY subject ORDER BY subject""".stripMargin,

    "cdc_dedup_window" ->
      """SELECT event_id FROM (
        |  SELECT event_id, epoch_us(ts) AS us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
        |  FROM events) t
        |WHERE prev_us IS NULL OR us - prev_us > 120000000
        |ORDER BY event_id""".stripMargin,

    "cdc_field_diff" ->
      """SELECT user_id, event_id, old_value, new_value FROM (
        |  SELECT user_id, event_id,
        |    lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS old_value,
        |    value AS new_value
        |  FROM events) t
        |WHERE old_value IS NOT NULL AND old_value <> new_value
        |ORDER BY event_id""".stripMargin,

    "cdc_event_metrics" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_unique_violations" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin,

    "cdc_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY k ORDER BY k""".stripMargin,

    "cdc_mask" ->
      """SELECT event_id, sha256(CAST(user_id AS VARCHAR)) AS user_hash,
        |  regexp_replace(props, '[0-9]', '*', 'g') AS props_masked
        |FROM events ORDER BY event_id""".stripMargin,

    "cdc_latency_pcts" ->
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) / 1000.0 AS gap_ms
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  round(quantile_cont(gap_ms, 0.5), 3) AS p50_ms,
        |  round(quantile_cont(gap_ms, 0.95), 3) AS p95_ms,
        |  round(max(gap_ms), 3) AS max_ms
        |FROM g WHERE gap_ms IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_full_pipeline" ->
      """WITH deduped AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, value, ts,
        |      CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
        |      epoch_us(ts) AS us,
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |        ORDER BY ts, event_id) AS prev_us
        |    FROM events) t
        |  WHERE prev_us IS NULL OR us - prev_us > 120000000
        |), ev AS (
        |  SELECT
        |    CASE event_type WHEN 'signup' THEN 'EntityCreated'
        |      WHEN 'error' THEN 'EntityDeleted' ELSE 'EntityUpdated' END AS event_type,
        |    user_id AS aggregateId, event_type AS kind,
        |    CAST(value AS DECIMAL(18,2)) AS value, ts, ts_ms
        |  FROM deduped
        |), dim(kind, category) AS (
        |  VALUES ('click','engagement'), ('view','engagement'),
        |    ('purchase','revenue'), ('signup','lifecycle'), ('error','ops')
        |), enriched AS (
        |  SELECT ev.*, dim.category,
        |    md5(event_type || '|' || aggregateId || '|' || ts_ms) AS eventId
        |  FROM ev LEFT JOIN dim ON ev.kind = dim.kind
        |)
        |SELECT strftime(ts, '%Y%m') AS event_month, event_type, category,
        |  count(*) AS n, count(DISTINCT aggregateId) AS n_aggregates,
        |  CAST(sum(value) AS DOUBLE) AS total_value
        |FROM enriched
        |WHERE eventId IS NOT NULL AND aggregateId IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "cdc_team_burst" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  user_id, count(*) AS n
        |FROM events GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY window_start, user_id""".stripMargin,

    // suppression replay: per-key ordered lag on each tracked column,
    // null-safe (IS NOT DISTINCT FROM); the lag(event_id) guard
    // distinguishes "no previous row" from "previous values were NULL"
    "cdc_change_suppress" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value / 100) AS BIGINT) AS band, event_type
        |  FROM events WHERE value IS NOT NULL),
        |l AS (SELECT *, lag(band) OVER w AS pb,
        |    lag(event_type) OVER w AS pt, lag(event_id) OVER w AS pid
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, event_id, ts_us, band, event_type
        |FROM l
        |WHERE pid IS NULL
        |   OR NOT (pb IS NOT DISTINCT FROM band
        |           AND pt IS NOT DISTINCT FROM event_type)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    "cdc_seq_gaps" ->
      """WITH d AS (SELECT event_id,
        |    CAST(floor(event_id / 1000) AS BIGINT) AS block
        |  FROM events WHERE event_id % 97 <> 5),
        |l AS (SELECT block, event_id,
        |    lag(event_id) OVER (PARTITION BY block ORDER BY event_id) AS prev
        |  FROM d)
        |SELECT block, prev AS gap_after, event_id AS gap_before,
        |  (event_id - prev - 1)::BIGINT AS missing
        |FROM l WHERE prev IS NOT NULL AND event_id > prev + 1
        |ORDER BY block, gap_after""".stripMargin,

    // the retraction-maintained view must equal the view recomputed over
    // CURRENT state (latest live row per user) — the oracle never sees
    // the delta algebra, only its telescoped fixed point
    "cdc_mv_retract" ->
      """WITH c AS (SELECT user_id, event_id, event_type, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM c)
        |SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS band,
        |  count(*)::BIGINT AS n_live,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM w WHERE rn = 1 AND op <> 'd'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // identical replay: batching + compaction must move nothing
    "cdc_mv_retract_state" ->
      """WITH c AS (SELECT user_id, event_id, event_type, value, ts,
        |  CASE WHEN event_type = 'signup' THEN 'c'
        |       WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        |  FROM events),
        |w AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM c)
        |SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS band,
        |  count(*)::BIGINT AS n_live,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM w WHERE rn = 1 AND op <> 'd'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
  )
}
