package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-history tracking (O-5): the analog of Debezium's schema-history
  * topic (`application.properties:15-16`) — decode change events captured at
  * any ledger position with the schema that was active at that time.
  *
  * Model: per-table ordered versions, each effective from an event
  * timestamp. Evolution v3 (round 6) supports, per adjacent version pair:
  *  - ADDITIVE columns (new fields decode as null for older rows),
  *  - RENAME (declared as `renames: old -> new`; older rows' values surface
  *    under the canonical latest name),
  *  - TYPE WIDENING along the numeric lattice (byte < short < int < long,
  *    float < double, int < double — the casts JSON replay can always
  *    perform losslessly),
  *  - DROP COLUMN (the dropped field stays in the canonical view, typed at
  *    its last-alive version, and decodes as null for rows AFTER the drop
  *    — the exact mirror of an added field being null before its birth, so
  *    any ledger position replays into one stable view, Debezium's
  *    decode-at-any-position contract). Narrowing and unrelated type
  *    changes still fail registration: they cannot be replayed without a
  *    rewrite.
  *
  * Decoding (`deserializeEvolved`) stays ONE parse per row at any version
  * count: the version branch is selected by event time (a cheap `ts_ms`
  * probe of the raw JSON), and only the selected branch's `from_json` —
  * with that version's schema — evaluates (codegen CASE short-circuits).
  * Each branch then canonicalizes to the LATEST view: renamed fields are
  * read under their version-local name, widened fields cast up, absent
  * fields null. Consumers always see one schema plus a `schema_version`
  * tag telling "null because absent in v1" from "null value in v3".
  */
object SchemaHistory {

  final case class Version(version: Int, fromTsMs: Long, schema: StructType,
                           renames: Map[String, String] = Map.empty)

  /** May a replayed value of `from` surface as `to` without loss? */
  private[cdc] def widenable(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (LongType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  final case class History(table: String, versions: Seq[Version]) {
    require(versions.nonEmpty, s"$table: empty schema history")
    require(versions.sortBy(_.fromTsMs) == versions,
      s"$table: versions must be ordered by fromTsMs")
    versions.sliding(2).foreach {
      case Seq(a, b) =>
        b.renames.foreach { case (from, to) =>
          require(a.schema.fieldNames.contains(from),
            s"$table v${b.version}: renames unknown field $from")
          require(b.schema.fieldNames.contains(to),
            s"$table v${b.version}: rename target $to missing from schema")
        }
      case _ =>
    }

    /** One entry per field IDENTITY across the history (v3, round 6):
      * `local(i)` = the name the field carried in version index i — None
      * before its birth and after its drop. Built FORWARD: a version's
      * field continues a lineage if the (renamed) name survives, dies if
      * it disappears (DROP COLUMN — the field then surfaces as null in
      * the canonical view for later rows, the mirror of an added field
      * being null for earlier rows), and every unclaimed name is a birth.
      * A name recycled after a rename or drop is a NEW lineage — it must
      * not steal the old field's values (pinned in the spec).
      */
    private[cdc] final case class Lineage(local: Vector[Option[String]]) {
      def lastAlive: Int = local.lastIndexWhere(_.isDefined)
    }

    private[cdc] val lineages: Vector[Lineage] = {
      var acc: Vector[Vector[Option[String]]] = versions.head.schema
        .fieldNames.toVector.map(n => Vector(Some(n): Option[String]))
      for (k <- 1 until versions.length) {
        val r = versions(k).renames
        val present = versions(k).schema.fieldNames.toSet
        val continued = acc.map { lin =>
          lin.last match {
            case Some(nm) =>
              val next = r.getOrElse(nm, nm)
              lin :+ (if (present.contains(next)) Some(next): Option[String]
                      else None)
            case None => lin :+ (None: Option[String]) // drops are permanent
          }
        }
        val names = continued.flatMap(_.last)
        require(names.distinct.size == names.size,
          s"$table v${versions(k).version}: two fields map to one name " +
            s"(rename collision): ${names.diff(names.distinct).distinct}")
        val claimed = names.toSet
        val born = versions(k).schema.fieldNames.toVector
          .filterNot(claimed)
          .map(n => Vector.fill(k)(None: Option[String]) :+
            (Some(n): Option[String]))
        acc = continued ++ born
      }
      acc.map(Lineage(_))
    }

    // type evolution along each lineage must be a widening
    lineages.foreach { lin =>
      lin.local.zipWithIndex.sliding(2).foreach {
        case Seq((Some(a), i), (Some(b), j)) =>
          val (ta, tb) = (versions(i).schema(a).dataType,
            versions(j).schema(b).dataType)
          require(widenable(ta, tb),
            s"$table v${versions(j).version}: field $a -> $b changes type " +
              s"$ta -> $tb (not a widening)")
        case _ =>
      }
    }

    /** Canonical decoded view: the latest schema's fields in their
      * declared order, then DROPPED fields (ordered by drop version, then
      * name), each typed at its last-alive version. A dropped field whose
      * name is not unique in the view — recycled by a live field, or
      * dropped again in a later incarnation — surfaces as
      * `<name>_dropped_v<version>` (the version that dropped it) so every
      * identity stays addressable.
      */
    private[cdc] val canonicalFields: Vector[(String, DataType, Lineage)] = {
      val (live, dead) = lineages.partition(_.local.last.isDefined)
      val order = versions.last.schema.fieldNames.toVector
      val liveCols = live.sortBy(l => order.indexOf(l.local.last.get)).map {
        l =>
          val nm = l.local.last.get
          (nm, versions.last.schema(nm).dataType, l)
      }
      val liveNames = liveCols.map(_._1).toSet
      val deadSorted = dead.sortBy(l => (l.lastAlive, l.local(l.lastAlive).get))
      val deadBare = deadSorted.map(l => l.local(l.lastAlive).get)
      val deadCols = deadSorted.map { l =>
        val i = l.lastAlive
        val nm = l.local(i).get
        val canon = // suffix names the version that DROPPED the field
          if (liveNames.contains(nm) || deadBare.count(_ == nm) > 1)
            s"${nm}_dropped_v${versions(i + 1).version}"
          else nm
        (canon, versions(i).schema(nm).dataType, l)
      }
      val out = liveCols ++ deadCols
      val names = out.map(_._1)
      require(names.distinct.size == names.size,
        s"$table: canonical view has colliding field names: " +
          names.diff(names.distinct).distinct.mkString(", "))
      out
    }

    def latest: StructType = versions.last.schema

    /** The canonical view's schema: latest fields plus dropped fields. */
    def canonical: StructType =
      StructType(canonicalFields.map { case (n, t, _) => StructField(n, t) })

    /** Version number active at an event-time column (ms). */
    def versionAt(tsMs: Column): Column =
      versions.tail.foldLeft(lit(versions.head.version)) { (acc, v) =>
        when(tsMs >= v.fromTsMs, v.version).otherwise(acc)
      }
  }

  /** Decode wire rows whose history is additive-only (v1 path, kept): one
    * parse with the latest superset schema + `schema_version` tag.
    */
  def deserialize(wire: DataFrame, history: History): DataFrame =
    ChangeStream.deserialize(wire, history.latest)
      .withColumn("schema_version", history.versionAt(col("ts_ms")))

  /** Decode wire rows across renames and widenings: each row parses ONCE
    * with its own version's schema (branch chosen by event time), then maps
    * to the canonical latest view.
    *
    * Two projections on purpose: the first evaluates each version's
    * guarded `from_json` into its OWN column (null unless that version is
    * active for the row), the second builds the canonical view from those
    * materialized structs. Folding both into one expression re-evaluates
    * the parse per field reference — Spark's subexpression elimination
    * does not extract subtrees that sit inside conditional branches, so a
    * single-projection form paid ~9 full JSON parses per row (measured
    * 5.8 s → 1.5 s on the cdc_schema_evolution benchmark query). The two
    * projections cannot re-collapse: CollapseProject keeps aliases that
    * are referenced more than once and not cheap.
    */
  def deserializeEvolved(wire: DataFrame, history: History): DataFrame = {
    val parsed = wire.select(versionParses(history, lit(true))
      .zipWithIndex.map { case (p, i) => p.as(s"_p$i") }: _*)
    parsed.select(canonicalEnvelope(history,
        history.versions.indices.map(i => col(s"_p$i")), history.canonical)
        .as("e"))
      .select(col("e.*"))
      .withColumn("schema_version", history.versionAt(col("ts_ms")))
  }

  /** The first projection of `deserializeEvolved`: per version, the row's
    * envelope parsed with that version's schema — null unless the version
    * is active for the row and `rowGuard` holds.
    */
  private[graft] def versionParses(history: History,
                                   rowGuard: Column): Seq[Column] = {
    val vs = history.versions
    val tsProbe = get_json_object(col("value"), "$.ts_ms").cast("long")
    vs.zipWithIndex.map { case (v, i) =>
      val upper =
        if (i + 1 < vs.length) tsProbe < vs(i + 1).fromTsMs else lit(true)
      val g = if (i == 0) upper else tsProbe >= v.fromTsMs && upper
      when(rowGuard && g, from_json(col("value"), Schemas.envelope(v.schema)))
    }
  }

  /** The second projection of `deserializeEvolved`: the canonical envelope
    * built from the materialized `versionParses` columns, with
    * `before`/`after` typed as `row` — the canonical view or a superset of
    * it with the same field types; fields outside the canonical view are
    * null. Null when no version parsed the row.
    */
  private[graft] def canonicalEnvelope(history: History, parsed: Seq[Column],
                                       row: StructType): Column = {
    val byName = history.canonicalFields.map { case (n, _, lin) => n -> lin }.toMap
    val branches = parsed.zipWithIndex.map { case (p, i) =>
      def canon(side: String): Column = {
        val fields = row.fields.toIndexedSeq.map { f =>
          byName.get(f.name).flatMap(_.local(i)) match {
            case Some(local) =>
              p.getField(side).getField(local).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }
        when(p.getField(side).isNotNull, struct(fields: _*)).as(side)
      }
      when(p.isNotNull, struct(canon("before"), canon("after"),
        p.getField("source").as("source"),
        p.getField("op").as("op"),
        p.getField("ts_ms").as("ts_ms")))
    }
    coalesce(branches: _*)
  }
}
