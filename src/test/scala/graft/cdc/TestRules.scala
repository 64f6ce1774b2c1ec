package graft.cdc

import org.apache.spark.sql.DataFrame

/** Per-table rule application for specs: one envelope frame per table,
  * each run through its own rules, the form the pipeline's single-pass
  * `Rules.applyTables` replaced. The rule engine under test is the same
  * (`Rules.outputs` + `Rules.explodeEvents`).
  */
object TestRules {

  /** Run every enabled rule of `rules` whose table is `table` over this
    * envelope stream, in a SINGLE pass.
    */
  def applyAll(envelopes: DataFrame, table: String,
               rules: Seq[TransformerRule] = Rules.all): DataFrame =
    Rules.explodeEvents(envelopes, Rules.outputs(
      rules.filter(r => r.enabled && r.table == table),
      Rules.afterRow(envelopes)))

  /** Multi-table entry: map of table -> envelope DataFrame (each with that
    * table's before/after schema) → single unioned domain-event stream.
    */
  def applyAll(byTable: Map[String, DataFrame]): DataFrame =
    byTable.collect {
      case (t, df) if Rules.all.exists(r => r.enabled && r.table == t) =>
        applyAll(df, t)
    }.reduceLeft(_.unionByName(_))
}
