package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Round-16 shared helper for iterative fixpoints: materialize a loop
  * frame AND read its convergence statistic(s) from the SAME job via
  * `observe()` — every loop used to pay one extra driver-synchronized
  * job per round just to count/aggregate the frame it had JUST
  * checkpointed (measured on this build: 20 checkpoint+count rounds
  * 3.07 s plain vs 1.61 s fused — round 16's observe() probe, in git
  * history; the iterative graph family is job-count-bound at bench
  * scale, per the r15 scaling block).
  * `CollectMetrics` passes rows through untouched, so the checkpointed
  * frame — and everything computed from it — is bit-identical; only the
  * number of jobs changes.
  */
private[operators] object IterUtil {

  /** localCheckpoint(eager) + row count observed from the same job. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val obs = Observation()
    val m = df.observe(obs, count(lit(1)).as("n")).localCheckpoint(true)
    (m, obs.get("n").asInstanceOf[Long])
  }

  /** localCheckpoint(eager) + named aggregate metrics observed from the
    * same job. Aggregates over an EMPTY frame return null (except
    * count) — null-guard with coalesce in the metric expressions.
    */
  def checkpointObserved(df: DataFrame, metrics: Seq[Column])
      : (DataFrame, Map[String, Any]) = {
    val obs = Observation()
    val m = df.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(true)
    (m, obs.get)
  }
}
