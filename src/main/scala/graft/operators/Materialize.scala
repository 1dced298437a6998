package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The engine's one eager materialization: the hand-off at the end of a
  * MapReduce round, where the next round reads the round's output instead
  * of replaying its lineage. Every call site decides WHETHER to
  * materialize (SCALE.md's localCheckpoint contract); this object alone
  * decides HOW, so a change of storage tier or a per-checkpoint
  * measurement is an edit here, not at each site.
  *
  * The mechanism is `localCheckpoint()`: one eager job whose result lives
  * as non-replicated executor blocks, with no lineage back past it. An
  * executor lost mid-query takes its blocks with it, and the query re-runs
  * from its inputs.
  */
object Materialize {

  /** `df` materialized by one eager job. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint()

  /** `df` materialized, plus one long aggregated over its rows in the
    * same job: the CollectMetrics node fires on the checkpoint action
    * itself, so the value costs no second scan-the-checkpoint job and the
    * returned frame's rows are untouched. `metric` is one aliased
    * aggregate; the default is the row count.
    */
  def observed(df: DataFrame,
      metric: Column = count(lit(1)).as("n")): (DataFrame, Long) = {
    val obs = Observation()
    val ck = df.observe(obs, metric).localCheckpoint()
    (ck, obs.get.values.head.asInstanceOf[Number].longValue)
  }
}
