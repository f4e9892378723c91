package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graftx.CheckpointBridge

/** The one broadcast policy. Spark's `spark.sql.autoBroadcastJoinThreshold`
  * is the only threshold; no operator carries a broadcast flag of its own.
  *
  *  1. Where Spark's size estimate is an UPPER bound on the small side —
  *     driver-local frames, one-row global aggregates, project / aggregate
  *     / filter chains over a scan or a cache, the left side of a semi or
  *     anti join — joins carry no hint: the planner broadcasts under the
  *     threshold and plans a shuffle join above it or at `-1`, and no job
  *     is added.
  *  2. Where the estimate is useless — a side built after an explode, a
  *     UDF or a join, or small only by contract — the side goes through
  *     [[ifFits]], which measures it once.
  *
  * This is the only place in `src/main` that may force a join broadcast
  * (`BroadcastPolicySpec` scans the sources for others).
  */
object Broadcasts {

  /** Rule 2: materialize `side` once (`localCheckpoint(eager = true)`),
    * measure its rows and bytes in one small job, and return the
    * checkpoint broadcast-hinted when its size is within a non-negative
    * `spark.sql.autoBroadcastJoinThreshold`, else unhinted. Either way the
    * returned frame carries the measured size as its plan statistics, so
    * the planner cannot broadcast an oversized side off a stale estimate.
    * The side is computed and measured when `ifFits` is called, not when
    * the join runs.
    */
  def ifFits(side: DataFrame): DataFrame = {
    val (measured, bytes) = CheckpointBridge.measuredCheckpoint(side)
    val threshold = CheckpointBridge.autoBroadcastThreshold(side)
    if (threshold >= 0 && bytes <= threshold) broadcast(measured) else measured
  }
}
