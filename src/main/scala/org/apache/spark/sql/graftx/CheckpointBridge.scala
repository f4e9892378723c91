package org.apache.spark.sql.graftx

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** The second sanctioned crossing into Spark-private scopes (see
  * [[ColumnBridge]]): giving a checkpointed frame its MEASURED size.
  * `localCheckpoint` keeps the origin plan's size estimate, which after an
  * explode, a UDF or a join says nothing about the rows it holds — so a
  * side measured above the broadcast threshold could still be planned as
  * a broadcast off that estimate. Replacing the estimate with the
  * measurement makes every later planner decision see the real size.
  */
object CheckpointBridge {

  /** `df` materialized once (`localCheckpoint(eager = true)`), its rows
    * and UnsafeRow bytes counted in one small job over the checkpointed
    * blocks, and re-wrapped with those counts as its plan statistics.
    * Returns the measured frame and its byte size.
    */
  def measuredCheckpoint(df: DataFrame): (DataFrame, Long) = {
    val cp = df.localCheckpoint(eager = true)
    val session = cp.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD]
    val schema = cp.schema
    val (rows, bytes) = rdd.rdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      it.map {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case r => toUnsafe(r).getSizeInBytes.toLong
      }
    }.aggregate((0L, 0L))(
      (acc, b) => (acc._1 + 1L, acc._2 + b),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    val stats = Statistics(sizeInBytes = BigInt(bytes), rowCount = Some(BigInt(rows)))
    val measured = rdd.copy()(session, Some(stats), None)
    (classic.Dataset.ofRows(session, measured), bytes)
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (negative = broadcast joins disabled), parsed the way the planner
    * parses it.
    */
  def autoBroadcastThreshold(df: DataFrame): Long =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold
}
