package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Minimal bridge into Spark's `private[sql]` Column↔Expression converters
 * (Spark 4 moved Column construction behind `ColumnNode`). This is the
 * whole internal-API surface the library touches; everything else uses
 * public APIs. Pattern used by most Spark extension libraries.
 */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Run `body` — jobs launched straight off `df`'s physical plan
    * (`queryExecution.toRdd`) — as ONE SQL execution named `name`, the
    * way a Dataset action runs: listeners, the event log and the SQL
    * metrics see the plan and its tasks instead of anonymous RDD jobs. */
  def withExecution[T](df: org.apache.spark.sql.Dataset[_], name: String)(body: => T): T =
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(df.queryExecution, Some(name))(body)

  /**
   * Drop the block-manager blocks behind a `localCheckpoint(true)`-ed
   * Dataset. `Dataset.unpersist` only talks to the CacheManager and
   * never sees checkpoint RDDs, so without this every checkpointed
   * loop iteration leaks its blocks for the rest of the session (the
   * round-2 bench regression). The Dataset is UNUSABLE afterwards —
   * a checkpoint has no lineage to recompute from — so only call once
   * nothing references it.
   */
  def unpersistCheckpoint(df: org.apache.spark.sql.Dataset[_], blocking: Boolean = false): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking)
        case _ => ()
      }
}
