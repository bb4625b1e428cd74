package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard extension-point pattern for libraries that ship custom Catalyst
  * expressions (Spark 4 wraps Column around ColumnNode, so `new
  * Column(expr)` no longer exists). */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Same bridge for building a DataFrame from a custom LogicalPlan. */
object DatasetBridge {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Bridge to the persisted RDD behind a `localCheckpoint`ed DataFrame —
  * needed to RELEASE a checkpoint's storage explicitly: a checkpointed
  * frame is backed by a `LogicalRDD` whose blocks are plain persisted RDD
  * blocks (not CacheManager entries), so `Dataset.unpersist` cannot free
  * them and they otherwise live until RDD GC. Iterative algorithms that
  * checkpoint per round ([[graft.text.Dedup.components]]) free each
  * round's blocks as soon as the next round is materialized. */
object CheckpointBridge {
  /** The underlying checkpointed RDD, if `df` is LogicalRDD-backed. */
  def backingRdd(df: org.apache.spark.sql.DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** Unpersist the checkpoint blocks behind `df` (no-op otherwise). */
  def release(df: org.apache.spark.sql.DataFrame): Unit =
    backingRdd(df).foreach(_.unpersist(blocking = false))
}
