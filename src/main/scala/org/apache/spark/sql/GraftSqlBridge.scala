package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's private[sql] surface — the standard
  * pattern extension libraries use to build DataFrames from custom
  * logical plans and to extract Catalyst expressions from the Spark 4
  * Column API (which wraps ColumnNode, not Expression).
  */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The reliable-checkpoint directory backing `df`, when `df` is the
    * frame a `Dataset.checkpoint(eager = true)` returned (its analyzed
    * plan is a LogicalRDD over the checkpointed RDD). Used by
    * Ckpt.Loop to delete superseded fixpoint-round checkpoints —
    * `RDD.getCheckpointFile` is public but the LogicalRDD unwrap needs
    * this package. */
  def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getCheckpointFile
      case _ => None
    }

  /** The RDD backing a checkpoint-returned frame (same unwrap as
    * [[checkpointFile]]). Lets an eager fixpoint release a consumed
    * intermediate's storage blocks once its last reader has
    * materialized — a localCheckpointed frame's blocks are otherwise
    * pinned until the ContextCleaner happens to collect the RDD,
    * which under a 279-key bench pass is long after the query
    * finished (round-17 block-hygiene work,
    * git show 79d8cf5:OPTIMIZATION_r17.md). */
  def backingRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
