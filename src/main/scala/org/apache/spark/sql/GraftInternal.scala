package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into Spark's `private[sql]` plan-to-Dataset and
  * expression-to-Column constructors.
  *
  * [[graft.streaming.StreamingParity]] needs to rebuild a DataFrame after
  * surgically removing the presentation-only top-level `Sort` from a gate
  * plan (streaming append mode rejects global sorts), and the engine's
  * write path stamps rows with [[graft.functions.EpochStamp]], an
  * expression no SQL function name resolves to. Spark exposes no public
  * "Dataset from LogicalPlan" or "Column from Expression" API, so — like
  * other Spark-extension libraries — we host the one-line accessors inside
  * the `sql` package. Nothing else in the engine bypasses the public API.
  */
object GraftInternal {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
}
