// Lives in org.apache.spark.sql to reach the private[sql] classic
// ExpressionUtils — the supported classic-mode bridge between a raw
// Catalyst Expression and the public Column API. Every graft.functions
// builder goes through it, so operators pass typed Scala arguments
// (sign matrices, centroids, literal ints) straight into the expression
// and never resolve a function by name. GraftDatasetShim reaches the
// private[sql] classic Dataset.ofRows the same way.
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}

/** A DataFrame over a plan the caller has already parsed, so a statement is
  * analyzed from that plan instead of being parsed a second time. */
object GraftDatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
