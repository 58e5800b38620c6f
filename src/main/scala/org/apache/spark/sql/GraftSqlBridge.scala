package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into `private[sql]` helpers so graft's native Catalyst
 * expressions can surface as `Column`s in the public DataFrame API (the
 * conventional extension-point technique for libraries shipping custom
 * expressions; contains no logic of its own).
 */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A session sharing `spark`'s context, catalog and cache, starting
    * from a copy of its conf and temp views. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Wrap an analyzed LogicalPlan fragment as a DataFrame. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
