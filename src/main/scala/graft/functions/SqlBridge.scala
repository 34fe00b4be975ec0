/* Bridge into Spark's private[sql] Column↔Expression converters (the Spark 4
 * Column API wraps ColumnNode; classic.ExpressionUtils is the sanctioned
 * conversion but is package-private). Same access pattern third-party Spark
 * extensions use. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom logical plan (classic.Dataset.ofRows
    * is private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A new session sharing the caller's SparkContext, cache and catalog,
    * with a copy of its runtime conf, temp views and functions
    * (classic.SparkSession.cloneSession is private[sql]). */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Experimental-methods handle for extra-strategy registration. */
  def experimental(spark: SparkSession): ExperimentalMethods =
    spark.asInstanceOf[classic.SparkSession].experimental
}
