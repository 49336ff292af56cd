package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Classic-Spark constructors that are private to Spark SQL.
  *
  * `dataFrame`: a DataFrame over an already-built logical plan
  * (`Dataset.ofRows`); [[graft.table.GraftTable]] needs it to read through
  * its own V2 table instance (and so its warm snapshot caches) rather than
  * the fresh one a data source lookup by name would build.
  *
  * `column`/`expression`: a Column over a Catalyst expression and back, so
  * an expression (the folded rule literal, a kernel call) enters a plan
  * without the session's function registry. */
object GraftPlans {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
