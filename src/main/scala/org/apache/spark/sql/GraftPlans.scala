package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** A DataFrame over an already-built logical plan. `Dataset.ofRows` is
  * private to Spark SQL; [[graft.table.GraftTable]] needs it to read
  * through its own V2 table instance (and so its warm snapshot caches)
  * rather than the fresh one a data source lookup by name would build. */
object GraftPlans {
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
