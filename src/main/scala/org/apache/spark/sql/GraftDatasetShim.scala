package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` `Dataset.ofRows`, so graft can bind an
  * already-analyzed logical plan to another session of the same
  * SparkContext (graft.ops.PlanScope.rebind). Same visibility-widening
  * role as GraftColumnShim.
  */
object GraftDatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)
}
