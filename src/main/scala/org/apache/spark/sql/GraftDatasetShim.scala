package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to the `private[sql]` `Dataset.ofRows` and `LogicalRDD.fromDataset`,
  * so graft can bind an already-analyzed logical plan to another session
  * of the same SparkContext (graft.ops.PlanScope.rebind) and re-root a
  * frame as a one-leaf scan over its executed RDD (graft.ops.PlanScope.cut).
  * Same visibility-widening role as GraftColumnShim.
  */
object GraftDatasetShim {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classic.ClassicConversions.castToImpl(spark), plan)

  /** `df` as one `LogicalRDD` leaf over `df.queryExecution.toRdd`: the face
    * `Dataset.checkpoint` builds, without the checkpoint. The leaf carries
    * `df`'s output partitioning, ordering, statistics and constraints, and
    * its RDD keeps the full lineage. */
  def logicalRdd(df: DataFrame): DataFrame = {
    val ds = classic.ClassicConversions.castToImpl(df)
    val rdd = SQLExecution.withNewExecutionId(ds.queryExecution, Some("cut"))(
      ds.queryExecution.toRdd)
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }
}
