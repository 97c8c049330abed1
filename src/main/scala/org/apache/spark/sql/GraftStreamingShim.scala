package org.apache.spark.sql

import java.util.UUID

import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
import org.apache.spark.sql.streaming.StreamingQueryManager

/** Bridge to the `private[sql]` registry of running streaming queries, so
  * a physical rule planning on a micro-batch thread can name the query run
  * it plans for (graft.streaming.StaticBroadcastReuse). Same
  * visibility-widening role as GraftDatasetShim.
  */
object GraftStreamingShim {

  /** The running query this thread plans a micro-batch for (Spark sets the
    * query id as a local property of the stream thread): its run id, and
    * the manager of the session that started it, which posts its lifecycle
    * events. None off a stream thread, or once the run has ended. */
  def activeRun(spark: SparkSession): Option[(UUID, StreamingQueryManager)] = {
    val s = classic.ClassicConversions.castToImpl(spark)
    Option(s.sparkContext.getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .flatMap(id => Option(s.sharedState.activeStreamingQueries.get(UUID.fromString(id))))
      .map(q => (q.runId, q.sparkSession.streams))
  }
}
