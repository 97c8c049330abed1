package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.CoreOps.tumblingAgg
import graft.pipelines.CallsPipeline

/** The reference's end-to-end topology in streaming form, built from the
  * batch topology's own operators: watermarked 1-hour tumbling call
  * aggregation (CallsAggregationApp.createTopology)
  * enriched against a customer snapshot (CallsEnrichedApp.buildTopology),
  * output-mode `update` for per-record changelog emission.
  *
  * Input contract: a streaming DataFrame with (ts: timestamp,
  * caller: any, duration: numeric); customer snapshot: any static
  * DataFrame with a key column. Sources/sinks attach via KafkaIO or any
  * readStream source — the topology itself is source-agnostic, exactly as
  * graft.pipelines.CallsPipeline is for batch.
  */
object CallsStreamPipeline {

  /** [[graft.ops.CoreOps.tumblingAgg]] over the watermarked stream: update
    * mode emits the per-record KTable changelog, append mode only the
    * windows the watermark has closed. */
  def aggregate(
      calls: DataFrame,
      tsCol: String = "ts",
      caller: String = "user_id",
      duration: String = "value",
      watermark: String = "24 hours"): DataFrame =
    tumblingAgg(calls.withWatermark(tsCol, watermark), col(tsCol), col(caller), col(duration))

  /** [[graft.pipelines.CallsPipeline.enrich]] on the aggregated stream.
    * The static customer side is a snapshot: each micro-batch plans it
    * again, and on a session with [[graft.GraftExtensions]] (every
    * `GraftSession`) [[StaticBroadcastReuse]] hands each batch the
    * broadcast the query run built in its first batch, so a trigger runs
    * one job, not two. It is rebuilt only if the snapshot's file listing
    * changes. */
  def enriched(
      aggregated: DataFrame,
      customers: DataFrame,
      custKey: String,
      doc: String,
      operator: String,
      flag: String,
      days: String): DataFrame =
    CallsPipeline.enrich(aggregated, customers, custKey, doc, operator, flag, days)
}
