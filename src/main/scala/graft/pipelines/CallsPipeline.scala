package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.CoreOps._

/** The reference's two topologies, composed from graft.ops over the driver's
  * test tables (FIXTURES.md §4 role mapping):
  *
  *   CALLS stream            → `events`   (user_id = caller, value = duration, ts = event time)
  *   CLIENTES customer table → `customer` (c_custkey = phone key)
  *
  * Topology 1 — CallsAggregationApp.createTopology
  * (calls_agg/.../CallsAggregationApp.java:36-88):
  *   stream → selectKey(caller) → groupByKey → windowedBy(1h) → aggregate
  *   → toStream → filter(v != null) → to
  *
  * Topology 2 — CallsEnrichedApp.buildTopology
  * (calls_enr_customers/.../CallsEnrichedApp.java:45-68):
  *   customer stream → rekey → table(latest per key); calls stream → rekey
  *   → leftJoin(customer table) via CallCustomerJoiner → to
  *
  * Here they compose into one declarative plan; Catalyst fuses the
  * aggregation, join, and projection, broadcasting the customer dimension.
  * No repartition topics, no serde plumbing (SURVEY.md §7.6).
  */
object CallsPipeline {

  /** Topology 1: per-caller 1-hour tumbling aggregate of call duration. */
  def callsAggregation(spark: SparkSession, sfDir: String): DataFrame =
    tumblingAgg(
      Tables.events(spark, sfDir),
      ts = col("ts"),
      key = col("user_id"),
      value = col("value"))

  /** Topology 2 on top of topology 1: enrich each (caller, hour) aggregate
    * with the latest customer row, null-defaulting misses to "Unknown"/0
    * (CallCustomerJoiner.java:24-28), window bounds formatted
    * "dd/MM/yyyy HH:mm" (CallCustomerJoiner.java:32-40).
    */
  def callsEnriched(spark: SparkSession, sfDir: String): DataFrame =
    // builder.table's latest-per-key collapse (the general operator:
    // CoreOps.latestByKey, exercised by r04) is an identity on a
    // primary-keyed snapshot like this customer table — running it anyway
    // would cost a full shuffle+agg of the dimension before the broadcast
    // join. The scan feeds the join directly; a changelog-shaped dimension
    // (repeated keys) would reintroduce latestByKey here.
    enrich(callsAggregation(spark, sfDir), Tables.customer(spark, sfDir),
      "c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")

  /** The reference's enriched record (CallCustomerJoiner.apply): `agg` (a
    * [[graft.ops.CoreOps.tumblingAgg]] output, batch or watermarked
    * stream) left-joined to `customers` on `custKey`, the four customer
    * fields named by `doc`/`operator`/`flag`/`days` null-defaulted, and
    * the 11-column projection. The one definition both topology faces
    * share: [[callsEnriched]] and
    * [[graft.streaming.CallsStreamPipeline.enriched]]. */
  def enrich(
      agg: DataFrame,
      customers: DataFrame,
      custKey: String,
      doc: String,
      operator: String,
      flag: String,
      days: String): DataFrame =
    enrichLeftJoin(
      agg,
      customers,
      agg("id_telef_origen") === customers(custKey).cast("string"),
      defaults = Seq(
        ("doc_cliente", customers(doc), lit("Unknown")),
        ("operador_actual", customers(operator), lit("Unknown")),
        ("cliente_orange", customers(flag), lit(0)),
        ("days_excliente", floor(customers(days)).cast("long"), lit(0L))))
      .select(
        readableDate(col("window.start")).as("window_start_ts"),
        readableDatePlusOneHour(col("window.start")).as("window_end_ts"),
        col("id_telef_origen"),
        col("calls_count"),
        col("max_duracion_origen"),
        col("total_duracion_origen"),
        col("avg_duracion_origen"),
        col("doc_cliente"),
        col("operador_actual"),
        col("cliente_orange"),
        col("days_excliente"))
}
