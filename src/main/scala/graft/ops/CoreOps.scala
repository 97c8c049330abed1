package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core dataflow operators — the Spark-first re-expression of the
  * reference's Kafka Streams DSL surface (SURVEY.md §2).
  *
  * Every operator is a pure `DataFrame => DataFrame` function so the same
  * logic runs batch (parquet → parquet, DuckDB-checkable) and streaming
  * (Kafka/MemoryStream → sink). Nothing here materializes, collects, or
  * caches: each function only *declares* plan nodes, so Catalyst keeps full
  * freedom to push filters/projections into the scan, choose
  * broadcast-vs-shuffle joins, and fuse everything into whole-stage codegen.
  * That is what makes these operators scale-safe: at 100 TB the plan shape
  * is the same, only the shuffle partitioning grows.
  */
object CoreOps {

  /** Re-key a stream by an arbitrary expression.
    *
    * Reference: `selectKey((k,v) -> v.get("id_telef_origen").toString())`
    * (calls_agg/src/main/java/com/harold/kafka/streams/calls/CallsAggregationApp.java:54)
    * and `.map((k,v) -> new KeyValue<>(String.valueOf(v.getTELEFONO()), v))`
    * (calls_enr_customers/.../CallsEnrichedApp.java:54,61).
    *
    * In Kafka Streams a key change marks the stream for a repartition topic
    * (a full write+read through the broker). In Spark the "key" is just a
    * column; the shuffle — if one is even needed — happens lazily at the next
    * wide operator, on the exchange, with no intermediate materialization.
    */
  def rekey(df: DataFrame, keyExpr: Column): DataFrame =
    df.withColumn("key", keyExpr.cast("string"))

  /** Drop records whose value is null — tombstone filtering.
    * Reference: `.filter((k, v) -> v != null)` (CallsAggregationApp.java:82).
    * Pushed down to the scan by Catalyst when `c` is a source column.
    */
  def filterNotNull(df: DataFrame, c: Column): DataFrame =
    df.filter(c.isNotNull)

  /** Per-key tumbling-window aggregate: count / max / sum / integer-avg.
    *
    * Reference: `groupByKey().windowedBy(TimeWindows.of(Duration.ofHours(1)))
    * .aggregate(...)` (CallsAggregationApp.java:56-78). The reference's adder
    * is buggy (SURVEY.md §2.7); this implements the *intended* semantics the
    * consumer-side schema + test fixtures pin down: running count, running
    * max, running sum, and avg = floor(total/count) as a long
    * (callaggcust.avsc:6-11, CallsEnrichedAppTest.java:115-122).
    *
    * Values are floored to long first (the reference durations are longs).
    * Scale: map-side partial aggregation (HashAggregate partial → shuffle by
    * (window, key) → final) — the shuffle carries only one row per
    * (key, window) per map partition, not raw events.
    */
  def tumblingAgg(
      events: DataFrame,
      ts: Column,
      key: Column,
      value: Column,
      width: String = "1 hour"): DataFrame = {
    val v = floor(value).cast("long")
    events
      .groupBy(window(ts, width).as("window"), key.cast("string").as("id_telef_origen"))
      .agg(
        count(lit(1)).as("calls_count"),
        max(v).as("max_duracion_origen"),
        sum(v).as("total_duracion_origen"))
      .withColumn(
        "avg_duracion_origen",
        floor(col("total_duracion_origen") / col("calls_count")).cast("long"))
  }

  /** Row count and exact `cents` sum of `value` per group: columns `by`
    * (the caller names them — `window(...).as("w")`, `session_window(...)`,
    * a key), then `n_events` and `sum_cents`. The hopping (q27), session
    * (q16) and per-user (q48) aggregates, and over `withWatermark` their
    * streaming faces (`StreamingOps.hoppingAggStream`, `sessionAggStream`).
    * An empty `by` is one global row. */
  def countCents(events: DataFrame, value: Column, by: Column*): DataFrame =
    events.groupBy(by: _*)
      .agg(count(lit(1)).as("n_events"), sum(RelationalOps.cents(value)).as("sum_cents"))

  /** KTable semantics: latest value per key.
    *
    * Reference: `builder.table(topic)` (CallsEnrichedApp.java:58) — a
    * changelog view where a later record for the same key replaces the
    * earlier one. `orderDesc` must include a unique tiebreaker for
    * determinism; the row with the LARGEST (lexicographic) order tuple
    * wins, null order fields losing to non-null — the same row the
    * `row_number() OVER (... ORDER BY ord DESC) = 1` form selects.
    *
    * Scale: argmax aggregate, not a window rank — partial `max_by` on the
    * map side means the one shuffle on the key carries at most one row per
    * key per input partition, where a window would shuffle EVERY row and
    * sort each partition. No driver state; AQE handles skewed keys. (The
    * streaming form lives in graft.streaming — flatMapGroupsWithState
    * keeping latest per key.)
    */
  def latestByKey(df: DataFrame, keys: Seq[Column], orderDesc: Seq[Column]): DataFrame = {
    // the whole-row capture resolves columns by name, so the contract
    // (unlike the old window form's) needs unique names — fail loudly, not
    // with an AMBIGUOUS_REFERENCE mid-analysis; backticks keep dotted
    // names from being parsed as field paths
    require(df.columns.distinct.length == df.columns.length,
      s"latestByKey requires unique column names, got ${df.columns.mkString(", ")}")
    val row = struct(df.columns.toIndexedSeq.map(c => col("`" + c + "`")): _*)
    df.groupBy(keys: _*)
      .agg(max_by(row, struct(orderDesc: _*)).as("__latest"))
      .select(col("__latest.*"))
  }

  /** Stream⋈table left equi-join with null-defaulted enrichment.
    *
    * Reference: `calls.leftJoin(customers, joiner)` (CallsEnrichedApp.java:63)
    * + `CallCustomerJoiner.apply` (CallCustomerJoiner.java:15-30), which
    * null-coalesces every customer-side field on a join miss.
    *
    * `defaults` maps output column name → (customer-side column, default).
    * Catalyst broadcasts the dimension side when it is small (the reference's
    * customer table is exactly that), so at scale this is a broadcast hash
    * join with zero shuffle of the fact side.
    */
  def enrichLeftJoin(
      facts: DataFrame,
      dim: DataFrame,
      joinCond: Column,
      defaults: Seq[(String, Column, Column)]): DataFrame = {
    val joined = facts.join(dim, joinCond, "left_outer")
    defaults.foldLeft(joined) { case (d, (name, c, default)) =>
      d.withColumn(name, coalesce(c, default))
    }
  }

  /** Epoch-millis / timestamp → "dd/MM/yyyy HH:mm" string (session TZ = UTC).
    * Reference: `getReadableDate` (CallCustomerJoiner.java:32-35). */
  def readableDate(ts: Column): Column =
    date_format(ts, "dd/MM/yyyy HH:mm")

  /** Same, shifted +1 hour — the reference derives the window *end* this way.
    * Reference: `getReadableDatePlusOneHour` (CallCustomerJoiner.java:37-40). */
  def readableDatePlusOneHour(ts: Column): Column =
    date_format(ts + expr("INTERVAL 1 HOUR"), "dd/MM/yyyy HH:mm")
}
